package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, lit, when}

/** Tests of the benchmark itself: generator determinism, that every
  * output check rejects a corrupted output, and the percentile rule.
  * `python3 perfbench/run.py --selftest`; exits non-zero on failure. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]
  private def expect(what: String, ok: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += what
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.grouped(2).collect { case Array("--root", v) => v }.next())
    val ctx = new Ctx(root, 7L, traced = false)
    val spark = ctx.newSession()
    try {
      // --- percentile rule: a tail figure needs >= 10 samples beyond it
      expect("p90 of 99 samples is not reported", Stats.tail((1 to 99).map(_.toDouble), 0.9).isEmpty)
      val p90 = Stats.tail((1 to 100).map(_.toDouble), 0.9)
      expect("p90 of 100 samples is reported with 10 beyond it",
        p90.exists(v => (1 to 100).count(_ > v) >= 10))
      expect("p50 of 20 samples is reported", Stats.tail((1 to 20).map(_.toDouble), 0.5).contains(10.5))
      expect("median interpolates", Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)

      // --- generators: same seed, same inputs; another seed, others
      def ct(seed: Long) = Gen.checksum(Gen.Ct(seed, 5000).expected(spark), Gen.Ct(seed, 1).columns)
      expect("ct: same seed gives the same checksum", ct(1) == ct(1))
      expect("ct: another seed gives another checksum", ct(1) != ct(2))
      def cdm(seed: Long) = { val g = Gen.Cdm(seed, 2, 50); Gen.checksum(g.expected(spark), g.columns) }
      expect("cdm: same seed gives the same checksum", cdm(1) == cdm(1))
      expect("cdm: another seed gives another checksum", cdm(1) != cdm(2))
      def docs(seed: Long) = Checks.digest(Gen.Docs(seed, 50, 2, 50).all.map(d => s"${d.id},${d.source},${d.text}"))
      expect("docs: same seed gives the same digest", docs(1) == docs(1))
      expect("docs: another seed gives another digest", docs(1) != docs(2))
      val planted = Gen.Docs(1, 200, 2, 100).all
      expect("docs: exact and near copies are planted",
        planted.count(_.dupOf.nonEmpty) > 5 && planted.count(_.nearOf.nonEmpty) > 5)
      expect("docs: at least 5 sources", planted.map(_.source).distinct.size >= 5)

      // --- ingest check rejects a deleted part file and a missing token
      val bulk = new IngestBulk(rows = 20000)
      bulk.generate(ctx); bulk.materialize(ctx)
      val out = bulk.op(ctx)
      val sink = Files.list(root).filter(_.getFileName.toString.startsWith("bulk-")).findFirst().get().resolve("sink")
      val sinkCopy = root.resolve("sink-copy")
      Fs.copy(sink, sinkCopy)
      expect("ingest: the program's output passes", bulk.check(ctx, out).isEmpty)
      val schemaCols = Gen.Ct(7, 1).columns
      val cs = Gen.checksum(Gen.Ct(7, 20000).expected(spark), schemaCols)
      expect("ingest: an intact copy passes", Checks.layout(spark, sinkCopy, cs, schemaCols).isEmpty)
      val part = Files.list(sinkCopy.resolve("data")).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.delete(part)
      expect("ingest: a deleted part file is rejected", Checks.layout(spark, sinkCopy, cs, schemaCols).nonEmpty)
      Files.list(sinkCopy).filter(_.getFileName.toString.endsWith(".COMPLETED")).forEach(p => Files.delete(p))
      expect("ingest: a missing COMPLETED token is rejected",
        Checks.layout(spark, sinkCopy, cs, schemaCols).nonEmpty)

      // --- dedup check rejects one flipped verdict
      val d = Gen.Docs(3, 200, 1, 100)
      val store = root.resolve("dedup-store")
      graft.streaming.StreamingDecision.processBatch(d.frame(spark, d.historyDocs), "doc_id", "text",
        None, store.toString, Seq.empty, batchKey = "seed")
      graft.streaming.StreamingDecision.processBatch(d.frame(spark, d.file(0)), "doc_id", "text",
        None, store.toString, Seq.empty, batchKey = "b1")
      val (ok, digest) = Checks.verdicts(spark, store, d)
      expect("dedup: the program's verdicts pass", ok.isEmpty)
      val victim = d.file(0).find(_.dupOf.nonEmpty).get.id
      val flipped = root.resolve("dedup-flipped")
      graft.streaming.StreamingDecision.decisionsRaw(spark, store.toString)
        .withColumn("decision", when(col("doc_id") === victim, lit("keep")).otherwise(col("decision")))
        .write.partitionBy("batch").parquet(flipped.resolve("decisions").toString)
      val (bad, badDigest) = Checks.verdicts(spark, flipped, d)
      expect("dedup: a flipped planted verdict is rejected", bad.nonEmpty)
      expect("dedup: a flipped verdict changes the digest", badDigest != digest)
    } finally {
      spark.stop()
    }
    if (failures.nonEmpty) {
      System.err.println(s"[selftest] ${failures.size} failed")
      sys.exit(1)
    }
    println("""{"selftest": "ok"}""")
  }
}
