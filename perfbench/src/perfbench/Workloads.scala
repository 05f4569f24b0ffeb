package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sinks.ArcaneLayoutReader
import graft.streaming.StreamingDecision

object Checks {
  /** The arcane layout contract on a finished sink: exactly one
    * COMPLETED token whose hash names the one schema file, and every
    * generated row present once — count and all-column checksum equal
    * to the generator's. */
  def layout(spark: SparkSession, sink: Path, expected: Gen.Sum, cols: Seq[String]): Seq[String] = {
    val names = Option(sink.toFile.list()).map(_.toSeq).getOrElse(Nil)
    val tokens = names.filter(_.endsWith(".COMPLETED"))
    if (tokens.size != 1) Seq(s"${tokens.size} COMPLETED tokens under $sink")
    else {
      val hash = tokens.head.stripSuffix(".COMPLETED")
      val schemas = Option(sink.resolve("schema").toFile.list()).map(_.toSeq).getOrElse(Nil)
        .filter(n => n.startsWith("schema-") && n.endsWith(".parquet"))
      val got = Gen.checksum(ArcaneLayoutReader.readRaw(spark, sink.toString), cols)
      Seq(
        if (schemas.size == 1 && schemas.head.endsWith(s"-$hash.parquet")) None
        else Some(s"token hash $hash does not name the schema file (${schemas.mkString(",")})"),
        if (got == expected) None else Some(s"landed $got, generated $expected")
      ).flatten
    }
  }

  /** Hex SHA-256 of the lines, order-insensitive. */
  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Dedup verdicts for the stream docs: one per doc, every planted
    * exact copy `drop_exact` with its planted keeper. Returns the
    * problems and the verdict digest. */
  def verdicts(spark: SparkSession, store: Path, docs: Gen.Docs): (Seq[String], String) = {
    val rows = StreamingDecision.decisionsRaw(spark, store.toString)
      .filter(col("doc_id") >= docs.firstStreamId)
      .select("doc_id", "decision", "keeper_id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val byId = rows.groupBy(_._1)
    val stream = docs.all.drop(docs.history)
    val problems = Seq(
      if (rows.length == stream.size && byId.size == stream.size) None
      else Some(s"${rows.length} verdicts for ${byId.size} of ${stream.size} docs"),
      stream.flatMap(d => d.dupOf.map(k => d.id -> k)).collectFirst {
        case (id, k) if !byId.get(id).exists(_.exists(v => v._2 == "drop_exact" && v._3 == k)) =>
          s"planted exact copy $id of $k got ${byId.get(id).map(_.toSeq).getOrElse("no verdict")}"
      }).flatten
    (problems, digest(rows.toSeq.map { case (i, d, k) => s"$i,$d,$k" }))
  }
}

/** Recorded output digests per workload and seed (`expected.json`):
  * a seed listed there must reproduce its digest exactly. */
final class Recorded(file: Path) {
  private val tree =
    if (Files.exists(file)) new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    else null
  def get(workload: String, seed: Long): Option[String] =
    Option(tree).map(_.path(workload).path(seed.toString))
      .filter(n => n.isTextual).map(_.asText())
}

// ----------------------------------------------------------------------

/** `ct` backfill of one large table: row conversion, parquet encode
  * and rename dominate; one trigger per op. */
final class IngestBulk(rows: Long) extends Workload {
  val name = "ingest_bulk"
  override def scales = true
  private var gen: Gen.Ct = _
  private var expected: Gen.Sum = _
  private var last: Option[Path] = None

  override def generate(ctx: Ctx): Unit = gen = Gen.Ct(ctx.seed, rows)
  override def materialize(ctx: Ctx): Unit =
    expected = Gen.checksum(gen.expected(ctx.spark), gen.columns)

  def op(ctx: Ctx): OpOut = {
    val dir = ctx.scratch("bulk")
    BenchCtGateway.nanos.reset(); BenchCtGateway.rowCount.reset()
    val (wall, triggers) = ctx.hosted("ct", Map(
      "gatewayClass" -> classOf[BenchCtGateway].getName,
      "schemaName" -> "dbo", "tableName" -> "bench", "pkColumns" -> "id",
      "schemaDdl" -> gen.schemaDdl, "startVersion" -> "0",
      "numStripes" -> ctx.spark.sparkContext.defaultParallelism.toString,
      "jdbcOptionKeys" -> "benchSeed,benchRows",
      "benchSeed" -> ctx.seed.toString, "benchRows" -> rows.toString,
      "sinkPath" -> dir.resolve("sink").toString,
      "checkpointPath" -> dir.resolve("ckpt").toString))
    last = Some(dir)
    val (files, bytes) = Fs.size(dir.resolve("sink/data"))
    OpOut(rows, wall, triggers, bytes, files, Map(
      "sources.gateway_ms" -> BenchCtGateway.nanos.sum / 1e6,
      "sources.gateway_rows" -> BenchCtGateway.rowCount.sum.toDouble))
  }

  def check(ctx: Ctx, out: OpOut): Seq[String] = last.toSeq.flatMap { dir =>
    try Checks.layout(ctx.spark, dir.resolve("sink"), expected, gen.columns)
    finally Fs.delete(dir)
  }
}

/** `cdm` drain of many small CSV files, one file per trigger: the
  * per-trigger floor of a steady pod. */
final class IngestTrickle(filesPerOp: Int, rowsPerFile: Int) extends Workload {
  val name = "ingest_trickle"
  override def tailTriggers: Int = 100
  private val MaxFiles = 1
  private var gen: Gen.Cdm = _
  private var expected: Gen.Sum = _
  private var feed: Path = _
  private var last: Option[Path] = None

  override def generate(ctx: Ctx): Unit = {
    gen = Gen.Cdm(ctx.seed, filesPerOp, rowsPerFile)
    feed = ctx.root.resolve("cdm-feed")
    gen.write(feed)
  }
  override def materialize(ctx: Ctx): Unit =
    expected = Gen.checksum(gen.expected(ctx.spark), gen.columns)

  def op(ctx: Ctx): OpOut = {
    val dir = ctx.scratch("trickle")
    val (wall, trig) = ctx.hosted("cdm", Map(
      "rootPath" -> feed.toString, "entityName" -> gen.entity,
      "maxFilesPerTrigger" -> MaxFiles.toString,
      "sinkPath" -> dir.resolve("sink").toString,
      "checkpointPath" -> dir.resolve("ckpt").toString))
    last = Some(dir)
    val (files, bytes) = Fs.size(dir.resolve("sink/data"))
    OpOut(gen.rows, wall, trig, bytes, files)
  }

  def check(ctx: Ctx, out: OpOut): Seq[String] = last.toSeq.flatMap { dir =>
    try {
      val want = (gen.files + MaxFiles - 1) / MaxFiles
      (if (out.triggers.size == want) Nil
       else Seq(s"${out.triggers.size} triggers for ${gen.files} files")) ++
        Checks.layout(ctx.spark, dir.resolve("sink"), expected, gen.columns)
    } finally Fs.delete(dir)
  }
}

/** `dedup-decision` drain against a seeded decision store with cluster
  * state: every trigger reads and appends the persisted stores. */
final class DedupStream(historyDocs: Int, files: Int, perFile: Int, recorded: Recorded)
    extends Workload {
  val name = "dedup_stream"
  override def scales = true
  override def warmUpOps = 0
  override def minOps = 2
  private var docs: Gen.Docs = _
  private var pristine: Path = _
  private var pristineBytes = 0L
  private var history: Path = _
  private var input: Path = _
  private var last: Option[Path] = None
  private var digests = Set.empty[String]
  private var endState = (0L, 0L)

  override def generate(ctx: Ctx): Unit = {
    docs = Gen.Docs(ctx.seed, historyDocs, files, perFile)
    docs.all
  }

  override def materialize(ctx: Ctx): Unit = {
    history = ctx.root.resolve("dedup-history")
    input = ctx.root.resolve("dedup-input")
    writeFile(ctx, docs.historyDocs, history.resolve("history.parquet"), 0)
    (0 until files).foreach(f => writeFile(ctx, docs.file(f), input.resolve(f"f$f%05d.parquet"), f))
  }

  /** One parquet file holding `ds`, with ascending modification times. */
  private def writeFile(ctx: Ctx, ds: Seq[Gen.Doc], to: Path, f: Int): Unit = {
    val staging = ctx.root.resolve("dedup-staging")
    Fs.delete(staging)
    docs.frame(ctx.spark, ds).coalesce(1).write.parquet(staging.toString)
    val ls = Files.list(staging)
    val part = try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally ls.close()
    Files.createDirectories(to.getParent)
    Files.move(part, to)
    Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(1600000000000L + f * 1000L))
    Fs.delete(staging)
  }

  /** Drain `source` into the decision store and cluster state under `state`. */
  private def drain(ctx: Ctx, source: Path, state: Path, ckpt: Path): (Long, Seq[Trigger]) =
    ctx.hosted("dedup-decision", Map(
      "sourcePath" -> source.toString,
      "schemaDdl" -> "doc_id BIGINT, text STRING, source STRING",
      "storePath" -> state.resolve("store").toString,
      "clusterPath" -> state.resolve("clusters").toString,
      "maxFilesPerTrigger" -> "1",
      "checkpointPath" -> ckpt.toString))

  /** Store seeding: the program decides the history docs through the
    * same pod path (one `processBatch` per trigger). */
  override def prepare(ctx: Ctx): Unit = {
    pristine = ctx.root.resolve("dedup-pristine")
    val ckpt = ctx.root.resolve("dedup-seed-ckpt")
    Fs.delete(pristine); Fs.delete(ckpt)
    drain(ctx, history, pristine, ckpt)
    Fs.delete(ckpt)
    pristineBytes = Fs.size(pristine)._2
  }

  def op(ctx: Ctx): OpOut = {
    val dir = ctx.scratch("dedup")
    Fs.copy(pristine, dir.resolve("state"))
    val (wall, trig) = drain(ctx, input, dir.resolve("state"), dir.resolve("ckpt"))
    last = Some(dir)
    val (n, bytes) = Fs.size(dir.resolve("state"))
    endState = (n, bytes)
    OpOut(docs.streamCount, wall, trig, bytes - pristineBytes, n)
  }

  def check(ctx: Ctx, out: OpOut): Seq[String] = last.toSeq.flatMap { dir =>
    try {
      val (problems, d) = Checks.verdicts(ctx.spark, dir.resolve("state/store"), docs)
      digests += d
      problems ++
        (if (out.triggers.size == files) Nil else Seq(s"${out.triggers.size} triggers for $files files")) ++
        (if (digests.size == 1) Nil else Seq(s"verdict digest changed between ops: $digests")) ++
        recorded.get(name, ctx.seed).filter(_ != d).map(r => s"verdict digest $d, recorded $r")
    } finally Fs.delete(dir)
  }

  override def digest: Option[String] = digests.headOption

  override def finalState(ctx: Ctx): Map[String, Double] = Map(
    "ext.store_files" -> endState._1.toDouble, "ext.store_bytes" -> endState._2.toDouble)
}

/** `CorpusBuildJob.execute` over a seeded corpus and its embeddings:
  * the batch LLM-data layer, stage writes and shuffle. */
final class CorpusBuild(docs: Int, recorded: Recorded) extends Workload {
  val name = "corpus_build"
  override def minOps = 1
  override def openLayers = true
  private var gen: Gen.Corpus = _
  private var input: Path = _
  private var last: Option[(Path, graft.runtime.CorpusBuildJob.Report)] = None
  private var digests = Set.empty[String]
  private var endState = (0L, 0L)

  override def generate(ctx: Ctx): Unit = gen = Gen.Corpus(ctx.seed, docs)
  override def materialize(ctx: Ctx): Unit = {
    input = ctx.root.resolve("corpus-input")
    gen.write(ctx.spark, input.resolve("docs").toString, input.resolve("emb").toString)
  }

  def op(ctx: Ctx): OpOut = {
    val dir = ctx.scratch("corpus")
    val t0 = System.nanoTime()
    val report = graft.runtime.CorpusBuildJob.execute(ctx.spark, Map(
      "CORPUS_BUILD_DOCS_PATH" -> input.resolve("docs").toString,
      "CORPUS_BUILD_EMBEDDINGS_PATH" -> input.resolve("emb").toString,
      "CORPUS_BUILD_OUTPUT_PATH" -> dir.resolve("out").toString), status = _ => ())
    val wall = System.nanoTime() - t0
    last = Some((dir, report))
    val (files, bytes) = Fs.size(dir.resolve("out"))
    val phases = report.phases.flatMap(p => Seq(s"runtime.corpus.${p.name}_ms" -> p.millis.toDouble,
      s"runtime.corpus.${p.name}_rows" -> p.rows.toDouble))
    endState = (files, bytes)
    OpOut(docs, wall, Nil, bytes, files, phases.toMap +
      ("runtime.corpus.unattributed_ms" -> (wall / 1e6 - report.phases.map(_.millis).sum)))
  }

  override def finalState(ctx: Ctx): Map[String, Double] = Map(
    "ext.store_files" -> endState._1.toDouble, "ext.store_bytes" -> endState._2.toDouble)

  /** Report totals and the ledger's verdicts, as one digest. */
  def check(ctx: Ctx, out: OpOut): Seq[String] = last.toSeq.flatMap { case (dir, r) =>
    try {
      val ledger = ctx.spark.read.parquet(dir.resolve("out/ledger").toString)
        .select("doc_id", "verdict").collect().map(x => s"${x.getLong(0)},${x.getString(1)}")
      val d = Checks.digest(ledger.toSeq :+
        s"report ${r.total} ${r.kept} ${r.verdicts.toSeq.sorted.mkString(" ")}")
      digests += d
      (if (r.total == gen.rows.count(_.id >= 20)) Nil
       else Seq(s"report total ${r.total}, ${gen.rows.count(_.id >= 20)} corpus docs")) ++
        (if (r.verdicts.values.sum == r.total && r.verdicts.getOrElse("keep", 0L) == r.kept) Nil
         else Seq(s"report counts disagree: $r")) ++
        (if (ledger.length == r.total) Nil else Seq(s"${ledger.length} ledger rows for ${r.total} docs")) ++
        (if (digests.size == 1) Nil else Seq(s"ledger digest changed between ops: $digests")) ++
        recorded.get(name, ctx.seed).filter(_ != d).map(x => s"ledger digest $d, recorded $x")
    } finally Fs.delete(dir)
  }

  override def digest: Option[String] = digests.headOption
}
