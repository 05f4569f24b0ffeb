package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --root <scratch dir> --bench-dir <dir with expected.json> [--record 1]`.
  * Prints one JSON result object as the last line of stdout; with
  * `--record 1` runs the program once and prints the output digest to
  * record in `expected.json` instead. */
object Main {

  /** Workloads at their benchmark sizes. */
  def workload(name: String, recorded: Recorded): Workload = name match {
    case "ingest_bulk" => new IngestBulk(rows = 1000000L)
    case "ingest_trickle" => new IngestTrickle(filesPerOp = 25, rowsPerFile = 200)
    case "dedup_stream" => new DedupStream(historyDocs = 2000, files = 1, perFile = 400, recorded)
    case "corpus_build" => new CorpusBuild(docs = 400, recorded)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(a("root")).toAbsolutePath
    val recorded = new Recorded(Paths.get(a("bench-dir")).resolve("expected.json"))
    val w = workload(a("workload"), recorded)
    val ctx = new Ctx(root, a("seed").toLong, a("trace") == "1")
    val out = try {
      if (a.get("record").contains("1")) Runner.record(w, ctx)
      else Runner.run(w, ctx, a("seconds").toInt)
    }
    finally if (ctx.spark != null) ctx.spark.stop()
    if (ctx.traced)
      ctx.tracer.writeJsonLines(Paths.get(a.getOrElse("trace-dir", root.toString))
        .resolve(s"${w.name}-seed${ctx.seed}.jsonl"))
    println(Stats.json(out))
  }
}

/** The measuring loop shared by every workload. */
object Runner {
  val SetupReps = 5
  /** Hard stop for the measuring loop, well inside the 180 s run limit. */
  val MaxLoopS = 110.0

  final class Sample(val out: OpOut, val layer: Map[String, Double])

  private val t00 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

  /** One checked op; its output digest. */
  def record(w: Workload, ctx: Ctx): Map[String, Any] = {
    w.generate(ctx)
    ctx.newSession()
    w.materialize(ctx)
    w.prepare(ctx)
    val problems = w.check(ctx, w.op(ctx))
    Map("workload" -> w.name, "seed" -> ctx.seed, "problems" -> problems, "digest" -> w.digest.orNull)
  }

  def run(w: Workload, ctx: Ctx, seconds: Int): Map[String, Any] = {
    var attempted = 0
    var failed = 0
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    var genS = timed(w.generate(ctx))
    // set-up: the median of several session creations (the first pays
    // class loading) plus the program's own preparation
    val sessionS = (1 to SetupReps).map(_ => timed(ctx.newSession()))
    genS += timed(w.materialize(ctx))
    val prepareS = timed(w.prepare(ctx))
    val setupS = Stats.median(sessionS) + prepareS
    log(f"set-up: sessions ${sessionS.map(s => f"$s%.2f").mkString(",")} s, preparation $prepareS%.2f s")

    def once(traced: Boolean): Option[Sample] = {
      attempted += 1
      try {
        val opSpan = ctx.tracer.nextId()
        val t0 = System.currentTimeMillis()
        if (traced) ctx.tracer.attach(ctx.spark)
        val out = try w.op(ctx) finally if (traced) ctx.tracer.detach(ctx.spark)
        val layer = if (traced) Layers.perOp(ctx, w.name, opSpan, t0, out) else Map.empty[String, Double]
        log(f"op rows=${out.rows} wall=${out.wallNs / 1e9}%.3f s triggers=${out.triggers.size}")
        val problems = w.check(ctx, out)
        log("checked")
        if (problems.isEmpty) Some(new Sample(out, layer))
        else {
          failed += 1
          System.err.println(s"[perfbench] ${w.name} output check failed: ${problems.mkString("; ")}")
          None
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] ${w.name} op failed: $e")
          e.printStackTrace()
          None
      }
    }

    (1 to w.warmUpOps).foreach(_ => once(traced = false))
    val plain = ArrayBuffer.empty[Sample]
    val traced = ArrayBuffer.empty[Sample]
    def enough(s: Seq[Sample], triggers: Int) =
      s.size >= w.minOps && s.map(_.out.triggers.size).sum >= triggers
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var k = 0
    // the traced run also needs enough untraced triggers for the p90
    while ((elapsed < seconds || !enough(plain.toSeq, if (ctx.traced) w.tailTriggers else 0) ||
      (ctx.traced && !enough(traced.toSeq, 0))) &&
      elapsed < MaxLoopS && failed <= 3) {
      val t = ctx.traced && k % 2 == 1
      once(t).foreach(s => (if (t) traced else plain) += s)
      k += 1
    }

    val rates = plain.map(_.out.rowsPerS).toSeq
    val batchMs = plain.flatMap(_.out.triggers.map(_.ms("triggerExecution").toDouble)).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val metrics: Map[String, (Double, String)] =
      if (!ctx.traced) Map(
        "rows_per_s" -> (med(rates) -> "1/s"),
        "batch_ms_p50" -> (med(batchMs) -> "ms"),
        "out_bytes_per_row" -> (med(plain.map(s => s.out.outBytes.toDouble / s.out.rows).toSeq) -> "B"),
        "setup_s" -> (setupS -> "s"))
      else {
        val scaling =
          if (!w.scales || rates.isEmpty) 0.0
          else {
            ctx.newSession(cores = 1)
            once(traced = false).map(s => med(rates) / s.out.rowsPerS).getOrElse(0.0)
          }
        Layers.summarize(traced.map(_.layer).toSeq, w.openLayers) ++ Map(
          "bench.gen_s" -> (genS -> "s"),
          "bench.trace_overhead" ->
            ((if (traced.isEmpty) 0.0 else med(rates) / med(traced.map(_.out.rowsPerS).toSeq)) -> "ratio"),
          "streaming.batch_ms_p90" -> (Stats.tail(batchMs, 0.9).getOrElse(0.0) -> "ms"),
          "spark.scaling" -> (scaling -> "ratio")) ++
          (Map("ext.store_files" -> 0.0, "ext.store_bytes" -> 0.0) ++ w.finalState(ctx))
            .map { case (k, v) => k -> (v -> Layers.unit(k)) }
      }
    Map("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)
  }
}

/** Per-layer figures of one traced op, from its triggers, its jobs and
  * the query-execution tracker. */
object Layers {
  /** Every per-layer metric the traced run prints, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "sources.gateway_ms" -> "ms", "sources.gateway_rows" -> "count", "sources.offset_ms" -> "ms",
    "streaming.plan_ms" -> "ms", "streaming.add_batch_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.jobs_per_trigger" -> "count",
    "streaming.tasks_per_trigger" -> "count", "streaming.shuffle_bytes_per_trigger" -> "B",
    "streaming.StreamingDecision.job_ms" -> "ms",
    "sinks.job_ms" -> "ms", "sinks.driver_ms" -> "ms",
    "sinks.files_written" -> "count", "sinks.bytes_written" -> "B",
    "ext.SignatureStore.job_ms" -> "ms", "ext.ComponentStore.job_ms" -> "ms",
    "ext.Dedup.job_ms" -> "ms", "ext.StoreMeta.job_ms" -> "ms",
    "runtime.lifecycle_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.task_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.driver_heap_peak_mb" -> "MB", "spark.cpu_busy_share" -> "ratio")
  private val unitOf = Units.toMap ++ Map("ext.store_files" -> "count", "ext.store_bytes" -> "B")
  def unit(k: String): String =
    unitOf.getOrElse(k, if (k.endsWith("_rows")) "count" else "ms")

  def perOp(ctx: Ctx, workload: String, opSpan: Long, t0: Long, out: OpOut): Map[String, Double] = {
    val (jobs, planMs, execMs, heapMb) = ctx.tracer.take()
    val tr = out.triggers
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def union(js: Seq[Job]) = Tracer.union(js.map(j => (j.startMs, j.endMs))).toDouble
    val wallMs = out.wallNs / 1e6
    // spans: the op, its triggers, their jobs
    val run = ctx.tracer.run
    ctx.tracer.spans.add(Span(opSpan, s"op:$workload", t0, t0 + wallMs.toLong, 0L, run,
      Map("rows" -> out.rows)))
    val trigSpan = tr.map(t => (t.queryId, t.batchId) -> ctx.tracer.nextId()).toMap
    tr.foreach(t => ctx.tracer.spans.add(Span(trigSpan((t.queryId, t.batchId)), "trigger",
      t.startMs, t.startMs + t.ms("triggerExecution"), opSpan, run,
      Map("batch" -> t.batchId, "rows" -> t.rows) ++ t.durations.map { case (k, v) => s"ms.$k" -> v })))
    jobs.foreach { j =>
      val parent = (for (q <- j.queryId; b <- j.batchId; s <- trigSpan.get((q, b))) yield s)
        .getOrElse(opSpan)
      ctx.tracer.spans.add(Span(ctx.tracer.nextId(), s"job:${j.site}", j.startMs, j.endMs, parent, run,
        Map("job" -> j.id, "path" -> j.path, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes)))
    }
    val inTrigger = jobs.filter(_.batchId.isDefined)
    val byTrigger = inTrigger.groupBy(j => (j.queryId.getOrElse(""), j.batchId.get))
    val n = math.max(1, tr.size).toDouble
    val bySite = jobs.groupBy(_.site).map { case (s, js) => s"$s.job_ms" -> union(js) }
    val taskMs = jobs.map(_.taskMs).sum.toDouble
    Units.map(_._1).map(k => k -> 0.0).toMap ++ bySite.filter(kv => kv._1.startsWith("ext.") || unitOf.contains(kv._1)) ++ Map(
      "sources.offset_ms" -> med(tr.map(_.ms("latestOffset").toDouble)),
      "streaming.plan_ms" -> med(tr.map(t => (t.ms("queryPlanning") + t.ms("getBatch")).toDouble)),
      "streaming.add_batch_ms" -> med(tr.map(_.ms("addBatch").toDouble)),
      "streaming.wal_ms" -> med(tr.map(t => (t.ms("walCommit") + t.ms("commitOffsets")).toDouble)),
      "streaming.triggers" -> tr.size.toDouble,
      "streaming.jobs_per_trigger" -> inTrigger.size / n,
      "streaming.tasks_per_trigger" -> inTrigger.map(_.tasks).sum / n,
      "streaming.shuffle_bytes_per_trigger" -> inTrigger.map(_.shuffleBytes).sum / n,
      "sinks.job_ms" -> union(jobs.filter(_.site.startsWith("sinks."))),
      "sinks.driver_ms" -> med(tr.map(t => t.ms("addBatch") -
        union(byTrigger.getOrElse((t.queryId, t.batchId), Nil)))),
      "sinks.files_written" -> out.outFiles.toDouble,
      "sinks.bytes_written" -> out.outBytes.toDouble,
      "runtime.lifecycle_ms" -> (if (tr.isEmpty) 0.0 else wallMs - tr.map(_.ms("triggerExecution")).sum),
      "spark.plan_ms" -> planMs, "spark.exec_ms" -> execMs,
      "spark.jobs" -> jobs.size.toDouble, "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> taskMs, "spark.task_wait_ms" -> jobs.map(_.waitMs).sum.toDouble,
      "spark.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "spark.driver_heap_peak_mb" -> heapMb,
      "spark.cpu_busy_share" -> taskMs / (wallMs * ctx.spark.sparkContext.defaultParallelism)
    ) ++ out.extra
  }

  /** Median of each per-op figure over the traced ops: the listed
    * metrics, plus every other figure the ops gave when `open`. */
  def summarize(ops: Seq[Map[String, Double]], open: Boolean): Map[String, (Double, String)] =
    (Units.map(_._1) ++ (if (open) ops.flatMap(_.keys) else Nil)).distinct.map { k =>
      k -> ((if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.getOrElse(k, 0.0)))) -> unit(k))
    }.toMap
}
