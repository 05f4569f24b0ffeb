package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished trigger, as its `StreamingQueryProgress` reports it. */
final case class Trigger(queryId: String, batchId: Long, startMs: Long,
    rows: Long, durations: Map[String, Long]) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
}

/** Progress collector, attached in every run: the end-to-end batch
  * latency comes from `triggerExecution`. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Trigger]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    q.add(Trigger(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  /** Triggers that ran a batch, oldest first; empties the log. */
  def drain(): Seq[Trigger] = {
    val b = Seq.newBuilder[Trigger]
    var t = q.poll()
    while (t != null) { b += t; t = q.poll() }
    b.result().filter(_.durations.contains("addBatch")).sortBy(_.startMs)
  }
}

/** A timed interval. `parent` is the causing span's id (0 for a root);
  * every span of one benchmark invocation shares `run`. */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
    parent: Long, run: String, attrs: Map[String, Any] = Map.empty)

/** A finished Spark job with its aggregated task metrics. `site` is the
  * innermost `graft.*` frame of the submitting thread's stack and `path`
  * every distinct `graft.*` class on it, outermost first. */
final case class Job(id: Int, startMs: Long, endMs: Long, site: String, path: String,
    queryId: Option[String], batchId: Option[Long], tasks: Int, taskMs: Long,
    waitMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

/** The traced run's listeners: jobs and tasks (`SparkListener`), plan
  * versus execution time per action (`QueryExecutionListener`) and the
  * driver heap peak. Attached only around traced operations. */
final class Tracer(val run: String) extends SparkListener with QueryExecutionListener {
  private final class JobAcc(val id: Int, val start: Long, val site: (String, String),
      val thread: Option[Thread], val queryId: Option[String], val batchId: Option[Long]) {
    val tasks = new AtomicLong; val taskMs = new AtomicLong; val waitMs = new AtomicLong
    val gcMs = new AtomicLong; val shuffle = new AtomicLong; val spill = new AtomicLong
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val jobs = new ConcurrentLinkedQueue[Job]
  private val planNs = new AtomicLong
  private val execNs = new AtomicLong
  private val heapPeak = new AtomicLong
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]

  def nextId(): Long = ids.incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val (thread, site) = submitter()
    val acc = new JobAcc(e.jobId, e.time, site, thread,
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong))
    open.put(e.jobId, acc)
    e.stageIds.foreach(s => stageJob.put(s, acc))
  }
  /** The thread behind the job being started, and its site. A
    * streaming query stamps one fixed call site on every job it runs,
    * so the site comes from the live stacks instead: of the threads
    * that are inside a Spark call made from `graft.*` code, prefer one
    * blocked in `DAGScheduler.runJob` that owns no open job yet (the
    * direct submitter); adaptive stages and broadcasts are submitted
    * from Spark's own pools while such a thread waits on them. */
  private def submitter(): (Option[Thread], (String, String)) = {
    val busy = open.values.asScala.flatMap(_.thread).toSet
    val cands = Thread.getAllStackTraces.asScala.toSeq.flatMap { case (t, st) =>
      val i = st.indexWhere(_.getClassName.startsWith("graft."))
      if (i > 0 && st.take(i).exists(_.getClassName.startsWith("org.apache.spark."))) {
        val direct = st.take(i).exists(f => f.getMethodName == "runJob" &&
          f.getClassName == "org.apache.spark.scheduler.DAGScheduler")
        Some((t, st, if (direct && !busy(t)) 0 else if (direct) 1 else 2))
      } else None
    }.sortBy(_._3)
    cands.headOption match {
      case Some((t, st, _)) => (Some(t), Tracer.site(st.toSeq.map(_.getClassName)))
      case None => (None, ("other", ""))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageJob.get(e.stageId)
    if (acc != null) {
      acc.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        acc.taskMs.addAndGet(m.executorRunTime)
        acc.gcMs.addAndGet(m.jvmGCTime)
        acc.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        acc.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      val sub = stageSubmit.get(e.stageId)
      if (sub != null) acc.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val a = open.remove(e.jobId)
    if (a != null) jobs.add(Job(a.id, a.start, e.time, a.site._1, a.site._2, a.queryId, a.batchId,
      a.tasks.get.toInt, a.taskMs.get, a.waitMs.get, a.gcMs.get, a.shuffle.get, a.spill.get))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    execNs.addAndGet(durationNs)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the last call, emptying the buffers. */
  def take(): (Seq[Job], Double, Double, Double) = {
    val b = Seq.newBuilder[Job]
    var j = jobs.poll()
    while (j != null) { b += j; j = jobs.poll() }
    (b.result(), planNs.getAndSet(0) / 1e6, execNs.getAndSet(0) / 1e6,
      heapPeak.getAndSet(0) / 1048576.0)
  }

  @volatile private var sampling = false
  private lazy val sampler = {
    val t = new Thread(() => {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      while (true) {
        if (sampling) heapPeak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max)
        Thread.sleep(20)
      }
    }, "perfbench-heap-sampler")
    t.setDaemon(true)
    t.start()
    t
  }

  def attach(spark: SparkSession): Unit = {
    sampler
    Tracer.active = true
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    sampling = true
  }
  def detach(spark: SparkSession): Unit = {
    Tracer.drainBus(spark)
    sampling = false
    Tracer.active = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.write(Stats.json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "run" -> s.run) ++ s.attrs))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** True while a traced op runs; harness components time themselves
    * only then. */
  @volatile var active = false

  /** Layer-qualified owner of a job from its stack's class names,
    * innermost first: the first `graft.*` class without the package
    * root and nested-class suffix (`graft.ext.SignatureStore$` →
    * `ext.SignatureStore`), `bench` when only the harness is on the
    * stack; plus the distinct owners outermost first. */
  def site(classes: Seq[String]): (String, String) = {
    val owners = classes.filter(_.startsWith("graft.")).map(_.stripPrefix("graft.").takeWhile(_ != '$'))
    val path = owners.reverse.distinct.mkString(">")
    (owners.headOption.getOrElse(
      if (classes.exists(_.startsWith("perfbench."))) "bench" else "other"), path)
  }

  /** Wait until every posted listener event has been delivered. */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  /** Covered length of a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
