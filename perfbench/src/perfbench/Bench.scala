package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.model.{ExitCodes, StreamContext}
import graft.runtime.{GraftMain, GraftSession}

/** What one run of the program produced. `extra` carries per-op
  * figures a workload knows and the harness does not. */
final case class OpOut(rows: Long, wallNs: Long, triggers: Seq[Trigger],
    outBytes: Long, outFiles: Long, extra: Map[String, Double] = Map.empty) {
  def rowsPerS: Double = rows / (wallNs / 1e9)
}

/** The harness around the program: sessions, scratch directories,
  * the hosted entry point and the per-op tracing hooks. */
final class Ctx(val root: Path, val seed: Long, val traced: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val progress = new ProgressLog
  val tracer = new Tracer(s"run-${ProcessHandle.current().pid()}-$seed")
  private var current: SparkSession = _
  private var opSeq = 0

  def spark: SparkSession = current

  /** A fresh local session over `cores` cores (stopping any previous). */
  def newSession(cores: Int = cores): SparkSession = {
    if (current != null) current.stop()
    current = GraftSession.local("perfbench", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current.streams.addListener(progress)
    current
  }

  /** A new, empty scratch directory for one op. */
  def scratch(prefix: String): Path = {
    opSeq += 1
    val p = root.resolve(f"$prefix-$opSeq%04d")
    Files.createDirectories(p)
    p
  }

  /** Drive the hosted program the way the operator drives a pod: the
    * `STREAMCONTEXT__*` environment in, the exit code out. Returns the
    * wall time and the triggers the run executed. */
  def hosted(kind: String, spec: Map[String, Any]): (Long, Seq[Trigger]) = {
    val env = Map(StreamContext.StreamIdVar -> s"perfbench-$kind",
      StreamContext.StreamKindVar -> kind, StreamContext.BackfillVar -> "true",
      StreamContext.SpecVar -> Stats.json(spec + ("stopAfterBackfill" -> true)))
    val statuses = ArrayBuffer.empty[String]
    progress.drain()
    val t0 = System.nanoTime()
    val code = GraftMain.run(spark, env, statusReporter = s => statuses.synchronized(statuses += s))
    val wall = System.nanoTime() - t0
    Tracer.drainBus(spark)
    if (code != ExitCodes.Success)
      throw new IllegalStateException(s"$kind exited $code: ${statuses.mkString("; ")}")
    (wall, progress.drain())
  }
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
  /** (regular files, bytes) under `p`, hidden/checksum files excluded. */
  def size(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      var n = 0L; var b = 0L
      s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .forEach { f => n += 1; b += Files.size(f) }
      (n, b)
    } finally s.close()
  }
}

/** One workload: its inputs, the program run it times and the checks
  * on that run's output. */
trait Workload {
  def name: String
  /** Timed ops per run, at the least. */
  def minOps: Int = 3
  /** Untraced triggers the traced run needs for its p90 figure. */
  def tailTriggers: Int = 0
  /** Pure in-memory input generation (untimed). */
  def generate(ctx: Ctx): Unit = ()
  /** Input generation that needs the session (untimed). */
  def materialize(ctx: Ctx): Unit = ()
  /** Preparation the program does before serving (part of `setup_s`). */
  def prepare(ctx: Ctx): Unit = ()
  /** Untimed (but checked) ops before the timed ones, so the JIT and
    * the program's caches settle. */
  def warmUpOps: Int = 1
  /** One run of the program from identical starting state. */
  def op(ctx: Ctx): OpOut
  /** Problems with the last op's output (empty when correct); removes
    * that op's directories. */
  def check(ctx: Ctx, out: OpOut): Seq[String]
  /** Figures about the state the run leaves behind (traced run). */
  def finalState(ctx: Ctx): Map[String, Double] = Map.empty
  /** Digest of the outputs checked so far, for `expected.json`. */
  def digest: Option[String] = None
  /** Whether the traced run prints per-op figures beyond the listed
    * per-layer metrics (phase names the program reports at run time). */
  def openLayers: Boolean = false
  /** Whether the traced run also measures a `local[1]` baseline. */
  def scales: Boolean = false
}
