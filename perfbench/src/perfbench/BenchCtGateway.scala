package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.sources.dsv2.CtGateway

/** Change-tracking server for the `ct` kind, served by index
  * arithmetic from [[Gen.Ct]]: the table sits at version 1 with
  * `benchRows` inserted rows, and stripe `s` of `n` holds the ids
  * `s, s + n, s + 2n, …`. Configured through the reader options
  * `benchSeed` and `benchRows`. */
final class BenchCtGateway extends CtGateway {
  private var gen: Gen.Ct = _

  override def configure(options: Map[String, String]): Unit =
    gen = Gen.Ct(options("benchSeed").toLong, options("benchRows").toLong)

  override def scalar(sql: String): Option[Long] =
    if (sql.contains("CHANGE_TRACKING_CURRENT_VERSION")) Some(1L) else None

  override def rows(sql: String): Iterator[Seq[Any]] = {
    val flat = sql.replace('\n', ' ')
    val from = """CHANGES \[[^\]]+\]\.\[[^\]]+\], (\d+)\)""".r.findFirstMatchIn(flat).get.group(1).toLong
    val to = """SYS_CHANGE_VERSION <= (\d+)""".r.findFirstMatchIn(flat).get.group(1).toLong
    val (stripe, n) = """% (\d+) = (\d+)""".r.findFirstMatchIn(flat)
      .map(m => (m.group(2).toLong, m.group(1).toLong)).getOrElse((0L, 1L))
    if (!(from < 1 && to >= 1)) Iterator.empty
    else {
      val ids = Iterator.iterate(stripe)(_ + n).takeWhile(_ < gen.rows)
      if (!Tracer.active) ids.map(i => gen.values(i).toSeq)
      else ids.map { i =>
        val t0 = System.nanoTime()
        val v = gen.values(i).toSeq
        BenchCtGateway.nanos.add(System.nanoTime() - t0)
        BenchCtGateway.rowCount.increment()
        v
      }
    }
  }
}

/** Traced-run counters: time spent producing rows inside the gateway
  * iterators (harness cost, not program cost). */
object BenchCtGateway {
  val nanos = new LongAdder
  val rowCount = new LongAdder
}
