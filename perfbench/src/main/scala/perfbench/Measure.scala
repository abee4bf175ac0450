package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

/** Run-wide settings handed to every workload. */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean, cores: Int,
    runDir: Path, dataDir: Path)

/** What a workload measured. `e2e` and `layer` map metric names to
  * (value, unit). */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, (Double, String)], layer: Map[String, (Double, String)])

/** Latency samples of one kind; a failed operation counts as missing any
  * latency limit, so it enters the percentiles as +infinity. */
final class Samples {
  private val ms = mutable.ArrayBuffer[Double]()
  def add(v: Double): Unit = synchronized { ms += v }
  def fail(): Unit = add(Double.PositiveInfinity)
  def size: Int = synchronized(ms.size)
  def values: Seq[Double] = synchronized(ms.toSeq)
  def p(q: Double): Double = Stats.quantile(values, q)
  def median: Double = p(0.5)
}

object Stats {
  /** Linear-interpolated quantile; NaN for no samples, which the result
    * reports as null and the run rejects, so a phase that produced no
    * sample never reads as fast. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      if (s(hi).isInfinite || s(lo).isInfinite) s(hi)
      else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def seconds(ns: Long): Double = ns / 1e9
  def millis(ns: Long): Double = ns / 1e6

  /** Runs `body`, returning its value and elapsed nanoseconds. */
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }

  /** Bytes, files and directories under `p`. */
  def tree(p: Path): (Long, Long, Long) =
    if (!Files.exists(p)) (0L, 0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files, dirs = 0L
        s.forEach { f =>
          if (Files.isDirectory(f)) dirs += 1
          else { files += 1; bytes += Files.size(f) }
        }
        (bytes, files, dirs)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Runs `body`; a non-fatal error is logged and returned as None. Fatal
    * JVM errors propagate and abort the run. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
}
