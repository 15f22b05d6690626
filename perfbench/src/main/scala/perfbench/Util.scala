package perfbench

import java.util.SplittableRandom

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case Raw(j) => j
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  /** An already-encoded JSON fragment. */
  final case class Raw(json: String)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail sample: the highest percentile that still has at least
    * ten samples beyond it, i.e. the 11th slowest. Returns (value,
    * percentile), both NaN (reported as null) with 11 samples or fewer.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 11) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * i / s.size)
    }
}

/** Seeded random streams. Every generator draws from its own stream,
  * keyed by (run seed, stream tag, item), so two generators never share
  * a seed by accident: reusing `Random(i)` for cluster bases and for
  * unrelated docs would plant exact duplicates across clusters.
  */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def apply(seed: Long, stream: String, item: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream.hashCode.toLong) + item))
}

/** Host state recorded beside each run's metrics (never as a metric):
  * the 1-minute load average, a fixed single-threaded CPU loop and the
  * CPU time the hypervisor stole, so a run that fails the steadiness
  * check can be traced to a busy window.
  */
object Host {
  /** (steal, total) CPU ticks since boot from /proc/stat, or (0, 0). */
  def cpuTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of all CPU time between two [[cpuTicks]] samples that was stolen. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else Double.NaN

  def loadAvg1: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Seconds one thread takes for a fixed xorshift loop (best of 3). */
  def cpuControlS: Double = {
    var best = Double.MaxValue
    var sink = 0L
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    if (sink == 42L) println("")
    best
  }

  def sample(): Map[String, Any] = Map("load_avg_1m" -> loadAvg1, "cpu_control_s" -> cpuControlS)
}
