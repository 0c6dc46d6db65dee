package pipebench

import java.util.concurrent.locks.LockSupport

/** One clock for every timestamp the benchmark takes: wall-clock
  * milliseconds (so due times can be anchored to the epoch second the 1 s
  * trigger fires on, and compared with Spark's progress timestamps) advanced
  * by `nanoTime` (so intervals do not jump with clock adjustments).
  */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()

  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6

  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }

  def threadCpuMs: Double =
    java.lang.management.ManagementFactory.getThreadMXBean
      .getCurrentThreadCpuTime / 1e6
}

/** Growable primitive buffer: the latency record holds up to a few million
  * entries on the drain workload, which boxed collections would bloat.
  */
final class DoubleBuf {
  private var a = new Array[Double](1024)
  private var n = 0
  def +=(v: Double): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def size: Int = n
  def apply(i: Int): Double = a(i)
  def toArray: Array[Double] = java.util.Arrays.copyOf(a, n)
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs.toArray, 50)

  /** Percentile of (value, weight) pairs: the value below which `p` percent
    * of the total weight lies.
    */
  def weightedPct(vals: Array[Double], weights: Array[Double], p: Double): Double =
    if (vals.isEmpty) Double.NaN
    else {
      val idx = vals.indices.sortBy(vals(_))
      val total = weights.sum
      val target = p / 100.0 * total
      var acc = 0.0
      var i = 0
      while (i < idx.length - 1 && acc + weights(idx(i)) < target) {
        acc += weights(idx(i)); i += 1
      }
      vals(idx(i))
    }
}

/** Zipf(s) over `n` ranks, sampled by binary search on the CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case i: Int              => i.toString
    case l: Long             => l.toString
    case d: Double           => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => str(other.toString)
  }
}
