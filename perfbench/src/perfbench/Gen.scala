package perfbench

/** Seeded, counter-based randomness: every generated value is a pure
  * function of (seed, stream, index), so Spark tasks generate inputs in
  * parallel and the harness recomputes any of them for its checks without
  * keeping the inputs in memory. */
object Gen {
  def mix(x0: Long): Long = { // splitmix64 finalizer
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x632BE59BD9B4E019L + stream) ^ i)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(hash(seed, stream, i), n.toLong).toInt

  /** Zipf(s) over ranks 0 until n, by inverse CDF over a cached table. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Word k-shingles, split on single spaces with empty words dropped —
    * the harness's independent reading of the engine's word shingling,
    * used to re-verify reported pair scores. */
  def shingles(text: String, k: Int): Set[String] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < k) Set.empty else ws.sliding(k).map(_.mkString(" ")).toSet
  }

  /** Median, the mean of the middle two for an even count; NaN if empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
