package perfbench

/**
 * Seeded input generators. Every value is a pure function of (seed, stream,
 * index), so Spark partitions and single-threaded checks regenerate the same
 * inputs without shipping them around.
 */
object Gen {

  /** splitmix64 finalizer: a bijective 64-bit mix. */
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for element `i` of stream `stream`. */
  def uniform(seed: Long, stream: Long, i: Long): Double =
    (mix64(mix64(seed * 0x632BE59BD9B4E019L + stream) + i) >>> 11) / 9007199254740992.0

  /** Rank in [1, n] of a bounded Zipf law with exponent `s` (s != 1), by
    * inverting the continuous power-law CDF. */
  def zipfRank(u: Double, n: Int, s: Double): Int = {
    val a = 1.0 - s
    val k = math.pow(1.0 + u * (math.pow(n.toDouble, a) - 1.0), 1.0 / a)
    math.max(1, math.min(n, k.toInt))
  }

  private val Hex = "0123456789abcdef".toCharArray

  /** Item name of `rank` in universe `salt`: a fixed-width hex scramble, so
    * lexical order says nothing about popularity. Bijective in `rank` for
    * ranks below 2^32. */
  def item(rank: Long, salt: Long): String = {
    var v = ((rank * 0x9E3779B1L) ^ (mix64(salt) & 0xFFFFFFFFL)) & 0xFFFFFFFFL
    val c = new Array[Char](9)
    c(0) = 'i'
    var i = 8
    while (i >= 1) { c(i) = Hex((v & 0xF).toInt); v >>>= 4; i -= 1 }
    new String(c)
  }
}
