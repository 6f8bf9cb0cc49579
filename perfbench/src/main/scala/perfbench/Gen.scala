package perfbench

/** Seeded input generation. Every input row is a pure function of
  * (seed, stream, index), so executors generate inputs in parallel and the
  * driver-side oracles regenerate the same rows without reading any output
  * of the engine. */
object Gen {
  private val Golden = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * Golden + stream) + (i + 1) * Golden)

  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def rng(seed: Long, stream: Long, i: Long): Rng = new Rng(hash(seed, stream, i))

  /** Fixed-point decimal text (7 fraction digits) of `v`, so generated WKT
    * never depends on how a double prints and parses back exactly the same
    * on the engine and in the oracle. */
  def appendFixed(sb: java.lang.StringBuilder, v: Double): Unit = {
    val k = math.round(v * 1e7)
    if (k < 0) sb.append('-')
    val a = math.abs(k)
    sb.append(a / 10000000L).append('.')
    val frac = (a % 10000000L).toString
    var pad = 7 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  /** Wraps a longitude into [-180, 180). */
  def wrapLon(x: Double): Double =
    if (x >= 180.0) x - 360.0 else if (x < -180.0) x + 360.0 else x
}

final class Rng(seed: Long) {
  private var s = seed
  def long(): Long = { s += 0x9e3779b97f4a7c15L; Gen.mix(s) }
  def double(): Double = Gen.unit(long())
  def int(n: Int): Int = java.lang.Long.remainderUnsigned(long(), n.toLong).toInt
  def between(a: Double, b: Double): Double = a + (b - a) * double()
  /** Standard normal (Box-Muller). */
  def gaussian(): Double = {
    val u = math.max(double(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * double())
  }
}
