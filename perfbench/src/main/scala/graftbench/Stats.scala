package graftbench

/** SplitMix64: a fixed, JDK-independent generator, so one seed gives
  * byte-identical inputs on every JVM. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** uniform in [0, 1) from the top 53 bits */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  private var spare = Double.NaN
  /** standard normal (Box–Muller, both halves used) */
  def gaussian(): Double =
    if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
    else {
      var u = nextDouble()
      while (u <= 0.0) u = nextDouble()
      val v = nextDouble()
      val r = math.sqrt(-2.0 * math.log(u))
      spare = r * math.sin(2 * math.Pi * v)
      r * math.cos(2 * math.Pi * v)
    }
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
  /** an independent stream for a named purpose */
  def fork(tag: Long): Rng = new Rng(nextLong() ^ (tag * 0x9E3779B97F4A7C15L))
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }
  /** |truth ∩ got| / |truth| over the first k truth ids; an empty truth
    * (no row passes the filter) counts as perfect recall. */
  def recallAtK(truth: Seq[Long], got: Seq[Long], k: Int): Double = {
    val t = truth.take(k)
    if (t.isEmpty) 1.0 else t.toSet.intersect(got.toSet).size.toDouble / t.size
  }
}
