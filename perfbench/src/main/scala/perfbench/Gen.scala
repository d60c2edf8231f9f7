package perfbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs. */
object Gen {

  /** Independent points: every coordinate uniform on [0, 1). */
  def independent(n: Int, d: Int, seed: Long): Array[Array[Double]] = {
    val r = new Random(seed)
    Array.fill(n)(Array.fill(d)(r.nextDouble()))
  }

  /** Anti-correlated points, after the generator of Börzsönyi, Kossmann
    * & Stocker (ICDE 2001): a point starts on the diagonal at a plane
    * value `v` peaked around 0.5, then moves within that plane
    * (`x(i) += h; x(i + 1) -= h`), so a point good in one dimension is
    * bad in another. Points leaving the unit cube are drawn again. */
  def antiCorrelated(n: Int, d: Int, seed: Long): Array[Array[Double]] = {
    val r = new Random(seed)
    def peak(lo: Double, hi: Double, k: Int): Double = {
      var s = 0.0
      var i = 0
      while (i < k) { s += r.nextDouble(); i += 1 }
      lo + (hi - lo) * s / k
    }
    Array.fill(n) {
      val x = new Array[Double](d)
      var ok = false
      while (!ok) {
        val v = peak(0.25, 0.75, 12)
        val l = if (v <= 0.5) v else 1.0 - v
        java.util.Arrays.fill(x, v)
        var i = 0
        while (i < d) {
          val h = -l + 2 * l * r.nextDouble()
          x(i) += h
          x((i + 1) % d) -= h
          i += 1
        }
        ok = x.forall(c => c >= 0.0 && c <= 1.0)
      }
      x
    }
  }
}

/** The benchmark's own skyline (MIN in every dimension), written apart
  * from graft's kernel so that a kernel bug cannot hide in the check.
  *
  * Sort-filter-skyline: visit points by ascending coordinate sum, ties
  * broken lexicographically, and keep a point unless an already kept
  * point dominates it. A dominator is componentwise no larger, so its
  * rounded sum is no larger and it sorts first even on a sum tie. */
object RefSkyline {

  def dominates(a: Array[Double], b: Array[Double]): Boolean = {
    var strict = false
    var i = 0
    while (i < a.length) {
      if (a(i) > b(i)) return false
      if (a(i) < b(i)) strict = true
      i += 1
    }
    strict
  }

  /** Indices of the skyline points, ascending. */
  def indices(pts: Array[Array[Double]]): Array[Int] = {
    val sums = pts.map(_.sum)
    val order = pts.indices.toArray.sortWith { (i, j) =>
      if (sums(i) != sums(j)) sums(i) < sums(j)
      else java.util.Arrays.compare(pts(i), pts(j)) < 0
    }
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    order.foreach { i =>
      val p = pts(i)
      var dominated = false
      var j = 0
      while (!dominated && j < kept.length) {
        dominated = dominates(pts(kept(j)), p)
        j += 1
      }
      if (!dominated) kept += i
    }
    kept.toArray.sorted
  }
}
