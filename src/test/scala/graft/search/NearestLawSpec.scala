package graft.search

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Law: the one nearest-centroid kernel returns the ids the kernels it
  * replaced returned ([[NearestReference]]). The flat top-m kernel sums each
  * distance in the same order as the old `ArrayData` loop and keeps the m
  * nearest by (distance, id), which is what the old m selection passes
  * picked; the large-k regimes only lost their own copy of the query. So
  * every regime must agree with the reference on raw ids, on shapes chosen
  * to hit ties, duplicate centroids, degenerate sizes and widths that are
  * not a multiple of the four-wide kernel. Pure JVM, no Spark. */
class NearestLawSpec extends AnyFunSuite {

  private def gaussian(n: Int, d: Int, seed: Long, scale: Double = 1.0): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n, d)((rnd.nextGaussian() * scale).toFloat)
  }

  private def arr(v: Array[Float]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v)

  /** The former dispatch over the reference kernels. */
  private def reference(v: Array[Float], idx: CentroidIndex, n: Int): Seq[Int] = {
    val out =
      if (idx.members != null) NearestReference.nearestHier(arr(v), idx, n)
      else if (idx.centNorm2 == null) NearestReference.nearest(arr(v), idx.centroids, n)
      else NearestReference.nearestFast(arr(v), idx, n)
    out.toIntArray().toSeq
  }

  private def agree(name: String, cents: Array[Array[Float]], qs: Array[Array[Float]],
      ns: Seq[Int]): Unit = {
    val idx = CentroidIndex.build(cents)
    for (n <- ns; (q, qi) <- qs.zipWithIndex) {
      val want = reference(q, idx, n)
      assert(IvfKernels.nearestIds(q, idx, n).toSeq === want, s"$name: query $qi, n = $n")
      assert(IvfKernels.nearestIdx(arr(q), idx, n).toIntArray().toSeq === want,
        s"$name: query $qi, n = $n, through ArrayData")
    }
  }

  test("random corpora at widths 1, 3, 5, 8, 13 and 64") {
    for ((d, seed) <- Seq(1 -> 1L, 3 -> 2L, 5 -> 3L, 8 -> 4L, 13 -> 5L, 64 -> 6L)) {
      val k = 127
      agree(s"d = $d", gaussian(k, d, seed, 3.0), gaussian(200, d, seed + 100, 3.0),
        Seq(1, 2, 7, 16))
    }
  }

  test("n = 1, n = k, n > k, and k = 1 to 5 (groups shorter than four)") {
    for (k <- 1 to 5; d <- Seq(2, 7)) {
      val cents = gaussian(k, d, 10L + k)
      agree(s"k = $k, d = $d", cents, gaussian(50, d, 20L + k), Seq(1, k, k + 3))
    }
    agree("k = 127, n >= k", gaussian(127, 16, 30L), gaussian(40, 16, 31L), Seq(127, 200))
  }

  test("planted exact ties and duplicate centroids") {
    // an integer grid: queries at cell midpoints sit at equal distance from
    // several centroids, so the order among equals is the tie rule alone
    val grid = (for (a <- 0 until 6; b <- 0 until 6; c <- 0 until 4)
      yield Array(a.toFloat, b.toFloat, c.toFloat)).toArray
    val mids = (for (a <- 0 until 6; b <- 0 until 6; c <- 0 until 4)
      yield Array(a + 0.5f, b + 0.5f, c.toFloat)).toArray
    agree("grid", grid, mids ++ grid, Seq(1, 3, 4, 8, 9, 144))
    // duplicates: each of 20 centroids appears again at a later index
    val base = gaussian(60, 9, 40L)
    val dups = base ++ Array.tabulate(20)(i => base(i * 3).clone())
    agree("duplicates", dups, gaussian(100, 9, 41L) ++ dups.take(30).map(_.clone()), Seq(1, 2, 5, 80))
    // every centroid the same point
    agree("all equal", Array.fill(13)(Array(1f, 2f, 3f, 4f, 5f)), gaussian(20, 5, 42L), Seq(1, 4, 13))
  }

  test("the large-k regimes (>= 512, >= 8,192) return what they returned") {
    val fast = gaussian(700, 24, 50L)
    assert(CentroidIndex.build(fast).centNorm2 != null)
    agree("dot-form", fast ++ fast.take(30).map(_.clone()), gaussian(200, 24, 51L), Seq(1, 4, 16))
    val hier = gaussian(CentroidIndex.HierThreshold + 200, 16, 52L)
    assert(CentroidIndex.build(hier).members != null)
    agree("two-level", hier, gaussian(100, 16, 53L), Seq(1, 4))
  }

  test("the coarse fit assigns through the shared kernel: same coarse bits and members") {
    val cents = gaussian(CentroidIndex.HierThreshold + 100, 12, 60L)
    val idx = CentroidIndex.build(cents)
    val (coarse, members) = NearestReference.fitCoarse(cents)
    def bits(cs: Array[Array[Float]]) = cs.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))
    assert(bits(idx.coarse) === bits(coarse))
    assert(idx.members.map(_.toSeq).toSeq === members.map(_.toSeq).toSeq)
  }

  test("parallel probes equal each query's sequential probe list") {
    val cents = gaussian(127, 64, 70L, 2.0)
    val idx = CentroidIndex.build(cents)
    // 300 · 127 · 64 ≥ 2^21: the parallel route
    val qs = gaussian(300, 64, 71L, 2.0)
    assert(qs.length.toLong * 127 * 64 >= (1L << 21))
    for (n <- Seq(1, 16)) {
      val par = IvfKernels.probes(qs, idx, n).map(_.toSeq).toSeq
      assert(par === qs.map(q => reference(q, idx, n)).toSeq, s"n = $n")
      assert(par === qs.map(IvfKernels.nearestIds(_, idx, n).toSeq).toSeq)
    }
    // below the threshold: the sequential route
    assert(IvfKernels.probes(qs.take(3), idx, 4).map(_.toSeq).toSeq ===
      qs.take(3).map(q => reference(q, idx, 4)).toSeq)
  }

  test("a query of another width is rejected; a non-finite one probes no cell") {
    val idx = CentroidIndex.build(gaussian(16, 8, 80L))
    for (w <- Seq(7, 9)) {
      val e = intercept[IllegalArgumentException](IvfKernels.nearestIds(new Array[Float](w), idx, 2))
      assert(e.getMessage === s"vector dimension mismatch: $w vs 8")
    }
    val nan = Array.fill(8)(0f); nan(3) = Float.NaN
    val inf = Array.fill(8)(0f); inf(0) = Float.PositiveInfinity
    assert(IvfKernels.nearestIds(nan, idx, 4).isEmpty)
    assert(IvfKernels.nearestIds(inf, idx, 4).isEmpty)
  }
}
