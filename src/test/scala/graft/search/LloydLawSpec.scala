package graft.search

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

/** Law: the driver Lloyd fit returns the same float bits as the plain
  * full-scan fit it replaced ([[LloydReference]]). The bounds only skip
  * centroids that are strictly farther in the computed doubles, the
  * four-wide kernel sums each distance in the same order, and the
  * fixed-point exit stops only where the centroids can no longer change —
  * so `lloyd`, `hierLloyd`, `fitCentroids` and `PqIndex.fitCodebooks` must
  * agree with the reference on raw `floatToRawIntBits`, on shapes chosen
  * to hit ties, duplicates, degenerate sizes, the bound-matrix cap and
  * non-finite input. */
class LloydLawSpec extends SparkSpec {

  private def bits(cs: Array[Array[Float]]): Seq[Seq[Int]] =
    cs.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  /** Seeded Gaussian mixture: `comps` centres, unit-ish spread. */
  private def mixture(n: Int, d: Int, comps: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(comps, d)(rnd.nextGaussian() * 4)
    Array.fill(n) {
      val c = centres(rnd.nextInt(comps))
      Array.tabulate(d)(f => (c(f) + rnd.nextGaussian()).toFloat)
    }
  }

  private def agree(name: String, xs: Array[Array[Float]], k: Int, iters: Int = 10): Unit = {
    val got = IvfIndex.lloyd(xs, k, iters)
    val want = LloydReference.lloyd(xs, k, iters)
    assert(got.length === want.length, name)
    assert(bits(got) === bits(want), s"$name: centroids differ from the plain fit")
  }

  test("mixtures at d = 1, 3, 8, 64 give the plain fit's bits") {
    for ((d, seed) <- Seq(1 -> 1L, 3 -> 2L, 8 -> 3L, 64 -> 4L))
      agree(s"d=$d", mixture(3000, d, 24, seed), 60)
    agree("workload shape", mixture(16000, 64, 48, 5L), 127)
  }

  test("planted duplicate rows, run to the fixed point") {
    val base = mixture(400, 8, 12, 6L)
    val rnd = new scala.util.Random(7)
    // every base row appears 1-8 times, shuffled: exact-zero distances and
    // clusters that stop moving early
    val xs = rnd.shuffle(base.toSeq.flatMap(r => Seq.fill(1 + rnd.nextInt(8))(r.clone()))).toArray
    agree("duplicates", xs, 50, iters = 40)
    agree("duplicates, k = distinct rows", xs, 400, iters = 40)
  }

  test("exact-tie grid") {
    // integer lattice: many points sit exactly between two centroids, and
    // the first-min rule must break every tie the same way
    val xs = (for (a <- 0 until 24; b <- 0 until 24; c <- 0 until 3)
      yield Array(a.toFloat, b.toFloat, c.toFloat)).toArray
    agree("grid k=16", xs, 16)
    agree("grid k=64", xs, 64, iters = 30)
    agree("1-d grid", Array.tabulate(200)(i => Array((i % 20).toFloat)), 7)
  }

  test("k >= n, n = 1 and k = 1") {
    val xs = mixture(40, 5, 4, 8L)
    agree("k = n", xs, 40)
    agree("k > n", xs.take(25), 32)
    agree("n = 1", xs.take(1), 1)
    agree("k = 1", mixture(500, 6, 3, 9L), 1)
  }

  test("PQ codebook shape (8,000 x 8, k = 256)") {
    agree("pq", mixture(8000, 8, 64, 10L), 256)
  }

  test("over the bound-matrix cap: the full-scan route") {
    // n·k = 5.1M > 4M bounds: every iteration scans every centroid
    agree("over cap", mixture(20000, 4, 40, 11L), 256, iters = 4)
  }

  test("NaN and infinite components") {
    val xs = mixture(2000, 8, 10, 12L)
    xs(17)(3) = Float.NaN
    xs(901)(0) = Float.PositiveInfinity
    agree("non-finite rows", xs, 20)
    val head = xs.clone()
    head(0) = Array.fill(8)(Float.NaN) // the init's first pick is NaN
    agree("NaN first row", head, 20)
  }

  test("hierLloyd at k >= 1024 gives the plain two-level fit's bits") {
    val xs = mixture(8000, 16, 40, 13L)
    val k = 1200
    assert(bits(IvfIndex.hierLloyd(xs, k, 10)) === bits(LloydReference.hierLloyd(xs, k, 10)))
  }

  test("fitCentroids and PqIndex.fitCodebooks: same sample, same bits") {
    val s = spark
    val dim = 16
    val xs = mixture(3000, dim, 20, 14L)
    val df = s.createDataFrame(s.sparkContext.parallelize(xs.toSeq.map(v => Row(v.toSeq)), 3),
      StructType(Seq(StructField("v", ArrayType(FloatType, containsNull = false)))))
    // the reference read: boxed Row.getSeq, the way the fit decoded it before
    def sampled(total: Long, target: Long): Array[Array[Float]] = {
      val fraction = if (total <= target) 1.0 else target.toDouble / total
      (if (fraction < 1.0) df.sample(withReplacement = false, fraction, seed = 42) else df)
        .select(col("v").cast(ArrayType(FloatType))).collect().map(_.getSeq[Float](0).toArray)
    }
    // a total above the target takes the seeded sample path
    for (total <- Seq(3000L, 300000L)) {
      val sample = sampled(total, IvfIndex.trainTarget(50))
      assert(bits(IvfIndex.fitCentroids(df, "v", 50, total)) ===
        bits(LloydReference.lloyd(sample, 50, 10)), s"fitCentroids total=$total")
      val pqSample = sampled(total, 100000L)
      for (nbits <- Seq(8, 4)) {
        val got = PqIndex.fitCodebooks(df, "v", 4, dim, total, nbits)
        val want = Array.tabulate(4) { m =>
          val sub = pqSample.map(v => java.util.Arrays.copyOfRange(v, m * 4, (m + 1) * 4))
          LloydReference.lloyd(sub, math.min(1 << nbits, sub.length), 10)
        }
        assert(got.map(bits).toSeq === want.map(bits).toSeq, s"fitCodebooks total=$total nbits=$nbits")
      }
    }
  }
}
