package graft.search

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Test-only reference: the nearest-centroid kernels exactly as they were
  * before fit, assignment and probes shared one flat distance kernel — the
  * flat `nearest` (one sequential `Σ(x_i−c_i)²` per centroid read through
  * `ArrayData.getFloat`, then `n` selection passes), the large-k dot-form
  * `nearestFast`, the two-level `nearestHier` and `CentroidIndex`'s coarse
  * fit with its own distance loop. [[NearestLawSpec]] and
  * [[CentroidKernelSpec]] pin the production kernels to these on raw ids
  * and float bits. Do not edit the bodies: they are the definition the law
  * compares against. */
object NearestReference {
  def nearest(v: ArrayData, centroids: Array[Array[Float]], n: Int): ArrayData = {
    val k = centroids.length
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      var s = 0.0; var i = 0
      while (i < cent.length) {
        val d = v.getFloat(i).toDouble - cent(i); s += d * d; i += 1
      }
      dists(c) = s; c += 1
    }
    val m = math.min(n, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < m) {
      var best = -1; var bestD = Double.MaxValue
      c = 0
      while (c < k) {
        if (!taken(c) && dists(c) < bestD) { best = c; bestD = dists(c) }
        c += 1
      }
      taken(best) = true; out(j) = best; j += 1
    }
    new GenericArrayData(out.map(Int.box))
  }

  def nearestFast(v: ArrayData, idx: CentroidIndex, n: Int): ArrayData = {
    val cents = idx.centroids
    val norms = idx.centNorm2
    val k = cents.length
    val m = math.min(n, k)
    val dim = cents(0).length
    val x = new Array[Float](dim)
    var i = 0
    while (i < dim) { x(i) = v.getFloat(i); i += 1 }
    var x2 = 0.0
    i = 0
    while (i < dim) { val d = x(i).toDouble; x2 += d * d; i += 1 }
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var filled = 0
    val tail = dim - (dim & 3)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      i = 0
      while (i < tail) {
        s0 += x(i).toDouble * cent(i)
        s1 += x(i + 1).toDouble * cent(i + 1)
        s2 += x(i + 2).toDouble * cent(i + 2)
        s3 += x(i + 3).toDouble * cent(i + 3)
        i += 4
      }
      while (i < dim) { s0 += x(i).toDouble * cent(i); i += 1 }
      val dd = x2 - 2.0 * (s0 + s1 + s2 + s3) + norms(c)
      if (filled < m ||
          dd < bestD(m - 1) || (dd == bestD(m - 1) && c < bestId(m - 1))) {
        var p = if (filled < m) filled else m - 1
        while (p > 0 &&
            (bestD(p - 1) > dd || (bestD(p - 1) == dd && bestId(p - 1) > c))) {
          bestD(p) = bestD(p - 1); bestId(p) = bestId(p - 1); p -= 1
        }
        bestD(p) = dd; bestId(p) = c
        if (filled < m) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var o = 0
    while (o < filled) { out(o) = Int.box(bestId(o)); o += 1 }
    new GenericArrayData(out)
  }

  def nearestHier(v: ArrayData, idx: CentroidIndex, n: Int): ArrayData = {
    val cents = idx.centroids
    val norms = idx.centNorm2
    val coarse = idx.coarse
    val cnorm = idx.coarseNorm2
    val members = idx.members
    val kc = coarse.length
    val dim = cents(0).length
    val x = new Array[Float](dim)
    var i = 0
    while (i < dim) { x(i) = v.getFloat(i); i += 1 }
    var x2 = 0.0
    i = 0
    while (i < dim) { val d = x(i).toDouble; x2 += d * d; i += 1 }
    val tail = dim - (dim & 3)

    @inline def dotDist(cent: Array[Float], n2: Double): Double = {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var t = 0
      while (t < tail) {
        s0 += x(t).toDouble * cent(t)
        s1 += x(t + 1).toDouble * cent(t + 1)
        s2 += x(t + 2).toDouble * cent(t + 2)
        s3 += x(t + 3).toDouble * cent(t + 3)
        t += 4
      }
      while (t < dim) { s0 += x(t).toDouble * cent(t); t += 1 }
      x2 - 2.0 * (s0 + s1 + s2 + s3) + n2
    }

    // stage 1: top-wc coarse cells (bounded insertion, ties on id)
    val wc = math.min(kc, math.max(8, 2 * n))
    val cD = new Array[Double](wc)
    val cId = new Array[Int](wc)
    var cFilled = 0
    var c = 0
    while (c < kc) {
      val dd = dotDist(coarse(c), cnorm(c))
      if (cFilled < wc ||
          dd < cD(wc - 1) || (dd == cD(wc - 1) && c < cId(wc - 1))) {
        var p = if (cFilled < wc) cFilled else wc - 1
        while (p > 0 &&
            (cD(p - 1) > dd || (cD(p - 1) == dd && cId(p - 1) > c))) {
          cD(p) = cD(p - 1); cId(p) = cId(p - 1); p -= 1
        }
        cD(p) = dd; cId(p) = c
        if (cFilled < wc) cFilled += 1
      }
      c += 1
    }

    // stage 2: scan the probed cells' members (same top-m order as the
    // flat kernels: (dist, id) ascending)
    val m = math.min(n, cents.length)
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var filled = 0
    var pc = 0
    while (pc < cFilled) {
      val mem = members(cId(pc))
      var mi = 0
      while (mi < mem.length) {
        val id = mem(mi)
        val dd = dotDist(cents(id), norms(id))
        if (filled < m ||
            dd < bestD(m - 1) || (dd == bestD(m - 1) && id < bestId(m - 1))) {
          var p = if (filled < m) filled else m - 1
          while (p > 0 &&
              (bestD(p - 1) > dd || (bestD(p - 1) == dd && bestId(p - 1) > id))) {
            bestD(p) = bestD(p - 1); bestId(p) = bestId(p - 1); p -= 1
          }
          bestD(p) = dd; bestId(p) = id
          if (filled < m) filled += 1
        }
        mi += 1
      }
      pc += 1
    }
    val out = new Array[Any](filled)
    var o = 0
    while (o < filled) { out(o) = Int.box(bestId(o)); o += 1 }
    new GenericArrayData(out)
  }

  def fitCoarse(cents: Array[Array[Float]]): (Array[Array[Float]], Array[Array[Int]]) = {
    val k = cents.length
    val d = cents(0).length
    val kc = math.max(16, math.ceil(math.sqrt(k.toDouble)).toInt)
    var coarse = Array.tabulate(kc) { j =>
      val src = cents(((j.toLong * k) / kc).toInt)
      Array.tabulate(d)(i => src(i).toDouble)
    }
    val assign = new Array[Int](k)
    var iter = 0
    while (iter < 5) {
      var c = 0
      while (c < k) {
        val v = cents(c)
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < kc) {
          val cj = coarse(j)
          var s = 0.0; var i = 0
          while (i < d) { val df = v(i).toDouble - cj(i); s += df * df; i += 1 }
          if (s < bestD) { bestD = s; best = j }
          j += 1
        }
        assign(c) = best; c += 1
      }
      val sums = Array.ofDim[Double](kc, d)
      val counts = new Array[Int](kc)
      var c2 = 0
      while (c2 < k) {
        val v = cents(c2); val a = assign(c2)
        counts(a) += 1
        var i = 0
        while (i < d) { sums(a)(i) += v(i).toDouble; i += 1 }
        c2 += 1
      }
      var j = 0
      while (j < kc) {
        if (counts(j) > 0) {
          var i = 0
          while (i < d) { coarse(j)(i) = sums(j)(i) / counts(j); i += 1 }
        }
        j += 1
      }
      iter += 1
    }
    // final member lists from the last assignment
    val counts = new Array[Int](kc)
    var c = 0
    while (c < k) { counts(assign(c)) += 1; c += 1 }
    val members = Array.tabulate(kc)(j => new Array[Int](counts(j)))
    val fill = new Array[Int](kc)
    c = 0
    while (c < k) {
      val a = assign(c); members(a)(fill(a)) = c; fill(a) += 1; c += 1
    }
    val coarseF = coarse.map(row => row.map(_.toFloat))
    (coarseF, members)
  }
}
