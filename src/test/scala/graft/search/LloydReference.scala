package graft.search

/** Test-only reference: the driver Lloyd fit (`lloyd`, `hierLloyd`) exactly
  * as it was before the assignment step gained Elkan bounds, the four-wide
  * distance kernel and the fixed-point exit — plain full scans, one `d2`
  * per (point, centroid), every iteration run. [[LloydLawSpec]] pins the
  * production fit to these on raw float bits. Do not edit the bodies: they
  * are the definition the law compares against. */
object LloydReference {
  /** Two-level Lloyd for large k: cluster the sample into ⌈√k⌉ coarse
    * cells, then Lloyd `k_c` sub-centroids inside each cell with `k_c`
    * allocated proportionally to cell population (largest-remainder,
    * deterministic lowest-id tie-break, capped by population). The
    * returned flat centroid array is the concatenation in (coarse id,
    * sub id) order — fully deterministic, so oracle refit-and-embed
    * still reproduces it. Cost: O(n·√k·d) against flat Lloyd's
    * O(n·k·d); quantization quality gives up a few percent (sub-fits
    * never move points across coarse boundaries), which for an IVF
    * coarse quantizer trades as cell-balance noise, not correctness —
    * assignments remain nearest-of-k at index build and query time. */
  def hierLloyd(xs: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val n = xs.length
    val k1 = math.min(math.ceil(math.sqrt(k.toDouble)).toInt, n)
    val coarse = lloyd(xs, k1, iters)
    // deterministic nearest-coarse assignment (first-min wins, same rule
    // as the Lloyd inner loop)
    val d = xs(0).length
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i).toDouble - b(i); s += t * t; i += 1 }
      s
    }
    val assign = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      var best = 0; var bestD = Double.MaxValue; var j = 0
      while (j < coarse.length) {
        val dd = d2(xs(i), coarse(j))
        if (dd < bestD) { bestD = dd; best = j }
        j += 1
      }
      assign(i) = best
    }
    val counts = new Array[Int](coarse.length)
    var i = 0
    while (i < n) { counts(assign(i)) += 1; i += 1 }
    // proportional sub-centroid allocation: floor share (≥1 for nonempty
    // cells, ≤ population), then hand out the remainder one at a time to
    // the most under-allocated cell (deficit vs exact share; lowest id on
    // ties) — sums exactly to k because Σ caps = n ≥ k
    val alloc = new Array[Int](coarse.length)
    var allocated = 0
    var c = 0
    while (c < coarse.length) {
      if (counts(c) > 0) {
        alloc(c) = math.min(counts(c),
          math.max(1, (k.toLong * counts(c) / n).toInt))
        allocated += alloc(c)
      }
      c += 1
    }
    while (allocated < k) {
      var best = -1; var bestDef = Double.NegativeInfinity
      c = 0
      while (c < coarse.length) {
        if (alloc(c) < counts(c)) {
          val deficit = k.toDouble * counts(c) / n - alloc(c)
          if (deficit > bestDef) { bestDef = deficit; best = c }
        }
        c += 1
      }
      alloc(best) += 1; allocated += 1
    }
    while (allocated > k) { // over-allocation from the max(1, …) floors;
      // a cell with alloc > 1 always exists here: allocated > k ≥ 1024
      // across ≤ ⌈√k⌉ cells forces an average alloc well above 1
      var best = -1; var bestExc = Double.NegativeInfinity
      c = 0
      while (c < coarse.length) {
        if (alloc(c) > 1) {
          val excess = alloc(c) - k.toDouble * counts(c) / n
          if (excess > bestExc) { bestExc = excess; best = c }
        }
        c += 1
      }
      alloc(best) -= 1; allocated -= 1
    }
    // per-cell sub-fit over the cell's points, in sample order
    val members = Array.fill(coarse.length)(new scala.collection.mutable.ArrayBuilder.ofRef[Array[Float]])
    i = 0
    while (i < n) { members(assign(i)) += xs(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[Array[Float]]
    out.sizeHint(k)
    c = 0
    while (c < coarse.length) {
      if (alloc(c) > 0) out ++= lloyd(members(c).result(), alloc(c), iters)
      c += 1
    }
    val cents = out.result()
    assert(cents.length == k, s"hierLloyd produced ${cents.length} of $k centroids")
    cents
  }

  /** Plain Lloyd k-means over a local sample: deterministic spread-out init
    * (greedy farthest-point from a fixed start), `iters` iterations; a
    * cluster that ends an iteration empty keeps its previous centroid. */
  def lloyd(xs: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val n = xs.length
    val d = xs(0).length
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i).toDouble - b(i); s += t * t; i += 1 }
      s
    }
    // assignment + partial sums parallelized over FIXED chunks (count not
    // tied to thread scheduling), partials merged in chunk order — so the
    // result is bit-deterministic run to run while the O(n·k·d) inner loops
    // (the whole cost of a driver-side fit) use every core
    val nChunks = math.min(32, n)
    val bounds = Array.tabulate(nChunks + 1)(c => (c.toLong * n / nChunks).toInt)
    // go parallel only when a round's arithmetic outweighs the fork-join
    // dispatch (r21): the init below runs k SEQUENTIAL rounds of O(n·d)
    // each — for a PQ subspace fit (n ≈ 8k, dsub = 8, k = 256) that is
    // 2048 dispatches per codebook fit across the m calls, ~0.8 s of pure
    // scheduling against ~30 µs of flops per round. The chunk decomposition
    // and in-order merge are identical either way, so the picked centroids
    // are bit-identical — only the executing thread count changes.
    val parInit = n.toLong * d >= (1L << 21)
    val parIter = n.toLong * k * d >= (1L << 21)
    def chunkStream(par: Boolean): java.util.stream.IntStream = {
      val s = java.util.stream.IntStream.range(0, nChunks)
      if (par) s.parallel() else s
    }
    // farthest-point init (deterministic k-means++ analog, no RNG). The
    // O(k·n·d) scan is chunk-parallel with the same in-order merge as the
    // Lloyd iterations: per-i minD updates are independent, and the global
    // argmax under strict-> keeps the EARLIEST index among ties whether
    // found in one sequential pass or merged chunk-by-chunk — so the picked
    // centroids are bit-identical to the sequential version (oracle gates
    // embed these centroids; sf10 measured the sequential init dominating
    // the blocked-dedup fit at nlist=3125: ~73 GFLOP on one core)
    val cents = new Array[Array[Float]](k)
    cents(0) = xs(0).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val prev = cents(c - 1)
      val chunkFar = chunkStream(parInit)
        .mapToObj { ch =>
          var far = -1; var farD = -1.0; var i = bounds(ch)
          while (i < bounds(ch + 1)) {
            val dd = d2(xs(i), prev)
            if (dd < minD(i)) minD(i) = dd
            if (minD(i) > farD) { farD = minD(i); far = i }
            i += 1
          }
          (farD, far)
        }
        .toArray(new Array[(Double, Int)](_))
      var far = 0; var farD = -1.0; var ch = 0
      while (ch < nChunks) {
        if (chunkFar(ch)._1 > farD) { farD = chunkFar(ch)._1; far = chunkFar(ch)._2 }
        ch += 1
      }
      cents(c) = xs(far).clone(); c += 1
    }
    var it = 0
    while (it < iters) {
      val partials = chunkStream(parIter)
        .mapToObj { c =>
          val sums = Array.ofDim[Double](k, d)
          val counts = new Array[Int](k)
          var i = bounds(c)
          while (i < bounds(c + 1)) {
            var best = 0; var bestD = Double.MaxValue; var j = 0
            while (j < k) {
              val dd = d2(xs(i), cents(j))
              if (dd < bestD) { bestD = dd; best = j }
              j += 1
            }
            counts(best) += 1
            val x = xs(i); var f = 0
            while (f < d) { sums(best)(f) += x(f); f += 1 }
            i += 1
          }
          (sums, counts)
        }
        .toArray(new Array[(Array[Array[Double]], Array[Int])](_))
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Int](k)
      partials.foreach { case (ps, pc) =>
        var j = 0
        while (j < k) {
          counts(j) += pc(j)
          var f = 0
          while (f < d) { sums(j)(f) += ps(j)(f); f += 1 }
          j += 1
        }
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          val cj = new Array[Float](d); var f = 0
          while (f < d) { cj(f) = (sums(j)(f) / counts(j)).toFloat; f += 1 }
          cents(j) = cj
        }
        j += 1
      }
      it += 1
    }
    cents
  }
}
