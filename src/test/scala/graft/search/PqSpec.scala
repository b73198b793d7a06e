package graft.search

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.encoders.PassthroughEncoder

class PqSpec extends SparkSpec {

  private def fitPq(measurement: String, m: Int = 8) =
    new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = measurement, indexParam = s"PQ$m"))
      .fit(sf("embeddings"))

  test("PQ codes compress to m bytes; the float vectors are dropped") {
    val model = fitPq("cos")
    assert(!model.indexed.columns.contains("__vec"))
    val lens = model.indexed
      .select(octet_length(col(PqIndex.CODES)).as("len")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq === Seq(8)) // dim 64 / m 8 = 8 bytes vs 256
  }

  test("PQ ADC search: self is rank 0, recall vs exact is high") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val model = fitPq("cos")
    val pq = model.search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item").collect()
    // quantization noise can displace self from rank 0 only if another
    // vector shares its codes; require self in the top ranks
    val selfRank = pq.filter(r => r.getAs[Long]("sim_item") == r.getAs[Long]("vec_id"))
      .map(_.getAs[Int]("rank_no"))
    assert(selfRank.length === 20, "each query must retrieve itself")
    assert(selfRank.forall(_ <= 2))
    val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb)
      .search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val got = pq.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"PQ top-10 recall vs exact was $recall")
  }

  test("IVF,PQ composition: full probe equals plain PQ; pruned probe recalls well") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 10)
    def results(param: String, nprobe: Int) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = param, nprobe = nprobe))
        .fit(emb)
        .search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect()
        .map(_.toSeq).toSet
    // probing ALL cells makes IVF pruning a no-op: identical to plain PQ
    assert(results("IVF8,PQ8", nprobe = 8) === results("PQ8", nprobe = 4))
    // pruned probing keeps a probe-fraction-consistent share of the PQ
    // result set (the synthetic embeddings are near-uniform — no cluster
    // structure — so recall tracks the scanned fraction; real corpora
    // cluster and do far better)
    val full = results("PQ8", nprobe = 4)
    val pruned = results("IVF8,PQ8", nprobe = 6)
    val recall = full.count(pruned.contains).toDouble / full.size
    assert(recall >= 0.5, s"IVF,PQ nprobe=6/8 recall vs full PQ was $recall")
  }

  test("IVF,PQ save/load round-trip") {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "l2", indexParam = "IVF8,PQ8", nprobe = 4)).fit(sf("embeddings"))
    val q = sf("embeddings").filter(col("vec_id") < 5)
    val before = model.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(after === before)
  }

  test("chunked query batches: chunk size ≪ batch gives identical results") {
    // the scale path: a query batch far larger than the broadcast chunk is
    // collected chunk-by-chunk (bounded driver memory), scored per chunk,
    // and merged — results must be EXACTLY the single-broadcast results
    val emb = sf("embeddings")
    val model = fitPq("l2")
    val q = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").cast("long").as(SparkSearcher.QID),
        col("embedding").cast("array<float>").as(SparkSearcher.QVEC))
    // the ADC cell scan over `m`'s codes at a given chunk size
    def adcScan(m: SearcherModel, cell: org.apache.spark.sql.Column, probe: CellScan.Probe,
        chunk: Int) =
      CellScan.topK(m.indexed.select(col(SparkSearcher.ROW_ID), col(PqIndex.CODES), cell), q,
        probe, 5, asc = true, chunk)(PqIndex.adcRows(spark, m.fittedCodebooks.get, "l2", 2.0, 8))
        .collect().map(_.toSeq).toSet
    def run(chunk: Int) = adcScan(model, lit(0).as(IvfIndex.CID), CellScan.cellZero, chunk)
    assert(run(7) === run(Int.MaxValue)) // 50 queries → 8 chunks vs 1
    val ivfpq = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "l2", indexParam = "IVF8,PQ8", nprobe = 4)).fit(emb)
    def runIvf(chunk: Int) = adcScan(ivfpq, col(IvfIndex.CID),
      IvfKernels.probes(_, CentroidIndex.forCentroids(ivfpq.fittedCentroids.get), 4), chunk)
    assert(runIvf(7) === runIvf(Int.MaxValue))
    // the graph scorer: the multi-chunk eager shape must equal the lazy
    // single-chunk shape (exhaustive ef -> exact -> set equality)
    val hnsw = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "l2", indexParam = "HNSW8")).fit(emb)
    def runNsw(chunk: Int) = CellScan.topK(HnswGraphs.scanRows(hnsw.indexed, Nil), q,
        CellScan.cellZero, 5, asc = true, chunk)(NswGraph.scorer(5, efSearch = 100000, "l2", 2.0))
      .collect().map(_.toSeq).toSet
    assert(runNsw(7) === runNsw(Int.MaxValue))
    hnsw.unpersist(); ivfpq.unpersist(); model.unpersist()
  }

  test("ADC tables reproduce the exact metric kernels bit-for-bit") {
    // when the codebook centroid IS the stored vector, ADC(q, code(x)) must
    // equal metric(q, x) exactly — the decomposition (additive, max, ratio)
    // is then checked against VectorKernels with zero quantization noise
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import graft.functions.VectorKernels
    val rnd = new scala.util.Random(7)
    val dim = 16
    val m = 4
    val dsub = dim / m
    for (trial <- 0 until 20) {
      val q = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
      val x = Array.fill(dim)(math.abs(rnd.nextFloat())) // non-neg for js
      // one-centroid-per-subspace codebooks holding exactly x's slices
      val cbs = Array.tabulate(m)(s =>
        Array(java.util.Arrays.copyOfRange(x, s * dsub, (s + 1) * dsub)))
      val codes = Array.fill(m)(0.toByte)
      val qa = UnsafeArrayData.fromPrimitiveArray(q)
      val xa = UnsafeArrayData.fromPrimitiveArray(x)
      def adc(metric: String, arg: Double = 2.0): Double =
        PqIndex.adcScorer(q, cbs, metric, arg).score(codes)
      // last-ulp tolerance: ADC adds per-subspace partials, the kernels one
      // running sum — double addition is not associative
      def close(a: Double, b: Double, what: String): Unit =
        assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
          s"$what trial $trial: adc=$a kernel=$b")
      close(adc("ip"), VectorKernels.dot(qa, xa), "ip")
      close(adc("l2"), VectorKernels.l2(qa, xa), "l2")
      close(adc("l1"), VectorKernels.l1(qa, xa), "l1")
      assert(adc("linf") === VectorKernels.lInf(qa, xa), s"linf trial $trial") // max: exact
      close(adc("lp", 3.0), VectorKernels.lp(qa, xa, 3.0), "lp")
      close(adc("canberra"), VectorKernels.canberra(qa, xa), "canberra")
      close(adc("jensen_shannon"), VectorKernels.jensenShannon(qa, xa), "js")
      close(adc("brayCurtis"), VectorKernels.brayCurtis(qa, xa), "bc")
    }
  }

  test("ADC decomposition serves all 8 reference metrics: self-retrieval + recall") {
    // PQ16 on dim-64 (4-dim subspaces) over near-uniform synthetic vectors;
    // every metric must retrieve each query's own vector at a top rank and
    // overlap substantially with the exact scan — the additive, max-combined
    // (linf) and two-table ratio (bray_curtis) decompositions all at work
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 15)
    for (m <- Seq("ip", "l1", "l2", "linf", "lp", "brayCurtis", "canberra", "jensen_shannon")) {
      val pq = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = m, metricArg = 3.0, indexParam = "PQ16"))
        .fit(emb)
        .search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item").collect()
      if (m != "ip") { // ip: self dot need not be maximal, no self guarantee
        val selfRank = pq.filter(r => r.getAs[Long]("sim_item") == r.getAs[Long]("vec_id"))
          .map(_.getAs[Int]("rank_no"))
        assert(selfRank.length === 15, s"$m: each query must retrieve itself")
        assert(selfRank.forall(_ <= 3), s"$m: self not in top ranks")
      }
      val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = m, metricArg = 3.0)).fit(emb)
        .search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "sim_item").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
      val got = pq.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
      val recall = exact.count(got.contains).toDouble / exact.size
      assert(recall >= 0.4, s"$m: PQ top-10 recall vs exact was $recall")
    }
  }

  test("empty query batch returns empty results, no crash (all index paths)") {
    val emb = sf("embeddings")
    val none = emb.filter(col("vec_id") < 0)
    for (param <- Seq("Flat", "IVF8", "LSH4x6", "PQ8", "IVF8,PQ8")) {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "l2", indexParam = param, nprobe = 4)).fit(emb)
      assert(model.search(none, 5, keepRankNo = true,
        queryIdCol = Some("vec_id")).count() === 0, s"param $param")
      model.unpersist()
    }
  }

  test("SQ8 / IVF8,SQ8 save/load round-trip; add() encodes under fitted bounds") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 400)
    val b = emb.filter(col("vec_id") >= 400)
    val q = emb.filter(col("vec_id") < 5)
    for (param <- Seq("SQ8", "IVF8,SQ8")) {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "l2", indexParam = param, nprobe = 8)).fit(a)
      val before = model.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      val dir = java.nio.file.Files.createTempDirectory("graft-sq").toString
      model.save(dir)
      // sq_bounds round-trip: levels rebuilt from persisted bounds must
      // reproduce the fitted search exactly
      val loaded = SparkSearcher.load(spark, dir)
      val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      assert(after === before, s"param $param")
      // add() after load: new rows encode under the EXISTING bounds
      // (values outside the trained range clamp to the edge levels, faiss
      // SQ semantics) — the grown index serves the full id space
      val grown = loaded.add(b)
      assert(grown.count === emb.count(), s"param $param")
      val wide = grown.search(emb.filter(col("vec_id") >= 495), 3,
        keepRankNo = true, queryIdCol = Some("vec_id"))
      // each added query retrieves its own (clamp-encoded) vector at rank 0
      assert(wide.filter(col("rank_no") === 0 &&
        col("sim_item").cast("long") === col("vec_id")).count() === 5, s"param $param")
      grown.unpersist()
      model.unpersist()
    }
  }

  test("SQ4: nibble-packed codes halve SQ8's bytes; round-trip, add, odd dims, recall") {
    val sp = spark
    import sp.implicits._
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 400)
    val b = emb.filter(col("vec_id") >= 400)
    val q = emb.filter(col("vec_id") < 5)
    for (param <- Seq("SQ4", "IVF8,SQ4")) {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "l2", indexParam = param, nprobe = 8)).fit(a)
      // the compression claim is structural: ceil(64/2) = 32 bytes/vector
      val codeLen = model.indexed.select(length(col("__pq_codes"))).head().getInt(0)
      assert(codeLen === 32, s"param $param: SQ4 must pack 64 dims into 32 bytes")
      val before = model.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      val dir = java.nio.file.Files.createTempDirectory("graft-sq4").toString
      model.save(dir)
      val loaded = SparkSearcher.load(spark, dir)
      val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      assert(after === before, s"param $param")
      val grown = loaded.add(b)
      assert(grown.count === emb.count(), s"param $param")
      grown.unpersist()
      model.unpersist()
    }
    // recall floor vs exact on the flat variant (16 levels/dim is coarse
    // but per-dim bounds keep it usable; floor chosen well under measured)
    val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb)
    val sq4 = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "SQ4")).fit(emb)
    val qs = emb.filter(col("vec_id") < 50)
    def hits(m: SearcherModel) = m.search(qs, 10, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select(col("vec_id"), col("sim_item").cast("long"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val he = hits(exact); val hq = hits(sq4)
    val recall = he.keys.toSeq.map(k => hq(k).intersect(he(k)).size.toDouble / 10).sum / he.size
    info(f"SQ4 recall@10 vs exact: $recall%.3f")
    assert(recall >= 0.5, f"SQ4 recall@10 $recall%.3f below floor")
    // odd dimension: trailing dim packs alone in the hi nibble
    val odd = (0 until 50).map(i => (i.toLong,
      Array.tabulate(5)(j => (math.sin(i * 5 + j) * 3).toFloat))).toDF("vec_id", "embedding")
    val oddModel = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "l2", indexParam = "SQ4")).fit(odd)
    val oddLen = oddModel.indexed.select(length(col("__pq_codes"))).head().getInt(0)
    assert(oddLen === 3, "5 dims -> 3 bytes")
    val oddRes = oddModel.search(odd.filter(col("vec_id") < 3), 3,
      keepRankNo = true, queryIdCol = Some("vec_id"))
    // coarse quantization may tie, but each query's own vector must appear
    assert(oddRes.filter(col("sim_item").cast("long") === col("vec_id")).count() === 3)
    oddModel.unpersist(); sq4.unpersist(); exact.unpersist()
  }

  test("OPQ rotation: orthonormal, recall vs PQ8 compared, save/load identical") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val opq = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "OPQ8,PQ8")).fit(emb)
    // fitted rotation is orthonormal: R·Rᵀ ≈ I (float storage ⇒ 1e-5 tol)
    val rot = opq.fittedOpqRotation.get
    val d = rot.length
    for (a <- 0 until d; b <- a until d) {
      val dot = (0 until d).map(i => rot(a)(i).toDouble * rot(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-5, s"RRᵀ[$a][$b] = $dot")
    }
    def hits(m: SearcherModel) = m.search(q, 10, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb)
    val pq = fitPq("cos")
    val e = hits(exact)
    val rOpq = e.count(hits(opq).contains).toDouble / e.size
    val rPq = e.count(hits(pq).contains).toDouble / e.size
    info(f"recall@10 vs exact — OPQ8,PQ8: $rOpq%.3f, PQ8: $rPq%.3f")
    // on near-uniform synthetic vectors the rotation can't add much (no
    // correlation structure to exploit); it must at least not hurt
    // materially, and must clear the PQ floor
    assert(rOpq >= 0.5, s"OPQ recall $rOpq")
    assert(rOpq >= rPq - 0.1, s"OPQ $rOpq far below PQ $rPq")
    // save/load: rotation + codebooks round-trip to identical results
    val before = opq.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-opq").toString
    opq.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(after === before)
    // guards: rotation-variant metrics and mismatched subspace counts fail fast
    intercept[IllegalArgumentException](new SparkSearcher(
      new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "l1", indexParam = "OPQ8,PQ8")).fit(emb))
    intercept[IllegalArgumentException](IndexStrategy.parse("OPQ4,PQ8"))
    opq.unpersist(); pq.unpersist(); exact.unpersist(); loaded.unpersist()
  }

  test("OPQ balanced allocation spreads the spectrum head across subspaces, any λ scale") {
    // λ < 1 (unnormalized moments with n ≲ d) made the old raw-log greedy
    // block-fill bucket 0 with the largest eigenvalues — the maximally
    // unbalanced outcome. The shifted-log greedy must interleave instead,
    // identically at every scale of the same spectrum shape
    for (scale <- Seq(1.0, 0.01, 100.0)) {
      val lambda = Array(0.9, 0.8, 0.7, 0.6).map(_ * scale)
      val buckets = OpqIndex.allocate(lambda, m = 2)
      // balanced product: {0.9, 0.6} and {0.8, 0.7} — never {0.9, 0.8}
      assert(buckets.map(_.toSet).toSet === Set(Set(0, 3), Set(1, 2)),
        s"scale $scale: ${buckets.map(_.mkString("[", ",", "]")).mkString(" ")}")
    }
    // degenerate flat spectrum: any allocation is optimal; just total
    val flat = OpqIndex.allocate(Array.fill(8)(0.5), m = 4)
    assert(flat.flatten.sorted.toSeq === (0 until 8))
  }

  test("RFlat refine: floats kept, recall ≥ plain ADC, save/load identical, guards") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 20)
    def fitParam(param: String) = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = param)).fit(emb)
    def hits(m: SearcherModel) = m.search(q, 10, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val e = hits(fitParam("Flat"))
    val pq = hits(fitParam("PQ8"))
    val ref = fitParam("PQ8,RFlat")
    // faiss IndexRefineFlat shape: codes AND floats both stored
    assert(ref.indexed.columns.contains("__vec"))
    assert(ref.indexed.columns.contains(PqIndex.CODES))
    val rh = hits(ref)
    val rPq = e.count(pq.contains).toDouble / e.size
    val rRef = e.count(rh.contains).toDouble / e.size
    info(f"recall@10 vs exact — PQ8: $rPq%.3f, PQ8+RFlat(k·4): $rRef%.3f")
    // candidates ⊇ the ADC top-10, and exact re-rank keeps every true
    // top-10 member among them ⇒ refine recall can only be ≥ plain ADC
    assert(rRef >= rPq, s"refine $rRef < plain $rPq")
    // save/load: codes + floats + codebooks round-trip to identical results
    val before = ref.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-rflat").toString
    ref.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.searcher.strategy === Refined(PqFlat(8)))
    val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(after === before)
    // add(): appended rows get codes under the fitted quantizers AND keep
    // their floats — the grown refine index self-retrieves the new rows
    // exactly (refine re-ranks on true cosine, self-sim = 1.0 is maximal)
    val grown = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PQ8,RFlat"))
      .fit(emb.filter(col("vec_id") < 400))
      .add(emb.filter(col("vec_id") >= 400))
    assert(grown.count === emb.count())
    val self = grown.search(emb.filter(col("vec_id") >= 495), 3,
      keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(self.filter(col("rank_no") === 0 &&
      col("sim_item").cast("long") === col("vec_id")).count() === 5)
    // refine over OPQ composes; refine over float-storing indexes and
    // refine-of-refine reject AT PARSE (not as a late fit-time error)
    assert(IndexStrategy.parse("OPQ8,PQ8,RFlat") === Refined(OpqPq(8)))
    intercept[IllegalArgumentException](IndexStrategy.parse("Flat,RFlat"))
    intercept[IllegalArgumentException](IndexStrategy.parse("IVF8,RFlat"))
    intercept[IllegalArgumentException](IndexStrategy.parse("PQ8,RFlat,RFlat"))
    ref.unpersist(); loaded.unpersist(); grown.unpersist()
  }

  test("refineKFactor: pool override honored, recall monotone, exhaustive pool ≡ exact, persists") {
    val emb = sf("embeddings")
    val n = emb.count()
    val q = emb.filter(col("vec_id") < 20)
    def fitK(kf: Int) = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PQ8,RFlat", refineKFactor = kf))
      .fit(emb)
    def hits(m: SearcherModel) = m.search(q, 10, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val exact = hits(new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb))
    // the auto resolution (0): quadruple the ×4 base per corpus decade
    // above 2k rows — exact at the measured RECALL ladder points
    import graft.search.SparkSearcher.resolveRefineKFactor
    assert(resolveRefineKFactor(0, 500L) === 4)
    assert(resolveRefineKFactor(0, 2000L) === 4)
    assert(resolveRefineKFactor(0, 200000L) === 64)
    assert(resolveRefineKFactor(0, 2000000L) === 256)
    assert(resolveRefineKFactor(8, 2000000L) === 8) // explicit untouched
    // at the spec corpus the auto lands on ×4 — default ≡ the old fixed
    // pool at every gate/bench scale (results pinned unchanged)
    val dflt = fitK(0); val x4 = fitK(4)
    assert(hits(dflt) === hits(x4))
    // a pool covering the whole corpus makes refine EXACT by construction
    // (candidates ⊇ corpus, exact re-rank of everything = brute force)
    val wide = fitK(math.ceil(n / 10.0).toInt + 1)
    assert(hits(wide) === exact)
    // recall is monotone in the pool: every kf-pool is a PREFIX of a
    // larger kf's pool under the same inner ADC ranking
    def recall(h: Set[(Long, Long)]) = exact.count(h.contains).toDouble / exact.size
    val r1 = recall(hits(fitK(1))); val r4 = recall(hits(x4))
    info(f"refine recall@10 — kf=1: $r1%.3f, kf=4: $r4%.3f, exhaustive: 1.000")
    assert(r1 <= r4 + 1e-12)
    // the override persists through save/load and serves identically
    val kf8 = fitK(8)
    val dir = java.nio.file.Files.createTempDirectory("graft-rkf").toString
    kf8.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.searcher.params.refineKFactor === 8)
    assert(hits(loaded) === hits(kf8))
    Seq(dflt, x4, wide, kf8, loaded).foreach(_.unpersist())
  }

  test("unsupported scalar quantizers raise — never silently uncompressed") {
    // 'IVF16,SQ6' must NOT fall through to the IVF(16) catch-all and
    // serve exact floats when the caller asked for compression
    // (SQfp16 graduated to a real quantizer — Fp16Spec covers it)
    intercept[IllegalArgumentException](IndexStrategy.parse("SQ6"))
    intercept[IllegalArgumentException](IndexStrategy.parse("IVF16,SQ6"))
    // SQ4 is now a REAL quantizer (nibble-packed), not a parse error
    assert(IndexStrategy.parse("SQ4") === SqFlat(4))
    assert(IndexStrategy.parse("IVF16,SQ4") === IvfSq(16, 4))
    assert(IndexStrategy.parse("IVF16,SQ8") === IvfSq(16, 8))
    // faiss IDMap wrapper: identity here (external ids are always carried)
    assert(IndexStrategy.parse("IDMap,Flat") === ExactFlat)
    assert(IndexStrategy.parse("IDMap,IVF16,SQ8") === IvfSq(16, 8))
    // the IVF catch-all must not swallow unknown quantizer suffixes into
    // an uncompressed IvfFlat (e.g. faiss fast-scan strings we don't serve)
    assert(IndexStrategy.parse("IVF16,Flat") === IvfFlat(16))
    // faiss's explicit-width spellings: PQmx8 == PQm; PQmx4 = 16-centroid
    // nibble-packed codes; x4fs fast-scan = the SAME x4 codes (register
    // blocking is physical-layout-only, a logged no-op here); other
    // widths raise
    assert(IndexStrategy.parse("PQ8x8") === PqFlat(8))
    assert(IndexStrategy.parse("IVF16,PQ8x8") === IvfPq(16, 8))
    assert(IndexStrategy.parse("PQ8x4") === PqFlat(8, 4))
    assert(IndexStrategy.parse("IVF16,PQ8x4") === IvfPq(16, 8, 4))
    assert(IndexStrategy.parse("PQ8x4fs") === PqFlat(8, 4))
    assert(IndexStrategy.parse("IVF16,PQ8x4fs") === IvfPq(16, 8, 4))
    intercept[IllegalArgumentException](IndexStrategy.parse("PQ8x12"))
    intercept[IllegalArgumentException](IndexStrategy.parse("PQ8x8fs"))
    intercept[IllegalArgumentException](IndexStrategy.parse("IVF16,Foo"))
  }

  test("PQ4: nibble-packed codes halve PQ8 storage; search + round-trip work") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PQ8x4"))
      .fit(emb)
    // 8 subspaces at 4 bits pack into 4 bytes (vs PQ8's 8, float's 256)
    val lens = model.indexed
      .select(octet_length(col(PqIndex.CODES)).as("len")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq === Seq(4))
    // 16-centroid codebooks, every stored code < 16 per nibble
    assert(model.fittedCodebooks.get.forall(_.length <= 16))
    // coarser quantization still self-retrieves in the top ranks and
    // keeps meaningful recall vs exact
    val pq = model.search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item").collect()
    val selfRank = pq.filter(r => r.getAs[Long]("sim_item") == r.getAs[Long]("vec_id"))
      .map(_.getAs[Int]("rank_no"))
    assert(selfRank.length === 20, "each query must retrieve itself")
    assert(selfRank.forall(_ <= 4))
    val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb)
      .search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val got = pq.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sim_item"))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.3, s"PQ4 top-10 recall vs exact was $recall")
    // save/load: indexParam string round-trips the width; results identical
    val before = model.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-pq4").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.searcher.strategy === PqFlat(8, 4))
    val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(after === before)
    // IVF composition at full probe degenerates to plain PQ4
    val full = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "IVF8,PQ8x4", nprobe = 8))
      .fit(emb)
    val ivfRes = full.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(ivfRes === before)
    model.unpersist(); loaded.unpersist(); full.unpersist()
  }

  test("PQ4 composes through the factory grammar: RFlat, IDMap, PCA prefix") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    assert(IndexStrategy.parse("IDMap,PQ8x4") === PqFlat(8, 4))
    assert(IndexStrategy.parse("PQ8x4,RFlat") === Refined(PqFlat(8, 4)))
    // refine over the coarser 4-bit codes: exact re-rank on kept floats —
    // self-retrieval must be PERFECT (true cosine of self = 1.0, maximal)
    val ref = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PQ8x4,RFlat"))
      .fit(emb)
    val hits = ref.search(q, 3, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(hits.filter(col("rank_no") === 0 &&
      col("sim_item").cast("long") === col("vec_id")).count() === 5)
    // PCA prefix: 4-bit codes over the 16-component projection — searches
    // return full rank lists (the composition fits and scores end-to-end)
    val pca = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PCA16,PQ8x4"))
      .fit(emb)
    assert(pca.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .count() === 25)
    ref.unpersist(); pca.unpersist()
  }

  test("PQ save/load round-trip: identical results from reloaded codes") {
    val model = fitPq("l2")
    val q = sf("embeddings").filter(col("vec_id") < 5)
    val before = model.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect()
      .map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    val after = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect()
      .map(_.toSeq).toSet
    assert(after === before)
  }
}
