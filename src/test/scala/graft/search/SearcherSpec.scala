package graft.search

import graft.SparkSpec
import graft.encoders.{BatchedEncoder, HashEncoder, PassthroughEncoder}
import org.apache.spark.sql.functions._

/** End-to-end searcher behavior: README flows 1 & 2 replayed on the
  * driver's parquet tables (FIXTURES.md F1/F2), contracts from the
  * reference runtime asserts (SURVEY §5). */
class SearcherSpec extends SparkSpec {

  private def embModel(measurement: String = "cos") =
    new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = measurement))
      .fit(sf("embeddings"))

  /** Overwrite numeric field `name` (now `value`) in a saved index's
    * params.json with a different value of the same length: Spark caches
    * FileStatus lengths per path. */
  private def corruptParam(dir: String, name: String, value: Long): Unit = {
    // params.json is a directory holding one JSON part file
    val pjson = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/params.json"))
      .filter(p => p.getFileName.toString.startsWith("part-")
        && p.getFileName.toString.endsWith(".json"))
      .findFirst().get()
    val txt = new String(java.nio.file.Files.readAllBytes(pjson), "UTF-8")
    val good = s""""$name":$value"""
    val bad = s""""$name":${value.toString.map(c => if (c == '9') '8' else '9')}"""
    assert(txt.contains(good), txt)
    java.nio.file.Files.write(pjson, txt.replace(good, bad).getBytes("UTF-8"))
    // drop hadoop's checksum sidecar, invalidated by the raw edit
    java.nio.file.Files.deleteIfExists(
      pjson.resolveSibling("." + pjson.getFileName.toString + ".crc"))
    spark.catalog.refreshByPath(s"$dir/params.json")
  }

  test("flagship search: result schema, self-match at rank 0, payload carry") {
    val model = embModel()
    val res = model.search(sf("embeddings").filter(col("vec_id") < 5),
      topK = 3, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(res.columns.toSeq ===
      Seq("vec_id", "source_item", "sim_val", "rank_no", "sim_item", "label"))
    assert(res.count() === 15)
    // rank 0 of each query is the query itself with cos ≈ 1
    val self = res.filter(col("rank_no") === 0).collect()
    assert(self.length === 5)
    self.foreach { r =>
      assert(r.getAs[Long]("vec_id") === r.getAs[Long]("sim_item"))
      assert(math.abs(r.getAs[Float]("sim_val") - 1f) < 1e-5)
    }
  }

  test("ordering direction flips per metric (faiss_searcher.py:77-86)") {
    val cos = embModel("cos").search(sf("embeddings").filter(col("vec_id") === 0),
      topK = 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .orderBy("rank_no").select("sim_val").collect().map(_.getFloat(0))
    assert(cos.toSeq === cos.sortBy(-_).toSeq, "cos ranks descending")
    val l2 = embModel("l2").search(sf("embeddings").filter(col("vec_id") === 0),
      topK = 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .orderBy("rank_no").select("sim_val").collect().map(_.getFloat(0))
    assert(l2.toSeq === l2.sorted.toSeq, "l2 ranks ascending")
  }

  test("multi-K: res(k) == res(maxK).filter(rank_no < k) (faiss_searcher.py:173-182)") {
    val model = embModel()
    val q = sf("embeddings").filter(col("vec_id") < 5)
    val byK = model.searchMulti(q, Seq(1, 3, 5), keepRankNo = true,
      queryIdCol = Some("vec_id"))
    assert(byK.keySet === Set(1, 3, 5))
    val k5 = byK(5)
    for (k <- Seq(1, 3)) {
      val direct = byK(k).orderBy("vec_id", "rank_no").collect()
      val derived = k5.filter(col("rank_no") < k).orderBy("vec_id", "rank_no").collect()
      assert(direct === derived, s"k=$k")
    }
    // keepRankNo=false drops the rank column (faiss_searcher.py:179)
    val noRank = model.searchMulti(q, Seq(2), keepRankNo = false,
      queryIdCol = Some("vec_id"))(2)
    assert(!noRank.columns.contains("rank_no"))
  }

  test("encoder flow on documents: payload carry + feature sep (README flow 1)") {
    val docs = sf("documents").select("text", "doc_id", "lang", "source", "n_chars")
    val model = new SparkSearcher(new HashEncoder(32),
      SearcherParams(docFeatureSep = Some(" "), queryFeatureSep = Some(" ")))
      .fit(docs)
    val res = model.search(docs.limit(3), topK = 2, keepRankNo = true)
    assert(res.columns.toSeq === Seq("query_id", "source_item", "sim_val",
      "rank_no", "sim_item", "doc_id", "lang", "source", "n_chars"))
    val rows = res.collect()
    assert(rows.length === 6)
    // feature sep: items truncated at first space (faiss_searcher.py:150-156)
    rows.foreach { r =>
      assert(!r.getAs[String]("source_item").contains(" "))
      assert(!r.getAs[String]("sim_item").contains(" "))
    }
  }

  test("fit guards: non-integral idCol and reserved payload names fail fast") {
    val sp = spark
    import sp.implicits._
    // string doc ids would cast to NULL row_ids and silently drop every
    // payload-join hit (round-1 advice) — must fail fast instead
    val strIds = Seq(("a", "doc-1", 1.0f), ("b", "doc-2", 2.0f))
      .toDF("text", "sid", "x")
      .withColumn("embedding", org.apache.spark.sql.functions.array(col("x")))
    val searcher = new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("text"), idCol = Some("sid")))
    val e = intercept[IllegalArgumentException](searcher.fit(strIds))
    assert(e.getMessage.contains("integral"))
    // a payload column named "item" collides with the saved-table schema
    val itemPayload = Seq(("a", 1L, 1.0f)).toDF("text", "vid", "x")
      .withColumn("embedding", org.apache.spark.sql.functions.array(col("x")))
      .withColumn("item", col("text"))
    val e2 = intercept[IllegalArgumentException](
      new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("text"), idCol = Some("vid"))).fit(itemPayload))
    assert(e2.getMessage.contains("item"))
    // vectors of two widths fail at fit, on the job that fills the cache
    val mixed = Seq(("a", 0L, Seq(1.0f, 2.0f)), ("b", 1L, Seq(1.0f, 2.0f, 3.0f))).toDF("text", "vid", "embedding")
    for (kind <- Seq("Flat", "IVF2")) {
      val e3 = intercept[IllegalArgumentException](
        new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
          SearcherParams(itemCol = Some("text"), idCol = Some("vid"), indexParam = kind)).fit(mixed))
      assert(e3.getMessage.contains("different widths in one index: 2 and 3"), kind)
    }
  }

  test("save/load round-trips a separator containing JSON-special characters") {
    val sp = spark
    import sp.implicits._
    val items = Seq(("alpha\"\\sep one", 0L, 1.0f, 2.0f), ("beta\"\\sep two", 1L, 2.0f, 1.0f))
      .toDF("text", "vid", "x", "y")
      .select(col("text"), col("vid"),
        org.apache.spark.sql.functions.array(col("x"), col("y")).as("embedding"))
    val model = new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("text"), idCol = Some("vid"),
        docFeatureSep = Some("\"\\"), nprobe = 9))
      .fit(items)
    val dir = java.nio.file.Files.createTempDirectory("graft-esc").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir,
      new graft.encoders.PassthroughEncoder("embedding"))
    assert(loaded.searcher.params.docFeatureSep === Some("\"\\"))
    assert(loaded.searcher.params.nprobe === 9)
    val res = loaded.search(items, 1, keepRankNo = false, queryIdCol = Some("vid"))
    // sep-truncated matched item: everything before the first quote-backslash
    assert(res.collect().forall(r => !r.getAs[String]("sim_item").contains("\"")))
  }

  test("LSH strategy: candidates re-ranked exactly, save/load round-trip") {
    val items = sf("embeddings")
    val model = new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "LSH12")).fit(items)
    val q = items.filter(col("vec_id") < 5)
    val before = model.search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect()
      .map(_.toSeq).toSet
    assert(before.nonEmpty)
    // every query collides with itself → rank 0 must be the query, cos ≈ 1
    val self = model.search(q, 1, keepRankNo = true, queryIdCol = Some("vec_id"))
      .collect()
    self.foreach { r =>
      assert(r.getAs[Long]("sim_item") === r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Float]("sim_val") - 1f) < 1e-5)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    val after = loaded.search(q, 10, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect()
      .map(_.toSeq).toSet
    assert(after === before)
  }

  test("save/load round-trip + invariant asserts (faiss_searcher.py:109-114)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    val model = embModel()
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.count === model.count)
    assert(loaded.dim === model.dim)
    val res = loaded.search(sf("embeddings").filter(col("vec_id") < 2),
      topK = 2, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(res.count() === 4)
    // corrupt the stored count → load must fail (ntotal assert). Write a
    // fresh copy (Spark caches file metadata per path).
    val dir2 = java.nio.file.Files.createTempDirectory("graft-idx2").toString
    loaded.save(dir2)
    corruptParam(dir2, "count", model.count)
    intercept[IllegalArgumentException](SparkSearcher.load(spark, dir2))
  }

  test("load rejects a dim mismatch (faiss_searcher.py:113)") {
    val model = embModel()
    val dir = java.nio.file.Files.createTempDirectory("graft-baddim").toString
    model.save(dir)
    corruptParam(dir, "dim", model.dim)
    val e = intercept[IllegalArgumentException](SparkSearcher.load(spark, dir))
    assert(e.getMessage.contains(s"dim ${model.dim} != stored "), e.getMessage)
    model.unpersist()
  }

  test("load rejects a lost items part file as an ntotal mismatch") {
    // items are flat part files: a lost file must fail the count
    // re-assert, never serve a silently smaller index
    val model = embModel()
    val dir = java.nio.file.Files.createTempDirectory("graft-lostpart").toString
    model.save(dir)
    val part = new java.io.File(s"$dir/items").listFiles()
      .filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    val e = intercept[IllegalArgumentException](SparkSearcher.load(spark, dir))
    assert(e.getMessage.contains(s"ntotal ") &&
      e.getMessage.contains(s"!= stored ${model.count}"), e.getMessage)
    model.unpersist()
  }

  test("load tolerates params.json from an older writer (missing fields -> defaults)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-oldidx").toString
    val model = embModel()
    model.save(dir)
    val pdir = java.nio.file.Paths.get(s"$dir/params.json")
    // the current writer no longer records the retired exactPath knob
    val written = java.nio.file.Files.list(pdir)
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    assert(!new String(java.nio.file.Files.readAllBytes(written), "UTF-8").contains("exactPath"))
    // replace the Spark-written params.json DIRECTORY with one plain file
    // holding only the fields an older writer knew — efSearch / hnswGraphs
    // absent entirely (the pre-r5 shape the tolerant read serves)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val it = java.nio.file.Files.list(p).iterator()
        while (it.hasNext) rm(it.next())
      }
      java.nio.file.Files.delete(p)
    }
    rm(pdir)
    val old = s"""{"itemCol":"vec_id","indexParam":"Flat","measurement":"cos","metricArg":2.0,"normVec":false,"nprobe":4,"broadcastThreshold":2000000,"count":${model.count},"dim":${model.dim}}"""
    java.nio.file.Files.write(pdir, old.getBytes("UTF-8"))
    spark.catalog.refreshByPath(s"$dir/params.json")
    val loaded = SparkSearcher.load(spark, dir)
    val dflt = SearcherParams()
    assert(loaded.searcher.params.efSearch === dflt.efSearch)
    assert(loaded.searcher.params.hnswGraphs === dflt.hnswGraphs)
    assert(loaded.searcher.params.nprobe === 4)
    // r20 fields absent in an old save: build/policy knobs default, the
    // fitted-layout field reads as "unknown" (pre-r20 heuristic applies)
    assert(loaded.searcher.params.efConstruction === dflt.efConstruction)
    assert(loaded.searcher.params.autoCompactAtSegmentRatio ===
      dflt.autoCompactAtSegmentRatio)
    assert(loaded.fittedGraphs === None)
    def rows(m: SearcherModel) = m.search(sf("embeddings").filter(col("vec_id") < 2),
      topK = 2, keepRankNo = true, queryIdCol = Some("vec_id")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank_no"), String.valueOf(r.getAs[Any]("sim_item")),
        java.lang.Float.floatToRawIntBits(r.getAs[Float]("sim_val")))).sorted.toSeq
    val want = rows(loaded)
    assert(want.length === 4)
    // a save that still carries the retired exactPath knob (either of its
    // two exact-search shapes) loads and serves the identical rows
    for (shape <- Seq("window", "aggregate")) {
      java.nio.file.Files.write(pdir, old.replace("}", s""","exactPath":"$shape"}""").getBytes("UTF-8"))
      spark.catalog.refreshByPath(s"$dir/params.json")
      val withKnob = SparkSearcher.load(spark, dir)
      assert(rows(withKnob) === want, shape)
      withKnob.unpersist()
    }
    // result-DEFINING fields are never defaulted: drop `measurement` and
    // the load must fail fast, not silently serve cosine
    val noMeasurement = old.replace(""""measurement":"cos",""", "")
    java.nio.file.Files.write(pdir, noMeasurement.getBytes("UTF-8"))
    spark.catalog.refreshByPath(s"$dir/params.json")
    intercept[IllegalArgumentException](SparkSearcher.load(spark, dir))
  }

  test("IVF0 auto-nlist: ~sqrt(n) cells fitted, full-probe exact, save/load round-trip") {
    val emb = sf("embeddings")
    val n = emb.count()
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = "IVF0", nprobe = 1 << 20)).fit(emb)
    val expected = IndexStrategy.resolveNlist(0, n)
    assert(model.fittedCentroids.get.length === math.min(expected.toLong, n).toInt)
    val q = emb.filter(col("vec_id") < 3)
    // nprobe >= cells -> every cell probed -> exact: must equal Flat's result
    val exact = embModel().search(q, topK = 5, keepRankNo = true,
      queryIdCol = Some("vec_id")).orderBy("vec_id", "rank_no").collect()
    val auto = model.search(q, topK = 5, keepRankNo = true,
      queryIdCol = Some("vec_id")).orderBy("vec_id", "rank_no").collect()
    assert(auto === exact)
    // round-trip: the auto-sized model persists its fitted centroids and
    // reloads as the same index (indexParam string "IVF0" re-parses fine)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf0").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.fittedCentroids.get.length === model.fittedCentroids.get.length)
    val again = loaded.search(q, topK = 5, keepRankNo = true,
      queryIdCol = Some("vec_id")).orderBy("vec_id", "rank_no").collect()
    assert(again === exact)
    // fitCentroids itself refuses an unresolved nlist
    intercept[IllegalArgumentException](
      IvfIndex.fitCentroids(emb.select(col("embedding").cast("array<float>").as("v")), "v", 0, n))
  }

  test("IVF training sample scales with nlist: >=39 points/centroid, capped") {
    // small nlist keeps the classic 100k recipe
    assert(IvfIndex.trainTarget(64) === 100000L)
    assert(IvfIndex.trainTarget(2048) === 100000L)   // 39*2048 = 80k < 100k
    // large auto-nlist scales so centroids don't starve (the r7 finding:
    // a fixed 100k at nlist=65,536 is ~1.5 points/centroid)
    assert(IvfIndex.trainTarget(65536) === 39L * 65536)
    assert(IvfIndex.trainTarget(65536) / 65536 >= 39L)
    // the driver-side collect stays bounded regardless of nlist
    assert(IvfIndex.trainTarget(1000000) === 4000000L)
  }

  test("auto-nprobe (nprobe=0): fraction formula, and the resolved search ≡ its pinned twin") {
    // the shared resolver: ~1/8 of fitted cells, floor 4, clamp to cells
    assert(IndexStrategy.resolveNprobe(4, 1000) === 4)     // explicit knob untouched
    assert(IndexStrategy.resolveNprobe(100, 23) === 23)    // clamp to fitted cells
    assert(IndexStrategy.resolveNprobe(0, 23) === 4)       // floor
    assert(IndexStrategy.resolveNprobe(0, 447) === 56)     // ~1/8 of cells
    assert(IndexStrategy.resolveNprobe(0, 3) === 3)        // tiny index: all cells
    val emb = sf("embeddings")
    val params = SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
      measurement = "cos", indexParam = "IVF0")
    val auto = new SparkSearcher(new PassthroughEncoder("embedding"),
      params.copy(nprobe = 0)).fit(emb)
    val resolved = IndexStrategy.resolveNprobe(0, auto.fittedCentroids.get.length)
    val pinned = new SparkSearcher(new PassthroughEncoder("embedding"),
      params.copy(nprobe = resolved)).fit(emb)
    val q = emb.filter(col("vec_id") < 5)
    def rows(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
      queryIdCol = Some("vec_id")).orderBy("vec_id", "rank_no").collect()
    assert(rows(auto) === rows(pinned),
      s"auto-nprobe must equal its resolved pinned twin (resolved=$resolved)")
    auto.unpersist(); pinned.unpersist()
  }

  test("joint-auto LSH serving resolver: recall floor, batch-hint direction, anchor bounds") {
    import graft.dedup.Dedup.lshRecallEstimate
    // every picked config clears the recall target at the anchor (or is
    // the documented honest-shortfall maximum under the table cap)
    for (n <- Seq(1000L, 100000L, 2000000L); a <- Seq(0.3, 0.6, 0.9);
         q <- Seq(1, 64, 500, 5000)) {
      val (b, t) = SparkSearcher.autoLshConfigServing(n, a, q)
      assert(b >= 4 && t >= 1 && t <= 64, s"bounds: n=$n a=$a q=$q -> ($b,$t)")
      val est = lshRecallEstimate(a, b, t)
      // feasible region exists at these anchors/sizes — the pick must
      // clear the 0.9 target (the shortfall branch is for anchors the
      // fit clamp already floors at 0.2)
      assert(est >= 0.9 - 1e-9, s"recall floor: n=$n a=$a q=$q -> ($b,$t) est=$est")
    }
    // a larger batch hint never picks FEWER bits (bigger buckets): the
    // serving cost model prices candidate volume linearly in the hint
    for (n <- Seq(100000L, 2000000L); a <- Seq(0.4, 0.6)) {
      val picks = Seq(1, 64, 500, 5000).map(q =>
        SparkSearcher.autoLshConfigServing(n, a, q)._1)
      assert(picks == picks.sorted,
        s"bits must be non-decreasing in batchHint: n=$n a=$a -> $picks")
    }
    // rank-k anchor: deterministic across refits, clamped to [0.2, 0.95],
    // and at least the sample's own rank-k similarity structure (exact
    // values asserted via the fitted planes' config stability below)
    val emb = sf("embeddings")
    val pre = emb.select(col("vec_id").as("row_id"),
      col("embedding").cast("array<float>").as("__vec"))
    val a1 = SparkSearcher.lshRankKAnchor(pre, emb.count())
    val a2 = SparkSearcher.lshRankKAnchor(pre, emb.count())
    assert(a1 === a2, "rank-k anchor must be refit-deterministic")
    assert(a1 >= 0.2 && a1 <= 0.95)
    // the hint is persisted and tolerated on load (tuning knob contract)
    val m = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "LSH0", lshBatchHint = 500)).fit(emb)
    val path = java.nio.file.Files.createTempDirectory("graft-lshhint").toString
    m.save(path)
    val loaded = SparkSearcher.load(spark, path, new PassthroughEncoder("embedding"))
    assert(loaded.searcher.params.lshBatchHint === 500)
    // loaded planes identical — the hint changed only the fit-time pick
    assert(java.util.Arrays.deepEquals(
      loaded.fittedLshPlanes.get.asInstanceOf[Array[AnyRef]],
      m.fittedLshPlanes.get.asInstanceOf[Array[AnyRef]]))
    m.unpersist(); loaded.unpersist()
  }

  test("describe: the fitted operating point, resolved autos, family-null columns") {
    val emb = sf("embeddings")
    def fit(p: SearcherParams) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        p.copy(itemCol = Some("vec_id"), idCol = Some("vec_id"))).fit(emb)
    def row(m: SearcherModel) = m.describe.head()
    // degenerate LSH: tables/bits + the crossover verdict surface
    val lsh = fit(SearcherParams(measurement = "cos", indexParam = "LSH64x3"))
    val lr = row(lsh)
    assert(lr.getAs[Int]("lsh_tables") === 64)
    assert(lr.getAs[Int]("lsh_bits") === 3)
    assert(lr.getAs[Boolean]("lsh_exact_cheaper"))
    // explicit spelling stays bucket-faithful even though exact is cheaper
    assert(lr.getAs[String]("lsh_route") === "buckets")
    assert(lr.isNullAt(lr.fieldIndex("resolved_nprobe")))
    // joint-auto at spec scale resolves degenerate -> the resolver
    // refuses to serve it: route reads "exact" without the opt-in flag
    val lshAuto = fit(SearcherParams(measurement = "cos", indexParam = "LSH0"))
    assert(row(lshAuto).getAs[Boolean]("lsh_exact_cheaper"))
    assert(row(lshAuto).getAs[String]("lsh_route") === "exact")
    lshAuto.unpersist()
    // HNSW auto: the resolved beam is the value that will serve; the
    // lifecycle columns read the fitted layout (never grown → no merge
    // recommendation, r20)
    val hnsw = fit(SearcherParams(measurement = "cos", indexParam = "HNSW32",
      efSearch = 0, hnswGraphs = 4))
    assert(row(hnsw).getAs[Int]("resolved_ef_search") === 64)
    assert(row(hnsw).getAs[Int]("hnsw_graphs") === 4)
    assert(row(hnsw).getAs[Int]("hnsw_fitted_graphs") === 4)
    assert(!row(hnsw).getAs[Boolean]("compact_recommended"))
    // grown past the fitted corpus: describe surfaces the compact() call
    // the r19 ladder showed is due (latency ∝ graph count from here)
    val grownH = fit(SearcherParams(measurement = "cos", indexParam = "HNSW32",
      efSearch = 0, hnswGraphs = 4))
      .add(sf("embeddings").withColumn("vec_id", col("vec_id") + 1000)
        .unionByName(sf("embeddings").withColumn("vec_id", col("vec_id") + 2000)))
    val gr = row(grownH)
    assert(gr.getAs[Int]("hnsw_graphs") === 8)
    assert(gr.getAs[Int]("hnsw_fitted_graphs") === 4)
    assert(gr.getAs[Boolean]("compact_recommended")) // 1000 seg > 500 fitted
    grownH.unpersist()
    // refine auto: the spec-corpus pool is the ×4 floor
    val ref = fit(SearcherParams(measurement = "cos", indexParam = "PQ8,RFlat"))
    assert(row(ref).getAs[Int]("resolved_refine_kfactor") === 4)
    // exact: family columns all null, identity columns present
    val flat = fit(SearcherParams(measurement = "cos"))
    val fr = row(flat)
    assert(fr.getAs[String]("effective_index") === "ExactFlat")
    assert(fr.getAs[Long]("count") === emb.count())
    Seq("resolved_nprobe", "resolved_ef_search", "resolved_refine_kfactor",
      "lsh_tables", "lsh_bits", "lsh_exact_cheaper", "lsh_route",
      "hnsw_graphs", "hnsw_fitted_graphs", "compact_recommended")
      .foreach(c => assert(fr.isNullAt(fr.fieldIndex(c)), c))
    Seq(lsh, hnsw, ref, flat).foreach(_.unpersist())
  }

  test("payload broadcast is byte-guarded: a tiny cap falls back to the shuffle join, same results") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val cap = "graft.search.payloadBroadcastByteCap"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "rank_no", "sim_item", "label")
        .collect().map(_.toSeq).toSet
    // isolate the ENGINE's hint from Spark's own byte-aware auto
    // broadcast (10 MB default — at spec scale it would broadcast the
    // payload side with or without the hint)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def fit(param: String) = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = param)).fit(emb)
    val (refined, hnsw, flat) = (fit("PQ4,RFlat"), fit("HNSW8"), embModel())
    try {
      // assert on the PAYLOAD join specifically (keyed on row_id, one side
      // holding the stored item), not on whole-plan substrings or every
      // row_id join — the refine route also joins row_id to fetch the
      // float vectors, and that join's physical pick is Spark's business
      import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
        ShuffledHashJoinExec, SortMergeJoinExec}
      def payload(j: SparkPlan, keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        keys.exists(_.references.exists(_.name == "row_id")) &&
          j.children.exists(_.output.exists(_.name == SparkSearcher.ITEM))
      def payloadJoins(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.sparkPlan.collect {
          case j: SortMergeJoinExec if payload(j, j.leftKeys) => "smj"
          case j: ShuffledHashJoinExec if payload(j, j.leftKeys) => "shj"
          case j: BroadcastHashJoinExec if payload(j, j.leftKeys) => "bhj"
        }
      def run(m: SearcherModel) = m.search(q, 3, keepRankNo = true, queryIdCol = Some("vec_id"))
      // the refine route joins the payload onto its re-ranked hits: under
      // the default cap the engine FORCES the broadcast (the row threshold
      // admits the corpus, cached stats sit under 2 GB)
      val forced = run(refined)
      assert(payloadJoins(forced) == Seq("bhj"),
        s"forced payload join must broadcast, saw: ${payloadJoins(forced)}")
      // Flat and HNSW under the same guard carry the payload to the cell
      // scan's driver finish: a local relation, no payload join at all
      val local = Seq(flat, hnsw).map(run)
      local.foreach(df => assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        df.queryExecution.executedPlan.toString))
      // a 1-byte cap rejects the force by BYTES even though the row
      // check passes — the scale hole this guards: 2M rows × 10 KB docs
      // is a ~20 GB broadcast the row threshold alone waves through
      spark.conf.set(cap, "1")
      for ((name, model, before) <- Seq(("PQ4,RFlat", refined, forced), ("Flat", flat, local(0)),
          ("HNSW8", hnsw, local(1)))) {
        val after = run(model)
        val cappedJoins = payloadJoins(after)
        assert(cappedJoins.size == 1 && cappedJoins.forall(_ != "bhj"),
          s"$name: byte-capped payload join must shuffle, saw: $cappedJoins")
        assert(rows(after) === rows(before), name)
      }
    } finally {
      spark.conf.unset(cap)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      refined.unpersist(); hnsw.unpersist(); flat.unpersist()
    }
  }

  test("degenerate-LSH exact fallback: crossover rule, route, results, persistence") {
    import SparkSearcher.lshExactCheaper
    // |Q|-independent crossover (tables · 8× overhead vs 2^bits bucket
    // shrink); ties go to exact — equal estimated cost, recall 1.0
    assert(lshExactCheaper(64, 3))   // 512 ≥ 8: the gate config
    assert(lshExactCheaper(64, 9))   // 512 ≥ 512: the sf100 feasibility-ceiling tie
    assert(!lshExactCheaper(64, 10)) // 512 < 1024
    assert(!lshExactCheaper(12, 8))  // 96 < 256: the regression-pin config serves buckets

    val emb = sf("embeddings")
    def fitLsh(fallback: Boolean) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH64x3",
          lshExactFallback = fallback)).fit(emb)
    val q = emb.filter(col("vec_id") < 20)
    val routed = fitLsh(fallback = true)
    val res = routed.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    // the served plan is the exact kernel — no bucket-key join anywhere
    // (the stored __lsh_buckets column may still print in the cached
    // relation's schema; the ROUTE marker is the exploded join key)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("__bkt"),
      s"fallback route must not build bucket candidates:\n$plan")
    // …and bit-identical to the Flat searcher (recall 1.0 by construction)
    val exact = embModel().search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(res.collect().toSet === exact.collect().toSet)
    // same config WITHOUT the flag still serves buckets (faiss semantics,
    // warn-only) — the bucket join is in the plan
    val warned = fitLsh(fallback = false)
    val bres = warned.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(bres.queryExecution.executedPlan.toString.contains("__bkt"))
    // the flag persists: a reloaded model keeps the exact route
    val path = java.nio.file.Files.createTempDirectory("graft-lshfb").toString
    routed.save(path)
    val loaded = SparkSearcher.load(spark, path, new PassthroughEncoder("embedding"))
    assert(loaded.searcher.params.lshExactFallback)
    val lres = loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(!lres.queryExecution.executedPlan.toString.contains("__bkt"))
    assert(lres.collect().toSet === exact.collect().toSet)
    routed.unpersist(); warned.unpersist(); loaded.unpersist()
  }

  test("joint-auto LSH refuses degenerate configs: exact route without the flag; pinned bits stay bucket-faithful") {
    val emb = sf("embeddings")
    def fit(param: String) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = param)).fit(emb)
    val q = emb.filter(col("vec_id") < 20)
    // LSH0 at spec scale resolves degenerate (tiny corpus: every bucket
    // is a big corpus fraction) — the resolver refuses it: exact route
    // WITHOUT lshExactFallback, results bit-identical to Flat
    val auto = fit("LSH0")
    assert(auto.lshServeExact, "joint-auto degenerate config must reroute")
    val res = auto.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(!res.queryExecution.executedPlan.toString.contains("__bkt"))
    val exact = embModel().search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(res.collect().toSet === exact.collect().toSet)
    // the route survives save -> load (deterministic from fitted state)
    val path = java.nio.file.Files.createTempDirectory("graft-lshauto").toString
    auto.save(path)
    val loaded = SparkSearcher.load(spark, path, new PassthroughEncoder("embedding"))
    assert(loaded.lshServeExact)
    assert(loaded.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .collect().toSet === exact.collect().toSet)
    // pinned-width auto (`LSH0x8`): user wrote the bits — bucket-faithful
    // even when exact is estimated cheaper
    val pinned = fit("LSH0x8")
    assert(!pinned.lshServeExact)
    val pres = pinned.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
    assert(pres.queryExecution.executedPlan.toString.contains("__bkt"))
    auto.unpersist(); loaded.unpersist(); pinned.unpersist()
  }

  test("LSH auto-bits: occupancy formula, fit resolution, explicit width untouched") {
    // the shared resolver: ~16-row buckets, floored at 8 bits
    assert(IndexStrategy.resolveBits(Some(6), 1000000L) === 6)
    assert(IndexStrategy.resolveBits(None, 100L) === 8)      // floor
    assert(IndexStrategy.resolveBits(None, 16L << 12) === 12)
    val emb = sf("embeddings")
    val n = emb.count()
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "LSH12")).fit(emb)
    // fitted planes reflect the resolved width: numTables x bits x dim
    val planes = model.fittedLshPlanes.get
    assert(planes.length === 12)
    assert(planes.head.length === IndexStrategy.resolveBits(None, n))
    // candidates-only search still returns ranked hits with self at rank 0
    val hits = model.search(emb.filter(col("vec_id") < 3), topK = 5,
      keepRankNo = true, queryIdCol = Some("vec_id"))
      .filter(col("rank_no") === 0).collect()
    assert(hits.length === 3)
    model.unpersist()
  }

  test("multi-K invariant holds on the approximate strategies too") {
    // res(k) ≡ res(maxK).filter(rank < k) is implemented once above the
    // strategy dispatch — assert it survives the IVF and PQ paths
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    for (param <- Seq("IVF8", "PQ8")) {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "l2", indexParam = param, nprobe = 4)).fit(emb)
      val byK = model.searchMulti(q, Seq(2, 5), keepRankNo = true,
        queryIdCol = Some("vec_id"))
      val k5 = byK(5).select("vec_id", "rank_no", "sim_item").collect().map(_.toSeq).toSet
      val k2 = byK(2).select("vec_id", "rank_no", "sim_item").collect().map(_.toSeq).toSet
      assert(k2 === k5.filter(_(1).asInstanceOf[Int] < 2), s"param $param")
      model.unpersist()
    }
  }

  test("remove then add round-trip restores the exact search surface") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val slice = emb.filter(col("vec_id") >= 600)
    val model = embModel()
    val roundTripped = model.remove(slice.select("vec_id"), "vec_id").add(slice)
    def res(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(res(roundTripped) === res(embModel()))
    roundTripped.unpersist()
  }

  test("incremental add: fit(A).add(B) ≡ fit(A∪B) on exact and LSH; IVF full-probe exact") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 400)
    val b = emb.filter(col("vec_id") >= 400)
    val q = emb.filter(col("vec_id") < 10)
    def results(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    def fitP(df: org.apache.spark.sql.DataFrame, param: String) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = param, nprobe = 8)).fit(df)
    // exact: add is indistinguishable from fitting the union
    assert(results(fitP(a, "Flat").add(b)) === results(fitP(emb, "Flat")))
    // LSH: planes depend only on (tables, bits, dim, seed) — pin bits so
    // fit(A) and fit(A∪B) share them, then add ≡ union-fit exactly
    assert(results(fitP(a, "LSH12x8").add(b)) === results(fitP(emb, "LSH12x8")))
    // IVF: quantizer stays the one trained on A (faiss add semantics) —
    // cells differ from fit(A∪B), but probing ALL cells is exact search,
    // so the grown index must match exact over the union
    assert(results(fitP(a, "IVF8").add(b)) === results(fitP(emb, "Flat")))
    // grown count is faiss ntotal
    assert(fitP(a, "Flat").add(b).count === emb.count())
  }

  test("HNSW compact: segment graphs merge back into the fitted layout; non-segmented is a no-op") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 300)
    val b = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val c = emb.filter(col("vec_id") >= 400)
    def fitH(df: org.apache.spark.sql.DataFrame) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2,
          efSearch = 64)).fit(df)
    def graphs(m: SearcherModel) =
      m.indexed.agg(max(col(NswGraph.GPART))).head().getInt(0) + 1
    // two adds append two fresh 2-graph segments each (Lucene shape)
    val grown = fitH(a).add(b).add(c)
    assert(graphs(grown) === 6)
    assert(grown.count === emb.count())
    // compact rebuilds every row into the fitted 2-graph layout
    val compacted = grown.compact()
    assert(graphs(compacted) === 2)
    assert(compacted.count === emb.count())
    // post-compact graph quality: indexed self-queries find themselves
    // (similarity 1.0 is the global max — a sound graph must surface it)
    val q = emb.filter(col("vec_id") < 10)
    val got = compacted.search(q, 1, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select(col("vec_id").cast("long"), col("sim_item").cast("long")).collect()
    assert(got.nonEmpty && got.forall(r => r.getLong(0) === r.getLong(1)))
    // no-op tiers: a never-grown HNSW model, and a non-segmented index
    val h = fitH(a)
    assert(h.compact() eq h)
    val f = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(a)
    assert(f.compact() eq f)
    compacted.unpersist(); h.unpersist(); f.unpersist()
  }

  test("efConstruction: explicit build beam plumbs through fit and persists; 0 = the standing max(64,2m) rule") {
    // resolver: 0-auto is exactly the pre-r20 hardcode; explicit passes
    assert(SparkSearcher.resolveEfConstruction(0, 16) === 64)
    assert(SparkSearcher.resolveEfConstruction(0, 48) === 96)
    assert(SparkSearcher.resolveEfConstruction(128, 16) === 128)
    val emb = sf("embeddings")
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2,
        efSearch = 64, efConstruction = 96)).fit(emb)
    // the explicitly-built graph is sound: indexed self-queries at rank 0
    val q = emb.filter(col("vec_id") < 5)
    val got = model.search(q, 1, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select(col("vec_id").cast("long"), col("sim_item").cast("long")).collect()
    assert(got.length === 5 && got.forall(r => r.getLong(0) === r.getLong(1)))
    // persists: add()/compact() on a LOADED model must build segments at
    // the fitted beam, so the knob rides params.json
    val dir = java.nio.file.Files.createTempDirectory("graft-efc").toString
    model.save(dir)
    val saved = spark.read.json(s"$dir/params.json").head()
    assert(saved.getAs[Long]("efConstruction") === 96L)
    assert(saved.getAs[Long]("fittedGraphs") === 2L)
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.searcher.params.efConstruction === 96)
    loaded.unpersist(); model.unpersist()
  }

  test("autoCompactAtSegmentRatio: a tripped add returns the compacted layout; below threshold stays segmented") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 300) // 300 fitted rows
    val b = emb.filter(col("vec_id") >= 300) // 200 segment rows → ratio 0.67
    def fitH(ratio: Double) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2,
          efSearch = Int.MaxValue, autoCompactAtSegmentRatio = ratio)).fit(a)
    def graphs(m: SearcherModel) =
      m.indexed.agg(max(col(NswGraph.GPART))).head().getInt(0) + 1
    def res(m: SearcherModel) = m.search(emb.filter(col("vec_id") < 10), 5,
        keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    // 0.67 ≥ 0.5: the merge policy fires inside add() — fitted layout back
    val auto = fitH(0.5).add(b)
    assert(graphs(auto) === 2)
    assert(auto.count === emb.count())
    // at the exhaustive beam the compacted serving is exact (≡ union-fit)
    val exact = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(emb)
    assert(res(auto) === res(exact))
    // 0.67 < 0.9: policy holds off — Lucene segment shape kept (2 fitted
    // + 2 segment graphs), manual compact() semantics unchanged
    val manual = fitH(0.9).add(b)
    assert(graphs(manual) === 4)
    // the policy knob persists like every other serving knob
    val dir = java.nio.file.Files.createTempDirectory("graft-acr").toString
    manual.save(dir)
    assert(spark.read.json(s"$dir/params.json").head()
      .getAs[Double]("autoCompactAtSegmentRatio") === 0.9)
    assert(SparkSearcher.load(spark, dir)
      .searcher.params.autoCompactAtSegmentRatio === 0.9)
    auto.unpersist(); manual.unpersist(); exact.unpersist()
  }

  test("serve-parallelism floor: a 1-split corpus serves at defaultParallelism, results unchanged") {
    val emb = sf("embeddings").filter(col("vec_id") < 500)
    val one = emb.coalesce(1)           // the small-parquet scan shape
    val q = emb.filter(col("vec_id") < 20)
    val p = spark.sparkContext.defaultParallelism
    def results(m: SearcherModel) =
      m.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def fitP(df: org.apache.spark.sql.DataFrame, param: String) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = param)).fit(df)
    for (param <- Seq("Flat", "PQ8", "LSH12x8")) {
      val floored = fitP(one, param)
      // the fit spread the 1-partition input to the session's parallelism…
      assert(floored.indexed.rdd.getNumPartitions === p,
        s"$param: fitted index kept the degenerate input partitioning")
      // …and the served hits are identical to a fit on the original layout
      // (top-k tie-breaks on (dist, row_id): partition-independent)
      val control = fitP(emb, param)
      assert(results(floored) === results(control), s"$param: results moved")
      floored.unpersist(); control.unpersist()
    }
  }

  test("grow ops consume the receiver: stale handles throw; rejected/no-op tiers leave it live") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 400)
    val b = emb.filter(col("vec_id") >= 400)
    val q = emb.filter(col("vec_id") < 5)
    val m = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos")).fit(a)
    val grown = m.add(b)
    // the old handle's blocks were RELEASED with the hand-off (r19 cache
    // discipline) — every use must fail with the contract, not surface a
    // lost-checkpoint-block error three operators downstream
    val e = intercept[IllegalStateException](
      m.search(q, 3, queryIdCol = Some("vec_id")).count())
    assert(e.getMessage.contains("consumed by add()"))
    intercept[IllegalStateException](m.add(b))
    intercept[IllegalStateException](m.remove(b.select("vec_id"), "vec_id"))
    intercept[IllegalStateException](m.describe.head())
    // compact() on a consumed NON-HNSW model must throw too — its no-op
    // tier (`case _ => this`) would otherwise hand the dead receiver back
    // silently (r21, ADVICE)
    intercept[IllegalStateException](m.compact())
    intercept[IllegalStateException](
      m.save(java.nio.file.Files.createTempDirectory("graft-cons").toString))
    // the RETURNED model is the live one
    assert(grown.search(q, 3, queryIdCol = Some("vec_id")).count() === 15)
    // a REJECTED remove (HNSW) and a no-op compact never consume
    val h = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2,
        efSearch = 64)).fit(a)
    intercept[UnsupportedOperationException](h.remove(b.select("vec_id"), "vec_id"))
    assert(h.compact() eq h)
    assert(h.search(q, 1, queryIdCol = Some("vec_id")).count() === 5)
    grown.unpersist(); h.unpersist()
  }

  test("fitted graph layout persists: compact targets the SAVED layout, not the serving session") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 300)
    val b = emb.filter(col("vec_id") >= 300)
    def graphs(m: SearcherModel) =
      m.indexed.agg(max(col(NswGraph.GPART))).head().getInt(0) + 1
    val grown = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2,
        efSearch = 64)).fit(a).add(b) // 2 fitted + 2 segment graphs
    assert(graphs(grown) === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-fg").toString
    grown.save(dir)
    // rewrite the persisted layout to 3 — a value NEITHER params.hnswGraphs
    // (2) nor any session parallelism heuristic would produce here: the
    // rebuild target must come from the persisted FIELD (ADVICE r19: the
    // re-derived target no-opped or over-rebuilt on a different cluster)
    val pjson = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$dir/params.json"))
      .filter(p => p.getFileName.toString.startsWith("part-")
        && p.getFileName.toString.endsWith(".json"))
      .findFirst().get()
    val txt = new String(java.nio.file.Files.readAllBytes(pjson), "UTF-8")
    assert(txt.contains(""""fittedGraphs":2"""))
    java.nio.file.Files.write(pjson,
      txt.replace(""""fittedGraphs":2""", """"fittedGraphs":3""").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      pjson.resolveSibling("." + pjson.getFileName.toString + ".crc"))
    spark.catalog.refreshByPath(s"$dir/params.json")
    val compacted3 = SparkSearcher.load(spark, dir).compact()
    assert(graphs(compacted3) === 3)
    // pre-r20 fallback: 0 sentinel (≡ field absent) → the old heuristic
    // (explicit hnswGraphs=2) is the target, as those artifacts ran
    java.nio.file.Files.write(pjson,
      txt.replace(""""fittedGraphs":2""", """"fittedGraphs":0""").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      pjson.resolveSibling("." + pjson.getFileName.toString + ".crc"))
    spark.catalog.refreshByPath(s"$dir/params.json")
    val compacted2 = SparkSearcher.load(spark, dir).compact()
    assert(graphs(compacted2) === 2)
    grown.unpersist(); compacted3.unpersist(); compacted2.unpersist()
  }

  test("remove: dropped ids stop matching; remainder searches like a fresh fit") {
    val sp = spark
    import sp.implicits._
    val emb = sf("embeddings")
    val model = embModel()
    val dropped = emb.filter(col("vec_id") >= 400)
    val pruned = model.remove(dropped.select("vec_id"), "vec_id")
    assert(pruned.count === 400)
    val q = emb.filter(col("vec_id") < 10)
    val got = pruned.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(!got.exists(_(2).asInstanceOf[Long] >= 400)) // removed ids never match
    val fresh = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id")))
      .fit(emb.filter(col("vec_id") < 400))
      .search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(got === fresh)
    pruned.unpersist()
  }

  test("searchRange: faiss range_search semantics — every hit within threshold, nothing else") {
    val emb = sf("embeddings")
    val model = embModel()
    val q = emb.filter(col("vec_id") < 5)
    val hits = model.searchRange(q, threshold = 0.35, queryIdCol = Some("vec_id"))
    assert(hits.filter(col("sim_val") < 0.35f).count() === 0)
    // self-similarity is 1.0 ≥ threshold: every query finds itself
    assert(hits.filter(col("vec_id") === col("sim_item").cast("long")).count() === 5)
    // unbounded: at this threshold there are more hits than any small k
    assert(hits.count() > 5)
    // IVF full probe ≡ exact scan (pruning is a no-op at nprobe = nlist)
    val ivf = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = "IVF8", nprobe = 8)).fit(emb)
    val ivfHits = ivf.searchRange(q, threshold = 0.35, queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val exactHits = hits.select("vec_id", "sim_item", "sim_val")
      .collect().map(_.toSeq).toSet
    assert(ivfHits === exactHits)
    ivf.unpersist()
    // LSH range: candidates from bucket collisions, threshold-verified —
    // a subset of the exact hits (approximate recall), self always found
    val lsh = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = "LSH12x6")).fit(emb)
    val lshHits = lsh.searchRange(q, threshold = 0.35, queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    assert(lshHits.subsetOf(exactHits))
    assert(lsh.searchRange(q, 0.35, Some("vec_id"))
      .filter(col("vec_id") === col("sim_item").cast("long")).count() === 5)
    lsh.unpersist()
    model.unpersist()
  }

  for ((param, stored) <- Seq("IVF8" -> IvfIndex.CID, "HNSW8" -> NswGraph.GPART))
    test(s"saved $param index is flat part files: load lists no directory") {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          indexParam = param, nprobe = 8)).fit(sf("embeddings"))
      val dir = java.nio.file.Files.createTempDirectory("graft-flatitems").toString
      model.save(dir)
      // no __cell=/__gpart= directories: the cell (graph) id is a column
      // stored inside each part file
      val entries = new java.io.File(s"$dir/items").listFiles()
      assert(!entries.exists(_.isDirectory), entries.map(_.getName).mkString(", "))
      val parts = entries.filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      assert(spark.read.parquet(parts.head.getPath).columns.contains(stored))
      // load runs no job that scans with more tasks than items/ has part
      // files. With the distributed-listing threshold at 1, a directory
      // layout would list its leaf directories through a job of one task
      // per directory. Stages reading a shuffle (HNSW's graph
      // re-co-location) are sized by the shuffle, not the files
      val tasksByJob = collection.mutable.Map.empty[Int, Int]
      val jobOfStage = collection.mutable.Map.empty[Int, Int]
      @volatile var drained = false
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties.getProperty("spark.job.description") == "drain") drained = true
          else j.stageInfos.filter(_.parentIds.isEmpty)
            .foreach(st => jobOfStage.getOrElseUpdate(st.stageId, j.jobId))
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          jobOfStage.get(t.stageId).foreach(j => tasksByJob(j) = tasksByJob.getOrElse(j, 0) + 1)
      }
      val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      spark.conf.set(threshold, "1")
      spark.sparkContext.addSparkListener(listener)
      val loaded = try SparkSearcher.load(spark, dir) finally {
        spark.conf.unset(threshold)
        // listener events arrive in order: once the drain job is seen,
        // every load job and task has been counted
        spark.sparkContext.setJobDescription("drain")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 30000000000L
        while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(drained)
      assert(tasksByJob.nonEmpty && tasksByJob.values.forall(_ <= parts.length),
        s"load jobs' scan task counts $tasksByJob vs ${parts.length} part files")
      // and the reloaded model answers searches identically
      val q = sf("embeddings").filter(col("vec_id") < 5)
      def hits(m: SearcherModel) = m.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      assert(hits(loaded) === hits(model))
      loaded.unpersist()
      model.unpersist()
    }

  test("HNSW factory string: graph strategy, save/load round-trips identically") {
    // HNSWm parses to the partition-local graph ANN (NswGraph) with m
    // out-links; faiss's default M=32 when the factory string omits it
    assert(IndexStrategy.parse("HNSW32") === HnswGraph(32))
    assert(IndexStrategy.parse("HNSW") === HnswGraph(32))
    assert(IndexStrategy.parse("HNSW16") === HnswGraph(16))
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = "HNSW16", efSearch = 32, hnswGraphs = 4))
      .fit(sf("embeddings"))
    val q = sf("embeddings").filter(col("vec_id") < 5)
    def res(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val before = res(model)
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
    model.save(dir)
    val saved = spark.read.json(s"$dir/params.json").head()
    assert(saved.getAs[String]("indexParam") === "HNSW16")
    assert(saved.getAs[String]("effectiveIndex") === "HnswGraph(16)")
    assert(saved.getAs[Long]("efSearch") === 32L) // recall knob survives
    // the reloaded graphs (re-co-located by gpart) serve identical results
    val loaded = SparkSearcher.load(spark, dir)
    assert(loaded.searcher.strategy === HnswGraph(16))
    assert(res(loaded) === before)
    model.unpersist()
    loaded.unpersist()
  }

  test("calSim: dot scores, descending (faiss_searcher.py:192-198, intended semantics)") {
    val model = new SparkSearcher(new HashEncoder(32), SearcherParams()).fit(
      sf("documents").select("text", "doc_id"))
    val res = model.calSim("spark window agg", Seq("spark window agg",
      "filter join", "spark window")).collect()
    assert(res.length === 3)
    assert(res.head.getAs[String]("item") === "spark window agg") // self first
    val scores = res.map(_.getAs[Float]("score"))
    assert(scores.toSeq === scores.sortBy(-_).toSeq)
  }

  test("IVF strategy: recall vs exact >= 0.9 at nprobe=12/nlist=16") {
    val exact = embModel()
    val ivf = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "IVF16,Flat", nprobe = 12))
      .fit(sf("embeddings"))
    val q = sf("embeddings").filter(col("vec_id") < 20)
    def hits(m: SearcherModel) = m.search(q, 10, keepRankNo = true,
      queryIdCol = Some("vec_id"))
      .select("vec_id", "sim_item").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("sim_item"))).toSet
    val e = hits(exact); val a = hits(ivf)
    val recall = (e intersect a).size.toDouble / e.size
    assert(recall >= 0.9, s"IVF recall $recall")
  }

  test("batched encoder: grouped mapPartitions path (encoder_utils.py:48-75)") {
    val enc = new BatchedEncoder(
      texts => texts.map(t => Array(t.length.toFloat, 1f)), batchSize = 4, dimension = 2)
    val model = new SparkSearcher(enc, SearcherParams(measurement = "l2"))
      .fit(sf("documents").select("text", "doc_id"))
    val res = model.search(sf("documents").select("text").limit(2), topK = 1,
      keepRankNo = true)
    assert(res.count() === 2)
    // l2=0 to itself: identical length vector exists (the query is in the corpus)
    assert(res.collect().forall(_.getAs[Float]("sim_val") === 0f))
  }

  test("Seq[String] query overload mirrors the reference List[str] input") {
    val docs = sf("documents").select("text", "doc_id")
    val model = new SparkSearcher(new HashEncoder(32), SearcherParams())
      .fit(docs)
    val texts = docs.limit(3).collect().map(_.getString(0)).toSeq
    val res = model.search(texts, topK = 1, keepRankNo = true)
    assert(res.count() === 3)
    // each query is in the corpus, so its best hit scores cos ≈ 1
    // (hash-vector ties can let an identically-hashed doc win on row_id)
    assert(res.collect().forall(r => r.getAs[Float]("sim_val") > 0.999f))
    model.unpersist()
  }

  test("payload columns colliding with the result schema fail fast at fit") {
    val bad = sf("embeddings").withColumnRenamed("label", "sim_val")
    val ex = intercept[IllegalArgumentException] {
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id")))
        .fit(bad)
    }
    assert(ex.getMessage.contains("sim_val"))
  }

  test("search on unfitted/empty index errors (faiss_searcher.py:187)") {
    val empty = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id")))
      .fit(sf("embeddings").filter(col("vec_id") < 0))
    intercept[IllegalArgumentException](
      empty.search(sf("embeddings").limit(1), 1))
  }

  test("searchRaw: aligned rank-ordered label/distance arrays (faiss raw-path shape)") {
    val model = embModel()
    val q = sf("embeddings").filter(col("vec_id") < 5)
    val raw = model.searchRaw(q, 4, queryIdCol = Some("vec_id")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](2), r.getSeq[Float](3))).toMap
    val rows = model.search(q, 4, keepRankNo = true, queryIdCol = Some("vec_id"))
      .orderBy("vec_id", "rank_no").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id ->
        (rs.map(_.getAs[Long]("sim_item")).toSeq, rs.map(_.getAs[Float]("sim_val")).toSeq) }
    assert(raw.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(raw.forall { case (_, (items, vals)) => items.length == 4 && vals.length == 4 })
    assert(raw === rows) // arrays ARE the per-hit rows in rank order
  }

  test("searchRaw: zero-hit queries keep their row with empty arrays (alignment)") {
    val sp = spark
    import sp.implicits._
    // single-vector corpus; the negated query flips EVERY sign-LSH bit, so
    // it collides in no bucket and gets zero hits — its row must survive
    // with empty arrays (the reference raw path returns fixed-shape
    // matrices; dropping the row would misalign the caller's query list)
    val corpus = Seq((1L, Array(1f, 2f, 3f, 4f), "a")).toDF("vec_id", "embedding", "label")
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "LSH1x8"))
      .fit(corpus)
    val qs = Seq((10L, Array(1f, 2f, 3f, 4f)), (11L, Array(-1f, -2f, -3f, -4f)))
      .toDF("vec_id", "embedding")
    val got = model.searchRaw(qs, 3, queryIdCol = Some("vec_id"))
      .orderBy("vec_id").collect()
    assert(got.length === 2)
    assert(got(0).getLong(0) === 10L && got(0).getSeq[Long](2) === Seq(1L))
    assert(got(1).getLong(0) === 11L && got(1).getSeq[Long](2).isEmpty &&
      got(1).getSeq[Float](3).isEmpty)
  }

  test("searchRawMulti: each k is the truncation of max-K AND the true top-k") {
    val emb = sf("embeddings")
    val model = embModel()
    val q = emb.filter(col("vec_id") < 5)
    val byK = model.searchRawMulti(q, Seq(2, 4), queryIdCol = Some("vec_id"))
    val k4 = byK(4).collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](2), r.getSeq[Float](3))).toMap
    val k2 = byK(2).collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](2), r.getSeq[Float](3))).toMap
    assert(k2.keySet === k4.keySet)
    // the derived k=2 arrays are exactly the first 2 entries of the k=4
    // arrays (faiss's labels[:, :k] slice, faiss_searcher.py:181)
    k2.foreach { case (qid, (ids, vals)) =>
      assert(ids === k4(qid)._1.take(2), s"qid $qid")
      assert(vals === k4(qid)._2.take(2), s"qid $qid")
    }
    // and equal an independent direct searchRaw at k=2
    val direct = model.searchRaw(q, 2, queryIdCol = Some("vec_id")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](2), r.getSeq[Float](3))).toMap
    assert(k2 === direct)
  }

  test("HNSW graph ANN: out-of-box recall@10 ≥ 0.95; exhaustive ef is exact") {
    // the reference special-cases HNSW* into faiss.IndexHNSWFlat
    // (faiss_searcher.py:100-102); the Spark answer is partition-local NSW
    // graphs merged through the exact top-k tail (NswGraph). Two pins:
    // (a) at the DEFAULT search profile (efSearch=64) with real beam
    //     traversal (one 500-node graph, ef < n), recall@10 vs exact must
    //     reach the faiss-HNSW ballpark — ≥ 0.95;
    // (b) with efSearch ≥ the group size the search is provably exact —
    //     IDENTICAL rows to the exact scan, tie-breaks included (this is
    //     the regime the knn_hnsw correctness gate runs in).
    val exact = embModel()
    val q = sf("embeddings").filter(col("vec_id") < 50)
    def rows(m: SearcherModel) = m.search(q, 10, keepRankNo = true,
      queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq)
    def pairs(rs: Array[Seq[Any]]) =
      rs.map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])).toSet
    val e = rows(exact)
    // (a) single 500-node graph forces genuine traversal at ef=64 < n
    val hnsw = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW32", hnswGraphs = 1))
      .fit(sf("embeddings"))
    val recall = (pairs(e) intersect pairs(rows(hnsw))).size.toDouble / e.length
    hnsw.unpersist()
    info(f"HNSW32 (1 graph, ef=64) recall@10 vs exact: $recall%.3f")
    assert(recall >= 0.95, s"HNSW out-of-box recall $recall")
    // (b) exhaustive regime: exact equality, across multiple graphs
    val full = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW32", efSearch = Int.MaxValue))
      .fit(sf("embeddings"))
    assert(rows(full).toSet === e.toSet)
    full.unpersist()
  }

  test("HNSW auto efSearch (0): beam-fraction rule, floor, fitted-graph resolution, persists") {
    import SparkSearcher.resolveEf
    assert(resolveEf(16, 2000000L, 32) === 16)  // explicit values untouched
    assert(resolveEf(0, 2000L, 32) === 64)      // small graphs: the 64 floor
    assert(resolveEf(0, 2000000L, 32) === 245)  // 62.5k-row graphs → the certified ≥0.99 regime
    assert(resolveEf(0, 0L, 0) === 64)          // degenerate-safe

    val emb = sf("embeddings")
    def fitEf(ef: Int) = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW32", efSearch = ef,
        hnswGraphs = 4)).fit(emb)
    val auto = fitEf(0)
    // resolution uses the FITTED graph count (max gpart + 1), not a
    // parallelism re-estimate — a loaded index keeps its layout
    assert(auto.effectiveEf === 64)
    val q = emb.filter(col("vec_id") < 10)
    def res(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item").collect().map(_.toSeq).toSet
    // auto ≡ its resolved pin — same graphs, same beam, same traversal
    val pinned = fitEf(64)
    assert(res(auto) === res(pinned))
    // efSearch=0 persists: the loaded model stays auto (and re-resolves
    // from its own fitted graphs)
    val dir = java.nio.file.Files.createTempDirectory("graft-efauto").toString
    auto.save(dir)
    val loaded = SparkSearcher.load(spark, dir, new PassthroughEncoder("embedding"))
    assert(loaded.searcher.params.efSearch === 0)
    assert(loaded.effectiveEf === 64)
    assert(res(loaded) === res(auto))
    auto.unpersist(); pinned.unpersist(); loaded.unpersist()
  }

  test("HNSW guards: remove() rejects (faiss parity); quantizer suffixes never swallowed") {
    // faiss raises 'remove_ids not implemented' for IndexHNSW — deleting
    // nodes would break the adjacency their neighbors route through
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "HNSW16", hnswGraphs = 2))
      .fit(sf("embeddings").filter(col("vec_id") < 100))
    val sp = spark
    import sp.implicits._
    intercept[UnsupportedOperationException](
      model.remove(Seq(1L).toDF("vec_id"), "vec_id"))
    model.unpersist()
    // 'HNSW32,SQ8' must not silently become an uncompressed float graph
    // (same never-silently-uncompressed rule as the IVFn,SQ* parse)
    assert(IndexStrategy.parse("HNSW32,Flat") === HnswGraph(32)) // canonical faiss spelling
    intercept[IllegalArgumentException](IndexStrategy.parse("HNSW32,SQ8"))
    intercept[IllegalArgumentException](IndexStrategy.parse("HNSW32,PQ8"))
  }

  test("searchMulti/searchRawMulti persists are released by model.unpersist()") {
    val emb = sf("embeddings")
    val model = embModel()
    val q = emb.filter(col("vec_id") < 3)
    // track the RDD IDS this test adds, not the global count: suites share
    // one SparkContext and run in parallel, so another suite's persists
    // landing between the snapshots must not flake this assertion
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    model.searchMulti(q, Seq(2, 4), queryIdCol = Some("vec_id"))(4).count()
    model.searchRawMulti(q, Seq(2, 4), queryIdCol = Some("vec_id"))(4).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    assert(added.nonEmpty)
    model.unpersist()
    // the max-K frames AND the index itself are gone — a long-lived
    // session calling multi-K per request must not accumulate cache.
    // (concurrent suites may own some of `added`; the model's own blocks
    // are what must be gone, so allow foreign residue only if it is not
    // the majority of what we added)
    val remaining = spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(added)
    assert(remaining.size < added.size,
      s"unpersist released nothing: added=$added remaining=$remaining")
  }

  test("HNSW add(): segment graphs — grown index searches like the union at full ef") {
    val emb = sf("embeddings")
    val a = emb.filter(col("vec_id") < 400)
    val b = emb.filter(col("vec_id") >= 400)
    val q = emb.filter(col("vec_id") < 10)
    def fitH(df: org.apache.spark.sql.DataFrame) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW16", efSearch = Int.MaxValue,
          hnswGraphs = 4)).fit(df)
    def res(m: SearcherModel) = m.search(q, 5, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    // appended rows land in fresh segment graphs (Lucene shape); at
    // exhaustive ef both layouts are exact, so add ≡ union-fit exactly
    val grown = fitH(a).add(b)
    assert(res(grown) === res(fitH(emb)))
    assert(grown.count === emb.count())
    grown.unpersist()
  }

  test("SearcherParams rejects a bad setting at construction with a clear message") {
    def msg(p: => SearcherParams) = intercept[IllegalArgumentException](p).getMessage
    assert(msg(SearcherParams(nprobe = -1)).contains("nprobe"))
    assert(msg(SearcherParams(efSearch = -1)).contains("efSearch"))
    assert(msg(SearcherParams(hnswGraphs = -2)).contains("hnswGraphs"))
    assert(msg(SearcherParams(refineKFactor = -4)).contains("refineKFactor"))
    assert(msg(SearcherParams(efConstruction = -1)).contains("efConstruction"))
    assert(msg(SearcherParams(broadcastThreshold = -1L)).contains("broadcastThreshold"))
    assert(msg(SearcherParams(autoCompactAtSegmentRatio = -0.5))
      .contains("autoCompactAtSegmentRatio"))
    assert(msg(SearcherParams(lshBatchHint = 0)).contains("lshBatchHint"))
    // the zero autos and the defaults stay valid
    SearcherParams(nprobe = 0, efSearch = 0, lshBatchHint = 1)
  }

  test("load requires exactly one params row: a second part file fails with a clear message") {
    val dir = java.nio.file.Files.createTempDirectory("graft-2params").toString
    embModel().save(dir)
    val pdir = java.nio.file.Paths.get(s"$dir/params.json")
    val part = java.nio.file.Files.list(pdir).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    java.nio.file.Files.copy(part, pdir.resolve("part-00001-extra.json"))
    val e = intercept[IllegalArgumentException](SparkSearcher.load(spark, dir))
    assert(e.getMessage.contains("exactly one params row"), e.getMessage)
  }

  test("metadata tables past the byte cap fail before any write, naming the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-metacap").toString
    // 2^20 references to ONE 4 KB row: 4 GB by length, a few MB in memory
    val row = new Array[Float](1024)
    val e = intercept[IllegalArgumentException](new MetaDir(spark, dir)
      .writeRows("centroids", ("c", "v"), Array.fill(1 << 20)(row)))
    assert(e.getMessage.contains("'centroids'"), e.getMessage)
    val kernelRow = new Array[Double](2048)
    val w = intercept[IllegalArgumentException](new graft.whitening.VecsWhiteningModel(
      Array.fill(1 << 18)(kernelRow), kernelRow, 2048, 2048).save(spark, dir))
    assert(w.getMessage.contains("'kernel'"), w.getMessage)
    assert(new java.io.File(dir).list().isEmpty, "nothing may be written")
  }

  test("a save that fails partway leaves the previous index loadable and serving") {
    val parent = java.nio.file.Files.createTempDirectory("graft-crashsave")
    val dir = parent.resolve("index").toString
    val model = embModel()
    model.save(dir)
    val q = sf("embeddings").filter(col("vec_id") < 3)
    def res(m: SearcherModel) = m.search(q, 3, keepRankNo = true, queryIdCol = Some("vec_id"))
      .orderBy("vec_id", "rank_no").collect().toSeq
    val before = res(model)
    // a payload column parquet cannot write (a calendar interval) makes the
    // second save throw inside its items write
    val bad = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id")))
      .fit(sf("embeddings").withColumn("label", expr("make_interval(0, 0, 0, 1)")))
    intercept[Exception](bad.save(dir))
    spark.catalog.refreshByPath(dir)
    assert(res(SparkSearcher.load(spark, dir)) === before)
    // the failed save's staging directory is gone
    assert(java.nio.file.Files.list(parent).toArray.map(_.toString).toSeq === Seq(dir))
    bad.unpersist()
  }

  test("load after a save died between its renames recovers the newest complete index") {
    val parent = java.nio.file.Files.createTempDirectory("graft-renamegap")
    val dir = parent.resolve("index")
    val full = embModel()
    val small = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"), measurement = "cos"))
      .fit(sf("embeddings").filter(col("vec_id") < 50))
    def crashed(tag: String, stagingComplete: Boolean): Unit = {
      full.save(dir.toString)
      small.save(parent.resolve("next").toString)
      // the state a JVM leaves when it dies between writeStaged's renames:
      // the old index moved aside, the new one still under its staging name
      java.nio.file.Files.move(dir, parent.resolve(s"index.replaced-$tag"))
      java.nio.file.Files.move(parent.resolve("next"), parent.resolve(s"index.staging-$tag"))
      if (!stagingComplete) org.apache.commons.io.FileUtils.deleteDirectory(
        parent.resolve(s"index.staging-$tag/params.json").toFile)
    }
    def listing = java.nio.file.Files.list(parent).toArray.map(_.toString).toSeq
    // a complete staging directory is the newest index
    crashed("a", stagingComplete = true)
    spark.catalog.refreshByPath(dir.toString)
    val promoted = SparkSearcher.load(spark, dir.toString)
    assert(promoted.count == small.count)
    assert(listing === Seq(dir.toString))
    promoted.unpersist()
    // a staging directory without params.json never finished: the previous
    // index comes back
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    crashed("b", stagingComplete = false)
    spark.catalog.refreshByPath(dir.toString)
    val restored = SparkSearcher.load(spark, dir.toString)
    assert(restored.count == full.count)
    assert(listing === Seq(dir.toString))
    restored.unpersist()
    small.unpersist()
    full.unpersist()
  }

  test("two fits of one frame share a cache entry; unpersisting one keeps the other's") {
    val s = spark
    val rnd = new scala.util.Random(21)
    val rows = (0 until 2000).map(i => org.apache.spark.sql.Row(i.toLong, Array.fill(16)(rnd.nextFloat()).toSeq))
    val frame = s.createDataFrame(s.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    def fit() = new SparkSearcher(new PassthroughEncoder("vec"),
      SearcherParams(itemCol = Some("id"), idCol = Some("id"), measurement = "cos")).fit(frame)
    def cached(m: SearcherModel) =
      m.indexed.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    def serve(m: SearcherModel) = m.search(frame.filter(col("id") < 20), topK = 5,
        keepRankNo = true, queryIdCol = Some("id"))
      .select("id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val (a, b) = (fit(), fit())
    val before = serve(b)
    a.unpersist()
    assert(cached(b), "unpersist() of one fit emptied the other fit's cache")
    assert(serve(b) === before)
    a.unpersist() // a second release of the same model is a no-op
    assert(cached(b))
    b.unpersist()
    assert(!cached(b), "the last holder releases the entry")

    // two loads of one saved index read the same cached plan too
    val dir = java.nio.file.Files.createTempDirectory("graft-share").toString
    fit().save(dir)
    def load() = SparkSearcher.load(spark, dir, new PassthroughEncoder("vec"))
    val (l1, l2) = (load(), load())
    l1.unpersist()
    assert(cached(l2))
    assert(serve(l2) === before)
    l2.unpersist()
    assert(!cached(l2))
  }
}
