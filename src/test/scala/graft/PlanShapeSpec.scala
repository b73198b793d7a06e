package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Plan-regression guards for the scale-critical physical shapes recorded in
 * PLANS.md: filters reach the parquet scan, dimension tables broadcast, and
 * the quadratic-prone pipelines never fall back to a cartesian product.
 * These are the properties that keep the engine viable at 100 TB; a silent
 * plan regression (e.g. a lost broadcast hint or a non-pushed filter) should
 * fail CI, not a future benchmark.
 */
class PlanShapeSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs `body` with a payload broadcast cap of 0: a single-chunk cell
    * scan then keeps the distributed merge → payload-join tail instead of
    * finishing on the driver as a local scan. */
  private def distributedTail(body: => Unit): Unit = {
    spark.conf.set("graft.search.payloadBroadcastByteCap", "0")
    try body finally spark.conf.unset("graft.search.payloadBroadcastByteCap")
  }

  /** Runs `body` and returns the executed plan of every named execution it
    * ran (`collect`, `cell scan`, …) and every completed stage, drained:
    * both listeners have seen a marker action run after `body`. */
  private def observed(body: => Unit): (Seq[(String, String)], Seq[StageInfo]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    @volatile var stagesDrained = false
    val qel = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(name -> qe.executedPlan.toString)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sl = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.name.contains("observedMarker")) stagesDrained = true
        else stages.add(e.stageInfo)
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      body
      spark.sparkContext.setCallSite("observedMarker")
      try spark.range(1).toDF("observed_marker").collect()
      finally spark.sparkContext.clearCallSite()
      val deadline = System.nanoTime() + 30000000000L
      def planDrained = plans.asScala.exists(_._2.contains("observed_marker"))
      while (!(stagesDrained && planDrained) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(stagesDrained && planDrained, "listeners did not drain")
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    (plans.asScala.toSeq.filterNot(_._2.contains("observed_marker")), stages.asScala.toSeq)
  }

  test("knn query: vec_id filter is pushed into the parquet scan") {
    distributedTail {
    val plan = SparkEntry.queries("knn_cos_top10")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]")
      || plan.contains("PushedFilters: [LessThan(vec_id,10)"))
    }
  }

  test("q5 star join: all three dims broadcast, no shuffle join, no cartesian") {
    val plan = physical(SparkEntry.queries("q5_star_join")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("exact jaccard: candidate generation is equi-joined, never cartesian") {
    val plan = physical(SparkEntry.queries("dedup_jaccard_w3")(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash/simhash/LSH near-dup: banded equi-joins only") {
    // dedup_minhash builds under the forced distributed route: by default
    // it verifies on the driver into a local scan, with no join to check.
    // Every plan its build runs is checked, the banded self-join among them
    graft.dedup.DedupRoutes.distributed {
      Seq("dedup_minhash", "dedup_simhash", "dedup_embedding_lsh").foreach { q =>
        val plan = physical(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
        assert(!plan.contains("CartesianProduct"), s"$q plan has a cartesian product")
      }
      val (plans, _) = observed(SparkEntry.queries("dedup_minhash")(spark, "/root/testdata/sf0.001"))
      assert(plans.exists(_._2.contains("SortMergeJoin")), "dedup_minhash ran no banded self-join")
      plans.foreach { case (name, plan) =>
        assert(!plan.contains("CartesianProduct"), s"dedup_minhash $name plan has a cartesian product")
      }
    }
  }

  test("bm25: no corpus shuffle — only the 1-row stats aggregate exchanges") {
    val plan = physical(graft.text.Relevance.bm25(
      sf("documents"), "doc_id", "text", Seq("vector", "spark", "dup")))
    // the corpus-side score projection must not re-key the table: the only
    // exchanges are the stats aggregate's (partial -> SinglePartition) and
    // its broadcast. A hashpartitioning exchange means the groupBy+pivot
    // shape crept back in.
    assert(!plan.contains("Exchange hashpartitioning"),
      "bm25 re-grew a corpus shuffle")
    assert(!plan.contains("Window"))
  }

  test("bigram-LM perplexity: scoring is one scan — zero exchanges, zero joins") {
    val docs = sf("documents")
    val lm = graft.text.NgramLm.fit(docs, "text")
    val plan = physical(docs.select(col("doc_id"),
      graft.text.NgramLm.score(col("text"), lm).as("nll")))
    // the fitted count maps ride as plan reference objects inside the
    // scorer expression; a Join or Exchange here means the model leaked
    // into the plan as a table instead
    assert(!plan.contains("Exchange"), "perplexity scoring grew a shuffle")
    assert(!plan.contains("Join"), "perplexity scoring grew a join")
    assert(plan.contains("ngram_nll"), "scorer expression missing from plan")
  }

  test("histogram percentiles: no full-table Sort outside the candidate-bucket window") {
    val df = SparkEntry.queries("q_percentiles_hist")(spark, "/root/testdata/sf0.001")
    val plan = physical(df)
    // the final orderBy sorts 3 result rows; the candidate window sorts
    // ~n/bins rows — but no global per-group sort of the raw table may
    // appear (that is exactly the shape this variant replaces)
    assert(!plan.contains("Exchange rangepartitioning(l_extendedprice"),
      "histogram percentiles re-grew a full-table value sort")
    assert(!plan.contains("CartesianProduct"))
  }

  test("fp16 search: decode fused into the scan — no corpus exchange below the heap tail") {
    // the decode-and-score runs inside the cell scan's tasks: the float
    // view's plan holds the decode, and the scan job moves no corpus
    // bytes through a shuffle (knn_ivfsq_cos: the same over SQ8 codes)
    Seq("knn_fp16_cos", "knn_ivfsq_cos").foreach { q =>
      val (plans, stages) = observed(
        SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect())
      val scans = plans.collect { case ("cell scan", p) => p }
      assert(scans.nonEmpty, s"$q ran no cell scan")
      if (q == "knn_fp16_cos")
        assert(scans.forall(_.contains("fp16_decode")), "fp16 path lost the in-scan decode")
      val scanStages = stages.filter(_.name.contains("CellScan.scala"))
      assert(scanStages.nonEmpty, s"$q: no cell-scan stage observed")
      scanStages.foreach { st =>
        val m = st.taskMetrics
        assert(m.shuffleReadMetrics.totalBytesRead == 0 && m.shuffleReadMetrics.totalBlocksFetched == 0 &&
          m.shuffleWriteMetrics.bytesWritten == 0 && m.shuffleWriteMetrics.recordsWritten == 0,
          s"$q: the cell-scan stage ${st.name} moved shuffle bytes")
      }
    }
  }

  test("PCA prefix: projection is a scalar expression, not a join/shuffle stage") {
    val (plans, _) = observed(
      SparkEntry.queries("knn_pcaw_cos")(spark, "/root/testdata/sf0.001").collect())
    // the query side (collected in chunks by the cell scan) projects through
    // the kernel, which rides as a plan reference inside whiten_transform —
    // a matrix-multiply JOIN shape (kernel rows as a table) would shuffle
    val querySide = plans.map(_._2).filter(_.contains("__qvec"))
    assert(querySide.nonEmpty, "no query-side plan observed")
    assert(querySide.exists(_.contains("whiten_transform")), "PCA prefix lost the codegen projection")
    assert(!plans.exists(_._2.contains("CartesianProduct")))
  }

  test("q1 aggregation: partial (map-side) aggregate before the exchange") {
    val plan = physical(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("HashAggregate"))
    // partial + final pairs: the aggregate appears above and below the shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
    assert(plan.contains("l_shipdate")) // pushdown of the date filter
  }

  test("IVF and LSH top-k tails: heap aggregate, no Sort/Window of candidates") {
    // the approximate paths must share the exact path's O(n log k) tail:
    // a window row_number tail would sort+shuffle every candidate per query
    distributedTail(Seq("knn_ivf_cos", "knn_lsh_cos").foreach { q =>
      val plan = physical(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      assert(plan.contains("top_k_by_distance"), s"$q lost the heap-aggregate tail")
      assert(!plan.contains("Window"), s"$q plan re-grew a Window tail")
      // the gate query's final presentation orderBy sits ABOVE the aggregate
      // (earlier in the printed tree); nothing below it may sort candidates
      val below = plan.substring(plan.indexOf("top_k_by_distance"))
      assert(!below.contains("Sort "), s"$q plan sorts candidates below the heap tail")
    })
  }

  test("loaded IVF batch: one cell scan — no probe explode, no join keyed on the cell") {
    distributedTail {
    val plan = physical(SparkEntry.queries("knn_batch_ivf_loaded")(spark, "/root/testdata/sf0.001"))
    // a (query, row) pair join would reappear as an exploded probe list
    // equi-joined to the index on its cell id
    assert(!plan.contains("explode(nearest_centroids"), "IVF serve re-grew the probe explode")
    assert(!plan.linesIterator.exists(l => l.contains("Join") && l.contains("__cell")),
      s"IVF serve re-grew the pair join on the cell id: $plan")
    }
  }

  test("bucketed join: sort-merge with NO exchange on either side") {
    val plan = physical(SparkEntry.queries("q_bucketed_join")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join: $plan")
    assert(plan.contains("Bucketed: true"), s"scans must be bucketed: $plan")
    // the ONLY hash exchange allowed is the aggregation's (group key differs
    // from the join key); the join itself must read co-located buckets
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"join sides must not shuffle: $plan")
  }

  test("asof join: single shuffle on the key, window fill, no range join blowup") {
    val plan = physical(SparkEntry.queries("q_asof_join")(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("text_chunk: pure projection — zero exchanges, zero joins") {
    val plan = physical(graft.text.TextAnalysis.chunkByTokens(
      sf("documents"), "doc_id", "text", maxTokens = 32, overlap = 8))
    assert(!plan.contains("Exchange"), "chunking must not shuffle")
    assert(!plan.contains("Join"), "chunking must not join")
  }

  test("text_gopher: rule filter is one scan — zero exchanges") {
    val plan = physical(sf("documents").select(col("doc_id"),
      graft.text.TextAnalysis.gopherFlags(col("text")).as("g")))
    assert(!plan.contains("Exchange"), "gopher rules must not shuffle")
  }

  test("dedup_spans: fingerprint equi-joins only, never cartesian") {
    val plan = physical(graft.dedup.Dedup.dedupSpans(
      sf("documents"), "doc_id", "text", w = 8))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("hybrid RRF: both candidate lists end in bounded top-n, no corpus sort") {
    val plan = physical(graft.search.HybridSearch.hybridRrf(
      sf("documents"), "doc_id", "text", Seq("vector", "spark"),
      "vector spark", k = 10, n = 50))
    // TakeOrderedAndProject = map-side partial top-n + one tiny reduce;
    // a global Sort of the corpus would be the 100 TB failure mode
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("cluster quota: rank filter becomes a WindowGroupLimit, no full-cell sort survives it") {
    val plan = physical(graft.dedup.Dedup.clusterQuotaSample(
      sf("embeddings"), "vec_id", "embedding", k = 4, quota = 5,
      scoreCol = sqrt(graft.functions.VectorFunctions.vec_dot(
        col("embedding"), col("embedding")))))
    assert(plan.contains("WindowGroupLimit"),
      "rank<=quota must push a per-partition bounded heap below the window")
    assert(!plan.contains("CartesianProduct"))
  }

  test("rerank: candidate list broadcasts into the corpus scan, no corpus sort") {
    val plan = physical(graft.search.HybridSearch.rerank(
      sf("documents"), "doc_id", "text", Seq("vector", "spark"),
      "vector spark", k = 10, n = 50))
    assert(plan.contains("BroadcastHashJoin"),
      "the <=n-row candidate list must broadcast, not shuffle the corpus")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("boilerplate removal: fingerprint equi-joins only, never cartesian") {
    for (smallBytes <- Seq(Long.MaxValue, 0L)) { // strings-cache and narrow paths
      val plan = physical(graft.dedup.Dedup.removeBoilerplate(
        sf("documents"), "doc_id", "text", minDocs = 3, minLen = 8,
        smallCorpusBytes = smallBytes))
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("banded/bucketed self-joins sort-merge — never a broadcast of the corpus-sized side") {
    // the cached-input size estimate must not flip these to a driver-built
    // hashed relation of the whole banded corpus (sf10 measured 4x on
    // exactly that flip for simhash; SHUFFLE_MERGE is pinned in the code)
    val mh = physical(graft.dedup.Dedup.minHashCandidates(
      sf("documents"), "doc_id", "text"))
    assert(mh.contains("SortMergeJoin") && !mh.contains("BroadcastHashJoin"),
      "minhash banded self-join must stay sort-merge")
    val lsh = physical(graft.dedup.Dedup.embeddingNearDupsLsh(
      sf("embeddings"), "vec_id", "embedding", 0.4, numTables = 12, bits = 6))
    assert(lsh.contains("SortMergeJoin") && !lsh.contains("BroadcastHashJoin"),
      "LSH bucket self-join must stay sort-merge")
  }

  // ---- batch-query retrieval surfaces: the query-SET plans must keep the
  // corpus cost independent of |Q| (postings joins + bounded rank windows),
  // with the broadcast query-vector scoring as the ONE sanctioned
  // nested-loop (it feeds a WindowGroupLimit, never a materialized |Q|xN)

  private def batchQ: DataFrame = spark.createDataFrame(Seq(
    (0L, Seq("vector", "spark", "dup"), "vector spark dup search"),
    (1L, Seq("merge", "sort", "fast"), "merge sort fast stream")))
    .toDF("qid", "terms", "qtext")

  // Nested-loop budget: BM25's 1-row corpus-stats aggregate broadcasts
  // into the scan as one BroadcastNestedLoopJoin (bounded — one row); the
  // dense side of the hybrid adds exactly one more (the broadcast query-
  // vector scoring that feeds a WindowGroupLimit). Anything beyond the
  // budget means a |Q|xCorpus (or worse) nested loop crept in.
  private def nestedLoops(plan: String): Int =
    "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size

  test("bm25 batch: postings equi-join + WindowGroupLimit — no |Q|xCorpus nested loop") {
    val plan = physical(graft.text.Relevance.bm25Batch(
      sf("documents"), "doc_id", "text", batchQ, "qid", "terms", n = 20))
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-n must push a bounded heap below the rank window")
    assert(!plan.contains("CartesianProduct"))
    assert(nestedLoops(plan) <= 1,
      "only the 1-row stats broadcast may nested-loop; query terms must " +
        s"equi-join the postings — found ${nestedLoops(plan)}")
  }

  test("hybrid RRF batch: rank windows are WindowGroupLimit; bounded nested-loop budget") {
    val plan = physical(graft.search.HybridSearch.hybridRrfBatch(
      sf("documents"), "doc_id", "text", batchQ, "qid", "terms", "qtext",
      k = 10, n = 50))
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("CartesianProduct"))
    assert(nestedLoops(plan) <= 2,
      "only the stats broadcast + the broadcast query-vector scoring may " +
        s"nested-loop, found ${nestedLoops(plan)}")
  }

  test("rerank batch: candidates broadcast into the corpus scan; top-k is WindowGroupLimit") {
    val plan = physical(graft.search.HybridSearch.rerankBatch(
      sf("documents"), "doc_id", "text", batchQ, "qid", "terms", "qtext",
      k = 10, n = 50))
    assert(plan.contains("BroadcastHashJoin"),
      "the |Q|*n candidate list must broadcast, not shuffle the corpus")
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("CartesianProduct"))
    assert(nestedLoops(plan) <= 1,
      s"only the 1-row stats broadcast may nested-loop, found ${nestedLoops(plan)}")
  }

  test("LSH candidate joins: every shuffle carrying the query id is SKINNY (no array column)") {
    // r16's 160 GB ENOSPC class: the LSH candidate stream is
    // |Q| · occupancy · tables rows (506M distinct pairs measured at a
    // 500-query sf100 batch), so any vector column attached BEFORE one of
    // its shuffles multiplies that volume by ~dim·4 bytes — invisible at
    // 10-query gate scale, fatal at batch scale. Pin the fix structurally:
    // in both the top-k and the range LSH plans, a ShuffleExchange whose
    // output carries the internal query id must carry ONLY skinny columns;
    // vectors join on after (index side by row_id, query side broadcast).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    import graft.search.{SparkSearcher, SearcherParams}

    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
      case _                        => p +: p.children.flatMap(allNodes)
    }
    def qidShuffles(df: DataFrame): Seq[Seq[String]] =
      allNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "__qid") =>
          e.output.map(a => s"${a.name}: ${a.dataType.simpleString}")
      }

    val emb = sf("embeddings")
    val model = new SparkSearcher(new graft.encoders.PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "LSH12x6")).fit(emb)
    val q = emb.filter(col("vec_id") < 5)

    Seq(
      "lshTopK" -> model.search(q, 10, queryIdCol = Some("vec_id")),
      "searchRange(LSH)" -> model.searchRange(q, threshold = 0.35,
        queryIdCol = Some("vec_id"))
    ).foreach { case (name, df) =>
      val shuffles = qidShuffles(df)
      // the candidate-pair shuffle must exist (a column rename would make
      // this pin vacuous), and none may carry an array (vector) column
      assert(shuffles.nonEmpty,
        s"$name: expected a __qid-carrying candidate shuffle — internal column renamed?")
      val wide = shuffles.filter(_.exists(_.contains("array")))
      assert(wide.isEmpty,
        s"$name: candidate shuffle carries a wide column (the r16 ENOSPC shape): " +
          wide.map(_.mkString(", ")).mkString(" | "))
    }
  }
}
