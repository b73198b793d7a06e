package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.encoders.PassthroughEncoder
import graft.search.{SearcherParams, SparkSearcher}

/**
 * Recall certification for the approximate access paths: measures
 * recall@k AGAINST THE EXACT SCAN at realistic operating points — the
 * settings a user would actually run, not the exhaustive regimes the
 * hash gates pin (full probes / exhaustive ef are exact by construction;
 * they certify correctness of the machinery, not the recall/latency
 * trade the factory string exists to make —
 * /root/reference/backend/faiss_searcher.py:100-107).
 *
 * For each (index, operating point): fit wall-time, min-of-2 search
 * wall-time over the query batch, and recall@k vs the exact top-k.
 * One JSON line per scale factor; the driver artifact (RECALL_r08.json)
 * aggregates the sections.
 *
 * Usage: `runMain graft.Recall <outJson> <sfDir>[,<sfDir>...]`
 */
object Recall {

  private case class Cfg(name: String, family: String, params: SearcherParams)

  def main(args: Array[String]): Unit = {
    val outPath = if (args.nonEmpty) args(0) else "RECALL_r08.json"
    val sfDirs =
      (if (args.length > 1) args(1) else "/root/testdata/sf0.1")
        .split(",").toSeq
    val k = 10
    val nQueries = 100
    val spark = Harness.session()
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warmup

    val base = SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
      measurement = "cos")
    // the certified frontier: every approximate family at the operating
    // points a user would pick (HNSW efSearch sweep, IVF nprobe sweep,
    // LSH/PQ/OPQ/refine at their defaults)
    val cfgs = Seq(
      Cfg("HNSW32 efSearch=16", "hnsw", base.copy(indexParam = "HNSW32", efSearch = 16)),
      Cfg("HNSW32 efSearch=64", "hnsw", base.copy(indexParam = "HNSW32", efSearch = 64)),
      Cfg("HNSW32 efSearch=256", "hnsw", base.copy(indexParam = "HNSW32", efSearch = 256)),
      // r17 auto (efSearch=0): hold the beam FRACTION per graph
      // (per-graph rows / 256, floor 64) — the graph dual of IVF's
      // auto-nprobe; a fixed beam decays as the corpus grows
      Cfg("HNSW32 efSearch=auto", "hnsw", base.copy(indexParam = "HNSW32", efSearch = 0)),
      // r20 efConstruction sweep: the BUILD beam (the last hardcoded
      // constant, a knob since) — swept at the serving AUTO beam so any
      // recall movement is attributable to GRAPH quality, not the
      // search-time beam; fit_sec is the cost axis (build ~linear in it)
      Cfg("HNSW32 efC=32", "efc",
        base.copy(indexParam = "HNSW32", efSearch = 0, efConstruction = 32)),
      Cfg("HNSW32 efC=auto(64)", "efc",
        base.copy(indexParam = "HNSW32", efSearch = 0)),
      Cfg("HNSW32 efC=128", "efc",
        base.copy(indexParam = "HNSW32", efSearch = 0, efConstruction = 128)),
      Cfg("IVF0(auto) nprobe=1", "ivf", base.copy(indexParam = "IVF0,Flat", nprobe = 1)),
      Cfg("IVF0(auto) nprobe=4", "ivf", base.copy(indexParam = "IVF0,Flat", nprobe = 4)),
      Cfg("IVF0(auto) nprobe=16", "ivf", base.copy(indexParam = "IVF0,Flat", nprobe = 16)),
      // auto-nlist grows ∝ √n, so a FIXED nprobe scans a shrinking
      // fraction of the corpus as it grows — recall decays with scale
      // unless nprobe scales with it. nprobe=64 is the ~√n-scaled
      // operating point for the 200k-vector corpus (16 is right at 2k)
      Cfg("IVF0(auto) nprobe=64", "ivf", base.copy(indexParam = "IVF0,Flat", nprobe = 64)),
      // the engine's auto (nprobe=0): ~1/8 of fitted cells, floor 4 —
      // holds the scanned fraction, hence recall, across corpus growth
      Cfg("IVF0(auto) nprobe=auto", "ivf", base.copy(indexParam = "IVF0,Flat", nprobe = 0)),
      Cfg("LSH(12 tables, auto bits)", "lsh", base.copy(indexParam = "LSH12")),
      // bare LSH / LSH0 = joint auto since r13: bits AND tables resolve
      // from the closed-form recall model at a corpus-sampled anchor
      Cfg("LSH0 (joint auto)", "lsh", base.copy(indexParam = "LSH0")),
      // the batch-serving operating point (r17): the resolver weighs the
      // hinted batch's candidate-verify volume against fit cost — more
      // bits, smaller buckets, tables to hold recall
      Cfg("LSH0 (joint auto, batchHint=500)", "lsh",
        base.copy(indexParam = "LSH0", lshBatchHint = 500)),
      Cfg("PQ8 (byte codes)", "pq", base.copy(indexParam = "PQ8")),
      Cfg("PQ8x4 (nibble codes)", "pq", base.copy(indexParam = "PQ8x4")),
      Cfg("OPQ8,PQ8", "opq", base.copy(indexParam = "OPQ8,PQ8")),
      Cfg("PQ8,RFlat (refine x4)", "refine", base.copy(indexParam = "PQ8,RFlat")),
      // r17 refineKFactor sweep: the pool knob vs corpus growth — the
      // fixed ×4 pool decays with n (0.336 recall@10 at 2M); these
      // points measure what raising the override buys, and what it costs
      Cfg("PQ8,RFlat (refine x16)", "refine",
        base.copy(indexParam = "PQ8,RFlat", refineKFactor = 16)),
      Cfg("PQ8,RFlat (refine x64)", "refine",
        base.copy(indexParam = "PQ8,RFlat", refineKFactor = 64)),
      Cfg("PQ8,RFlat (refine x256)", "refine",
        base.copy(indexParam = "PQ8,RFlat", refineKFactor = 256)))
      // optional family subset (comma-separated) and name-substring
      // filters, so a single-config probe at an expensive scale doesn't
      // pay the whole frontier
      .filter(c => sys.env.get("SPARK_GRAFT_RECALL_FAMILY")
        .forall(_.split(",").contains(c.family)))
      .filter(c => sys.env.get("SPARK_GRAFT_RECALL_NAME")
        .forall(c.name.contains))

    def clearState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    /** query id -> ranked neighbor ids */
    def hits(res: DataFrame): Map[Long, Seq[Long]] =
      res.select(col("vec_id").cast("long"), col("sim_item").cast("long"),
          col("rank_no").cast("int"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
        }

    val sections = sfDirs.map { sfDir =>
      val items = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n = items.count()
      val queries = items.filter(col("vec_id") < nQueries)

      // exact ground truth + the latency reference point
      clearState()
      val exactModel = new SparkSearcher(new PassthroughEncoder("embedding"), base)
        .fit(items)
      val t0 = System.nanoTime()
      val exactRes = exactModel.search(queries, k, keepRankNo = true,
        queryIdCol = Some("vec_id"))
      val truth = hits(exactRes)
      val exactSec1 = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      hits(exactModel.search(queries, k, keepRankNo = true,
        queryIdCol = Some("vec_id")))
      val exactSec = math.min(exactSec1, (System.nanoTime() - t1) / 1e9)
      exactModel.unpersist()
      require(truth.size == nQueries, s"expected $nQueries queries, got ${truth.size}")

      val rows = cfgs.map { cfg =>
        clearState()
        val tf = System.nanoTime()
        val model = new SparkSearcher(new PassthroughEncoder("embedding"), cfg.params)
          .fit(items)
        val fitSec = (System.nanoTime() - tf) / 1e9
        // min-of-2 search, recall from the first run (both identical —
        // every path is deterministic given the fitted state)
        val ts1 = System.nanoTime()
        val got = hits(model.search(queries, k, keepRankNo = true,
          queryIdCol = Some("vec_id")))
        val sec1 = (System.nanoTime() - ts1) / 1e9
        val ts2 = System.nanoTime()
        hits(model.search(queries, k, keepRankNo = true,
          queryIdCol = Some("vec_id")))
        val searchSec = math.min(sec1, (System.nanoTime() - ts2) / 1e9)
        model.unpersist()
        val recall = truth.map { case (q, exp) =>
          val gotSet = got.getOrElse(q, Seq.empty).toSet
          exp.count(gotSet.contains).toDouble / k
        }.sum / truth.size
        System.err.println(f"[recall] $sfDir ${cfg.name}%-28s recall@$k=$recall%.3f " +
          f"fit=$fitSec%6.2fs search=$searchSec%6.2fs (exact $exactSec%6.2fs)")
        f"""{"name":"${cfg.name}","family":"${cfg.family}","index":"${cfg.params.indexParam}","recall_at_$k":$recall%.4f,"fit_sec":$fitSec%.3f,"search_sec":$searchSec%.3f}"""
      }
      f"""{"sf":"$sfDir","n":$n,"k":$k,"queries":$nQueries,""" +
        f""""exact_search_sec":$exactSec%.3f,""" +
        s""""configs":[${rows.mkString(",")}]}"""
    }

    val json = s"""{"metric":"recall_at_$k","sections":[${sections.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
