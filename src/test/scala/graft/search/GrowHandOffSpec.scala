package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.encoders.PassthroughEncoder

/** How a grown model hands its rows from one generation to the next.
  * Spark drops a persisted union's cache entry when the union's parent is
  * unpersisted, so a grow op that persisted the union and then released
  * the model it grew from would make the NEXT grow op replay the whole
  * lineage, the fit's source and encoding included (for an HNSW model, a
  * base-graph rebuild per `add`). `add` instead materialises the union
  * through an eager `localCheckpoint`, whose blocks depend on nothing, and
  * only then releases the parent cache. */
class GrowHandOffSpec extends SparkSpec {

  /** In-memory table scans in `df`'s executed plan. `df` runs first: AQE
    * fixes the final plan only when it executes. */
  private def cacheScans(df: DataFrame): Int = {
    df.collect()
    "InMemoryTableScan".r.findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("Spark: unpersisting a persisted union's parent drops the union's cache entry; a projection keeps its") {
    val sp = spark
    import sp.implicits._
    def grouped() = spark.range(100000L).select(col("id"), (col("id") % 7).as("k"))
      .groupBy("k").agg(sum(col("id")).as("s")).persist()
    // a typed part, like the rows `add` encodes
    def part() = spark.range(5L).select(col("id").as("k"), col("id").as("s"))
      .as[(Long, Long)].mapPartitions(_.map(identity)).toDF("k", "s")
    val parent = grouped()
    parent.count()
    val union = parent.unionByName(part()).persist()
    union.count()
    val next = part()
    assert(cacheScans(union.unionByName(next)) > 0, "a live union cache is substituted")
    parent.unpersist()
    assert(cacheScans(union.unionByName(next)) === 0,
      "after its parent's unpersist the same plan no longer finds the union's cache")
    union.unpersist()

    val parent2 = grouped()
    parent2.count()
    val proj = parent2.select(col("k"), (col("s") + 1).as("s1")).persist()
    proj.count()
    parent2.unpersist()
    assert(cacheScans(proj.filter(col("k") >= 0)) > 0, "a projection's cache survives its parent's unpersist")
    proj.unpersist()
  }

  test("add: from the second add on, a grown model never reads the source it was fitted from") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val reads = spark.sparkContext.longAccumulator("fit source reads")
    val counted = udf { (id: Long) => reads.add(1); id }
    val fitted = emb.filter(col("vec_id") < 400).withColumn("vec_id", counted(col("vec_id")))
    def fit(df: DataFrame, param: String) =
      new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = param, nprobe = 8)).fit(df)
    def hits(m: SearcherModel) = m.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
      .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
    val union = fit(emb, "Flat")
    val expected = hits(union)
    union.unpersist()
    // IVF8 probes all 8 cells, so its grown index serves the exact top-k
    for (param <- Seq("Flat", "IVF8")) {
      val once = fit(fitted, param).add(emb.filter(col("vec_id") >= 400 && col("vec_id") < 500))
      reads.reset()
      val twice = once.add(emb.filter(col("vec_id") >= 500))
      val got = hits(twice)
      assert(reads.value === 0L, s"$param: the second add and a search read the fit's source ${reads.value} times")
      assert(got === expected, s"$param: two adds serve what a fit on the union does")
      twice.unpersist()
    }
  }
}
