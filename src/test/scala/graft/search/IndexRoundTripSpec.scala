package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.encoders.PassthroughEncoder

/** Persistence laws over every index spelling the engine serves, one test
  * per spelling:
  *
  *  - save → load → search returns the same rows and `sim_val` as search;
  *  - `add` on the loaded model equals `add` on the fitted model;
  *  - the `describe` row is equal across save/load.
  */
class IndexRoundTripSpec extends SparkSpec {

  private val codeKinds = Seq("PQ4", "PQ4x4", "IVF8,PQ4", "SQ8", "SQ4", "SQfp16",
    "IVF8,SQ8", "IVF8,SQfp16", "OPQ4,PQ4")
  private val spellings = Seq("Flat", "IVF8", "IVF0") ++ codeKinds ++
    Seq("HNSW8", "LSH8x6", "LSH0") ++ codeKinds.map(_ + ",RFlat") ++
    Seq("PCAW16,IVF8,PQ4,RFlat")

  private def rows(df: DataFrame): Seq[Row] =
    df.select("vec_id", "rank_no", "sim_item", "sim_val", "label")
      .orderBy("vec_id", "rank_no").collect().toSeq

  for (param <- spellings) test(s"save/load/add laws: $param") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val more = emb.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 100000)
    def search(m: SearcherModel) =
      rows(m.search(q, 5, keepRankNo = true, queryIdCol = Some("vec_id")))
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        indexParam = param, hnswGraphs = 2)).fit(emb)
    val before = search(model)
    assert(before.nonEmpty)
    val described = model.describe.collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-roundtrip").toString
    model.save(dir)
    val loaded = SparkSearcher.load(spark, dir)
    assert(search(loaded) === before, "save -> load -> search must equal search")
    assert(loaded.describe.collect().toSeq === described, "describe across save/load")
    val grownFit = model.add(more)
    val grownLoad = loaded.add(more)
    assert(grownLoad.count === grownFit.count)
    assert(search(grownLoad) === search(grownFit), "add on loaded must equal add on fitted")
    grownFit.unpersist(); grownLoad.unpersist()
  }
}
