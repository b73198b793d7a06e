package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.{ObservedJob, SparkSpec}
import graft.encoders.PassthroughEncoder

/** The Spark jobs an index build and open run. An IVF fit over an input
  * of at least the session's parallelism in partitions shuffles nothing;
  * a save runs one job (the items write) and a load one (the items read
  * into the cache), whatever metadata tables the kind keeps: those are
  * written and read on the driver. */
class SaveLoadJobsSpec extends SparkSpec {

  private val vecType = ArrayType(FloatType, containsNull = false)

  /** `n` Gaussian rows of width `dim`, a local relation of one partition
    * per core. */
  private def corpus(n: Int, dim: Int): DataFrame = {
    val rnd = new scala.util.Random(5)
    spark.createDataFrame(java.util.Arrays.asList((0 until n).map(i =>
      Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat), s"tag$i")): _*), StructType(Seq(
      StructField("vec_id", LongType, nullable = false), StructField("embedding", vecType),
      StructField("tag", StringType))))
  }

  private val items = corpus(600, 32)
  private val queries = items.limit(6)

  private def fitSaveLoad(param: String): (Seq[ObservedJob], Seq[ObservedJob], Seq[ObservedJob]) = {
    val (model, fit) = jobsOf(new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"), measurement = "l2",
        indexParam = param, hnswGraphs = 2)).fit(items))
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString + "/index"
    try {
      val (_, save) = jobsOf(model.save(dir))
      val (loaded, load) = jobsOf(SparkSearcher.load(spark, dir))
      def hits(m: SearcherModel) = m.search(queries, 5, keepRankNo = true, queryIdCol = Some("vec_id"))
        .select("vec_id", "rank_no", "sim_item", "sim_val").collect().map(_.toSeq).toSet
      try assert(hits(loaded) == hits(model), "the loaded model serves what the fitted one does")
      finally loaded.unpersist()
      (fit, save, load)
    } finally model.unpersist()
  }

  private def names(jobs: Seq[ObservedJob]) = jobs.map(_.stageNames.mkString(" / ")).mkString("\n")

  test("IVF8: fit runs at most 3 jobs and shuffles nothing; save and load run 1 job each") {
    val (fit, save, load) = fitSaveLoad("IVF8")
    assert(fit.length <= 3, s"fit ran ${fit.length} jobs:\n${names(fit)}")
    // a stage with a parent reads a shuffle
    assert(fit.forall(_.stages.forall(_.parentIds.isEmpty)), s"fit shuffled:\n${names(fit)}")
    assert(save.length == 1, s"save ran ${save.length} jobs:\n${names(save)}")
    assert(load.length == 1, s"load ran ${load.length} jobs:\n${names(load)}")
  }

  for (param <- Seq("PQ4", "OPQ4,PQ4", "SQ8", "LSH8x6", "PCAW16,IVF8,PQ4,RFlat"))
    test(s"$param: save and load run 1 job each") {
      val (_, save, load) = fitSaveLoad(param)
      assert(save.length == 1, s"save ran ${save.length} jobs:\n${names(save)}")
      assert(load.length == 1, s"load ran ${load.length} jobs:\n${names(load)}")
    }

  // HNSW keeps no metadata table; its load re-co-locates each graph
  // through a shuffle, so only its save is counted here
  test("HNSW8: save runs 1 job") {
    val (_, save, _) = fitSaveLoad("HNSW8")
    assert(save.length == 1, s"save ran ${save.length} jobs:\n${names(save)}")
  }
}
