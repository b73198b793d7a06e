package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence dump: prints `explain formatted` for a set of SparkEntry
  * gates, fenced per query, for pasting into PLANS_EXPLAINS.md. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> [gate,gate,...]"
  *
  * With no gate list, dumps the representative set (flagship + one per
  * physical access-path family). Unlike Bench this never executes a
  * gate's final plan — `explainString` compiles the physical plan only;
  * the jobs a gate runs while building it (index fits) still run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq(
        "knn_cos_top10",    // flagship: exact brute-force broadcast top-k
        "knn_ivf_pruned",   // IVF cell pruning
        "knn_pq_cos",       // PQ ADC over byte codes
        "knn_fp16_cos",     // SQfp16 decode fused into the scoring projection
        "knn_sq4_cos",      // nibble-packed 4-bit ADC
        "knn_pcaw_cos",     // PCAW transform prefix before the inner index
        "text_quality_model", // hashed linear scorer, single codegen projection
        "text_perplexity",  // bigram-LM NLL, count maps as reference objects
        "text_bm25",        // zero-shuffle broadcast-df BM25
        "dedup_simhash_auto", // corpus-scaled banding
        "q_percentiles_hist") // two-pass histogram narrowing
    val spark = Harness.session()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown gate '$name'"))
      println(s"## $name\n")
      println("```")
      println(fn(spark, sfDir).queryExecution.explainString(FormattedMode).trim)
      println("```\n")
    }
    spark.stop()
  }
}
