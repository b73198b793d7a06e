package graft

import org.apache.spark.sql.functions._

/**
 * Boilerplate-probe corpus generator — the honest scale witness for
 * [[graft.dedup.Dedup.removeBoilerplate]]'s verbatim-passthrough shape.
 * The ScaleGen corpus can't be one: its copy markers decorrelate every
 * 10-token window across copies, so corpus-wide line document-frequency
 * never crosses `minDocs` and the operator measures the no-op path only;
 * the pre-r10 corpus was degenerate the OTHER way (every line replicated
 * copies× ⇒ every document affected ⇒ the passthrough never fires).
 *
 * This generator models the production mix the operator exists for
 * (C4/RefinedWeb-style web text): a MINORITY of documents (20%) carry
 * shared site chrome — a header and footer line drawn from a bounded pool
 * of "sites" — around unique body lines; the other 80% are wholly unique
 * and must pass through verbatim. Expected shape at any scale: the
 * boilerplate set is `2·sites` distinct lines (df ≈ 0.2·nDocs/sites each,
 * far above minDocs), removal touches 20% of docs, and 80% ship zero
 * bytes through the rebuild shuffle.
 *
 * Fully deterministic (hash arithmetic, no RNG). Each line is EXACTLY 10
 * space-joined tokens, so the bench gate's 10-token reshape reproduces the
 * line boundaries bit-exactly.
 *
 * Usage: runMain graft.BoilerGen <outDir> <nDocs> [sites=1000]
 * Writes <outDir>/documents.parquet; point SPARK_GRAFT_SF_DIR at <outDir>
 * and run `graft.Bench text_boilerplate`.
 */
object BoilerGen {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val nDocs = args(1).toLong
    val sites = if (args.length > 2) args(2).toInt else 1000
    val spark = Harness.session()

    val linesPerDoc = 8
    // site chrome: token t of the header/footer of site j — a bounded
    // vocabulary shared across that site's documents
    def chrome(kind: String, site: org.apache.spark.sql.Column, t: Int) =
      concat(lit(s"$kind"), site, lit(s"w$t"))
    def chromeLine(kind: String, site: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 10).map(t => chrome(kind, site, t)): _*)
    // unique body token: avalanched per (doc, line, token) — shares no
    // 10-token window with any other line anywhere in the corpus
    def bodyLine(l: Int) = concat_ws(" ",
      (0 until 10).map(t =>
        concat(lit("u"), conv(hex(abs(hash(col("doc_id"), lit(l), lit(t)))), 16, 36))): _*)

    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("__site", pmod(hash(col("doc_id"), lit(7)), lit(sites)))
      .withColumn("__hasBp", pmod(hash(col("doc_id"), lit(13)), lit(10)) < 2)
      .withColumn("text", concat_ws(" ",
        (0 until linesPerDoc).map {
          case 0 => when(col("__hasBp"), chromeLine("hdr", col("__site")))
            .otherwise(bodyLine(0))
          case l if l == linesPerDoc - 1 =>
            when(col("__hasBp"), chromeLine("ftr", col("__site")))
              .otherwise(bodyLine(l))
          case l => bodyLine(l)
        }: _*))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "n_chars")
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[boilergen] wrote $nDocs docs ($sites sites, 20% with chrome) -> $out")
    spark.stop()
  }
}
