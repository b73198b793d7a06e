package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.dedup.SimHash62
import graft.functions._

/**
 * The engine's SQL function surface: every native kernel exposed by name.
 * Two installation paths:
 *
 *  - cluster-wide: `--conf spark.sql.extensions=graft.GraftExtensions` (or
 *    a session builder's `.withExtensions(new GraftExtensions)`) — the
 *    deployment shape a shared 1000-executor cluster expects;
 *  - per-session: [[GraftFunctions.register]] on an already-built session
 *    (notebooks, the verify harness).
 */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intArg(e: Expression, what: String): Int = e.eval() match {
    case n: java.lang.Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def two(f: (Expression, Expression) => Expression): Seq[Expression] => Expression =
    es => f(es(0), es(1))

  /** (name, usage, builder) for every engine function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "inner product of two float vectors", two(VecDot)),
    ("vec_cosine", "cosine similarity of two float vectors", two(VecCosine)),
    ("vec_l1", "L1 (manhattan) distance", two(VecL1)),
    ("vec_l2sq", "squared euclidean distance (faiss METRIC_L2)", two(VecL2Sq)),
    ("vec_linf", "chebyshev distance", two(VecLInf)),
    ("vec_bray_curtis", "Bray-Curtis dissimilarity", two(VecBrayCurtis)),
    ("vec_canberra", "Canberra distance", two(VecCanberra)),
    ("vec_jensen_shannon", "Jensen-Shannon divergence", two(VecJensenShannon)),
    ("vec_lp", "Minkowski-p pre-distance: vec_lp(a, b, p)",
      (es: Seq[Expression]) => VecLp(es(0), es(1), es(2).eval() match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case d: java.lang.Number => d.doubleValue()
        case other => throw new IllegalArgumentException(s"p must be numeric, got $other")
      })),
    ("vec_l2_normalize", "L2-normalize a float vector",
      (es: Seq[Expression]) => VecL2Normalize(es.head)),
    ("simhash62", "62-bit SimHash of an array of tokens",
      (es: Seq[Expression]) => SimHash62(es.head)),
    ("simhash62_text",
      "62-bit SimHash straight from raw text (in-kernel lowercase + tokenize)",
      (es: Seq[Expression]) => graft.dedup.SimHash62Text(es.head)),
    // corpus-curation kernels
    ("char_shingles", "distinct character n-grams: char_shingles(text, n)",
      (es: Seq[Expression]) => graft.dedup.CharShinglesExpr(es(0), intArg(es(1), "n"))),
    ("word_shingles", "distinct word w-grams: word_shingles(text, w)",
      (es: Seq[Expression]) => graft.dedup.WordShinglesExpr(es(0), intArg(es(1), "w"))),
    ("minhash_signature",
      "MinHash signature of a shingle array: minhash_signature(shingles, numHashes)",
      (es: Seq[Expression]) => {
        val (a, b) = graft.dedup.Dedup.minHashCoefficients(intArg(es(1), "numHashes"))
        graft.dedup.MinHashSignatureExpr(es(0), a, b)
      }),
    ("band_keys", "LSH band keys of a signature: band_keys(sig, bands, r)",
      (es: Seq[Expression]) => graft.dedup.BandKeysExpr(es(0),
        intArg(es(1), "bands"), intArg(es(2), "r"))),
    ("sorted_hashes", "sorted 64-bit fingerprints of an array<string>",
      (es: Seq[Expression]) => graft.dedup.SortedHashesExpr(es.head)),
    ("sorted_intersect_size", "merge-scan |A∩B| of two sorted long arrays",
      two(graft.dedup.SortedIntersectSize)),
    ("hash_embed", "feature-hashing text embedding: hash_embed(text, dim)",
      (es: Seq[Expression]) => graft.encoders.HashEmbedExpr(es(0), intArg(es(1), "dim"))),
    ("text_normalize", "canonical normalization: NFC + \\s+ collapse + trim",
      (es: Seq[Expression]) => graft.text.NormalizeExpr(es.head)),
    ("lang_id", "marker-profile language identification",
      (es: Seq[Expression]) => graft.text.LangIdExpr(es.head)),
    ("quality_score", "composite document quality score in [0,1]",
      (es: Seq[Expression]) => graft.text.QualityExpr(es.head)),
    ("text_stats",
      "struct(n_tok_ws, n_tok_bpe, mean_tok_len, punct_ratio, stopword_ratio)",
      (es: Seq[Expression]) => graft.text.TextStatsExpr(es.head)),
    ("fingerprint", "polynomial rolling-hash document fingerprint",
      (es: Seq[Expression]) => graft.text.FingerprintExpr(es.head)))

  /** Install every function into an extensions hook (cluster-wide path). */
  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }

  /** Register every function on an already-built session, and apply the
    * engine's declared session defaults ([[GraftConf]]). */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name, usage), builder)
    }
    GraftConf.applySessionDefaults(spark)
  }
}

/**
 * Engine session defaults — conf values the engine's operators are
 * designed against, applied ONCE, declared, at session setup (every graft
 * main calls this; [[GraftFunctions.register]] applies it on the
 * per-session install path; a cluster deploy sets the same keys in
 * spark-defaults). A key the user already set — builder `.config`,
 * spark-defaults, or an earlier `spark.conf.set` — is NEVER overridden:
 * detection reads the session's explicitly-set entries, so even setting a
 * key to its Spark default counts as a user decision and wins.
 */
object GraftConf {

  /** ObjectHashAggregate falls back to sort-based aggregation at this many
    * DISTINCT KEYS per task hash map, regardless of state size. The
    * searcher's top-k merge ([[graft.search.TopKAggregate.mergeHits]])
    * carries a k-BOUNDED heap (~16 B/hit), so the conservative 128
    * default turns any >128-query batch into a full sort of the
    * (queries × corpus) scored stream — r15 measured 40 GB spilled and
    * 3–9× wall-clock at a 500-query sf100 batch. 65536 keys of top-k
    * state is ≤ a few MB per task. The flip side, and why this is a
    * declared SESSION decision rather than a hidden operator mutation:
    * the same knob governs unbounded-state aggregates (collect_list /
    * collect_set), where 64k keys of large collected states per task can
    * pressure a small executor heap — a deployment tuning dedup-heavy
    * jobs on small executors may prefer to pin the key lower, and that
    * explicit setting always wins here. */
  val TopKFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  def applySessionDefaults(spark: SparkSession): Unit =
    // getAll lists EXPLICITLY-set entries only (registered confs at their
    // default are absent), so this distinguishes "unset" from "user set it
    // to 128" — the guard an equality test against the default cannot give
    if (!spark.conf.getAll.contains(TopKFallbackKey))
      spark.conf.set(TopKFallbackKey, "65536")
}

/** `spark.sql.extensions` entry point — see [[GraftFunctions]].
  *
  * The extensions hook can only inject functions (Spark hands it no live
  * session), so it cannot apply [[GraftConf]] defaults. Deploys that
  * enable graft this way are still covered two ways: every operator
  * entry point ([[graft.search.SparkSearcher.fit]],
  * [[GraftFunctions.register]], the graft mains) applies the defaults
  * itself, and SQL-only sessions set the one required key in
  * spark-defaults.conf (documented in README "Deploying on a cluster"). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
