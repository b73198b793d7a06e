package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/**
 * Deduplication operators for large-scale corpus curation — the
 * training-data-pipeline extension of the engine (BASELINE.json north
 * star). All operators are declarative DataFrame plans: exact dedup is one
 * hash aggregation; near-dup pipelines are shingle → signature → banded
 * self-join → verify, the standard MinHash-LSH shape, with every join an
 * equi-join on a computed key so it shuffles by key instead of comparing
 * all pairs (the O(n²) the LSH exists to avoid at 100 TB).
 */
object Dedup {

  import org.apache.spark.sql.graftshim.GraftSql.{column => toCol, expression => toExpr}

  /** Distinct character n-gram shingles — single-pass codegen kernel
    * ([[CharShinglesExpr]]; the HOF-lambda formulation is interpreted and
    * recomputed per reference, see ShingleExpressions scaladoc). */
  def charShingles(text: Column, n: Int): Column =
    toCol(CharShinglesExpr(toExpr(text), n))

  /** Word w-gram shingles over whitespace tokens — the standard granularity
    * for document-level near-dup detection: far lower per-shingle document
    * frequency than character n-grams, so the prefix-filter and LSH joins
    * stay selective even on repetitive corpora. */
  def wordShingles(text: Column, w: Int): Column =
    toCol(WordShinglesExpr(toExpr(text), w))

  /**
   * Exact deduplication by key columns: one hash aggregation. Returns
   * `[<keys…>, keep_id, n_dups]` where `keep_id` is the smallest id in the
   * group (deterministic survivor) and `n_dups` the group size.
   */
  /** Rank each doc's shingles by global rarity `(df asc, s asc)` and keep
    * only the prefix (`rk ≤ sz − ⌈t·sz⌉ + 1`): one hash exchange on the
    * doc id, a partition-local sort, and a streaming rank pass — no Window
    * buffering, and non-prefix rows never leave the scan. Input columns
    * `(s, id, sz, df)` in any order; output `[id, sz, s, rk]`. */
  private def prefixRank(joined: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val base = joined.select(col("id"), col("sz"), col("s"), col("df"))
    val schema = StructType(
      base.schema.fields.take(3) :+ StructField("rk", IntegerType, nullable = false))
    val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      RowEncoder.encoderFor(schema)
    val t = threshold
    base.repartition(col("id"))
      .sortWithinPartitions(col("id"), col("df"), col("s"))
      .mapPartitions { it =>
        var curId: Any = null
        var started = false
        var rk = 0
        it.flatMap { r =>
          val id = r.get(0)
          if (!started || id != curId) { curId = id; started = true; rk = 0 }
          rk += 1
          val sz = r.getInt(1)
          // same arithmetic as the SQL bound: sz − ceil(sz·t) + 1 in double
          if (rk <= sz - math.ceil(sz * t) + 1)
            Some(org.apache.spark.sql.Row(id, sz, r.get(2), rk))
          else None
        }
      }(enc)
  }

  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /**
   * EXACT n-gram Jaccard near-duplicate pairs via a prefix-filtered
   * set-similarity join (the PPJoin family): identical output to the naive
   * all-pairs shingle join, but candidates are generated only from each
   * document's *prefix* — its `|A| − ⌈t·|A|⌉ + 1` globally-rarest shingles
   * under one corpus-wide frequency order. Any pair with `J ≥ t` must share
   * a prefix shingle (standard prefix-filter bound), and rare shingles have
   * small join buckets, so the quadratic blow-up on ubiquitous shingles
   * never happens — this is what keeps exact Jaccard feasible at corpus
   * scale (the naive join was 500+ s at sf0.1; this is seconds).
   * Returns `[id_a, id_b, jaccard]` with `id_a < id_b`.
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame =
    jaccardPairsBy(df, idCol, charShingles(col(textCol), n), threshold)

  /** Word-shingle variant — see [[wordShingles]]. */
  def jaccardPairsWords(df: DataFrame, idCol: String, textCol: String, w: Int,
      threshold: Double): DataFrame =
    jaccardPairsBy(df, idCol, wordShingles(col(textCol), w), threshold)

  def jaccardPairsBy(df: DataFrame, idCol: String, shingle: Column,
      threshold: Double): DataFrame = {
    // the shingle table feeds 6 subtrees (frequency count, both prefix
    // sides, both verify sides) — persist it so the source is scanned and
    // shingled ONCE, not per subtree (at corpus scale the re-scan dwarfs
    // everything else); evicted by Spark's LRU when consumers finish
    // shingle STRINGS never persist and never shuffle: the shingle set is
    // distinct by construction, so its sorted 64-bit hash array IS the
    // set — the prefix machinery runs on 8-byte fingerprints (any
    // globally-consistent total order is valid for the PPJoin prefix
    // bound, and the exact hs-intersect verify makes the final pair set
    // independent of the order), and the corpus-wide persist carries
    // (id, sz, hs) instead of (id, strings, sz, hs) — the string arrays
    // were the largest column in the cache
    val sh = df.select(col(idCol).as("id"), shingle.as("__sh"))
      .withColumn("sz", size(col("__sh")))
      .filter(col("sz") > 0) // empty shingle sets: no prefix, jaccard 0/0
      .select(col("id"), col("sz"),
        toCol(SortedHashesExpr(toExpr(col("__sh")))).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("id"), col("sz"), explode(col("hs")).as("s"))
    // one global rarity order: corpus-wide shingle document-frequency
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // per-doc rarity rank WITHOUT the Window operator: repartition by doc,
    // sort within partitions, assign ranks in one streaming mapPartitions
    // pass that also applies the prefix bound — the Window formulation
    // buffered every doc's full shingle group and carried the rank through
    // an extra projection before filtering; this emits only the (small)
    // prefix rows. Equivalent output: same (df asc, s asc) total order per
    // doc, same ⌈·⌉ bound arithmetic (double ceil on both sides).
    // persisted: BOTH candidate-join sides consume it, and Catalyst does
    // not reuse the subtree across the self-join (measured: the
    // explode+freq-join pass ran twice without this)
    val prefix = prefixRank(ex.join(freq, "s"), threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates: share a prefix shingle + size-compatible (t·max ≤ min) +
    // PPJoin POSITIONAL filter: matching at ranks (rk_a, rk_b) bounds the
    // intersection by 1 + min(remaining tokens on each side), which must
    // reach the J ≥ t overlap minimum α = t·(|A|+|B|)/(1+t). Valid on the
    // first common token in the global rarity order — and whenever a pair
    // shares ANY prefix token, that first common token is itself in both
    // prefixes (prefixes are order-downward-closed), so keeping a pair when
    // any of its matches passes loses nothing and prunes most of the
    // verify load (measured: 310k → far fewer candidate pairs for 256 true)
    val a = prefix.select(col("id").as("id_a"), col("sz").as("sz_a"), col("rk").as("rk_a"), col("s"))
    val b = prefix.select(col("id").as("id_b"), col("sz").as("sz_b"), col("rk").as("rk_b"), col("s"))
    val cands = a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") >= col("sz_b") * threshold &&
        col("sz_b") >= col("sz_a") * threshold &&
        lit(1) + least(col("sz_a") - col("rk_a"), col("sz_b") - col("rk_b")) >=
          ceil((col("sz_a") + col("sz_b")) * threshold / (1 + threshold)))
      .select("id_a", "id_b").distinct()
    // verify candidates on the full sets, via sorted-hash merge scans
    // (64-bit fingerprints: collision-free in practice, no per-pair string
    // hashing or result-array allocation — this was the pipeline hotspot)
    val full = sh.select(col("id"), col("hs"), col("sz"))
    val pairs = cands
      .join(full.select(col("id").as("id_a"), col("hs").as("hs_a"), col("sz").as("sz_a")), "id_a")
      .join(full.select(col("id").as("id_b"), col("hs").as("hs_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("common",
        toCol(SortedIntersectSize(toExpr(col("hs_a")), toExpr(col("hs_b")))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // materialize the (small) pair list, free the corpus-sized shingle and
    // prefix tables — a long-lived session must not accumulate them
    graft.util.CacheDiscipline.materializeAndFree(pairs, sh, prefix)
  }

  /**
   * CROSS-corpus exact Jaccard overlap — the decontamination operator: find
   * benchmark documents whose w-gram overlap with any training document
   * reaches `threshold` (test-set leakage detection). Asymmetric by
   * design: `left` is the benchmark/eval set (small — thousands of docs),
   * `right` is the training corpus (the 100 TB side).
   *
   * Only the LEFT side carries a prefix. The single-sided prefix-filter
   * bound needs no order agreement with the other side at all: `J ≥ t`
   * with the size filter `|B| ≥ t·|A|` forces `|A∩B| ≥ ⌈t·|A|⌉`, and any
   * `|A| − ⌈t·|A|⌉ + 1` elements of `A` must then intersect `B` —
   * otherwise the overlap fits inside the remaining `⌈t·|A|⌉ − 1`
   * elements. So candidates = (left prefixes) ⋈ (ALL right shingles), an
   * equi-join whose build side is a few thousand rare shingles.
   *
   * What the corpus side therefore NEVER pays: no `row_number` window
   * (the previous symmetric variant sorted every corpus doc's shingles by
   * global rarity — a full-corpus shuffle), no corpus-side document
   * frequency ranking, no prefix materialization. The right side is
   * explode → broadcast-join → exact verify of the few survivors; left
   * prefixes are still picked rarest-first (by RIGHT-side df, the side
   * whose bucket sizes matter) so the join buckets stay small. Candidates
   * verify exactly — output identical to the symmetric formulation.
   * Returns `[left_id, right_id, jaccard]`.
   */
  def crossJaccardPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, w: Int, threshold: Double): DataFrame = {
    def shingled(df: DataFrame) = df
      .select(col(idCol).as("id"), wordShingles(col(textCol), w).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .withColumn("hs", toCol(SortedHashesExpr(toExpr(col("sh")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shL = shingled(left)
    val shR = shingled(right)
    val exL = shL.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val exR = shR.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    // ONE corpus pass: broadcast-semi-join the corpus's shingle stream
    // down to left-vocabulary hits. Everything downstream (document
    // frequency for the rarity ranking, candidate generation) derives
    // from this small hit set — the 100 TB side is scanned once and
    // never shuffled
    val leftVocab = exL.select(col("s")).distinct()
    val matches = exR.join(broadcast(leftVocab), "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df of left's shingles in the corpus, used ONLY to pick left
    // prefixes rarest-first (performance, not correctness — any prefix
    // choice is sound); left shingles absent from the corpus get df 0:
    // maximally rare AND they join to nothing
    val freqL = matches.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val wnd = Window.partitionBy(col("id")).orderBy(col("df").asc, col("s").asc)
    val a = exL.join(broadcast(freqL), Seq("s"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(wnd))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id").as("left_id"), col("sz").as("sz_a"), col("s"))
    val cands = matches
      .select(col("id").as("right_id"), col("sz").as("sz_b"), col("s"))
      .join(broadcast(a), Seq("s"))
      .filter(col("sz_a") >= col("sz_b") * threshold &&
        col("sz_b") >= col("sz_a") * threshold)
      .select("left_id", "right_id").distinct()
    // verify: attach left hashes to the (small) candidate list, then
    // stream the corpus's hash table past a broadcast of it — the exact
    // intersection runs corpus-partition-local, again shuffle-free
    val withLeft = cands.join(
      shL.select(col("id").as("left_id"), col("hs").as("hs_a"), col("sz").as("sz_a")),
      "left_id")
    val pairs = shR.select(col("id").as("right_id"), col("hs").as("hs_b"), col("sz").as("sz_b"))
      .join(broadcast(withLeft), "right_id")
      .withColumn("common",
        toCol(SortedIntersectSize(toExpr(col("hs_a")), toExpr(col("hs_b")))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
    graft.util.CacheDiscipline.materializeAndFree(pairs, shL, shR, matches)
  }

  /**
   * Exact token n-gram decontamination — the eval-overlap check the
   * GPT-3/PaLM/Llama reports run before training: a training document is
   * contaminated if any of its token `w`-grams appears anywhere in the
   * evaluation set. Returns `[<idCol>, n_hits, n_distinct, contaminated]`
   * for EVERY training document (occurrence count, distinct eval grams
   * hit, 0/1 flag; null/short texts count 0).
   *
   * Shape at 100 TB: the eval side is a benchmark suite — tiny by
   * construction — so its distinct gram fingerprints collect to one
   * sorted long array that rides into a codegen expression as a plan
   * reference (the [[graft.search.NearestCentroids]] broadcast pattern).
   * The training corpus is then ONE projection scan: no join, no
   * shuffle, no exploded gram stream on the big side. Grams travel as
   * the same 64-bit fingerprints as [[dedupSpans]] (the gate's oracle
   * joins gram STRINGS, doubling as the collision canary).
   *
   * The broadcast path holds every distinct eval gram on the driver and
   * in each task — bounded by `maxBroadcast` (default 8M grams ≈ 64 MB
   * as a sorted long array; hard-clamped to 2^28 grams ≈ 2 GB, the most
   * a single task array should ever hold — a larger `maxBroadcast` takes
   * the join path at the clamp and the fallback log reports the
   * effective cap). Decontaminating against a held-out CORPUS
   * rather than a benchmark suite crosses that bound, and the operator
   * falls back to the fingerprint equi-join shape ([[dedupSpans]]' plan):
   * explode the train grams, join the eval gram table, two-level
   * aggregate back to per-doc counts. Same result, one corpus shuffle
   * instead of zero — the price of an eval set that no longer fits in
   * memory. Both paths are exact and gate-equivalent.
   */
  def decontaminateNgrams(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, w: Int = 8, maxBroadcast: Long = 8000000L): DataFrame = {
    val evalGrams = eval
      .filter(col(textCol).isNotNull)
      .select(explode(toCol(GramHashesExpr(toExpr(col(textCol)), w))).as("g"))
      .distinct()
    // ONE action decides the path AND feeds the broadcast: collect at most
    // maxBroadcast+1 distinct grams — one extra row proves the bound is
    // crossed without counting the full set first (the earlier
    // persist+count+collect triple paid two jobs and a cache write on the
    // small-eval path every real decontam run takes)
    val cap = math.min(maxBroadcast, 1L << 28).toInt
    val probe = evalGrams.limit(cap + 1).collect()
    if (probe.length <= cap) {
      val evalSorted: Array[Long] = probe.map(_.getLong(0)).sorted
      val hits = toCol(GramHitsExpr(toExpr(col(textCol)), w, evalSorted))
      train.select(col(idCol), hits.as("h"))
        .select(col(idCol),
          coalesce(col("h.n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("h.n_distinct"), lit(0L)).as("n_distinct"))
        .withColumn("contaminated", (col("n_hits") > 0L).cast("int"))
    } else {
      ccLog.info(s"decontaminateNgrams: distinct eval grams exceed the " +
        s"effective broadcast cap $cap (= min(maxBroadcast=$maxBroadcast, " +
        s"2^28)) -> fingerprint equi-join path")
      val trainGrams = train
        .filter(col(textCol).isNotNull)
        .select(col(idCol).as("__did"),
          explode(toCol(GramHashesExpr(toExpr(col(textCol)), w))).as("g"))
      // evalGrams is consumed exactly once here, so it is NOT persisted —
      // the join recomputes the eval distinct in place of a cache pass
      val perDoc = trainGrams.join(evalGrams, "g")
        .groupBy(col("__did"), col("g")).agg(count(lit(1)).as("__c"))
        .groupBy(col("__did"))
        .agg(sum(col("__c")).as("n_hits"), count(lit(1)).as("n_distinct"))
      train.select(col(idCol))
        .join(perDoc.withColumnRenamed("__did", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
        .withColumn("contaminated", (col("n_hits") > 0L).cast("int"))
    }
  }

  /**
   * Duplicated-span flagging (the Lee et al. "Deduplicating Training Data
   * Makes Language Models Better" granularity, reduced to its
   * hash-join core): a document is flagged when any of its word `w`-grams
   * occurs in at least `minDf` documents — catching boilerplate and
   * copied passages that whole-document near-dup metrics dilute away
   * (a 5% shared span in two long documents is invisible to Jaccard at
   * any usable threshold).
   *
   * Shape at scale: explode distinct w-grams → one hash aggregation for
   * per-gram document frequency → equi-join the hot grams back. Each
   * stage shuffles by gram key only; nothing is quadratic and nothing is
   * collected. (The reference granularity is suffix-array exact
   * substrings; distinct w-gram hashing is the standard distributed
   * approximation — every duplicated span of ≥ w tokens is still caught.)
   *
   * Returns `[doc_id, n_grams, n_hot, max_df]`: total distinct w-grams,
   * how many of them are shared (df ≥ minDf), and the document frequency
   * of its most-duplicated span.
   */
  def duplicatedSpanDocs(df: DataFrame, idCol: String, textCol: String,
      w: Int, minDf: Int = 2): DataFrame = {
    // grams travel as 64-bit fingerprints, never strings: the df shuffle
    // moves 8 bytes per gram instead of ~8·w chars (same trick as the
    // Jaccard verify path — collision-free in practice, and the output
    // carries only counts). Persisted: it feeds both the df aggregation
    // and the join-back, and re-shingling the corpus is the larger cost.
    val ex = df
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), w).as("sh"))
      .withColumn("n_grams", size(col("sh")).cast("long"))
      .filter(col("n_grams") > 0)
      .select(col("doc_id"), col("n_grams"),
        explode(toCol(SortedHashesExpr(toExpr(col("sh"))))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shingles are distinct per doc, so count(*) per gram = document
    // frequency — no count(distinct) shuffle needed. The join-back (not a
    // per-gram collect_list) keeps a boilerplate gram shared by millions
    // of docs from materializing one giant array on a single task.
    val hot = ex.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val flagged = ex.join(hot, "g")
      .groupBy(col("doc_id"))
      .agg(min(col("n_grams")).as("n_grams"), // constant per doc
        count(lit(1)).as("n_hot"),
        max(col("df")).as("max_df"))
    graft.util.CacheDiscipline.materializeAndFree(flagged, ex)
  }

  /**
   * Line-level corpus dedup that REMOVES repeated lines and returns the
   * cleaned corpus — the Lee et al. "Deduplicating Training Data Makes
   * Language Models Better" substring dedup at exact line granularity
   * (the granularity every production LLM pipeline runs first: boilerplate
   * headers, navigation, license blocks). Each distinct line (≥ `minLen`
   * chars) keeps exactly its FIRST occurrence — ordered by `(doc_id,
   * line position)` — everywhere else it is dropped, including repeats
   * within one document; lines shorter than `minLen` are never touched
   * (blank lines and separators are structure, not duplication). Returns
   * `[doc_id, text_dedup]` for EVERY input document: null text stays
   * null, a document whose every line was removed becomes `""`.
   *
   * Shape at scale: explode lines once (persisted — it feeds both sides),
   * one hash aggregation per distinct line FINGERPRINT for the global
   * first occurrence, an equi-join back, and one per-document reassembly
   * aggregation. Lines travel the first-occurrence shuffle as 64-bit
   * xxhash fingerprints, not strings (the span-flagging trick above).
   * Past `smallCorpusBytes` (free Catalyst estimate) the persisted stream
   * itself goes narrow — `(doc_id, pos, lh)` from the one-pass byte-scan
   * kernel [[LineHashKernel.lineHashes]], ~20 bytes/line instead of the
   * line strings' on-heap churn — and only occurrences of DUPLICATED
   * fingerprints re-extract their strings positionally from the original
   * documents (the [[removeBoilerplate]] narrow-cache design).
   * Removal is VERIFIED on the line STRING, not just the fingerprint
   * (the [[removeBoilerplate]] hardening): duplicated fingerprints — a
   * tiny `__cnt > 1` subset of the hash agg — recover their canonical
   * first-occurrence string from the persisted explode (AQE broadcasts
   * the candidate set at any realistic dup rate, so strings still never
   * leave the partitions that cached them), and an occurrence only counts
   * as removed when its string equals that canonical string. A 64-bit
   * collision therefore can never delete unique content; the colliding
   * minority string keeps its own duplicates (under-removal, the safe
   * direction for a best-effort dedup — the gate's oracle groups by the
   * line itself and stays the canary). Nothing is quadratic, nothing is
   * collected; per-task memory is bounded by the largest single document
   * (the reassembly sort).
   */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 1, delim: String = "\n",
      smallCorpusBytes: Long = 256L << 20): DataFrame = {
    require(minLen >= 0, s"minLen must be >= 0, got $minLen")
    val delimQ = java.util.regex.Pattern.quote(delim)
    // Two cache shapes behind one result, thresholded on the free
    // Catalyst size estimate — the [[removeBoilerplate]] pattern. Below
    // the threshold the exploded corpus persists WITH its line strings
    // (one explode, every later stage reads the cache). Above it that
    // cache is the on-heap string-churn class, so only (doc_id, pos, lh)
    // persists — produced by the one-pass byte-scan kernel
    // ([[LineHashKernel.lineHashes]], no regex, no java String
    // round-trip) — and the DUPLICATED minority recovers its strings by
    // positional re-extraction from the original documents.
    val narrowPath = narrowTrigger(df, smallCorpusBytes)
    // the narrow path scans the documents three times (narrow build,
    // occurrence re-extraction, rebuild); when the INPUT PLAN itself is
    // expensive to re-run ([[rescanIsExpensive]]) those re-scans re-pay
    // it each time — persist the (id, text) projection once instead
    // (r15 sf100 decomposition: the two re-scans were ~44 s of the
    // operator's 75.9 s; the persist costs what one pass costs)
    val inCached = narrowPath && rescanIsExpensive(df)
    val in = {
      val in0 = df.select(col(idCol).as("doc_id"), col(textCol).as("__orig"))
      if (inCached)
        in0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else in0
    }
    val (removed, caches) = if (!narrowPath) {
      val lines = df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          posexplode(split(col(textCol), delimQ, -1))
            .as(Seq("pos", "line")))
        .withColumn("lh", xxhash64(col("line")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // global first occurrence per eligible line fingerprint: one hash agg
      // over 8-byte keys; min(struct) orders by (doc_id, pos) — deterministic.
      // Only DUPLICATED fingerprints (__cnt > 1) survive — a cnt==1 hash can
      // never produce a removal, and the filter keeps the join build side to
      // the duplicated minority
      val elig = lines.filter(length(col("line")) >= minLen)
      val cand = elig
        .groupBy(col("lh"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("__f"),
          count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > 1)
        .select(col("lh").as("__clh"), col("__f.doc_id").as("__fdoc"),
          col("__f.pos").as("__fpos"))
      // canonical first-occurrence STRINGS, recovered partition-locally from
      // the persisted explode — cand is ~24-byte rows over the duplicated
      // minority, so AQE broadcasts it and no line string shuffles here
      val canon = elig
        .join(cand, col("lh") === col("__clh")
          && col("doc_id") === col("__fdoc") && col("pos") === col("__fpos"))
        .select(col("__clh").as("__klh"), col("__fdoc"), col("__fpos"),
          col("line").as("__fline"))
      // removed POSITIONS per affected doc (every non-first occurrence whose
      // STRING matches the canonical first — the collision guard): only
      // position ints reach the per-doc aggregation. Untouched documents —
      // the majority at any realistic dup rate — pass their text through
      // VERBATIM below; the earlier shape regrouped and re-sorted EVERY line
      // of EVERY document through a corpus-wide collect_list shuffle
      // (dedup_paragraphs measured 28.7x/decade on the r10 sf100 probe
      // through exactly that rebuild). canon is duplicated-firsts-sized, so
      // this join broadcasts too and the occurrence strings stay put
      val rm = elig
        .join(canon, col("lh") === col("__klh"))
        .filter(!(col("__fdoc") === col("doc_id") && col("__fpos") === col("pos")))
        .filter(col("line") === col("__fline"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("__rm"))
      (rm, Seq(lines))
    } else {
      // scan-partitioned narrow persist (the r14 boilerplate lesson: no
      // pre-persist repartition — the df/first-occurrence agg ships
      // map-side-combined volume through the session-knob exchange)
      val narrow = in.filter(col("__orig").isNotNull)
        .select(col("doc_id"),
          explode(toCol(LineHashesExpr(toExpr(col("__orig")), delim, minLen)))
            .as("__plh"))
        .select(col("doc_id"), col("__plh.pos").as("pos"),
          col("__plh.lh").as("lh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = narrow
        .groupBy(col("lh"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("__f"),
          count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > 1)
        .select(col("lh").as("__clh"), col("__f.doc_id").as("__fdoc"),
          col("__f.pos").as("__fpos"))
      // every occurrence of a duplicated fingerprint, with its string
      // re-extracted positionally: group the occurrences per doc, join the
      // affected documents (a minority at any realistic dup rate), split
      // each text ONCE row-locally. cand carries ~24-byte rows over the
      // duplicated minority, so AQE broadcasts the join; no hint — a
      // degenerate all-duplicate corpus must shuffle (banded-join
      // discipline). A zero-candidate short-circuit (persist cand, count,
      // skip the join machinery when empty) was MEASURED A LOSS here
      // (sf100: paragraphs 2.07× → 2.50× control, BENCH_r14_sf100_lines2
      // vs _lines): hoisting the candidate aggregation out of the
      // occurrence DAG costs one full extra narrow-cache pass whenever
      // candidates exist — and at corpus scale they essentially always
      // do (even the dup-free-by-construction ScaleGen corpus repeats
      // short tail segments). The agg stays fused in this DAG.
      val occ = narrow.join(cand, col("lh") === col("__clh"))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("pos"), col("lh"),
          col("__fdoc"), col("__fpos"))).as("__ps"))
        .join(in.select(col("doc_id"), col("__orig").as("__t")),
          Seq("doc_id"))
        .withColumn("__parts", split(col("__t"), delimQ, -1))
        .select(col("doc_id"), explode(transform(col("__ps"), p =>
          struct(p("pos").as("pos"), p("lh").as("lh"),
            p("__fdoc").as("__fdoc"), p("__fpos").as("__fpos"),
            element_at(col("__parts"), p("pos") + 1).as("line")))).as("__c"))
        .select(col("doc_id"), col("__c.pos").as("pos"),
          col("__c.lh").as("lh"), col("__c.__fdoc").as("__fdoc"),
          col("__c.__fpos").as("__fpos"), col("__c.line").as("line"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // canonical first-occurrence strings and the string-verified removal
      // set both read the small occurrence cache — semantics identical to
      // the strings-in-cache path above, including the collision guard
      val canon = occ
        .filter(col("doc_id") === col("__fdoc") && col("pos") === col("__fpos"))
        .select(col("lh").as("__klh"), col("line").as("__fline"))
      val rm = occ.join(canon, col("lh") === col("__klh"))
        .filter(!(col("__fdoc") === col("doc_id") && col("__fpos") === col("pos")))
        .filter(col("line") === col("__fline"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("__rm"))
      (rm, if (inCached) Seq(narrow, occ, in) else Seq(narrow, occ))
    }
    val parts = split(col("__orig"), delimQ, -1)
    val out = in
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__orig").isNull, lit(null).cast("string"))
          .when(col("__rm").isNull, col("__orig"))
          .otherwise(array_join(
            transform(
              array_except(sequence(lit(0), size(parts) - 1), col("__rm")),
              p => element_at(parts, p + 1)),
            delim)).as("text_dedup"))
    graft.util.CacheDiscipline.materializeAndFree(out, caches: _*)
  }

  /**
   * Boilerplate-line removal — the frequency-threshold sibling of
   * [[dedupLines]]: a line occurring in ≥ `minDocs` DISTINCT documents is
   * boilerplate (cookie banners, license headers, navigation chrome — the
   * C4/RefinedWeb "repeated line" cleanup) and is removed from EVERY
   * document, including its first occurrence — where [[dedupLines]] keeps
   * one copy, boilerplate keeps none, because the line never was content.
   * Lines shorter than `minLen` chars are structure and never touched.
   * Returns `[doc_id, text_clean]` for every input document (null text
   * stays null; a fully-boilerplate document becomes `""`).
   *
   * Shape at scale: ONE explode pass; past `smallCorpusBytes` (free
   * Catalyst size estimate, no action) its projection keeps only
   * (doc_id, pos, lh) — ~20 bytes/line persists, never the strings —
   * so the corpus-wide shuffle is the 16-byte (lh, doc_id) hash-df
   * aggregation (`count(distinct doc_id)` resolved as a two-level agg
   * so the per-line distinct never materializes a set). CANDIDATE rows
   * (hash-df ≥ minDocs — tiny by Zipf) recover their strings by
   * positional re-extraction: group candidate positions per doc, join
   * the affected documents, split each one's text ONCE row-locally.
   * Both the per-string recount and the removed-position pass read
   * that small candidate cache. Below the threshold the exploded lines
   * persist with their strings — no extraction machinery, ~0.6 s
   * cheaper at sf0.1. The boilerplate SET is the `df ≥ minDocs`
   * survivor filter over those candidates — tiny by construction, so
   * the join back broadcasts under AQE.
   * Membership is verified on the line STRING, not just the 64-bit
   * fingerprint — the boilerplate table carries its canonical string for
   * free, so a fingerprint collision cannot delete innocent content (the
   * gate's oracle groups by string; this makes production match it).
   * Untouched documents — the majority on a realistic corpus, where
   * boilerplate hits a minority of docs — pass their text through
   * VERBATIM: only documents that actually lose a line ship their removed
   * POSITIONS (ints) through the rebuild shuffle, where the earlier shape
   * regrouped and re-sorted every line of every document.
   */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, minLen: Int = 1, delim: String = "\n",
      smallCorpusBytes: Long = 256L << 20): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val delimQ = java.util.regex.Pattern.quote(delim)
    def exploded = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), delimQ, -1))
          .as(Seq("pos", "line")))
      .filter(length(col("line")) >= minLen)
    // document frequency per line STRING (the oracle's grouping), in two
    // phases so the corpus-wide shuffle moves 16-byte pairs, not line
    // strings: (1) hash-level df over (lh, doc_id) — a line repeated
    // inside one doc counts once; (2) candidate lines whose HASH df
    // crossed minDocs (a superset of the string-df survivors, tiny by
    // Zipf) are recounted grouped by the string itself. Keying the final
    // threshold by the string means two colliding strings can never
    // jointly push __df past minDocs — the earlier per-hash count could
    // remove a line whose true string-level df was below threshold —
    // while the strings that travel through a shuffle are the candidate
    // set only (the single-phase string-keyed recount measured
    // 20x/decade on the 5M-doc BoilerGen witness: it re-shuffled the
    // whole exploded corpus as ~700-byte rows).
    //
    // Two cache shapes behind one result, thresholded on the FREE
    // Catalyst size estimate (no extra action — the same stats the
    // optimizer trusts for broadcast decisions). Below the threshold
    // the exploded corpus persists WITH its strings: one explode, three
    // cheap cache reads, no re-extraction machinery — measured ~0.6 s
    // cheaper per sf0.1 bench query. Above it, that cache is tens of GB
    // of on-heap string churn (the minhash GC-collapse class), so only
    // (doc_id, pos, lh) persists (~20 bytes/line) and CANDIDATE rows get
    // their strings back by positional re-extraction: group candidate
    // positions per doc, join the affected documents, split each text
    // ONCE row-locally (sf100: 72.5 → 61.9 s). The candHashes join
    // carries no broadcast hint: a normal corpus has a tiny candidate
    // set and AQE broadcasts it, a degenerate one (every line shared) is
    // corpus-sized and must shuffle — the banded self-join discipline.
    val narrowPath = narrowTrigger(df, smallCorpusBytes)
    // persist an EXPENSIVE-to-re-run input once (see [[dedupLines]] —
    // the narrow path otherwise re-pays the input plan on the candidate
    // re-extraction and the rebuild; bare scans stay uncached)
    val inCached = narrowPath && rescanIsExpensive(df)
    val in = {
      val in0 = df.select(col(idCol).as("doc_id"), col(textCol).as("__orig"))
      if (inCached)
        in0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else in0
    }
    val (candSource, caches) =
      if (!narrowPath) {
        val lines = exploded
          .withColumn("lh", xxhash64(col("line")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (lines, Seq(lines))
      } else {
        // persist at SCAN partitioning; the df aggregation ships map-side-
        // combined (lh, doc_id) volume through the session-knob exchange.
        // The r13 "one sized exchange serves agg and join" variant
        // (repartition(selfSizedParts, lh) before the persist) was measured
        // a pure loss at sf100 — 61.9 s/3.17× (r12, BENCH_r12_sf100_boiler3)
        // → 86.2 s/4.37× (BENCH_r14_sf100_boiler, control stable, task GC
        // 54 → 103 s): the generate-inflated stats estimate drove the
        // partition cap, rewriting the whole raw narrow stream into
        // thousands of tiny cache blocks that every later stage then paid
        // for, while the exchange it "replaced" only ever carried combined
        // aggregation volume. The candidate join needs no co-partitioning
        // either: candHashes is tiny by Zipf and AQE broadcasts it.
        // The (pos, lh) stream itself comes from the one-pass byte-scan
        // kernel ([[LineHashKernel.lineHashes]], bit-equal to the
        // split/posexplode/xxhash64 pipeline the small path keeps): the
        // regex split round-tripped every document through
        // java.lang.String and allocated one String per line — the sf100
        // decomposition put that kernel stage at ~2/3 of the operator.
        val narrow = in.filter(col("__orig").isNotNull)
          .select(col("doc_id"),
            explode(toCol(LineHashesExpr(toExpr(col("__orig")), delim, minLen)))
              .as("__plh"))
          .select(col("doc_id"), col("__plh.pos").as("pos"),
            col("__plh.lh").as("lh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (narrow, if (inCached) Seq(narrow, in) else Seq(narrow))
      }
    val candHashes = candSource
      .groupBy(col("lh"), col("doc_id")).agg(count(lit(1)).as("__n"))
      .groupBy(col("lh")).agg(count(lit(1)).as("__dfh"))
      .filter(col("__dfh") >= minDocs)
      .select(col("lh"))
    val cand =
      if (!narrowPath)
        candSource.join(candHashes, Seq("lh"))
          .select(col("doc_id"), col("pos"), col("lh"), col("line"))
      else
        candSource.join(candHashes, Seq("lh"))
          .groupBy(col("doc_id"))
          .agg(collect_list(struct(col("pos"), col("lh"))).as("__ps"))
          .join(in.select(col("doc_id"), col("__orig").as("__t")), Seq("doc_id"))
          .withColumn("__parts", split(col("__t"), delimQ, -1))
          .select(col("doc_id"), explode(transform(col("__ps"), p =>
            struct(p("pos").as("pos"), p("lh").as("lh"),
              element_at(col("__parts"), p("pos") + 1).as("line")))).as("__c"))
          .select(col("doc_id"), col("__c.pos").as("pos"),
            col("__c.lh").as("lh"), col("__c.line").as("line"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allCaches = if (narrowPath) caches :+ cand else caches
    val boiler = cand
      .groupBy(col("lh"), col("line"), col("doc_id")).agg(count(lit(1)).as("__n2"))
      .groupBy(col("lh"), col("line")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("lh"), col("line").as("__bl"))
    // removed positions per AFFECTED doc: inner join against the tiny
    // boilerplate set (string-verified), only position ints shuffle
    val removed = cand.join(boiler, Seq("lh"))
      .filter(col("line") === col("__bl"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__rm"))
    val parts = split(col("__orig"), delimQ, -1)
    val out = in
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__orig").isNull, lit(null).cast("string"))
          .when(col("__rm").isNull, col("__orig"))
          .otherwise(array_join(
            transform(
              array_except(sequence(lit(0), size(parts) - 1), col("__rm")),
              p => element_at(parts, p + 1)),
            delim)).as("text_clean"))
    graft.util.CacheDiscipline.materializeAndFree(out, allCaches: _*)
  }

  /**
   * Span-level corpus dedup that REMOVES duplicated token spans and
   * returns the cleaned corpus — the finest granularity of the Lee et al.
   * substring-dedup family ([[dedupLines]] is the line-level sibling;
   * [[duplicatedSpanDocs]] only FLAGS). Every token `w`-gram that occurs
   * more than once corpus-wide keeps exactly its first occurrence —
   * ordered by `(doc_id, token position)` — and every OTHER occurrence
   * has its `w` covered tokens deleted (overlapping duplicated grams
   * union their covered ranges, so a long copied passage vanishes as a
   * block). Masking is single-pass over the original corpus — the
   * standard distributed approximation of suffix-array exact-substring
   * dedup: any duplicated run of ≥ `w` tokens is caught; runs shorter
   * than `w` are below the resolution and kept. Returns
   * `[doc_id, text_dedup]` for every input document (null text stays
   * null; a fully-masked document becomes `""`).
   *
   * Shape at scale: grams travel as 64-bit fingerprints of the
   * `U+0001`-joined token window (8 bytes per gram through the shuffle;
   * the gate's oracle groups by the gram STRING, making it a collision
   * canary). One hash aggregation on the fingerprint finds each gram's
   * global first occurrence and count; only duplicate OCCURRENCES (a
   * small fraction of the corpus) expand into covered positions, which
   * collapse to ONE bounded per-document array. Untouched documents —
   * the overwhelming majority at any realistic dup rate — pass their
   * text through without being exploded, joined, or reassembled;
   * affected documents rebuild with a linear `array_except` positional
   * mask inside one projection. (The first cut exploded every token and
   * reassembled every document through a corpus-wide sort aggregation —
   * at 100× data that measured 7×/decade, dominated by GC; this shape
   * keeps the corpus-sized work to the gram fingerprint stream alone.)
   * Nothing is quadratic, nothing is collected.
   */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int, hotDf: Long = 32, maxHotBroadcast: Long = 2000000,
      minHotOcc: Long = 1L << 22): DataFrame = {
    require(w >= 2, s"span width must be >= 2 tokens, got $w")
    // only (id, text) is cached — token arrays materialize exclusively in
    // the rebuild projection of AFFECTED documents — and only when the
    // input PLAN is expensive to re-run ([[rescanIsExpensive]]): the two
    // consumers (gram stream, rebuild) re-read a bare columnar scan
    // cheaper than a corpus-sized cache writes (r15 sf100 decomposition:
    // 1.5 s per text re-scan)
    val base = {
      val base0 = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      // KNOWN-small inputs persist too: the cache is a few MB and saves
      // the per-scan fixed costs (file listing, codegen) the r15 builder
      // bench measured at ~0.4 s on the sf0.1 gate; unknown estimates
      // (the >= 2^56 sentinel class) count as large
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (rescanIsExpensive(df) || est < BigInt(256L << 20))
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    }
    val toks = filter(split(col("__text"), " ", -1), t => length(t) > 0)
    // positioned gram fingerprints: gram at gp covers tokens [gp, gp+w-1].
    // Single-pass codegen kernel ([[GramHashesExpr]]) — no per-position
    // gram strings; a short document (< w tokens) yields an empty array,
    // so the explode drops it without a separate filter.
    // The stream is repartitioned by its JOIN KEY at an operator-sized
    // partition count (selfSizedParts — the session knob leaves ~GB sort
    // partitions at the 5M-doc decade): hash-partitioning on gh satisfies
    // BOTH the firsts aggregation's clustering and the grams⋈firsts join,
    // so the one explicit exchange replaces the agg's and the join's —
    // Catalyst reuses the exchange and the gram kernel materializes ONCE
    // on the plain path (it previously ran once per consumer exchange)
    val gramsPre = base
      .filter(col("__text").isNotNull)
      .select(col("doc_id"),
        posexplode(toCol(GramHashesExpr(toExpr(col("__text")), w)))
          .as(Seq("gp", "gh")))
    val sessParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gramParts = selfSizedParts(sessParts,
      gramsPre.queryExecution.optimizedPlan.stats.sizeInBytes)
    // THRESHOLDED (r12 pattern): the explicit exchange moves the RAW gram
    // stream. Below session capacity the firsts⋈grams join broadcasts
    // under AQE and the aggregation shuffles map-side-combined volume, so
    // the exchange would ADD raw-stream volume for nothing (the r13 sf0.1
    // drift on the spans family); it engages only once the estimate says
    // the stream outgrows the session knob — exactly where the join stops
    // broadcasting and one raw exchange serving both consumers wins.
    val grams =
      if (gramParts > sessParts) gramsPre.repartition(gramParts, col("gh"))
      else gramsPre
    // global first occurrence + occurrence count per gram: one 8-byte-key
    // hash aggregation; min(struct) = deterministic (doc_id, gp) order
    val firsts = grams.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("gp"))).as("__first"),
        count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // HOT-GRAM SPLIT (third-decade skew guard): a gram duplicated m times
    // lands m occurrences on ONE reducer key of the grams⋈firsts join, and
    // in a clone-heavy corpus the hot tail is most of the join volume —
    // the r10 sf100 probe's covered-position expansion. Heavy-hitter grams
    // (df ≥ hotDf) are few by Zipf, so their first-occurrence table
    // BROADCASTS: their occurrences — the bulk — never shuffle at all, and
    // the residual cold join has per-key fan-in < hotDf (no skew). Falls
    // back to the single shuffle join when (a) the hot table outgrows the
    // broadcast cap (a corpus where millions of DISTINCT grams each repeat
    // ≥ hotDf times — at that density the shuffle is the data, not skew),
    // or (b) no SINGLE gram repeats `minHotOcc` times: skew only breaks a
    // shuffle join when one key's occurrences alone overwhelm one reducer
    // task, so the trigger is the MAX per-gram count, not aggregate hot
    // volume. (The r12 interleaved witness on a 5M-doc corpus with a
    // 1000-site chrome pool — max df ≈ 10³, hot volume ≈ 10⁸ — measured
    // the split at PARITY-to-2×-slower vs the plain join across 3×
    // machine variance: thousands of rows per key is a normal shuffle,
    // and the split's extra gram materialization buys nothing. The
    // aggregate-volume trigger it replaces would have engaged there.)
    // ONE agg action on the persisted firsts resolves all three stats.
    val isNotFirst = !(col("__first.doc_id") === col("doc_id") &&
      col("__first.gp") === col("gp"))
    val splitStats = firsts.agg(
      sum(when(col("__c") >= hotDf, lit(1L)).otherwise(lit(0L))),
      max(col("__c"))).head()
    val nHot = if (splitStats.isNullAt(0)) 0L else splitStats.getLong(0)
    val maxDf = if (splitStats.isNullAt(1)) 0L else splitStats.getLong(1)
    val splitEngaged = nHot > 0 && nHot <= maxHotBroadcast &&
      maxDf >= minHotOcc
    // on the split path the corpus-wide shingle kernel would otherwise be
    // evaluated three times (firsts agg, hot join, cold join) — persist
    // the gram stream so it materializes once (freed with the rest)
    val gramsEval =
      if (splitEngaged)
        grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else grams
    val dupOcc =
      if (splitEngaged) {
        ccLog.info(s"dedupSpans hot-gram broadcast: $nHot grams with df>=$hotDf, " +
          s"max single-gram df $maxDf")
        val hotTbl = firsts.filter(col("__c") >= hotDf).select(col("gh"), col("__first"))
        val hotOcc = gramsEval.join(broadcast(hotTbl), Seq("gh"))
        val coldOcc = gramsEval.join(
          firsts.filter(col("__c") < hotDf).select(col("gh"), col("__first")),
          Seq("gh"))
        hotOcc.unionByName(coldOcc)
      } else gramsEval.join(firsts.select(col("gh"), col("__first")), Seq("gh"))
    // duplicate occurrences = every occurrence except the global first.
    // Only the gram START positions shuffle (8 bytes per occurrence — the
    // earlier explode shipped all w covered positions per occurrence);
    // the w-wide windows expand inside the per-document projection below.
    val covered = dupOcc
      .filter(isNotFirst)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("gp"))).as("__gps"))
    // untouched docs pass through VERBATIM (zero-copy; the oracle mirrors
    // this); affected docs rebuild via a linear positional mask: window
    // expansion + overlap dedup happen in one row-local projection,
    // array_except keeps surviving positions in order, element_at gathers
    // their tokens — one projection, no re-sort
    val covPositions = array_distinct(flatten(transform(col("__gps"),
      g => sequence(g, g + (w - 1)))))
    val out = base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__text").isNull, lit(null).cast("string"))
          .when(col("__gps").isNull, col("__text"))
          .otherwise(array_join(
            transform(
              array_except(sequence(lit(0), size(toks) - 1), covPositions),
              p => element_at(toks, p + 1)),
            " ")).as("text_dedup"))
    if (splitEngaged)
      graft.util.CacheDiscipline.materializeAndFree(out, base, firsts, gramsEval)
    else
      graft.util.CacheDiscipline.materializeAndFree(out, base, firsts)
  }

  /**
   * MinHash signature: `numHashes` permutation-hashes over the shingle
   * set, each `min((a_i · h(s) + b_i) mod p)` with `h` = xxhash64 and
   * deterministic seeded coefficients — one narrow projection, no shuffle.
   */
  def minHashSignature(text: Column, n: Int, numHashes: Int): Column =
    minHashSignatureBy(charShingles(text, n), numHashes)

  /** Deterministic permutation coefficients, exposed so the DuckDB oracle
    * builder can embed the exact same values. */
  def minHashCoefficients(numHashes: Int): (Array[Long], Array[Long]) = {
    val p = graft.functions.PolyHash.P
    val rnd = new scala.util.Random(42)
    val coefA = Array.fill(numHashes)(math.abs(rnd.nextLong()) % (p - 1) + 1)
    val coefB = Array.fill(numHashes)(math.abs(rnd.nextLong()) % p)
    (coefA, coefB)
  }

  def minHashSignatureBy(shingles: Column, numHashes: Int): Column = {
    // 2^31 − 1 (Mersenne prime): (a·h + b) stays < 2^62, no ANSI long
    // overflow; plenty of hash space for min-hashing. All numHashes minima
    // computed in ONE pass over the shingles (MinHashSignatureExpr).
    val (coefA, coefB) = minHashCoefficients(numHashes)
    toCol(MinHashSignatureExpr(toExpr(shingles), coefA, coefB))
  }

  /**
   * LSH banding: split each signature into `bands` bands of
   * `numHashes/bands` rows, hash each band, self-join on
   * `(band_index, band_hash)` — candidate pairs collide on ≥1 band.
   * Returns distinct `[id_a, id_b]`, `id_a < id_b`. The join is an
   * equi-join on the band key: co-partitioned shuffle, never all-pairs.
   */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // docs shorter than the shingle width have EMPTY shingle sets — their
    // signatures are all-sentinel and would band-collide with every other
    // short doc; they cannot be near-dups of anything, so drop them first
    val sig = df.select(col(idCol).as("id"),
      charShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), minHashSignatureBy(col("sh"), numHashes).as("sig"))
    val banded = sig.select(col("id"), posexplode(
      toCol(BandKeysExpr(toExpr(col("sig")), bands, r))).as(Seq("band", "bh")))
    val left = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    // SHUFFLE_MERGE pinned — banded self-join discipline (see
    // minHashNearDups): never broadcast a corpus-sized banded side
    left.join(right.hint("shuffle_merge"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash near-dup pipeline: banded candidates, then exact-Jaccard
    * verification of only the candidate pairs (join back to the texts).
    *
    * Two routes, identical rows. The signature job fills the persisted
    * `(id, sz, sig)` table and observes its row count and gram total. When
    * `rows·(bands+1)·8 + 8·Σsz` — the band keys and ids of every row plus
    * every fingerprint, the most the driver could receive — is under an
    * internal 256 MB cap (and the candidate pairs, at 16 bytes each, fit
    * what is left of it), the candidates and the verify run on the driver
    * ([[NearDupRoute]]: one job for the band keys, one for the candidates'
    * fingerprints) and the result is a local relation. Otherwise the
    * banded self-join and verify joins run distributed from the filled
    * cache, and nothing past the cap reaches the driver. Integral ids
    * only take the driver route; other id types always run distributed. */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.7): DataFrame =
    pairsFrame(df, minHashRouted(df, idCol, textCol, n, numHashes, bands, threshold))

  private def minHashRouted(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): Routed = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // ONE fused kernel call per row ([[ShingleStatsKernel]]) produces the
    // distinct-gram count, the sorted exact-Jaccard fingerprints, and the
    // minhash signature — no per-gram strings on ASCII text, and only the
    // numeric columns persist. The previous charShingles → size/hashes/
    // signature trio materialized ~500 five-char strings per document
    // (≈6 GB on-heap at sf10) and was GC-bound: 12–18 s of task GC per
    // run, 3–7× wall-clock swings with heap pressure. Empty-shingle docs
    // (shorter than the shingle width) drop: their all-sentinel
    // signatures would band-collide with every other short doc and their
    // jaccard is 0/0 — mirrors the oracle's WHERE len(s) > 0.
    val (coefA, coefB) = minHashCoefficients(numHashes)
    // expensive-to-re-run inputs persist once as the (id, text) source:
    // the signature pass and the candidate fingerprint recovery both
    // scan it ([[rescanIsExpensive]]; bare scans stay uncached)
    val srcCached = rescanIsExpensive(df)
    val src = {
      val s0 = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      if (srcCached)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val st = toCol(ShingleStatsExpr(toExpr(col("__t")), n, coefA, coefB))
    // corpus-wide persist carries (sz, sig) ONLY — 256 bytes/doc. The
    // exact-jaccard fingerprint arrays (~4 KB/doc; 20 GB on-heap at 5M
    // docs) are recomputed below for CANDIDATE ids only: the r12 sf100
    // probe measured the old full-corpus hs persist GC-BOUND — 325-543 s
    // of task GC per repeat and 2x run-to-run swings from old-gen churn.
    // Candidates are a small fraction of the corpus at any realistic dup
    // rate, so one extra kernel pass over them costs far less than
    // keeping every document's array alive through the whole pipeline.
    val texts = src.select(col("id"), st.as("st"))
      .select(col("id"), col("st.sz").as("sz"), col("st.sig").as("sig"))
      .filter(col("sz") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandedJaccardVerify(src, n, bands, r, threshold, texts,
      if (srcCached) Seq(src) else Nil)
  }

  /**
   * Banded one-permutation-hashing near-dup pipeline — the O(r·grams)
   * signature sibling of [[minHashNearDups]] ([[OphSigKernel.ophSig]]:
   * `r = numBins / bands` independent permutations, one per band ROW,
   * each range-binned into `bands` per-bin minima; empty bins
   * rotation-densified within their permutation) feeding the SAME
   * banding, candidate join and exact-Jaccard verification. Precision is
   * identical by construction — every emitted pair passed the exact
   * set-Jaccard threshold. Because a band's `r` components come from `r`
   * DIFFERENT permutations they are independent, so the per-band
   * collision probability is ≈ J^r — the classic operating point — and
   * the candidate volume tracks classic's (the earlier single-permutation
   * variant's within-band correlation inflated sf100 candidates 10.5M vs
   * classic 3.1M, spending its kernel win on verify work), while the
   * signature pass still does `r` (= 8 at the defaults) multiply/fold/min
   * per gram instead of the classic numHashes (= 64; sf100 signature
   * pass 33.4 s classic vs 9.7 s at one permutation — this scheme sits
   * proportionally between). MinHashOphSpec measures banded recall
   * against the classic kernel. Deterministic; bit-exact DuckDB oracle
   * (dedup_minhash_oph). The candidates and verify take the same two
   * routes as [[minHashNearDups]]: on the driver under the internal
   * 256 MB cap on the signature table's band keys and fingerprints,
   * distributed above it, identical rows either way.
   */
  def minHashNearDupsOph(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numBins: Int = 64, bands: Int = 8,
      threshold: Double = 0.7): DataFrame =
    pairsFrame(df, ophRouted(df, idCol, textCol, n, numBins, bands, threshold))

  private def ophRouted(df: DataFrame, idCol: String, textCol: String,
      n: Int, numBins: Int, bands: Int, threshold: Double): Routed = {
    require(numBins % bands == 0, "numBins must divide into bands")
    val r = numBins / bands
    // the r permutations are `minHashCoefficients(r)` — one shared seed
    // story with the oracle builder, which embeds the identical values.
    // NOTE: these are NOT the first r (a, b) pairs of the classic 64-hash
    // kernel: minHashCoefficients fills all of coefA before coefB, so
    // minHashCoefficients(r) pairs rnd1..rndr with rnd(r+1)..rnd(2r)
    // while the 64-hash sequence pairs rnd1 with rnd65. Kernel and
    // oracle agree because BOTH call minHashCoefficients(r); "unifying"
    // this with the classic pairs would silently diverge the gate from
    // its oracle.
    val (ca, cb) = minHashCoefficients(r)
    // same input-persist discipline as [[minHashNearDups]]
    val srcCached = rescanIsExpensive(df)
    val src = {
      val s0 = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      if (srcCached)
        s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else s0
    }
    val st = toCol(OphSigExpr(toExpr(col("__t")), n, ca, cb, numBins))
    val texts = src.select(col("id"), st.as("st"))
      .select(col("id"), col("st.sz").as("sz"), col("st.sig").as("sig"))
      .filter(col("sz") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandedJaccardVerify(src, n, bands, r, threshold, texts,
      if (srcCached) Seq(src) else Nil)
  }

  /** Self-sized partition count for an operator-owned heavy shuffle over a
    * corpus-derived stream — the [[embeddingNearDupsLsh]] technique
    * generalized (r12: session-default 32 partitions spilled its bucket
    * join 85.3 s vs 27.7 s self-sized at sf100). `estimate` is the FREE
    * Catalyst size estimate of the stream's plan; for text corpora that
    * figure carries parquet-COMPRESSED provenance and undercounts the
    * in-flight exploded row volume ~4–20× (r13 probe at sf0.1: spans
    * grams 255 KB estimated vs ~4.7 MB in flight, boilerplate lines
    * 178 KB vs ~600 KB), so the target is ~4 MB of estimate per
    * partition ≈ 64 MB in flight at the worst observed ratio. Never
    * below the session setting (small corpora keep their plans
    * unchanged — sizing engages only when the estimate says the stream
    * outgrows the session knob), capped at 4096. No action, no count.
    *
    * Plans with NO file-backed provenance (RDD-converted DataFrames, some
    * views) report `spark.sql.defaultSizeInBytes` — Long.MaxValue by
    * default — as their estimate; trusting that would silently force the
    * 4096 cap onto arbitrarily small inputs. Any estimate past an
    * implausible ceiling (2^56 ≈ 72 PB — far above any real single-plan
    * estimate, far below the sentinel and its propagated multiples) is
    * treated as "unknown" and self-sizing stands down to the session
    * knob the user tuned. */
  private def selfSizedParts(sess: Int, estimate: BigInt): Int =
    if (estimate >= BigInt(1L << 56)) sess
    else math.max(sess, (estimate / (4L << 20) + 1).min(BigInt(4096)).toInt)

  /** Narrow-cache trigger shared by [[dedupLines]] and
    * [[removeBoilerplate]]: true only when the FREE Catalyst size
    * estimate is KNOWN (below the `defaultSizeInBytes` sentinel class,
    * ≥ 2^56 — RDD-converted or view-backed inputs report Long.MaxValue)
    * AND above the small-corpus threshold. An unknown estimate falls
    * back to the strings-in-cache path: both paths are spec-pinned
    * result-equal, but the narrow machinery is measured slower at small
    * scale and a sentinel says nothing about actual size — the same
    * discipline [[selfSizedParts]] applies to partition sizing. */
  private def narrowTrigger(df: DataFrame, smallCorpusBytes: Long): Boolean = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    est < BigInt(1L << 56) && est > smallCorpusBytes
  }

  /** True when RE-SCANNING `df` plausibly pays real compute — any
    * operator above the leaves beyond pruning/filtering (joins, aggs,
    * generates, unions), or a projection whose expressions do real work
    * (the parsed/normalized-upstream pipeline shape; tree size > 8 nodes
    * separates `alias(cast(col))` from `transform(...)/split(...)`
    * chains). The multi-pass line operators persist such inputs ONCE:
    * the r15 sf100 decomposition read one pass of the dedup_lines gate's
    * reshape at 21.9 s vs persist + 3 cache reads at 21.5 s — while a
    * bare columnar scan re-read at 1.5 s, so raw scans stay UNcached
    * (at 100 TB a cache write of the raw corpus trades free parquet
    * re-reads for a corpus-sized spill). */
  private[dedup] def rescanIsExpensive(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    def heavy(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.collect { case _ => 1 }.sum > 8
    // a NONDETERMINISTIC input (monotonically_increasing_id, uuid, rand)
    // is not merely expensive to re-scan — it is UNSAFE: two independent
    // evaluations hand the multi-pass operators two different id
    // assignments, silently mismatching the gram stream against the
    // rebuild join. Such plans always persist, however cheap their tree.
    val nondeterministic = df.queryExecution.optimizedPlan.exists(
      _.expressions.exists(e => !e.deterministic))
    nondeterministic || df.queryExecution.optimizedPlan.exists {
      case p: Project => p.projectList.exists(heavy)
      // a filter re-runs its CONDITION on every re-scan: a predicate
      // doing real compute (a quality-flag struct, a tokenizing check)
      // makes the re-scan expensive even under a trivial projection
      case f: Filter => heavy(f.condition)
      case _: LeafNode => false
      case _ => true
    }
  }

  /** Verified near-dup pairs of the minhash family: held on the driver with
    * the id column's field (the route of [[NearDupRoute]]), or the
    * distributed route's checkpointed frame. */
  private type Routed = Either[(DriverPairs, org.apache.spark.sql.types.StructField), DataFrame]

  /** The `[id_a, id_b, jaccard]` frame of either route. */
  private def pairsFrame(df: DataFrame, routed: Routed): DataFrame = routed match {
    case Left((p, id)) => NearDupRoute.frame(df.sparkSession, p, id.dataType, id.nullable)
    case Right(pairs) => pairs
  }

  /** Shared tail of the minhash family: fill the persisted `texts`
    * (id, sz, sig) table, observing its row count and gram total on that
    * same job; then verify on the driver ([[NearDupRoute]]) when its bytes
    * fit the route's cap, else band it, self-join on the band keys for
    * candidates, recover sorted gram fingerprints for CANDIDATE ids only
    * and verify by exact set-Jaccard, distributed, from the filled cache.
    * Both routes give the same rows. `texts` must be persisted by the
    * caller (both self-join sides consume it; without the persist the
    * signature kernel runs twice). */
  private def bandedJaccardVerify(src: DataFrame, n: Int, bands: Int,
      r: Int, threshold: Double, texts: DataFrame,
      srcCaches: Seq[DataFrame]): Routed = {
    // the banded self-join's sides are bands × corpus rows; the operator
    // sizes their partitioning itself instead of riding the session knob
    // (see selfSizedParts). Repartitioning by the JOIN KEY once, BEFORE
    // the persist, makes the cached table's partitioning satisfy both
    // self-join sides — the join then plans with zero additional
    // exchanges (the two per-side exchanges the unpartitioned cache paid).
    // Sized before the fill below, from the same plan estimate as ever
    val sessParts = src.sparkSession.sessionState.conf.numShufflePartitions
    val bandedPre = texts.select(col("id"), posexplode(
      toCol(BandKeysExpr(toExpr(col("sig")), bands, r))).as(Seq("band", "bh")))
    val joinParts = selfSizedParts(sessParts,
      bandedPre.queryExecution.optimizedPlan.stats.sizeInBytes)
    def free(): Unit = (texts +: srcCaches).foreach(_.unpersist(blocking = false))
    val local = try {
      val m = graft.util.CacheDiscipline.observeOnCache(texts, count(lit(1)),
        coalesce(sum(col("sz").cast("long")), lit(0L)))
      NearDupRoute.pairs(src, texts, n, bands, r, threshold, m.getLong(0), m.getLong(1))
    } catch { case e: Throwable => free(); throw e }
    if (local.isDefined) {
      free()
      return Left((local.get, src.schema("id")))
    }
    val banded = bandedPre
      .repartition(joinParts, col("band"), col("bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    // SHUFFLE_MERGE pinned: both sides are the banded corpus; the cached
    // signature table's small size estimate must not flip this to a
    // driver-built broadcast of the whole banded side (the simhash sf10
    // probe measured 4x on that plan flip)
    val cands = left.join(right.hint("shuffle_merge"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // fingerprint arrays for candidate ids only: one corpus scan joined
    // against the (small, AQE-broadcast) candidate id set — the shingle
    // kernel runs on matched rows only, after the join. The stats
    // kernel's signature output is unused on this pass, so the cheapest
    // valid coefficient set (ONE pair) replaces the caller's — result
    // columns (sz, hs) are coefficient-independent
    val (ca1, cb1) = minHashCoefficients(1)
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val hsTab = src
      .join(candIds, Seq("id"))
      .select(col("id"),
        toCol(ShingleStatsExpr(toExpr(col("__t")), n, ca1, cb1)).as("st2"))
      .select(col("id"), col("st2.hs").as("hs"), col("st2.sz").as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = cands
      .join(hsTab.select(col("id").as("id_a"), col("hs").as("hs_a"), col("sz").as("sz_a")), "id_a")
      .join(hsTab.select(col("id").as("id_b"), col("hs").as("hs_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("common",
        toCol(SortedIntersectSize(toExpr(col("hs_a")), toExpr(col("hs_b")))))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    Right(graft.util.CacheDiscipline.materializeAndFree(pairs,
      (Seq(texts, banded, hsTab) ++ srcCaches): _*))
  }

  /**
   * 62-bit SimHash over whitespace tokens (two polynomial hashes per
   * token, [[SimHashKernels]]): each bit votes ±1; the vote signs form
   * the fingerprint. One codegen'd expression ([[SimHash62]]), single
   * pass, bit-exactly reproducible in DuckDB SQL.
   */
  def simHash62(text: Column): Column =
    // coalesce makes the expression NON-NULLABLE, so the join-key
    // isnotnull constraint inferred downstream constant-folds instead of
    // being pushed into the scan as a second full simhash evaluation per
    // row (the round-2 regression: the pushed filter re-ran the whole
    // interpreted tokenize+hash before the projection ran it again)
    toCol(SimHash62Text(toExpr(coalesce(text, lit("")))))

  /** Chunk (offset, width) partition of the 62-bit space into `chunks`
    * contiguous pieces, widths as even as possible — shared with the
    * oracle builder. */
  def simHashChunks(chunks: Int): Seq[(Int, Int)] = {
    val base = SimHashKernels.Bits / chunks
    val rem = SimHashKernels.Bits % chunks
    val widths = Seq.tabulate(chunks)(c => if (c < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Block count for [[simHashNearDups]] scaled to the corpus by an
    * explicit COST MODEL (the result set is block-count-invariant —
    * generalized pigeonhole is exact — so this only tunes the plan):
    * pick the `c` in `[maxHamming+1, 8]` minimizing
    *
    *   `bands·n  +  2·bands·n²/2^width`
    *
    * where `bands = C(c, c−maxHamming)` is the banded-shuffle volume per
    * row and the second term is the expected RANDOM (birthday) candidate
    * pairs each paying a join-output verify, weighted 2× a shuffled row.
    * The earlier rule held collisions ≤ 1/16 per row regardless of band
    * cost, which stepped c = 5 → 6 at ~2M docs and DOUBLED the shuffle
    * (10 → 20 bands/row) to suppress verifies that were still 3× cheaper
    * than the extra shuffle — the sf100 probe's measured 116×. Under the
    * cost model the same step happens one decade later (~20M docs),
    * where the verify volume genuinely overtakes. Deterministic: minBy
    * takes the smallest minimizing `c`. Capped at 8 blocks (56 keys/row,
    * ≥38-bit keys — enough headroom for ~2^42 docs). */
  def simHashAutoChunks(n: Long, maxHamming: Int): Int = {
    val k = maxHamming
    // the cap must never drop below the pigeonhole minimum k+1: for k >= 8
    // the widening headroom is gone (keys get thin), but correctness holds
    // at exactly k+1 single-block bands — the uncapped pre-scaling policy
    val cap = math.max(k + 1, 8)
    def choose(c: Int, r: Int): Double = {
      var num = 1.0; var i = 0
      while (i < r) { num = num * (c - i) / (i + 1); i += 1 }
      num
    }
    val nn = math.max(2.0, n.toDouble)
    (k + 1 to cap).minBy { c =>
      val bands = choose(c, math.min(k, c - k))
      val width = math.min(48.0, 62.0 * (c - k) / c)
      bands * nn + 2.0 * bands * nn * nn / math.pow(2.0, width)
    }
  }

  /** SimHash near-dup pairs within `maxHamming`, generalized pigeonhole
    * banding (Manku et al., WWW'07 §3): split the 62-bit space into
    * `chunks ≥ maxHamming+1` blocks; a pair within the distance has all
    * its differing bits inside ≤ maxHamming blocks, so SOME
    * `chunks−maxHamming` blocks agree exactly — equi-join on the
    * concatenated key of every (chunks−maxHamming)-block combination,
    * verify with bit_count(xor). The result set is EXACTLY the pairs
    * within `maxHamming`, independent of `chunks` — the block count only
    * tunes the candidate volume (more blocks = wider keys = fewer random
    * collisions, more band keys per row). `chunks = 0` (default) resolves
    * by corpus size ([[simHashAutoChunks]], one count() pass); pin it for
    * cross-run plan determinism (the pinned gate does).
    * Returns `[id_a, id_b, hamming]`.
    *
    * A near-dup pair collides on SEVERAL bands (exact duplicates on all of
    * them), so the join emits duplicates; instead of a `distinct()` shuffle
    * over every candidate (the round-2 hotspot: 575k candidate rows for 2k
    * result pairs on a dup-heavy corpus), each pair is kept only where the
    * matched band is its FIRST agreeing band — a codegen filter on the
    * two fingerprints already in hand, no extra shuffle. The hamming filter
    * runs before anything else downstream sees the row.
    *
    * SKEW GUARD (third decade): banding runs over DISTINCT fingerprint
    * CLASSES, not rows. A clone-heavy corpus (the production norm — web
    * crawls are ~30% exact dups) piles identical fingerprints into the
    * same banded buckets, and the bucket join pays O(m²) verifies per
    * m-clone cluster — the r10 sf100 probe's measured ~4× residual above
    * the scan envelope. Classes make the banded shuffle and verify volume
    * scale with DISTINCT content: identical-fingerprint pairs (hamming 0)
    * come from one class self-join whose every output row is a result, and
    * cross-class pairs expand back to ids through two linear equi-joins.
    * The result set is bit-identical to row-level banding — the
    * equivalence spec drives both paths over a clone-heavy corpus.
    *
    * Class banding engages above `classMinRows` rows (and only when
    * clones exist at all): below it, the distinct shuffle plus two
    * expansion joins cost more than the clone-cluster verifies they
    * save, and plain row-level banding runs over the same persisted
    * fingerprints. Both paths pay exactly ONE eager action (a combined
    * row/class count on the persisted fingerprint table). */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 0,
      classMinRows: Long = 1L << 20): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashKernels.Bits,
      s"maxHamming must be in [0, ${SimHashKernels.Bits}), got $maxHamming")
    // parameter validation BEFORE any persist: a require() throw must not
    // leak cache-manager entries in a long-lived session
    if (chunks > 0) {
      require(chunks > maxHamming,
        s"chunks=$chunks cannot pigeonhole maxHamming=$maxHamming " +
          "(need at least maxHamming+1 blocks for an untouched block to exist)")
      require(chunks <= SimHashKernels.Bits,
        s"chunks=$chunks exceeds the ${SimHashKernels.Bits}-bit fingerprint")
    }
    // (id, fingerprint) — persisted: every downstream consumer reads it,
    // and the fingerprint kernel (tokenize + 62 polynomial votes) must
    // run ONCE per doc
    val sh = df.select(col(idCol).as("id"), simHash62(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one action resolves both decisions: rows (class-banding threshold)
    // and distinct classes (the auto-chunk cost model's n — candidate
    // volume in the banded join is driven by distinct fingerprints)
    val stats = sh.agg(count(lit(1)), count_distinct(col("sh"))).head()
    val nRows = stats.getLong(0)
    val nClasses = stats.getLong(1)
    val c =
      if (chunks > 0) chunks
      else {
        val auto = simHashAutoChunks(nClasses, maxHamming)
        ccLog.info(s"simHashNearDups auto-chunks: distinct=$nClasses maxHamming=$maxHamming " +
          s"-> blocks=$auto (~${62.0 * (auto - maxHamming) / auto}-bit keys)")
        auto
      }
    // classMinRows <= 0 FORCES class banding (the gate twin pins the
    // clone path under the oracle even on a corpus below the threshold)
    val useClasses =
      if (classMinRows <= 0) true
      else nRows >= classMinRows && nClasses < nRows
    val blockSpec = simHashChunks(c)
    // all (c − maxHamming)-block combinations, in combinations() order —
    // the oracle builder enumerates the same order
    val subsets: Seq[Seq[Int]] =
      blockSpec.indices.combinations(c - maxHamming).map(_.toSeq).toSeq
    def blockKey(fp: Column, off: Int, width: Int): Column =
      shiftright(fp, off).bitwiseAND(lit((1L << width) - 1))
    // band key = block keys concatenated ascending; total width
    // 62·(c−k)/c < 62 bits, always fits a long
    def bandKey(fp: Column, si: Seq[Int]): Column =
      si.foldLeft(lit(0L): Column) { case (acc, bi) =>
        val (off, width) = blockSpec(bi)
        shiftleft(acc, width).bitwiseOR(blockKey(fp, off, width))
      }
    // first-agreeing-band: every earlier band key must DIFFER
    val firstMatch = subsets.zipWithIndex.foldLeft(lit(true): Column) {
      case (acc, (s, ci)) =>
        acc && (col("chunk") <= ci ||
          bandKey(col("sh_a"), s) =!= bandKey(col("sh_b"), s))
    }
    if (useClasses) {
      ccLog.info(s"simHashNearDups class banding: rows=$nRows classes=$nClasses")
      val fpTab = sh.select(col("sh")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = fpTab.select(col("sh"), posexplode(
        array(subsets.map(s => bandKey(col("sh"), s)): _*))
        .as(Seq("chunk", "key")))
      val l = banded.select(col("chunk"), col("key"), col("sh").as("sh_a"))
      val r = banded.select(col("chunk"), col("key"), col("sh").as("sh_b"))
      // distinct near-dup fingerprint PAIRS — |classes|-sized banded join.
      // SHUFFLE_MERGE is pinned: both sides are the banded corpus, and the
      // persisted fingerprint table's small-but-accurate size estimate
      // otherwise tempts the optimizer into broadcasting the entire
      // banded side as a driver-built hashed relation (the sf10 probe
      // measured 4x on exactly that plan flip)
      val fpPairs = l.join(r.hint("shuffle_merge"), Seq("chunk", "key"))
        .filter(col("sh_a") < col("sh_b"))
        .filter(firstMatch)
        .select(col("sh_a"), col("sh_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
      // cross-class pairs: expand fingerprint pairs back to ids (two linear
      // hash joins; AQE broadcasts fpPairs when small). least/greatest keeps
      // the id_a < id_b contract whichever class holds the smaller id.
      val cross = fpPairs
        .join(sh.select(col("sh").as("sh_a"), col("id").as("ia")), "sh_a")
        .join(sh.select(col("sh").as("sh_b"), col("id").as("ib")), "sh_b")
        .select(least(col("ia"), col("ib")).as("id_a"),
          greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
      // within-class pairs: identical fingerprints are hamming 0 by
      // definition — one self-join on the fingerprint, every output row a
      // true result (no verify, no banding)
      val zero = sh.select(col("sh"), col("id").as("id_a"))
        .join(sh.select(col("sh"), col("id").as("id_b")), "sh")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))
      graft.util.CacheDiscipline.materializeAndFree(
        cross.unionByName(zero), sh, fpTab)
    } else {
      // row-level banding over the persisted fingerprints — the small-
      // corpus (or all-distinct) plan: no class table, no expansion joins
      val banded = sh.select(col("id"), col("sh"), posexplode(
        array(subsets.map(s => bandKey(col("sh"), s)): _*))
        .as(Seq("chunk", "key")))
      val l = banded.select(col("chunk"), col("key"),
        col("id").as("id_a"), col("sh").as("sh_a"))
      val r = banded.select(col("chunk"), col("key"),
        col("id").as("id_b"), col("sh").as("sh_b"))
      // SHUFFLE_MERGE pinned — same rationale as the class-path banded
      // join: a banded self-join must never broadcast its corpus-sized
      // build side, whatever the cached-input size estimate says
      val pairs = l.join(r.hint("shuffle_merge"), Seq("chunk", "key"))
        .filter(col("id_a") < col("id_b"))
        .filter(firstMatch)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
        .filter(col("hamming") <= maxHamming)
      graft.util.CacheDiscipline.materializeAndFree(pairs, sh)
    }
  }

  private lazy val ccLog = org.slf4j.LoggerFactory.getLogger("graft.dedup.Dedup")

  /** One partition's `(u, v)` edges with both ends non-null, packed into
    * two long arrays. An object rather than a lambda, so the collect does
    * not run the closure cleaner's bytecode scan. */
  private object EdgesTask extends ((org.apache.spark.TaskContext,
      Iterator[org.apache.spark.sql.catalyst.InternalRow]) => (Array[Long], Array[Long]))
      with Serializable {
    def apply(ctx: org.apache.spark.TaskContext,
        it: Iterator[org.apache.spark.sql.catalyst.InternalRow]): (Array[Long], Array[Long]) = {
      val u = Array.newBuilder[Long]; val v = Array.newBuilder[Long]
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0) && !r.isNullAt(1)) { u += r.getLong(0); v += r.getLong(1) }
      }
      (u.result(), v.result())
    }
  }

  /** Eager localCheckpoint with bookkeeping: returns the pinned DataFrame
    * plus the RDD ids its checkpoint added, so the caller can free each
    * round's blocks as soon as the next round no longer needs them (a
    * long-lived session must not accumulate one pinned RDD per round).
    * Snapshot-diff over `getPersistentRDDs` is safe here because these
    * iterative operators run single-threaded on the driver; a concurrent
    * job's RDD caught in the diff would merely be recomputed, not broken. */
  private def ckptTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(true)
    (out, sc.getPersistentRDDs.keySet.toSet.diff(before))
  }

  private def freeRdds(spark: org.apache.spark.sql.SparkSession, ids: Set[Int]): Unit = {
    val persistent = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
  }

  /**
   * Connected components over a near-duplicate pair list — the CLUSTERING
   * step of a dedup pipeline: pair generators ([[minHashNearDups]],
   * [[simHashNearDups]], [[jaccardPairsBy]], the embedding variants) emit
   * edges; transitively-connected docs form one duplicate cluster, and the
   * pipeline keeps one representative per cluster.
   *
   * Algorithm: alternating large-star / small-star contractions (Kiveris et
   * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
   * large-star re-attaches every node's strictly-larger neighbors to its
   * smallest known neighbor, small-star contracts each node's smaller
   * neighbors onto the minimum; the edge set converges in O(log n) rounds
   * to a union of stars centered on each component's minimum id. Every
   * round is two aggregate+join shuffles and ONE action — the eager
   * checkpoint, whose materialization job also carries the convergence
   * signature as an observed metric (no per-round signature scan). This
   * replaces the earlier min-label
   * propagation ([[connectedComponentsMinLabel]], kept as the spec
   * cross-check) whose round count was the component DIAMETER — fine for
   * shallow near-clique duplicate clusters, pathological on chains.
   *
   * The fixpoint (component = smallest reachable id) is iteration-order
   * independent, hence deterministic and oracle-checkable via a
   * recursive-CTE reachability query. Hybrid execution: contraction runs
   * distributed while the edge set is large and finishes with one bounded
   * collect + union-find once it fits driver broadcast capacity
   * (`driverFinishEdges`; the finish is [[UnionFind.minLabels]], the
   * kernel the dedup driver route labels with) — identical labels either
   * way. Returns `[id, component,
   * is_canonical]` for every id in `pairs` (self-loops keep a node alive as
   * a singleton), `component` = min id of the cluster, `is_canonical`
   * marking the survivor a keep-one policy retains. The result is pinned by
   * one eager checkpoint (one row per node); every per-round intermediate
   * is freed before returning.
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25, driverFinishEdges: Long = 4L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val sessParts = spark.sessionState.conf.numShufflePartitions
    // the driver finish sorts both endpoints of every edge into one
    // primitive array (2 ids per edge, [[UnionFind.minLabels]]) — cap the
    // knob where the ARITHMETIC stays safe: 2·nE must index a JVM array.
    // 2^28 keeps a power-of-two margin; the driver MEMORY story at that
    // extreme (≈ 10 GB transient) is the operator's documented worst
    // case — the 4M default stays a few-hundred-MB bound.
    require(driverFinishEdges <= (1L << 28),
      s"driverFinishEdges must be <= 2^28, got $driverFinishEdges")
    // order-independent edge-set signature: equal sets ⇒ equal (count,
    // hash-xor); xor can't overflow under ANSI and duplicate-pair
    // cancellation can't occur on a distinct edge set. A false match
    // (≈2⁻⁶⁴ per round, count must also agree) would stop one round early.
    // Folded INTO the eager checkpoint's own materialization job via
    // observe/CollectMetrics — the earlier shape ran a separate
    // signature action per round over the blocks the checkpoint had
    // just pinned (one extra job × O(log n) rounds of pure fixed cost).
    def ckptSigTracked(e: DataFrame): (DataFrame, Set[Int], (Long, Long)) = {
      // named observe + a SYNCHRONOUS observedMetrics read off the
      // checkpoint's own QueryExecution (accumulator values, available the
      // moment the materialization job returns) — the Observation helper
      // would block on the ASYNC listener bus, whose delivery lags behind
      // task-end floods by whole fractions of a second per round
      val observed = e.observe("__ccsig",
        count(lit(1)).as("__n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("__x"))
      val (ck, ids) = ckptTracked(observed)
      val m = observed.queryExecution.observedMetrics("__ccsig")
      (ck, ids, (m.getLong(0), m.getLong(1)))
    }
    // one checkpoint of the raw pairs = ONE execution of the (expensive)
    // pair-generation pipeline feeding this operator; edges and the node
    // set both derive from it. Pair generators hand over a layout sized
    // for THEIR heavy banded self-join (selfSizedParts — up to 4096
    // partitions at scale) while the pair set itself is tiny; without
    // normalization every derived checkpoint and per-round scan here
    // inherits that width and pays thousands of near-empty tasks (the
    // r13 sf100 corpus regression: CC fixed cost tracking the band-join
    // width). One cheap shuffle of the tiny pair set down to the
    // session knob makes the whole contraction run at the user-tuned
    // parallelism.
    // the raw checkpoint's own materialization job also reports the raw
    // pair count (observe — the ckptSigTracked trick): it decides the r22
    // RAW-immediate driver finish below for free
    val rawObserved = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .repartition(sessParts)
      .observe("__ccraw", count(lit(1)).as("__n"))
    val (raw, rawIds) = ckptTracked(rawObserved)
    val rawCount = rawObserved.queryExecution.observedMetrics("__ccraw").getLong(0)
    // round-checkpoint bookkeeping lives OUTSIDE the body below so a thrown
    // job anywhere (a driverComp collect OOM, a failed output checkpoint)
    // cannot leave blocks pinned for the life of the session: the finally
    // re-frees whatever is still live, and freeRdds is idempotent (it only
    // touches RDDs still present in getPersistentRDDs)
    var edgeIds = Set.empty[Int]
    var nodeIds = Set.empty[Int]
    def runContraction(): DataFrame = {
    // the node set is only read by the FINAL labeling join. When the
    // driver finish triggers immediately (the common small/medium-corpus
    // case, and every sf0.1 gate), materializing it as its own checkpoint
    // is a pure extra job: leave it lazy over the raw checkpoint and let
    // the derivation ride the single output-checkpoint job (the r16 open
    // probe read the CC tail at ~1.0 s of dedup_cluster's 2.14 s at
    // sf0.1). The distributed-loop case keeps the upfront pin so the
    // (possibly large) raw pair checkpoint frees BEFORE the rounds.
    val nodesLazy = raw.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    def labelOut(nodeSet: DataFrame, comp: DataFrame): DataFrame = ckptTracked(
      nodeSet.join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .select(col("id"), col("component"),
          (col("component") === col("id")).as("is_canonical")))._1
    // DRIVER FINISH: star contraction shrinks the edge set geometrically,
    // so the TAIL rounds operate on trivially small graphs while still
    // paying full distributed fixed cost (two shuffle stages + one action
    // each). Once the observed edge count — free, it rides the checkpoint
    // job — is at most `driverFinishEdges` (NEVER corpus-scale, this is
    // the duplicate-PAIR set), the remaining contraction is one bounded
    // collect + union-find (path compression + union by rank, then a
    // per-root min relabel — the identical fixpoint: component =
    // smallest reachable id, so gates and specs cannot tell the paths
    // apart). A duplicate-saturated corpus whose pair list exceeds the
    // cap keeps contracting distributed; the cap only moves the
    // crossover. `driverFinishEdges = 0` forces the pure distributed
    // path (spec cross-check).
    //
    // Driver footprint at the 4M default: everything below is PRIMITIVE
    // arrays — the collected edge endpoints 2×8B×E (64 MB), and inside
    // [[UnionFind.minLabels]] their sorted copy (64 MB) plus 25 B per
    // distinct id (≤ 8M ids, ≈ 200 MB), and the relabel output ≤ 16 B per
    // renamed id — ≲ 0.5 GB transient worst-case, a few MB on a typical
    // corpus (250k pairs).
    def driverComp(e: DataFrame): DataFrame = {
      // ONE job, primitive transport: each partition packs its edges
      // into two long arrays (toLocalIterator would run a job PER
      // partition — 32 scheduling round-trips cost the sf0.1 corpus
      // family ~0.4 s each; a row collect would box every edge)
      val parts = graft.util.CacheDiscipline.runTask(e.select(col("u"), col("v")), "collect",
        EdgesTask)
      val nE = parts.map(_._1.length).sum
      val us = new Array[Long](nE); val vs = new Array[Long](nE)
      var off = 0
      parts.foreach { case (u, v) =>
        System.arraycopy(u, 0, us, off, u.length)
        System.arraycopy(v, 0, vs, off, v.length)
        off += u.length
      }
      // every id whose label is not itself: the distributed fixpoint's
      // non-root rows
      val (ids, labels) = UnionFind.minLabels(us, vs)
      val renamed = ids.indices.filter(i => ids(i) != labels(i))
      import spark.implicits._
      spark.createDataset(renamed.map(i => (ids(i), labels(i))))
        .toDF("id", "component")
        .repartition(sessParts)
    }
    // RAW-immediate driver finish (r22): union-find is insensitive to
    // duplicate pairs, edge orientation and self-loops (union(u,u) and a
    // repeated union are no-ops), so when the RAW pair count — observed
    // for free on the raw checkpoint's job — is already within the
    // driver cap, the canonical-orientation + distinct pass and its
    // eager checkpoint are pure fixed cost: collect the raw pairs
    // directly. rawCount >= the distinct edge count, so the driver-memory
    // bound is the same cap as before, decided one job earlier; a pair
    // list over the cap keeps the exact pre-r22 flow, whose own immediate
    // finish still fires once the DISTINCT count fits. cap = 0 (the spec
    // force-distributed knob) never takes this branch.
    if (driverFinishEdges > 0 && rawCount <= driverFinishEdges)
      return labelOut(nodesLazy, driverComp(raw))
    // canonical orientation u > v; self-loops dropped from the edge set
    // (the node set above still carries their endpoint as a singleton)
    val firstCkpt = ckptSigTracked(
      raw.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())
    var edges = firstCkpt._1
    edgeIds = firstCkpt._2
    var sig = firstCkpt._3
    val immediateFinish = sig._1 <= driverFinishEdges
    val nodes =
      if (immediateFinish) nodesLazy
      else {
        val t = ckptTracked(nodesLazy)
        nodeIds = t._2
        freeRdds(spark, rawIds)
        t._1
      }
    var converged = false
    var it = 0
    var comp: DataFrame = null
    if (immediateFinish) { comp = driverComp(edges); converged = true }
    while (!converged && it < maxIters) {
      // large-star: for each node u (both orientations), m = min(Γ(u) ∪
      // {u}); every strictly-larger neighbor re-attaches to m. Output stays
      // u > v oriented (emitted edge is (v, m) with v > u ≥ m).
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val ls = sym.join(lsMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the (u > v)-oriented output: contract each node's
      // smaller neighbors (and itself) onto m = min(Γ(u))
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("n"), col("m"))
        .unionAll(ssMin.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
      // signature rides the checkpoint job itself (observe) — no scan
      val (next, nextIds, nextSig) = ckptSigTracked(ss)
      converged = nextSig == sig
      sig = nextSig
      freeRdds(spark, edgeIds)
      edges = next
      edgeIds = nextIds
      it += 1
      if (!converged && sig._1 <= driverFinishEdges) {
        comp = driverComp(edges)
        converged = true
      }
    }
    if (!converged)
      ccLog.warn(s"connectedComponents: not converged after $maxIters rounds; " +
        "labels are an upper bound")
    // at the star fixpoint every non-root carries exactly one edge to its
    // component min; roots and singletons label themselves (the driver
    // finish built `comp` directly — same mapping)
    if (comp == null)
      comp = edges.groupBy("u").agg(min(col("v")).as("component"))
        .withColumnRenamed("u", "id")
    labelOut(nodes, comp)
    }
    // immediate finish keeps raw pinned through the output job (its lazy
    // node derivation reads it); the finally frees it — and everything
    // else still live — on success AND on any thrown job
    try runContraction()
    finally {
      freeRdds(spark, edgeIds)
      freeRdds(spark, nodeIds)
      freeRdds(spark, rawIds)
    }
  }

  /**
   * Document-level corpus dedup returning the CLEANED corpus — the
   * end-product the pair/cluster machinery exists for: MinHash-banded
   * near-dup pairs ([[minHashNearDups]]) → connected components
   * ([[connectedComponents]], O(log n) rounds) → keep the canonical
   * (minimum-id) document of every duplicate cluster, drop the rest.
   * Untouched documents pass through. 100 TB shape: banded equi-join for
   * candidates (never all-pairs), log-round star contraction for
   * clusters, one broadcast-able anti-join of the (small) drop list
   * against the corpus — the only full-corpus pass after pair generation.
   *
   * Candidate scheme (r16 — the default FLIPPED to the measured scale
   * route): `scheme = "oph"` routes the banded one-permutation-hashing
   * kernel ([[minHashNearDupsOph]] — O(r·grams) signature pass; r15
   * sf100: 2.43–2.67× the zero-shuffle scan control end-to-end, ≥0.9
   * banded recall vs classic spec-pinned in MinHashOphSpec);
   * `scheme = "classic"` keeps the per-gram 64-permutation kernel
   * ([[minHashNearDups]] — 3.81× at sf100, signature pass alone 33.5 s
   * vs OPH's 13.7 s in the same JVM), for bit-compatibility with
   * reference-style multi-permutation MinHash. Both schemes verify every
   * candidate by EXACT set-Jaccard, so precision is identical; only
   * banding recall can differ. `numHashes` is the signature width under
   * either scheme: permutation count (classic) or bin count (OPH).
   *
   * Route: when the signature table fits the pair pipeline's internal
   * 256 MB driver cap (see [[minHashNearDups]]), the pairs are verified on
   * the driver, the drop list comes from [[UnionFind.minLabels]] as a
   * local relation, and no checkpoint job runs; the driver holds at most
   * the cap's band keys and fingerprints plus candidate pairs. Above the
   * cap the pairs and [[connectedComponents]] run distributed. The
   * survivors are identical either way.
   */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.7, scheme: String = "oph"): DataFrame = {
    // an expensive-to-re-run input would be scanned three times here
    // (signature pass, candidate fingerprint recovery, anti-join) —
    // persist it once; the inner pipeline sees the cached leaf and
    // never double-persists. Bare scans stay uncached.
    val srcCached = rescanIsExpensive(df)
    val src = if (srcCached)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
    // non-canonical members of any duplicate cluster; singletons never
    // appear in the labels, so they survive by construction
    val drop = nearDupPairs(src, idCol, textCol, n, numHashes, bands, threshold, scheme) match {
      case Left((p, _)) => NearDupRoute.drops(src.sparkSession, p)
      case Right(pairs) => components(pairs).filter(!col("is_canonical")).select(col("id"))
    }
    val out = src.join(drop, src(idCol) === drop("id"), "left_anti")
    if (srcCached) graft.util.CacheDiscipline.materializeAndFree(out, src)
    else out
  }

  /** Near-duplicate CLUSTERS — the labeling deliverable the keep-one
    * policy reads: candidate pairs under the chosen `scheme` (see
    * [[dedupCorpus]]; default OPH, the measured sf100 scale route —
    * 2.48× control vs classic's 3.94× in r15) → connected components.
    * Returns `[id, component, is_canonical]` for every id appearing in a
    * verified pair. No input persist here: the pair pipeline manages its
    * own input discipline and the contraction never re-reads the corpus.
    * When the signature table fits the internal 256 MB driver cap (see
    * [[minHashNearDups]]) the pairs are verified on the driver and
    * labelled there by [[UnionFind.minLabels]]: the labels come back as a
    * local relation, three jobs in all, with no checkpoint. Above the cap
    * the pairs and the contraction run distributed. The labels are
    * identical either way. */
  def dedupCluster(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.7, scheme: String = "oph"): DataFrame =
    nearDupPairs(df, idCol, textCol, n, numHashes, bands, threshold, scheme) match {
      case Left((p, id)) => NearDupRoute.labels(df.sparkSession, p, id.nullable)
      case Right(pairs) => components(pairs)
    }

  /** [[connectedComponents]] of a distributed route's checkpointed pairs,
    * whose blocks are freed once the labels are pinned. */
  private def components(pairs: DataFrame): DataFrame =
    try connectedComponents(pairs, "id_a", "id_b")
    finally graft.util.CacheDiscipline.release(pairs)

  /** Scheme dispatch shared by [[dedupCorpus]] and [[dedupCluster]] —
    * `k` is permutations (classic) or bins (OPH). */
  private def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double, scheme: String): Routed =
    scheme match {
      case "oph" => ophRouted(df, idCol, textCol, n, k, bands, threshold)
      case "classic" => minHashRouted(df, idCol, textCol, n, k, bands, threshold)
      case other => throw new IllegalArgumentException(
        s"""scheme must be "oph" or "classic", got "$other"""")
    }

  /** Explicit-OPH spelling of [[dedupCorpus]] — identical to the default
    * since the r16 flip; kept so call sites written against the r15 API
    * keep compiling. `numBins` is `numHashes` under the OPH reading. */
  def dedupCorpusOph(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numBins: Int = 64, bands: Int = 8,
      threshold: Double = 0.7): DataFrame =
    dedupCorpus(df, idCol, textCol, n, numBins, bands, threshold, scheme = "oph")

  /**
   * Min-label propagation connected components — every node adopts the
   * smallest label among itself and its neighbors until fixpoint. Rounds =
   * component DIAMETER (vs O(log n) for [[connectedComponents]]); kept as
   * an independent implementation for spec cross-checks, not used by the
   * query surface.
   */
  def connectedComponentsMinLabel(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val (edges, rawIds) = ckptTracked(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
    val (sym, symIds) = ckptTracked(
      edges.unionAll(edges.select(col("v").as("u"), col("u").as("v"))).distinct())
    freeRdds(spark, rawIds)
    var (labels, labelIds) = ckptTracked(
      sym.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("comp")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val neighborMin = sym
        .join(labels.select(col("id").as("v"), col("comp")), "v")
        .groupBy(col("u").as("id")).agg(min(col("comp")).as("nmin"))
      val (next, nextIds) = ckptTracked(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
            (coalesce(col("nmin"), col("comp")) < col("comp")).as("__chg")))
      val changed = next.filter(col("__chg")).limit(1).count()
      freeRdds(spark, labelIds)
      labels = next.drop("__chg")
      labelIds = nextIds
      converged = changed == 0L
      it += 1
    }
    if (!converged)
      ccLog.warn(s"connectedComponentsMinLabel: not converged after $maxIters rounds")
    val (out, _) = ckptTracked(
      labels.select(col("id"), col("comp").as("component"),
        (col("comp") === col("id")).as("is_canonical")))
    freeRdds(spark, labelIds)
    freeRdds(spark, symIds)
    out
  }

  /**
   * Embedding near-duplicate pairs: all pairs with cosine ≥ threshold.
   * Brute version is a broadcast self-join — QUADRATIC BY CONTRACT
   * (n²/2 cosine evaluations; the r18 sf10 sweep measured 762 s at 200k
   * vectors, CPU-saturated — ~258× the scan control, and 100× that again
   * at 2M). It exists as the exact verification baseline for small
   * corpora and the recall oracle for the scale paths; at scale route
   * through [[embeddingNearDupsBlocked]] (auto-nlist: 2.7× control at
   * sf10) or [[embeddingNearDupsLsh]] (auto-bits: 0.7×), which replace
   * the all-pairs stream with cell/bucket-local candidates.
   */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per ROW, not per pair: cos = dot/(√na·√nb) evaluates the
    // exact same double ops as the one-shot cosine kernel (bit-identical to
    // the oracle) at a third of the per-pair flops
    val base0 = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))
      .withColumn("nrm", sqrt(VectorFunctions.vec_dot(col("v"), col("v"))))
    // Parallelism floor on the STREAMED side (r21, scale-adaptive): the
    // broadcast-NL join's task count is the streamed side's partition
    // count, and a small parquet input is a single split — the whole
    // O(n²/2) pair scan then runs on ONE task whatever the core count.
    // Hash-spread by id when below defaultParallelism; a corpus big
    // enough for the quadratic cost to matter has >= parallelism splits
    // already, so no extra exchange is paid at scale. Pair set (and the
    // oracle hash) is partition-independent: the join predicate and the
    // cosine are per-pair values.
    val base = graft.util.Parallelism.scanFloor(base0, "id")
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    // the RIGHT side is the BNL broadcast build — it reads base0, not the
    // floored base, so the spread exchange is paid only on the streamed
    // side (a broadcast build gains nothing from partitioning)
    val b = base0.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", when(col("n_a") * col("n_b") === 0.0, 0.0)
        .otherwise(VectorFunctions.vec_dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Auto-bits for [[embeddingNearDupsLsh]] (`bits = 0`): expected bucket
    * occupancy ~16 rows, floor 4. ONE definition shared by the operator
    * and its dynamic oracle builder — a tuned occupancy constant must
    * change both sides or the gate compares different configs. */
  def autoLshBits(n: Long): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n / 16.0)) / math.log(2)).toInt)

  /** Anchor similarity the LSH auto-config holds its recall target at:
    * `max(threshold, 0.9)` — near-dup thresholds below 0.9 would demand an
    * unaffordable table count under sign-LSH's ρ-exponent, so the floor is
    * guaranteed for pairs at ≥ 0.9 and degrades gracefully below. ONE
    * definition shared by [[embeddingNearDupsLsh]] and the gate's dynamic
    * oracle builder — an inlined copy on either side silently diverges the
    * moment the policy constant moves. */
  def lshAnchor(threshold: Double): Double = math.max(threshold, 0.9)

  /** Sign-random-projection collision probability per hyperplane for a
    * pair at cosine exactly `c` (Goemans–Williamson / Charikar'02):
    * `p = 1 − acos(c)/π`. */
  def lshCollisionP(c: Double): Double =
    1.0 - math.acos(math.min(1.0, math.max(-1.0, c))) / math.Pi

  /** Estimated recall of a `(bits, tables)` sign-LSH config for a pair at
    * cosine `c`: `1 − (1 − p^bits)^tables`. Recall is INCREASING in the
    * pair's similarity, so this evaluated at an anchor cosine lower-bounds
    * recall for every pair above the anchor. */
  def lshRecallEstimate(c: Double, bits: Int, tables: Int): Double = {
    val pb = math.pow(lshCollisionP(c), bits)
    1.0 - math.pow(1.0 - pb, tables)
  }

  /** Table count that clears `targetRecall` at `anchorCos` for a PINNED
    * hash width, capped at `maxTables` (the cap is the honest-shortfall
    * regime — the caller logs it): `ceil(ln(1−R)/ln(1−p^bits))`. Shared by
    * the searcher's `LSH0xb` resolution and its fit-time advisory so the
    * two can never diverge on the formula. */
  def lshTablesFor(anchorCos: Double, bits: Int,
      targetRecall: Double = 0.9, maxTables: Int = 64): Int = {
    val pb = math.pow(lshCollisionP(anchorCos), bits)
    val need =
      if (pb >= 1.0) 1
      else if (pb <= 0.0) Int.MaxValue
      else math.min(Int.MaxValue.toDouble,
        math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pb))).toInt
    math.max(1, math.min(maxTables, need))
  }

  /** Joint `(bits, tables)` auto-config for [[embeddingNearDupsLsh]] — the
    * r10 sf100 probe's named defect was the dual of the fixed-cell one:
    * auto-BITS held bucket occupancy constant while the TABLE count stayed
    * fixed at 12, so per-table collision probability `p^bits` decayed with
    * corpus growth and estimated recall at the anchor similarity collapsed
    * (12 tables × 17 bits at 2M vectors ≈ 0.36 for pairs at cos 0.9, vs
    * 0.91 at the sf0.01 operating point). The policy here is an explicit
    * cost model under a recall FLOOR: over `bits ∈ [4, autoLshBits(n)]`,
    * the tables needed for `targetRecall` at `anchorCos` are
    * `ln(1−R)/ln(1−p^bits)`; modeled cost per config is
    * `tables · n · (bits + occupancy)` (signature work + candidate-verify
    * dots, both per-dimension). The feasible (tables ≤ maxTables) config
    * with minimum cost wins; if NO config reaches the floor under the
    * table cap, the config maximizing estimated recall (then minimum cost)
    * is returned and the caller logs the shortfall — at low thresholds
    * sign-LSH's ρ-exponent makes a hard floor genuinely unaffordable and
    * the blocked/IVF path ([[embeddingNearDupsBlocked]]) is the honest
    * high-recall route. Deterministic; shared with the oracle builder. */
  def autoLshConfig(n: Long, anchorCos: Double, targetRecall: Double = 0.9,
      maxTables: Int = 64): (Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    val p = lshCollisionP(anchorCos)
    val opts = (4 to math.max(4, autoLshBits(n))).map { b =>
      val pb = math.pow(p, b)
      val need =
        if (pb >= 1.0) 1
        else if (pb <= 0.0) Int.MaxValue
        else math.min(Int.MaxValue.toDouble,
          math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pb))).toInt
      val t = math.max(1, math.min(maxTables, need))
      val occ = n.toDouble / (1L << math.min(b, 62))
      val cost = t.toDouble * n.toDouble * (b.toDouble + occ)
      (b, t, need <= maxTables, lshRecallEstimate(anchorCos, b, t), cost)
    }
    val feasible = opts.filter(_._3)
    val pick =
      if (feasible.nonEmpty) feasible.minBy(o => (o._5, o._1))
      else opts.maxBy(o => (o._4, -o._5, -o._1))
    (pick._1, pick._2)
  }

  /** Auto-nlist for [[embeddingNearDupsBlocked]] (`nlist = 0`): expected
    * cell occupancy ~64 rows, floor 16, CAP 65,536 (the searcher's
    * resolveNlist cap). The cap bounds the driver Lloyd fit — its cost is
    * nlist · sample, and the sample itself scales with nlist
    * ([[graft.search.IvfIndex.trainTarget]]), so uncapped occupancy-64
    * nlist makes the fit quadratic in corpus size (the sf10 probe measured
    * exactly this decade). Past the cap (n > 4.2M vectors) occupancy grows
    * linearly and the candidate join degrades with it — at THAT scale use
    * [[embeddingNearDupsLsh]], whose auto-bits grow logarithmically and
    * keep occupancy constant at any corpus size. */
  def autoBlockNlist(total: Long): Int =
    math.min(math.max(16L, total / 64L), 65536L).toInt

  /**
   * LSH-bucketed embedding near-dup: sign-random-projection tables
   * ([[graft.search.SignLsh]]) generate candidates via an equi-join on
   * `(table, bucket)`; candidates are verified with the exact cosine.
   * Approximate with tunable recall (more tables / fewer bits ⇒ higher
   * recall), but — unlike the k-means blocking — fully DETERMINISTIC given
   * the seed, so the whole pipeline has a bit-exact DuckDB oracle.
   *
   * CHANGELOG: the default `numTables` changed 12 → 0 (joint
   * `(bits, tables)` auto-config via [[autoLshConfig]]) when the r10 sf100
   * probe showed the fixed-12 default decaying to ~0.36 estimated anchor
   * recall at 2M vectors. LSH is approximate, so callers relying on the
   * old default get a DIFFERENT (better-recalled) candidate/pair set and
   * cost profile across versions — pin BOTH `numTables` and `bits`
   * explicitly for cross-version reproducibility, as the pinned oracle
   * gate does.
   */
  def embeddingNearDupsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numTables: Int = 0, bits: Int = 0,
      seed: Long = 42L, targetRecall: Double = 0.9,
      maxTables: Int = 64): DataFrame = {
    import graft.search.SignLsh
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    // Auto resolution (either knob at 0 costs one count() pass):
    //  - bits auto-scale with corpus size (occupancy ~16/bucket: candidate
    //    pairs per table stay ≈ n·16, linear, instead of n²/2^bits growing
    //    with n — the fixed-cell failure the sf1 probe measured on the
    //    blocked variant);
    //  - tables auto-scale WITH the bits ([[autoLshConfig]]): holding
    //    occupancy constant decays per-table collision p^bits, so a fixed
    //    table count silently trades recall away as n grows — the r10
    //    sf100 probe's 12-table config had estimated anchor recall 0.36
    //    where sf0.01 had 0.91. The joint policy holds `targetRecall` at
    //    the anchor similarity ([[lshAnchor]]) while minimizing modeled
    //    cost, capped at `maxTables` (shortfall logged).
    // Pin BOTH explicitly for cross-run plan determinism (the pinned
    // oracle gate does); the auto gate hash-checks the policy end-to-end
    // because the resolution is a deterministic function of n.
    val anchor = lshAnchor(threshold)
    val (resolvedBits, resolvedTables) =
      if (numTables > 0 && bits > 0) (bits, numTables)
      else {
        val n = base.count()
        if (numTables > 0) {
          val b = autoLshBits(n)
          ccLog.info(s"embeddingNearDupsLsh auto-bits: n=$n -> bits=$b " +
            s"(occupancy ~${n >> b} rows/bucket, $numTables tables pinned)")
          (b, numTables)
        } else if (bits > 0) {
          val pb = math.pow(lshCollisionP(anchor), bits)
          val need =
            if (pb >= 1.0) 1
            else math.min(Int.MaxValue.toDouble, math.ceil(
              math.log(1.0 - targetRecall) / math.log(1.0 - pb))).toInt
          val t = math.max(1, math.min(maxTables, need))
          ccLog.info(s"embeddingNearDupsLsh auto-tables: n=$n bits=$bits " +
            s"-> tables=$t (est recall@cos>=$anchor = " +
            f"${lshRecallEstimate(anchor, bits, t)}%.3f)")
          (bits, t)
        } else {
          val (b, t) = autoLshConfig(n, anchor, targetRecall, maxTables)
          val est = lshRecallEstimate(anchor, b, t)
          ccLog.info(s"embeddingNearDupsLsh auto-config: n=$n -> bits=$b " +
            f"tables=$t (est recall@cos>=$anchor = $est%.3f" +
            (if (est < targetRecall) s"; target $targetRecall unreachable " +
              s"under maxTables=$maxTables — use embeddingNearDupsBlocked " +
              "for high recall at this threshold" else "") + ")")
          (b, t)
        }
      }
    val planes = SignLsh.planes(resolvedTables, resolvedBits, dim, seed)
    // The bucket self-join's sides are tables × corpus rows CARRYING FULL
    // VECTORS — at the 5M-row decade that is tens of GB through the
    // sort-merge, and leaving the partition count to the session default
    // makes each sort task spill (sf100 measured 85.3 s at 32 shuffle
    // partitions vs 35.4 s at 256, same plan). The operator knows its own
    // exploded volume, so it sizes the join's partitioning itself:
    // ~64 MB of (vector + key) bytes per partition, never below the
    // session setting, capped at 4096. Sized from the FREE Catalyst
    // estimate of the vector table (no extra action on the pinned-knob
    // path — partition sizing only needs the order of magnitude).
    val sessParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val baseBytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
    val joinBytes = BigInt(resolvedTables) * baseBytes
    val joinParts = math.max(sessParts,
      (joinBytes / (64L << 20) + 1).min(BigInt(4096)).toInt)
    val bucketed = base
      .withColumn("nrm", sqrt(VectorFunctions.vec_dot(col("v"), col("v"))))
      .select(col("id"), col("v"), col("nrm"),
        posexplode(SignLsh.bucketsCol(col("v"), planes)).as(Seq("tbl", "bkt")))
    val a = bucketed.select(col("tbl"), col("bkt"),
      col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
      .repartition(joinParts, col("tbl"), col("bkt"))
    val b = bucketed.select(col("tbl"), col("bkt"),
      col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
      .repartition(joinParts, col("tbl"), col("bkt"))
    // SHUFFLE_MERGE pinned: both sides are tables x corpus with full
    // vectors — never a broadcast build, whatever the size estimate says
    a.join(b.hint("shuffle_merge"), Seq("tbl", "bkt")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("n_a") * col("n_b") === 0.0, 0.0)
          .otherwise(VectorFunctions.vec_dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair can collide in several tables
  }

  /**
   * Embedding k-means cluster assignment — the corpus-partitioning step of
   * semantic-dedup / data-curriculum pipelines (cluster first, then
   * near-dup or score WITHIN clusters — [[embeddingNearDupsBlocked]] is
   * exactly that composition). Centroids come from the bounded-sample
   * chunk-parallel driver Lloyd ([[graft.search.IvfIndex.fitCentroids]],
   * deterministic); assignment is the codegen nearest-centroid kernel —
   * one scan, zero shuffles. Returns `[<idCol>, cluster]`.
   */
  def embeddingClusters(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    import graft.search.IvfIndex
    val vecs = df.select(col(idCol), col(vecCol).cast("array<float>").as("__v"))
    val total = vecs.count()
    // min in LONG domain: total.toInt overflows negative past 2^31 rows
    // and would silently collapse the fit to one centroid
    val cents = IvfIndex.fitCentroids(vecs, "__v",
      math.min(k.toLong, total max 1L).toInt, total)
    vecs.select(col(idCol),
      IvfIndex.nearestCentroidsCol(col("__v"), cents, 1).getItem(0).as("cluster"))
  }

  /**
   * Cluster-quota diversity sampling — the SemDeDup/DiverseSelect step a
   * curation pipeline runs AFTER dedup: k-means the embedding space into
   * `k` semantic cells (same deterministic coarse quantizer as
   * [[embeddingClusters]] / the IVF index) and keep at most `quota` items
   * per cell, ranked by `scoreCol` (quality, recency, perplexity — the
   * caller's notion of "best"), so no semantic region floods the training
   * mix. Returns `[<idCol>, cluster, rank]` for the survivors, `rank`
   * 1-based within its cluster (ties broken by id — deterministic).
   *
   * Shape at scale: one projection scan assigns cells (centroids ride the
   * plan as a literal, no join), then ONE shuffle by cluster id with a
   * rank-filter window — Spark's WindowGroupLimit pushes the `rank ≤
   * quota` bound into a per-partition bounded heap before the shuffle, so
   * no cell ever sorts its full occupancy. Driver state is the k×dim
   * centroid matrix (bounded; k caps at the auto formula's 65,536).
   */
  def clusterQuotaSample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, quota: Int, scoreCol: Column): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    import graft.search.IvfIndex
    val vecs = df.select(col(idCol), col(vecCol).cast("array<float>").as("__v"),
      scoreCol.cast("double").as("__score"))
    val total = vecs.count()
    val cents = IvfIndex.fitCentroids(vecs, "__v",
      math.min(k.toLong, total max 1L).toInt, total)
    val assigned = vecs.select(col(idCol), col("__score"),
      IvfIndex.nearestCentroidsCol(col("__v"), cents, 1).getItem(0).as("cluster"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__score").desc, col(idCol).asc)
    assigned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= quota)
      .select(col(idCol), col("cluster"), col("rank"))
  }

  /**
   * Cell-blocked embedding near-dup: k-means the vectors into `nlist`
   * cells (same coarse quantizer as the IVF index), assign each vector its
   * `nprobe` nearest cells, and compare only pairs sharing a cell — an
   * equi-join on cell id instead of the all-pairs cross join.
   * Approximate: a pair split across all probed cells is missed; raise
   * `nprobe` for recall (2 catches most boundary pairs).
   *
   * SCALE STANDING (decided r16, certs r15): [[embeddingNearDupsLsh]] is
   * the scale-PREFERRED embedding near-dup — 2.25× the sf100 scan control
   * vs 2.73× here (both true-idle re-certs), auto-bits that grow
   * logarithmically vs this route's capped nlist (see [[autoBlockNlist]]:
   * past ~4.2M vectors occupancy grows linearly), and a bit-exact DuckDB
   * oracle. This k-means route stays for corpora whose cluster structure
   * LSH's random planes can't exploit and as the searcher-aligned
   * (IVF-cell) blocking; its 2.73× is a certified standing number, not a
   * per-round re-measure — no further lever is identified (the
   * hierarchical assignment kernel already landed r10, and the remaining
   * cost is the occupancy-64 assignment pass itself).
   */
  def embeddingNearDupsBlocked(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 0, nprobe: Int = 2): DataFrame = {
    import graft.search.IvfIndex
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = vecs.count()
    // nlist = 0 (default) auto-scales the cell count with corpus size,
    // keeping expected cell occupancy ~64: per-row candidate dots stay
    // ≈ occupancy·nprobe (linear) instead of (n/nlist)·nprobe growing
    // with n — the sf1 probe measured the old fixed-64-cell default going
    // quadratic-ish on an UNclustered 10× corpus (0.96 → 30.5 s,
    // BASELINE.md; same failure mode the LSH auto-bits fix closed). Pin
    // nlist explicitly for cross-run determinism (the oracle gates do).
    val resolvedNlist =
      if (nlist > 0) nlist
      else {
        val nl = autoBlockNlist(total)
        ccLog.info(s"embeddingNearDupsBlocked auto-nlist: n=$total -> nlist=$nl " +
          s"(occupancy ~${total / math.max(1, nl)} rows/cell, nprobe=$nprobe)")
        nl
      }
    val cents = IvfIndex.fitCentroids(vecs, "v",
      math.min(resolvedNlist.toLong, total max 1L).toInt, total) // long-domain min: no toInt overflow
    // persisted: both sides of the self-join read it, and without the pin
    // Spark recomputes the O(n·nlist·d) nearest-centroid assignment once
    // per side (nprobe·n rows — small relative to the dots it saves)
    val celled = vecs
      .withColumn("nrm", sqrt(VectorFunctions.vec_dot(col("v"), col("v"))))
      .withColumn("cell",
        explode(IvfIndex.nearestCentroidsCol(col("v"), cents, nprobe)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = celled.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = celled.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    // SHUFFLE_MERGE pinned: the celled self-join's sides are nprobe x
    // corpus with full vectors — the persisted input's size estimate must
    // not flip this to a broadcast build
    val pairs = a.join(b.hint("shuffle_merge"), Seq("cell")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("n_a") * col("n_b") === 0.0, 0.0)
          .otherwise(VectorFunctions.vec_dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .distinct() // a pair can share several probed cells
    graft.util.CacheDiscipline.materializeAndFree(pairs, vecs, celled)
  }
}
