package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.types.{FloatType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.encoders.{Encoder, PassthroughEncoder}
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.Metric

/**
 * Searcher configuration — the Spark mirror of the reference constructor
 * (/root/reference/backend/faiss_searcher.py:25-61, README.md:17-26).
 *
 * @param itemCol   item column; default = first column (the reference's
 *                  "first column is the item" contract, README.md:21,
 *                  faiss_searcher.py:56)
 * @param idCol     stable unique id column to use as `row_id`; when absent a
 *                  0-based contiguous id is assigned by `zipWithIndex`
 *                  (positional `item_list` alignment, faiss_searcher.py:39-40)
 * @param indexParam faiss-style factory string selecting the physical access
 *                  path (faiss_searcher.py:100-107): `"Flat"` → exact brute
 *                  force; `"IVFn[,...]"`/`"HNSWn"` → partition-pruned ANN
 * @param measurement one of the 8 reference metrics (faiss_searcher.py:75-90)
 * @param metricArg faiss metric_arg (p of L_p)
 * @param normVec   L2-normalize vectors at fit/query time; forced for `cos`
 *                  by the reference (faiss_searcher.py:53) — our cosine
 *                  kernel normalizes internally so `cos` needs no data prep
 * @param docFeatureSep   truncate matched items at this separator in results
 *                  (faiss_searcher.py:154-156)
 * @param queryFeatureSep truncate query items likewise (150-152)
 * @param nprobe    IVF probes per query (ANN recall knob)
 * @param efSearch  HNSW beam width per graph (graph-ANN recall knob; faiss
 *                  `efSearch`). A value ≥ the per-graph row count makes the
 *                  graph search provably exact (see [[NswGraph]]). 0 = auto:
 *                  hold the beam FRACTION of each graph (per-graph rows /
 *                  256, floor 64) — the graph-ANN dual of IVF's auto-nprobe
 *                  scanned-fraction rule. A FIXED beam decays as the corpus
 *                  grows (RECALL.md: ef=16 saturates at 20k vectors; ef=64
 *                  reads 0.901 at 2M where ef=256 reads 0.996); the auto
 *                  lands ef≈245 at 2M×32 graphs — the certified point
 * @param hnswGraphs number of partition-local NSW graphs; 0 (default) =
 *                  the cluster's default parallelism — graph size is then
 *                  corpus/parallelism, bounded per executor
 * @param broadcastThreshold max index rows whose payload side is broadcast
 *                  into the hits, or carried by a single-chunk cell scan to
 *                  its driver finish
 */
final case class SearcherParams(
    itemCol: Option[String] = None,
    idCol: Option[String] = None,
    indexParam: String = "Flat",
    measurement: String = "cos",
    metricArg: Double = 2.0,
    normVec: Boolean = false,
    docFeatureSep: Option[String] = None,
    queryFeatureSep: Option[String] = None,
    nprobe: Int = 4,
    efSearch: Int = 64,
    hnswGraphs: Int = 0,
    broadcastThreshold: Long = 2000000L,
    /** Expected queries per `search` batch — sizes the joint-auto LSH
      * config (`LSH0`) for the batch it will serve: the resolver weighs
      * per-table fit cost (n·bits signature ops) against per-batch verify
      * cost (batchHint · bucket-occupancy candidate rows), so a large
      * hint pushes toward more bits (smaller buckets, more tables to hold
      * recall). r16's |Q|-blind config scored 506M candidates for a
      * 500-query sf100 batch; the hint is how the fit knows the batch
      * shape. Ignored by every other index family. */
    lshBatchHint: Int = 64,
    /** Opt-in cost-based access-path fallback for DEGENERATE LSH
      * configs. A fitted `tables × bits` LSH index expects to verify
      * `tables · n/2^bits` candidates per query at
      * [[SparkSearcher.CandidateRowOverhead]]× the cost of a scanned
      * corpus row — when `tables · overhead ≥ 2^bits` that estimate
      * meets or exceeds a full exact scan, so the bucket machinery
      * buys NEGATIVE time at STRICTLY worse recall (sign-LSH loses
      * neighbors by pruning; the exact kernel loses none). The
      * crossover is |Q|-independent (both sides scale linearly in the
      * batch), so it is decidable from fitted state alone —
      * deterministic, and stable across save/load. With this flag the
      * searcher serves such configs through the exact top-k kernel
      * (recall 1.0 ⊇ anything the buckets would return) and logs the
      * decision; without it (default — faiss semantics: the index you
      * built is the index that serves) an EXPLICIT spelling only logs
      * a warning. JOINT-AUTO spellings (`LSH`/`LSH0`, r18) reroute
      * regardless of this flag — an auto config carries no bucket
      * obligation, so the resolver refuses to serve one its own cost
      * model prices above the exact scan
      * ([[SearcherModel.lshServeExact]]). The r17 sf100 boundary this
      * automates: LSH at its 64-table feasibility ceiling served a
      * 2000-query batch at 11–14× control vs the exact kernel's 2.7×
      * (BASELINE.md). */
    lshExactFallback: Boolean = false,
    /** Refine pool multiplier for the `…,RFlat` stage: the inner
      * code-based index proposes `topK · refineKFactor` candidates, the
      * kept float vectors re-rank them exactly. 0 (default) = AUTO —
      * quadruple the ×4 faiss-ish base per corpus decade above 2k rows
      * ([[SparkSearcher.resolveRefineKFactor]]). The pool requirement
      * GROWS with the corpus: quantization noise is scale-free, so the
      * number of distractors inside the noise band of the true rank-k
      * distance grows with n — RECALL.md measured the FIXED ×4 pool's
      * recall@10 decay 0.817 → 0.470 → 0.347 across 2k/200k/2M vectors,
      * and the auto's operating points at 0.900 (×64 at 200k) / 0.929
      * (×256 at 2M) with the widened rescore still FASTER than the
      * exact scan (the ADC byte pass dominates). Explicit values pass
      * through untouched and persist via save/load. */
    refineKFactor: Int = 0,
    /** HNSW BUILD beam width (faiss `efConstruction`, part of the
      * index_param build-config surface, faiss_searcher.py:100-107) —
      * how many candidate neighbors each inserted node scores before
      * keeping its best `m` links. 0 (default) = the engine's standing
      * `max(64, 2·m)` rule, the value every pre-r20 index was built
      * with (measured sound: recall@10 ≥ 0.9875 at 2M vectors across
      * the r19 segment ladder). Build cost scales ~linearly with it;
      * link quality saturates — raise it only when a recall probe at
      * the serving beam says the GRAPH (not the beam) is the limiter.
      * Persisted via save/load so add()/compact() segments are built
      * with the same beam as the fitted graphs. */
    efConstruction: Int = 0,
    /** Opt-in HNSW merge policy (the Lucene TieredMergePolicy analog,
      * r20). `add()` on an HNSW index appends FRESH segment graphs
      * (built graphs are immutable); every graph is searched at the
      * full beam, so batch latency grows ~linearly with graph COUNT
      * while each segment holds only its slice (r19 ladder: 1.15 s →
      * 3.26 s over 11× graphs at 2M). When > 0: after an add() that
      * leaves `segment rows / fitted rows ≥` this ratio, the returned
      * model is `compact()`ed — one graph rebuild over every row
      * (≈ a refit's graph cost, measured 250.9 s vs 223.2 s at 2M,
      * recall restored to 1.0000 at the exhaustive beam) — so serving
      * latency stays bounded without a manual compaction step. 0
      * (default) = faiss/Lucene manual semantics: add() only logs the
      * guidance once growth exceeds the fitted corpus; the operator
      * calls compact() on their own schedule. */
    autoCompactAtSegmentRatio: Double = 0.0) {
  // a bad setting fails at construction, not at the first search
  Seq[(String, Double)]("nprobe" -> nprobe, "efSearch" -> efSearch,
    "hnswGraphs" -> hnswGraphs, "refineKFactor" -> refineKFactor,
    "efConstruction" -> efConstruction, "broadcastThreshold" -> broadcastThreshold,
    "autoCompactAtSegmentRatio" -> autoCompactAtSegmentRatio).foreach { case (n, v) =>
    require(v >= 0, s"$n must be >= 0 (0 = auto/off), got $v")
  }
  require(lshBatchHint >= 1, s"lshBatchHint must be >= 1, got $lshBatchHint")
}

/** Physical access path selected by the faiss-style factory string
  * (faiss_searcher.py:100-107). */
sealed trait IndexStrategy
case object ExactFlat extends IndexStrategy
final case class IvfFlat(nlist: Int) extends IndexStrategy
final case class LshTables(numTables: Int, bits: Option[Int]) extends IndexStrategy
/** Product quantizer: `m` subspaces, `nbits` ∈ {8, 4} code width — one
  * byte per subspace (256 centroids, faiss `PQm`/`PQmx8`), or two
  * subspace codes nibble-packed per byte (16 centroids, faiss `PQmx4`:
  * dim·8/m× under float32). */
final case class PqFlat(m: Int, nbits: Int = 8) extends IndexStrategy
final case class IvfPq(nlist: Int, m: Int, nbits: Int = 8) extends IndexStrategy
/** Scalar quantizer: `nbits` ∈ {8, 4} — one byte per dim, or two dims
  * nibble-packed per byte (faiss SQ8 / SQ4). */
final case class SqFlat(nbits: Int) extends IndexStrategy
final case class IvfSq(nlist: Int, nbits: Int) extends IndexStrategy
final case class HnswGraph(m: Int) extends IndexStrategy
final case class OpqPq(m: Int) extends IndexStrategy
/** faiss `IndexRefineFlat` (factory suffix `,RFlat`): the inner code-based
  * index proposes `k·kFactor` candidates, kept float vectors re-score them
  * exactly. The pool width is resolved from `SearcherParams.refineKFactor`
  * at dispatch (0 = corpus-scaled auto), so the strategy carries only the
  * inner index — a width here would be dead state that could drift. */
final case class Refined(inner: IndexStrategy) extends IndexStrategy

object IndexStrategy {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.search.IndexStrategy")
  private val IvfWithPq = "IVF(\\d+),PQ(\\d+)(?:x(\\w+))?".r
  // match ANY ',SQ…' suffix (SQ8 / SQ4 / SQfp16 / SQ6 / …) so unsupported
  // scalar quantizers raise instead of falling through to the uncompressed
  // IVF(n) catch-all — a caller asking for compression must never be
  // silently served exact floats
  private val IvfWithSq = "IVF(\\d+),SQ(\\w+)".r
  private val OpqWithPq = "OPQ(\\d+),PQ(\\d+)".r
  // exact match (+ the canonical ',Flat' storage suffix) for BOTH IVF and
  // HNSW: an unrecognized quantizer suffix ('IVF16,PQ8x4fs', 'HNSW32,SQ8')
  // must NOT be silently swallowed into an uncompressed float index — it
  // falls through to the catch-all error instead
  private val Ivf = "IVF(\\d+)(?:,Flat)?".r
  private val Hnsw = "HNSW(\\d*)(?:,Flat)?".r
  private val Lsh = "LSH(\\d*)(?:x(\\d+))?".r
  // `PQm` and faiss's explicit-width spellings `PQmx8` / `PQmx4` (byte
  // codes, or 16-centroid nibble-packed codes; `PQmx4fs` fast-scan etc.
  // fall through to the catch-all error rather than silently serving a
  // different code width)
  private val Pq = "PQ(\\d+)(?:x(\\w+))?".r
  private val Sq = "SQ(\\w+)".r

  /** The spec's unfitted (layout, storage, keep-floats) triple — the one
    * dispatch on the parsed spec. A refine wrapper (`…,RFlat`) fits like
    * its inner index but KEEPS the float vectors next to the codes (faiss
    * IndexRefineFlat stores both). */
  def kinds(s: IndexStrategy): (Layout, Storage, Boolean) = s match {
    case ExactFlat         => (NoLayout, Floats, true)
    case IvfFlat(n)        => (IvfCells(n), Floats, true)
    case HnswGraph(m)      => (HnswGraphs(m), Floats, true)
    case LshTables(t, b)   => (LshBuckets(t, b), Floats, true)
    case PqFlat(m, nb)     => (NoLayout, PqCodes(m, nb), false)
    case IvfPq(n, m, nb)   => (IvfCells(n), PqCodes(m, nb), false)
    case SqFlat(nb)        => (NoLayout, sqCodes(nb), false)
    case IvfSq(n, nb)      => (IvfCells(n), sqCodes(nb), false)
    case OpqPq(m)          => (NoLayout, OpqCodes(m), false)
    case Refined(inner)    => kinds(inner).copy(_3 = true)
  }
  private def sqCodes(nbits: Int): Storage = if (nbits == 16) Fp16Codes else SqCodes(nbits)

  /** Parse the reference's index_param. `HNSWm` (the graph ANN faiss
    * special-cases at faiss_searcher.py:101-102) maps to partition-local
    * NSW graphs with `m` out-links per node ([[NswGraph]]; faiss's default
    * M=32 when unspecified). `LSH[t][xb]` (faiss's binary-LSH factory
    * string, extended) maps to `t` sign-random-projection tables of `b`
    * bits ([[SignLsh]]); with no explicit `b`, bits scale with corpus size
    * at fit time (≈log2(n/16): bucket occupancy stays ~constant as n
    * grows). `IVF0…` requests the same fit-time auto-sizing for the cell
    * count ([[resolveNlist]]): a fixed nlist chosen at small scale turns
    * quadratic-ish when the corpus grows past it. */
  def parse(param: String): IndexStrategy = param match {
    case null | "" | "Flat" => ExactFlat
    // faiss `IDMap,…` wraps an index to carry caller-supplied ids
    // (faiss_searcher.py:104 factory strings); this engine ALWAYS carries
    // external ids (idCol / positional row_id), so the wrapper is the
    // identity here — strip and parse the inner index
    case p if p.startsWith("IDMap,") => parse(p.stripPrefix("IDMap,"))
    // faiss `…,RFlat` refine stage: only meaningful over CODE-based inner
    // indexes — Flat/IVF/LSH/HNSW already score exact floats
    case p if p.endsWith(",RFlat") =>
      val inner = parse(p.stripSuffix(",RFlat"))
      require(!inner.isInstanceOf[Refined] && kinds(inner)._2.codesOnly,
        s"index_param '$p': RFlat refine applies once, to a code-based " +
          "index (PQ/SQ/OPQ families) — a float-scoring inner index " +
          "needs no refine, and refine-of-refine is meaningless")
      Refined(inner)
    case IvfWithPq(n, m, b) => IvfPq(n.toInt, m.toInt, pqWidth(param, b))
    case IvfWithSq(n, b) => IvfSq(n.toInt, sqWidth(param, b))
    case OpqWithPq(mo, mp) =>
      require(mo == mp, s"index_param '$param': OPQ subspace count must " +
        s"match PQ (got OPQ$mo,PQ$mp) — the rotation is balanced per subspace")
      OpqPq(mp.toInt)
    case Ivf(n)             => IvfFlat(n.toInt)
    case Hnsw(m)            => HnswGraph(if (m == null || m.isEmpty) 32 else m.toInt)
    // `LSH` / `LSH0` = joint auto: BOTH the table count and the hash width
    // resolve at fit from the closed-form recall model (Dedup.autoLshConfig)
    // at a corpus-sampled anchor cosine — the fixed 12-table default it
    // replaces measured 0.183 recall@10 at sf1 (RECALL.md) because tables
    // stayed flat while auto-bits decayed per-table collision probability
    // with corpus growth. `LSH0xb` pins the width and auto-resolves tables.
    case Lsh(n, b)          => LshTables(if (n == null || n.isEmpty) 0 else n.toInt,
      Option(b).filter(_.nonEmpty).map(_.toInt))
    case Pq(m, b)           => PqFlat(m.toInt, pqWidth(param, b))
    case Sq(b) => SqFlat(sqWidth(param, b))
    case other => throw new IllegalArgumentException(
      s"unsupported index_param '$other' (supported: Flat, IVFn..., HNSWn, " +
        "LSHtxb, PQm[x8|x4], SQ8, SQ4, SQfp16, IVF/OPQ/IDMap/RFlat " +
        "compositions, and the PCAn,/PCAWn, transform prefixes)")
  }

  /** Product-quantizer code width from the `PQmxB` factory suffix: 8
    * (byte codes, the default) or 4 (16-centroid codes nibble-packed two
    * per byte). Anything else — `PQ8x12`, fast-scan widths — raises
    * instead of silently serving a different precision. */
  private def pqWidth(param: String, b: String): Int = b match {
    case null | "" | "8" => 8
    case "4"             => 4
    // faiss `x4fs` fast-scan: the SAME 16-centroid 4-bit codes, differing
    // only in a SIMD-register-blocked memory layout — a physical detail
    // with no analog in this engine's columnar ADC scan. Served as x4
    // (identical quantization, identical results), logged so the caller
    // knows the blocked layout specifically is a no-op here.
    case "4fs" =>
      log.info(s"index_param '$param': fast-scan (x4fs) register blocking " +
        "is a no-op on this engine's columnar ADC scan; serving the " +
        "identical-semantics x4 nibble codes")
      4
    case _ => throw new IllegalArgumentException(s"index_param '$param': " +
      "supported PQ code widths are x8 (one byte per subspace), x4 " +
      "(two subspace codes nibble-packed per byte), and x4fs (fast-scan " +
      "layout, served as x4 — identical codes)")
  }

  /** Scalar-quantizer width from the factory suffix: SQ8/SQ4 serve byte
    * codes through the ADC machinery; SQfp16 (nbits = 16) is the
    * train-free IEEE half path, decoded in the scoring projection
    * ([[Fp16]]). Anything else — SQ6, SQfp8, fast-scan spellings —
    * raises instead of silently serving a different precision. */
  private def sqWidth(param: String, b: String): Int = b match {
    case "8"    => 8
    case "4"    => 4
    case "fp16" => 16
    case _ => throw new IllegalArgumentException(s"index_param '$param': " +
      "supported scalar quantizers are SQ8 (one byte per dim), SQ4 (two " +
      "dims nibble-packed per byte) and SQfp16 (train-free IEEE half); " +
      "6-bit/fp8 variants are not")
  }

  /** Fit-time nlist for the IVF family. `nlist > 0` is the caller's pinned
    * choice, untouched. `nlist == 0` (the `IVF0` factory string) resolves
    * to ~√n cells, clamped to [16, 65536]: √n balances the two per-query
    * costs (centroid scan ∝ nlist, cell scan ∝ nprobe·n/nlist) and is the
    * standard faiss guidance, while the 65536 cap keeps the broadcast
    * centroid table executor-trivial at any corpus size. The dedup side's
    * blocking uses occupancy-based n/64 instead — near-dup mining wants
    * bounded CELL size (its cost is pairs within a cell); a top-k index
    * wants the scan/probe balance. Logged once per fit: the resolved value
    * is data-dependent, and a reproducible run needs it on record. */
  def resolveNlist(nlist: Int, n: Long): Int = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto), got $nlist")
    if (nlist > 0) nlist
    else {
      val auto = math.max(16L, math.min(65536L,
        math.ceil(math.sqrt(math.max(1L, n).toDouble)).toLong)).toInt
      log.info(s"IVF auto-nlist: n=$n -> nlist=$auto (~sqrt(n), occupancy ~${n / math.max(1, auto)})")
      auto
    }
  }

  /** Fit-time hash width for auto-bits LSH (`LSHt` with no explicit `xb`):
    * expected bucket occupancy stays ~16 rows as n grows (a bit width
    * fixed at small scale turns each bucket into a near-full corpus scan
    * once n passes 2^bits·16), floored at 8 bits. Shared by the fit site
    * AND the oracle builder so the two can never silently diverge on the
    * occupancy constant — same discipline as [[resolveNlist]] /
    * `Dedup.autoBlockNlist`. */
  def resolveBits(bits: Option[Int], n: Long): Int = bits.getOrElse {
    val b = math.max(8, math.ceil(math.log(n / 16.0) / math.log(2)).toInt)
    log.info(s"LSH auto-bits: n=$n -> bits=$b (occupancy ~${n >> b} rows/bucket)")
    b
  }

  /** Query-time probe count. A positive `nprobe` is the caller's knob,
    * clamped to the FITTED cell count. `nprobe == 0` (auto) resolves to
    * ~1/8 of the fitted cells, floor 4: auto-nlist grows ∝ √n, so any
    * FIXED nprobe scans a shrinking fraction of the corpus as it grows
    * and recall decays with scale (measured in RECALL.md: nprobe=16
    * holds ~0.8 at 2k–20k vectors, 0.46 at 200k). Holding the scanned
    * FRACTION is what holds recall — the same occupancy discipline as
    * [[resolveNlist]] / [[resolveBits]], and shared with the oracle
    * builder so gate and oracle can never diverge. */
  def resolveNprobe(nprobe: Int, nCells: Int): Int = {
    require(nprobe >= 0, s"nprobe must be >= 0 (0 = auto), got $nprobe")
    if (nprobe > 0) math.min(nprobe, nCells)
    else {
      val auto = math.min(nCells, math.max(4, math.ceil(nCells / 8.0).toInt))
      log.info(s"IVF auto-nprobe: nlist=$nCells -> nprobe=$auto (~1/8 of cells)")
      auto
    }
  }
}

/**
 * Spark-native similarity searcher with the query surface of the reference
 * engine (train / search / multi-K search / cal_sim / save / load —
 * faiss_searcher.py:116-208), re-expressed as lazy DataFrame plans:
 *
 *  - `fit` (reference `train`, faiss_searcher.py:116-125) encodes the items
 *    table once, assigns a stable `row_id`, and caches — the cached table IS
 *    the "index"; for IVF params it also k-means-clusters the vectors so
 *    search can prune to `nprobe` partitions.
 *  - `search` (faiss_searcher.py:161-169) is a top-K scan: queries are
 *    collected in bounded chunks and each index partition scores its rows
 *    into one bounded heap per query ([[CellScan]]; exact search is its
 *    one-cell case), so k is pushed into the scan as faiss does (SURVEY §4).
 *  - payload columns ride along into results by joining the hits back to the
 *    items table on `row_id` (the reference's positional `iloc` gather,
 *    faiss_searcher.py:146-147, becomes an equi-join).
 */
class SparkSearcher(val encoder: Encoder, val params: SearcherParams = SearcherParams()) {
  import SparkSearcher._

  val metric: Metric = VectorFunctions.metric(params.measurement, params.metricArg)

  /** faiss `PCAn,…` / `PCAWn,…` / `PCARn,…` vector-transform prefix:
    * fit-time centered PCA (W = whitened, R = random-rotated output —
    * faiss's variance-balancing trick before PQ) to n components BEFORE
    * the inner index; queries project through the same fitted kernel at
    * search. The R rotation is a SEEDED orthonormal matrix composed into
    * the fitted kernel at fit time, so persistence and every downstream
    * path see one affine projection, and distances are preserved exactly
    * (orthonormality ⇒ the served neighbor SET equals the un-rotated
    * PCA's — spec-asserted). `calSim` stays in the raw encoder space by
    * design (the reference's cal_sim never consults the index either,
    * faiss_searcher.py:150-158). */
  private[search] val (pcaSpec, innerIndexParam): (Option[(Int, Boolean, Boolean)], String) = {
    val raw = Option(params.indexParam).getOrElse("")
    // IDMap is the identity wrapper here (ids are always carried), so
    // faiss's `IDMap,PCAWn,…` composes: strip it before the PCA match.
    // Non-PCA spellings keep the raw string — parse strips IDMap itself.
    val noIdMap = if (raw.startsWith("IDMap,")) raw.stripPrefix("IDMap,") else raw
    noIdMap match {
      case SparkSearcher.PcaSpelling(w, n, rest) =>
        require(n.toInt > 0, s"index_param '$raw': PCA to 0 components")
        (Some((n.toInt, w == "W", w == "R")), rest)
      case _ => (None, raw)
    }
  }
  val strategy: IndexStrategy = IndexStrategy.parse(innerIndexParam)
  /** The spec's unfitted layout and storage, and whether the float vectors
    * are kept next to the codes (always for float storage; for codes,
    * only under a refine stage). */
  private[search] val (layout, storage, keepFloats) = IndexStrategy.kinds(strategy)
  // recall advisory (no semantics change): bare code-based indexes score
  // on quantized codes only — RECALL.md measured PQ8 recall@10 = 0.38 at
  // sf1 vs 0.64 with an exact-rescale refine stage. faiss users expect
  // the latter; recommend the `…,RFlat` spelling once per spelling and JVM.
  if (storage.codesOnly && !keepFloats && SparkSearcher.advised.add(innerIndexParam))
    org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher").info(
      s"index_param '$innerIndexParam' scores on quantized codes only; " +
        s"'$innerIndexParam,RFlat' adds an exact float re-rank of the " +
        "top k*4 candidates and roughly doubles recall@10 (see RECALL.md)")
  // OPQ's rotation preserves dot/l2 only
  require(!storage.isInstanceOf[OpqCodes] ||
    Set("cos", "ip", "dot", "l2").contains(params.measurement),
    s"OPQ serves rotation-invariant metrics (cos/ip/l2); " +
      s"'${params.measurement}' is not preserved by a rotation — use PQ")

  /** Build the index: encode all items, assign row_id, materialize.
    * Reference `train()` (faiss_searcher.py:116-125). */
  def fit(items: DataFrame): SearcherModel = {
    // session setup from the operator's own entry point: a direct-API
    // caller (no graft main, no GraftFunctions.register) still gets the
    // declared engine defaults — notably the ObjectHashAggregate fallback
    // threshold that keeps >128-query batch top-k out of the sort-spill
    // path. Explicit user settings always win (see GraftConf).
    graft.GraftConf.applySessionDefaults(items.sparkSession)
    val itemCol = params.itemCol.getOrElse(items.columns.head)
    require(items.columns.contains(itemCol), s"item column '$itemCol' missing")

    val encoded0 = encoder.encode(items, itemCol, VEC)
    // norm_vec (faiss_searcher.py:53, 70): cosine kernel normalizes
    // internally, so only materialize normalized vectors when asked for a
    // non-cos metric (e.g. ip-on-normalized ≡ cos, the reference's trick).
    val encoded =
      if (params.normVec && params.measurement != "cos")
        encoded0.withColumn(VEC, VectorFunctions.vec_l2_normalize(col(VEC)))
      else encoded0
    // PCA prefix: fit the projection on exactly what the inner index
    // would otherwise see, then train the index in the reduced space
    // (queries ride the same fitted kernel — search/searchRange). The
    // moments pass is a full action, so cache the encoded corpus across
    // it — without this a non-trivial encoder runs twice end-to-end
    val pcaCache = pcaSpec.map(_ => encoded.persist(StorageLevel.MEMORY_AND_DISK))
    val (pcaFit, encodedP) = pcaSpec match {
      case Some((nc, whiten, rotate)) =>
        val src = pcaCache.get
        val m0 = new graft.whitening.VecsWhitening(nc, whiten).fit(src, VEC)
        val m = if (rotate) SparkSearcher.composeRotation(m0, nc) else m0
        (Some(m), m.transform(src, VEC))
      case None => (None, encoded)
    }

    val withId = params.idCol match {
      case Some(c) =>
        require(items.columns.contains(c), s"id column '$c' missing")
        // a non-integral id (e.g. string doc ids) would cast to NULL row_ids
        // and silently drop every payload-join hit — fail fast instead
        items.schema(c).dataType match {
          case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
               _: org.apache.spark.sql.types.IntegerType | _: LongType => ()
          case other => throw new IllegalArgumentException(
            s"id column '$c' must be an integral type usable as row_id, got $other; " +
              "omit idCol to let fit() assign positional ids (faiss_searcher.py:39-40)")
        }
        encodedP.withColumn(ROW_ID, col(c).cast(LongType))
      case None => zipWithRowId(encodedP)
    }

    val payloadCols = items.columns.filter(c =>
      c != itemCol && !params.idCol.contains(c) && !encoder.sourceCols.contains(c))
    val reserved = payloadCols.toSet.intersect(
      Set(SourceItem, SimVal, RankNo, SimItem, ROW_ID, ITEM_SAVED))
    require(reserved.isEmpty,
      s"payload column(s) ${reserved.mkString(", ")} collide with the result " +
        s"schema [$SourceItem, $SimVal, $RankNo, $SimItem, $ROW_ID] — rename " +
        "them before fit (the reference would emit duplicate pandas columns " +
        "here; we fail fast instead)")
    val base = withId.select((col(ROW_ID) +: col(itemCol).as(ITEM) +: col(VEC) +:
      payloadCols.map(col).toSeq): _*)

    val (indexed, n, d, fittedLayout, fittedStorage) =
      if (layout == NoLayout && storage == Floats) {
        // Flat: one pass — spread, persist, count (faiss index.add,
        // faiss_searcher.py:124)
        val indexed = layout.spread(base).persist(StorageLevel.MEMORY_AND_DISK)
        val (n, d) = materializeDim(indexed)
        (indexed, n, d, layout, storage)
      } else {
        // codes under cos need MATERIALIZED normalization (ADC computes raw
        // dot tables) — the reference's own norm_vec trick
        // (faiss_searcher.py:53); every metric has a subspace ADC
        // decomposition (PqIndex.adcScorer)
        val pre = (if (storage.codesOnly && params.measurement == "cos")
            base.withColumn(VEC, VectorFunctions.vec_l2_normalize(col(VEC)))
          else base).persist(StorageLevel.MEMORY_AND_DISK)
        val (n, d) = materializeDim(pre)
        require(d > 0, s"$strategy fit on empty/zero-dim vectors")
        // the layout fits first: IVF cells are assigned before encoding
        val l = layout.fit(this, pre, n, d)
        val (st, src) = storage.fit(pre, n, d, keepFloats)
        val encoded = st.encode(l.assign(this, src, 0))
        val indexed = l.spread(if (keepFloats) encoded else encoded.drop(VEC))
          .persist(StorageLevel.MEMORY_AND_DISK)
        materialize(indexed)
        pre.unpersist()
        src.unpersist()
        (indexed, n, d, l, st)
      }
    // every branch materialized its own persist — the PCA moments
    // cache has served its purpose
    pcaCache.foreach(_.unpersist(blocking = false))
    SparkSearcher.holdCache(
      new SearcherModel(this, indexed, payloadCols.toSeq, n, d, fittedLayout, fittedStorage, pcaFit),
      indexed)
  }

  /** Score one item against a list (reference `cal_sim`,
    * faiss_searcher.py:192-198): dot-product scores, full descending sort.
    * Needs only the encoder — works without `fit`, like the reference.
    * Adopts the intended DataFrame shape (the reference's line 196 is buggy
    * for >1 item, SURVEY §7.3). */
  def calSim(spark: SparkSession, item1: String, items2: Seq[String]): DataFrame = {
    import SparkSearcher._
    val sp = spark
    import sp.implicits._
    val one = encoder.encode(Seq(item1).toDF("item"), "item", QVEC)
      .select(col(QVEC))
    val many = encoder.encode(items2.zipWithIndex.toDF("item", "pos"), "item", VEC)
    many.crossJoin(broadcast(one))
      .withColumn("score",
        graft.functions.VectorFunctions.vec_dot(col(VEC), col(QVEC)).cast("float"))
      .select(col("item"), col("score"), col("pos"))
      .orderBy(col("score").desc, col("pos"))
      .drop("pos")
  }

  /** [[SparkSearcher.materialize]] of a persisted frame with vectors, and
    * their width (faiss_searcher.py:56) from the same job: the encoder's
    * declared dim, else the observed one (a PCA prefix reduces below the
    * declared dim); empty → 0, search() then errors. Vectors of two widths
    * fail here, and so do vectors with a NaN or infinite component (one
    * such row would become every farthest-point centroid): the same job
    * observes how many there are and the smallest such `row_id`. */
  private def materializeDim(df: DataFrame): (Long, Int) = {
    val width = when(col(VEC).isNotNull, size(col(VEC)))
    val bad = VectorFunctions.vec_non_finite(col(VEC))
    val m = graft.util.CacheDiscipline.observeOnCache(df, count(lit(1)), min(width), max(width),
      count(when(bad, lit(1))), min(when(bad, col(ROW_ID))))
    val Seq(lo, hi) = Seq(1, 2).map(i => if (m.isNullAt(i)) 0 else m.getInt(i))
    if (lo != hi) {
      df.unpersist()
      throw new IllegalArgumentException(s"fit: vectors of different widths in one index: $lo and $hi")
    }
    if (m.getLong(3) > 0) {
      df.unpersist()
      throw new IllegalArgumentException(s"fit: ${m.getLong(3)} vector(s) with a NaN or infinite " +
        s"component, the first at row_id ${m.getLong(4)}")
    }
    (m.getLong(0), (if (pcaSpec.isDefined) None else encoder.dim).getOrElse(lo))
  }
}

object SparkSearcher {
  /** 2 GB — the cap on a table built on the driver: the payload side a
    * search broadcasts into its hits, and a one-file metadata write.
    * Comfortable headroom under Spark's 8 GB broadcast hard limit and a
    * sane executor memory share. */
  private[search] val DriverTableByteCap = 2L * 1024 * 1024 * 1024

  /** Code spellings whose recall advisory was logged. */
  private val advised = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // internal column names, prefixed to dodge payload collisions
  private[search] val VEC = "__vec"
  private[search] val VROT = "__vec_rot"
  private[search] val QVEC = "__qvec"
  private[search] val QID = "__qid"
  private[search] val DIST = "__dist"
  private[search] val RANK = "__rank"
  private[search] val ROW_ID = "row_id"

  // faiss vector-transform prefix (index_factory grammar): PCAn / PCAWn /
  // PCARn (random-rotated output)
  private[search] val PcaSpelling = "PCA([WR]?)(\\d+),(.+)".r

  /** Fit-time anchor cosine for joint-auto LSH (`LSH0`): the 10th
    * percentile of the EXACT rank-k neighbor cosine over a DETERMINISTIC
    * `sampleSize`-row query sample (rows with the smallest
    * xxhash64(row_id) — reproducible across refits, so the gate's oracle
    * re-fit resolves the identical config), measured against the FULL
    * corpus with one bounded exact top-k pass (the one-cell [[CellScan]]
    * exact search uses; sampleSize·n·d work, ~a 256-query exact batch).
    *
    * Why rank-k against the corpus and not within the sample: the r13–r16
    * anchor (median max-cos WITHIN a 256-row sample) lower-bounds the
    * corpus neighbor cosine so loosely at scale that the resolver was
    * forced into few-bit/huge-bucket configs — recall-safe, but the r16
    * sf100 probe priced it at 506M scored candidates for a 500-query
    * batch (31k-row buckets × 44 tables). The rank-k cosine against the
    * full corpus is the similarity the recall target actually defends
    * (recall@k is over exactly those pairs); the 10th percentile keeps it
    * conservative across queries. Sample queries are corpus rows, so
    * rank 1 is the self-match — consistent with the search workload the
    * gates run. Clamped to [0.2, 0.95]: below, the closed-form would
    * demand a table count that is a corpus scan in disguise (the fit
    * advisory names IVF as the honest route there); above, near-duplicate
    * corpora already resolve to cheap high-recall configs. */
  private[search] def lshRankKAnchor(pre: org.apache.spark.sql.DataFrame,
      n: Long, k: Int = 10, sampleSize: Int = 256): Double = {
    if (n < 2) return 0.9
    val qdf = pre
      .select(col(ROW_ID).as(QID), col(VEC).as(QVEC), xxhash64(col(ROW_ID)).as("__h"))
      .orderBy(col("__h")).limit(sampleSize)
      .select(col(QID), col(QVEC))
    // rank-k cosine per query = the minimum of its exact top-k (cos:
    // higher is closer); value-only, so heap tie-breaks don't matter
    val rankK = CellScan.topK(pre.select(col(ROW_ID), col(VEC), lit(0).as(IvfIndex.CID)), qdf,
        CellScan.cellZero, math.min(k.toLong, n).toInt, asc = false, CellScan.DefaultQueryChunk)(
        CellScan.floats("cos", 0.0))
      .groupBy(col(QID)).agg(min(col(DIST)).as("__rk"))
      .select(col("__rk")).collect().map(_.getDouble(0)).sorted
    if (rankK.isEmpty) return 0.9
    val anchor = rankK(math.min(rankK.length - 1, (rankK.length - 1) / 10))
    math.min(0.95, math.max(0.2, anchor))
  }

  /** Per-candidate verify cost relative to one fit-signature bit-op, for
    * [[autoLshConfigServing]]'s cost model: a candidate row pays the
    * skinny-pair shuffle + distinct + two joins + a d-dim dot, measured
    * ~6–9× the pure d-dim signature arithmetic at the r16 sf100 batch
    * decomposition (equal multiply counts, 20–30 s fit vs ~180 s scoring
    * of an equal-flop candidate stream). */
  private[search] val CandidateRowOverhead = 8.0

  /** Is an exact scan estimated cheaper than serving this fitted
    * `tables × bits` LSH config? Per query, LSH verifies
    * `tables · n/2^bits` candidates at [[CandidateRowOverhead]]× a
    * scanned row; the exact kernel scans `n` rows once. The `n` cancels:
    * LSH loses whenever `tables · overhead ≥ 2^bits` (ties go to exact —
    * equal estimated cost at strictly better recall). |Q|-independent,
    * so the route is a property of the fitted index, not the batch. */
  private[graft] def lshExactCheaper(tables: Int, bits: Int): Boolean =
    tables * CandidateRowOverhead >= math.pow(2.0, bits)

  /** `efSearch = 0` (auto) resolution: hold the beam FRACTION of each
    * graph — per-graph rows / 256, floored at the 64 default — instead
    * of a fixed width that decays as the corpus grows (RECALL.md: ef=64
    * reads 0.901 recall@10 at 2M vectors; the fraction rule lands ~245
    * there, the certified ≥0.99 regime). Explicit values pass through
    * untouched, including the `≥ group size ⇒ exact` escape hatch;
    * `graphs` is read only for the auto. */
  private[search] def resolveEf(efSearch: Int, count: Long, graphs: => Int): Int =
    if (efSearch > 0) efSearch
    else math.max(SearcherParams().efSearch,
      math.ceil(count.toDouble / math.max(1, graphs) / 256.0).toInt)

  /** `efConstruction = 0` (auto) resolution: `max(64, 2·m)` — the build
    * beam every pre-r20 graph used (hardcoded then, a knob since).
    * Unlike the SERVING autos (nprobe/efSearch/refineKFactor) this one
    * is corpus-size-free by design: build-beam quality is a property of
    * the local neighborhood being linked, not of how many distractors a
    * later query must out-rank — the r19 2M-vector ladder measured the
    * rule's graphs holding recall@10 ≥ 0.9875 under a corpus-scaled
    * SERVING beam. Explicit values pass through untouched and persist,
    * so segments added to a loaded index build at the fitted beam. */
  private[search] def resolveEfConstruction(efc: Int, m: Int): Int =
    if (efc > 0) efc else math.max(64, 2 * m)

  /** `refineKFactor = 0` (auto) resolution: quadruple the ×4 base per
    * corpus decade above 2k rows — `4 · 4^(log10(n/2000))`, floor 4.
    * Lands on the measured RECALL_r17_refine*.json ladder exactly: ×4
    * at ≤2k (0.817 recall@10), ×64 at 200k (0.900), ×256 at 2M (0.929,
    * still searching faster than the exact scan — the ADC byte pass
    * dominates, the widened float rescore is ~k·kf rows/query). A FIXED
    * pool decays with n because the distractor count inside the
    * quantization-noise band of the true rank-k distance grows with n.
    * Shared by the engine and the gate's oracle builder so the two
    * can never diverge on the formula. */
  private[graft] def resolveRefineKFactor(kf: Int, n: Long): Int =
    if (kf > 0) kf
    else math.max(4, math.ceil(
      4.0 * math.pow(4.0, math.log10(math.max(1.0, n / 2000.0)))).toInt)

  /** Joint `(bits, tables)` auto-config for the SEARCHER's `LSH0` path —
    * the QUERY-SERVING dual of [[graft.dedup.Dedup.autoLshConfig]]. The
    * dedup resolver prices a corpus SELF-join (every row is a query, so
    * cost ∝ tables · n · (bits + occupancy)); a search index instead pays
    * the signature pass once at fit (tables · n · bits) and then
    * `batchHint` queries per batch, each scoring tables · occupancy
    * candidate rows at [[CandidateRowOverhead]]× a signature op. A large
    * batch hint therefore pushes toward MORE bits (smaller buckets) with
    * the tables to hold recall — the r16 |Q|-blind config was the
    * few-bit corner of exactly this tradeoff. Same recall floor, bits
    * range, table cap, and honest-shortfall fallback as the dedup
    * resolver (formulas shared so they cannot diverge). */
  private[search] def autoLshConfigServing(n: Long, anchorCos: Double,
      batchHint: Int, targetRecall: Double = 0.9, maxTables: Int = 64): (Int, Int) = {
    import graft.dedup.Dedup.{autoLshBits, lshCollisionP, lshRecallEstimate}
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
      val cost = t.toDouble *
        (n.toDouble * b + batchHint.toDouble * occ * CandidateRowOverhead)
      (b, t, need <= maxTables, lshRecallEstimate(anchorCos, b, t), cost)
    }
    val feasible = opts.filter(_._3)
    val pick =
      if (feasible.nonEmpty) feasible.minBy(o => (o._5, o._1))
      else opts.maxBy(o => (o._4, -o._5, -o._1))
    (pick._1, pick._2)
  }

  /** Compose a SEEDED random orthonormal rotation into a fitted PCA
    * kernel (faiss `PCARn`: balance variance across output components —
    * matters before PQ's independent per-subspace quantizers). Rotation
    * of the OUTPUT space: `y' = y · Q` with Q (n'×n') from QR of a
    * seeded Gaussian matrix, sign-fixed (diag(R) ≥ 0) so the
    * decomposition — and thus the fitted index — is deterministic.
    * Orthonormal Q preserves dot products and L2 distances exactly, so
    * the served neighbor set equals the un-rotated PCA's. */
  private[graft] def composeRotation(m: graft.whitening.VecsWhiteningModel,
      n: Int, seed: Long = 0x9e3779b97f4a7c15L): graft.whitening.VecsWhiteningModel = {
    val rnd = new java.util.Random(seed)
    val g = breeze.linalg.DenseMatrix.tabulate[Double](n, n)((_, _) => rnd.nextGaussian())
    val breeze.linalg.qr.QR(q, r) = breeze.linalg.qr.reduced(g)
    var j = 0
    while (j < n) {
      if (r(j, j) < 0) { var i = 0; while (i < n) { q(i, j) = -q(i, j); i += 1 } }
      j += 1
    }
    // y = (x + bias) · kernel  ⇒  y·Q = (x + bias) · (kernel·Q)
    val d = m.kernel.length
    val k2 = Array.tabulate(d, n) { (i, jj) =>
      var s = 0.0
      var t = 0
      while (t < n) { s += m.kernel(i)(t) * q(t, jj); t += 1 }
      s
    }
    new graft.whitening.VecsWhiteningModel(k2, m.bias, m.nComponents, m.originDim)
  }

  // public result schema (faiss_searcher.py:129-131)
  val SourceItem = "source_item"
  val SimVal = "sim_val"
  val RankNo = "rank_no"
  val SimItem = "sim_item"

  /** Contiguous 0-based row ids via zipWithIndex — deterministic, unlike
    * monotonically_increasing_id (SURVEY §7.3). One extra pass; prefer
    * passing a natural `idCol`. */
  private[graft] def zipWithRowId(df: DataFrame, idName: String = ROW_ID): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(StructField(idName, LongType, nullable = false) +: df.schema.fields)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
    spark.createDataFrame(rdd, schema)
  }

  /** Build persisted `df`'s cache and return its row count from that same
    * job: the count rides the cache-filling scan via observe (the add()
    * pattern), where `count()` would run its own aggregate jobs. */
  private[search] def materialize(df: DataFrame): Long =
    graft.util.CacheDiscipline.observeOnCache(df, count(lit(1))).getLong(0)

  /** The single params row Spark's JSON writer produced (a directory of
    * part files holding one JSON line), read driver-side through the
    * path's FileSystem — works on any scheme, costs zero Spark jobs. */
  private def readParamsJson(spark: SparkSession,
      path: String): com.fasterxml.jackson.databind.JsonNode = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") && st.getLen > 0
    }.sortBy(_.getPath.getName)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows: Seq[String] = parts.toSeq.flatMap { st =>
      val in = fs.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
    require(rows.length == 1, s"index load: $path must hold exactly one " +
      s"params row, found ${rows.length} in ${parts.length} part file(s)")
    mapper.readTree(rows.head)
  }

  /** Crash-safe directory write: `write` fills a sibling staging
    * directory, which then replaces `path` by rename — a save that dies
    * partway leaves the previous index at `path` untouched, and its
    * staging directory is removed. A JVM that dies between the two renames
    * leaves nothing at `path`; [[recoverStaged]] repairs that at load. */
  private[search] def writeStaged(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(raw)
    val tag = java.util.UUID.randomUUID().toString
    val staging = new Path(target.getParent, s"${target.getName}.staging-$tag")
    val old = new Path(target.getParent, s"${target.getName}.replaced-$tag")
    try write(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    val replacing = fs.exists(target)
    if (replacing && !fs.rename(target, old)) {
      fs.delete(staging, true)
      throw new java.io.IOException(s"save: cannot move the previous index at $target aside")
    }
    if (!fs.rename(staging, target)) {
      if (replacing) fs.rename(old, target)
      fs.delete(staging, true)
      throw new java.io.IOException(s"save: cannot move $staging into place at $target")
    }
    if (replacing) fs.delete(old, true)
  }

  /** A [[writeStaged]] that died between its renames left no directory at
    * `path`, the previous index under `.replaced-<tag>` and the finished
    * new one under `.staging-<tag>`. Promote the newest complete staging
    * sibling (it holds `params.json/_SUCCESS`, a save's last write), else
    * restore the newest replaced one, and delete the other siblings. */
  private def recoverStaged(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(raw)
    if (!fs.exists(target) && fs.exists(target.getParent)) {
      def siblings(kind: String) = fs.listStatus(target.getParent)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${target.getName}.$kind-"))
        .sortBy(-_.getModificationTime).map(_.getPath).toSeq
      val (staged, replaced) = (siblings("staging"), siblings("replaced"))
      staged.find(p => fs.exists(new Path(p, "params.json/_SUCCESS"))).orElse(replaced.headOption)
        .foreach { pick =>
          if (!fs.rename(pick, target))
            throw new java.io.IOException(s"load: cannot move $pick into place at $target")
          (staged ++ replaced).filter(_ != pick).foreach(fs.delete(_, true))
        }
    }
  }

  /** Load a saved model (reference `load_index`, faiss_searcher.py:109-114),
    * re-asserting the stored invariants: row count and vector dim. */
  def load(spark: SparkSession, path: String,
      encoder: Encoder = new PassthroughEncoder("embedding")): SearcherModel = {
    recoverStaged(spark, path)
    // params.json is ONE row; spark.read.json(...).head() paid two fixed
    // driver round-trips (schema-inference job + head job) per load. Read
    // the line through the path's own FileSystem and parse it on the
    // driver instead (r22, guide §6 metadata-job audit) — zero jobs, same
    // bytes, same field semantics (a JSON null reads as absent, exactly
    // like spark.read.json dropping always-null columns).
    val kv = readParamsJson(spark, s"$path/params.json")
    // TOLERANT reads for TUNING knobs only: params.json written by an
    // older build predates fields added since (efSearch/hnswGraphs arrived
    // with the graph ANN). A field no longer read (exactPath, once the
    // choice between two exact-search shapes) is ignored. A missing
    // tuning field means "the writer didn't know the knob" — the current
    // default is the right reading, not a load failure. Fields that change
    // RESULTS — indexParam, measurement, metricArg, normVec — and the
    // count/dim invariants stay STRICT: a params.json missing those is
    // corrupt or foreign, and silently defaulting them (e.g. a PQ-saved
    // index loading as a Flat cosine scan) would misread the index, not
    // tune it.
    def has(n: String) = { val v = kv.get(n); v != null && !v.isNull }
    def need(n: String): Unit = require(has(n),
      s"index load: params.json is missing required field '$n' " +
        "(result-defining fields are never defaulted)")
    Seq("indexParam", "measurement", "metricArg", "normVec", "count", "dim")
      .foreach(need)
    def str(n: String) = if (has(n)) kv.get(n).asText() else null
    def lng(n: String) = kv.get(n).asLong()
    val dflt = SearcherParams()
    def lngOr(n: String, d: Long) = if (has(n)) kv.get(n).asLong() else d
    val params = SearcherParams(
      itemCol = Option(str("itemCol")).filter(_.nonEmpty),
      idCol = None, // ids already materialized in the saved table
      indexParam = str("indexParam"),
      measurement = str("measurement"),
      metricArg = kv.get("metricArg").asDouble(),
      normVec = kv.get("normVec").asBoolean(),
      docFeatureSep = Option(str("docFeatureSep")).filter(_.nonEmpty),
      queryFeatureSep = Option(str("queryFeatureSep")).filter(_.nonEmpty),
      nprobe = lngOr("nprobe", dflt.nprobe).toInt,
      efSearch = lngOr("efSearch", dflt.efSearch).toInt,
      hnswGraphs = lngOr("hnswGraphs", dflt.hnswGraphs).toInt,
      broadcastThreshold = lngOr("broadcastThreshold", dflt.broadcastThreshold),
      lshBatchHint = lngOr("lshBatchHint", dflt.lshBatchHint).toInt,
      lshExactFallback =
        if (has("lshExactFallback")) kv.get("lshExactFallback").asBoolean()
        else dflt.lshExactFallback,
      refineKFactor = lngOr("refineKFactor", dflt.refineKFactor).toInt,
      efConstruction = lngOr("efConstruction", dflt.efConstruction).toInt,
      autoCompactAtSegmentRatio =
        if (has("autoCompactAtSegmentRatio"))
          kv.get("autoCompactAtSegmentRatio").asDouble()
        else dflt.autoCompactAtSegmentRatio)
    // construct first: the searcher strips any PCA prefix off indexParam,
    // so the kinds below are the inner index's
    val searcher = new SparkSearcher(encoder, params)
    // explicit read schema when the save recorded one (r22): parquet
    // schema inference over a just-written directory runs a footer-
    // reading Spark job per read — pure fixed cost when the writer
    // already knew the schema. Absent field (pre-r22 artifact) falls
    // back to inference.
    val read =
      if (has("itemsSchema"))
        spark.read.schema(org.apache.spark.sql.types.DataType
            .fromJson(kv.get("itemsSchema").asText()).asInstanceOf[StructType])
          .parquet(s"$path/items")
      else spark.read.parquet(s"$path/items")
    val indexed = searcher.layout.atRest(read).persist(StorageLevel.MEMORY_AND_DISK)
    val n = materialize(indexed)
    require(n == lng("count"),
      s"index load: ntotal $n != stored ${lng("count")} (faiss_searcher.py:112)")
    // each kind reads its own metadata tables; fittedGraphs 0/missing =
    // non-HNSW or a pre-r20 save, whose add()/compact() fall back to the
    // params/parallelism heuristic those artifacts were operated under
    val meta = new MetaDir(spark, path)
    val layout = searcher.layout.load(meta, Some(lngOr("fittedGraphs", 0L).toInt).filter(_ > 0))
    val storage = searcher.storage.load(meta)
    // dim re-derivation from whichever FITTED artifact carries the width
    // (the artifact-consistency invariant, minus one head() job per load);
    // only a storage with no fitted width on a layout with none reads it
    // off the first stored row
    val d = storage.fittedDim.orElse(layout.fittedDim).getOrElse(storage.probeDim(indexed))
    require(d == lng("dim"),
      s"index load: dim $d != stored ${lng("dim")} (faiss_searcher.py:113)")
    val payload = indexed.columns
      .filterNot(Set(ROW_ID, ITEM_SAVED, VEC, IvfIndex.CID, BUCKETS, PqIndex.CODES,
        NswGraph.GPART, NswGraph.NBRS)).toSeq
    // PCA-prefix kernel: indexParam carries the spelling, so the spec is
    // already parsed; n_components is re-asserted by the loader. The R
    // rotation was composed into the saved kernel at fit time
    val pca = searcher.pcaSpec.map { case (nc, _, _) =>
      graft.whitening.VecsWhiteningModel.load(spark, s"$path/pca", Some(nc))
    }
    val model = holdCache(new SearcherModel(searcher, indexed.withColumnRenamed(ITEM_SAVED, ITEM),
      payload, n, d, layout, storage, pca), indexed)
    // migration notice (r19, ADVICE): a save without formatVersion
    // predates the joint-auto LSH degenerate reroute — if this load's
    // deterministic route now serves through the exact kernel, the model
    // returns a recall-1.0 SUPERSET of the bucket serving it was saved
    // under. Same contract, better recall, but an existing artifact's
    // behavior change deserves an explicit line, not silence.
    if (!has("formatVersion") && model.lshServeExact)
      org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher").warn(
        s"index load: pre-r19 LSH model at $path resolves to the exact-scan " +
          "serving route under the joint-auto degenerate check (its config " +
          "prices at >= an exact scan); results are a recall-1.0 superset " +
          "of the bucket serving this artifact was saved with")
    model
  }

  /** Serving-format version stamped into params.json at save. 19 = the
    * joint-auto LSH reroute era; 20 adds the persisted fitted graph
    * layout + build-config fields (all read tolerantly — the version is
    * a provenance marker, not a gate). */
  private[search] val FormatVersion = 20L

  private[search] val ITEM = "__item"
  private[search] val ITEM_SAVED = "item"
  private[search] val BUCKETS = "__lsh_buckets"

  // The cache entry each live model serves from. Two fits of one input
  // frame (or two loads of one path) persist the same plan, and Spark's
  // cache manager keeps ONE entry for both: a model releases the entry
  // only when no other live model holds it. Weak keys: a model that is
  // dropped without unpersist() leaves nothing here.
  private val cacheHolders = new java.util.WeakHashMap[SearcherModel, CachedData]()

  private def classicSession(df: DataFrame) =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Record `model` as a holder of `persisted`'s cache entry. */
  private[search] def holdCache(model: SearcherModel, persisted: DataFrame): SearcherModel = {
    classicSession(persisted).sharedState.cacheManager
      .lookupCachedData(persisted.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .foreach(cd => cacheHolders.synchronized { cacheHolders.put(model, cd) })
    model
  }

  /** Drop `model`'s hold on its index cache; the last holder uncaches it.
    * Releasing twice, or a model that holds nothing, is a no-op. */
  private[search] def releaseCache(model: SearcherModel): Unit = {
    def builder(cd: CachedData) = cd.cachedRepresentation.cacheBuilder
    val lastHeld = cacheHolders.synchronized {
      Option(cacheHolders.remove(model)).filterNot { cd =>
        cacheHolders.values.stream.anyMatch(builder(_) eq builder(cd))
      }
    }
    lastHeld.foreach { cd =>
      val spark = classicSession(model.indexed)
      val manager = spark.sharedState.cacheManager
      // the entry may already be gone (clearCache), or replaced by a later
      // cache of the same plan that this model never held
      if (manager.lookupCachedData(spark, cd.plan).exists(builder(_) eq builder(cd)))
        manager.uncacheQuery(spark, cd.plan, cascade = false)
    }
  }
}

/**
 * A trained searcher: the materialized `(row_id, item, vec, payload…)`
 * table plus its fitted [[Layout]] and [[Storage]] (and the PCA-prefix
 * projection, if any). Query surface mirrors faiss_searcher.py:127-208.
 */
class SearcherModel private[search] (
    val searcher: SparkSearcher,
    private[search] val indexed: DataFrame,
    val payloadCols: Seq[String],
    val count: Long,
    val dim: Int,
    private[search] val layout: Layout,
    private[search] val storage: Storage,
    private[search] val pcaModel: Option[graft.whitening.VecsWhiteningModel]) {

  import SparkSearcher._

  /** The same fitted model over a grown/shrunk/rebuilt index. */
  private def withIndex(df: DataFrame, n: Long): SearcherModel =
    new SearcherModel(searcher, df, payloadCols, n, dim, layout, storage, pcaModel)

  // Grow ops CONSUME the receiver (r20, ADVICE): add()/remove()/compact()
  // release the old model's checkpoint-backed blocks once the grown index
  // is materialized — pre-r19 a stale handle degraded to a correct (slow)
  // lineage recompute, but a checkpoint-backed receiver (itself the result
  // of a grow op) now fails with a cryptic lost-block error. Make the
  // contract explicit: any use of a consumed model throws with the op
  // that consumed it. Set ONLY on grow-op success (a rejected remove() or
  // a no-op compact() leaves the receiver live).
  @volatile private var consumedBy: String = null
  private def markConsumed(op: String): Unit = consumedBy = op
  private def requireLive(): Unit =
    if (consumedBy != null) throw new IllegalStateException(
      s"this SearcherModel was consumed by $consumedBy() — grow operations " +
        "release the receiver's cached/checkpointed index blocks; use the " +
        "model they RETURNED instead (faiss mutates in place; the Spark " +
        "analog hands you the grown immutable model and retires the old one)")

  /** Bring encoded vectors in column `c` into the index's space, in fit's
    * order: normVec normalize → fitted PCA projection → (codes under cos)
    * MATERIALIZED normalize in the projected space. */
  private def toIndexSpace(df: DataFrame, c: String, codesCos: Boolean): DataFrame = {
    def l2(d: DataFrame) = d.withColumn(c, VectorFunctions.vec_l2_normalize(col(c)))
    val nv = if (params.normVec && params.measurement != "cos") l2(df) else df
    val projected = pcaModel.fold(nv)(m => nv.withColumn(c, m.transformCol(col(c))))
    if (codesCos) l2(projected) else projected
  }
  private def params = searcher.params
  private def metric = searcher.metric
  private val spark = indexed.sparkSession

  // frames this model persisted on the caller's behalf (the multi-K
  // max-K results): released by unpersist() so a long-lived session
  // doesn't accumulate one cached DataFrame per searchMulti call — the
  // cache-leak class round 4 closed for the pipelines (CacheDiscipline)
  private val auxPersisted =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def trackPersist(df: DataFrame): DataFrame = {
    auxPersisted.synchronized { auxPersisted += df }
    df
  }

  /** Does LSH serving route through the exact kernel? ([[LshBuckets.serveExact]]) */
  private[search] def lshServeExact: Boolean = lsh.exists(_.serveExact(params.lshExactFallback))
  private def lsh = Some(layout).collect { case l: LshBuckets => l }
  private def hnsw = Some(layout).collect { case h: HnswGraphs => h }
  /** Fitted HNSW graph count, None for other layouts or pre-r20 saves. */
  private[search] def fittedGraphs: Option[Int] = hnsw.flatMap(_.fittedGraphs)
  /** A refine stage: codes propose candidates, kept floats re-rank them. */
  private def refined: Boolean = storage.codesOnly && searcher.keepFloats

  /** Fitted graph count — `max(__gpart) + 1` over the cached index (one
    * bounded agg, computed once per model). Derived from the DATA, not
    * re-estimated from parallelism: a loaded index keeps the graph count
    * it was fitted with even when the serving cluster differs. */
  private lazy val hnswGraphCount: Int = {
    // null-safe: max() over an EMPTY fitted index is null — fall back to
    // one graph instead of an NPE from describe/effectiveEf
    val row = indexed.agg(max(col(NswGraph.GPART))).head()
    if (row.isNullAt(0)) 1 else row.getInt(0) + 1
  }

  /** Rows living in the FITTED graphs (gpart < fitted target) — the
    * fitted/segment split [[describe]] reports. Cached per model instance
    * (the split is immutable for a given SearcherModel: add()/compact()
    * return NEW models), so a dashboard polling describe() runs the count
    * job once, not per call (r21, ADVICE). */
  private lazy val hnswFittedRows: Long =
    indexed.filter(col(NswGraph.GPART) < fittedGraphTarget).count()

  /** compact()'s rebuild target and add()'s segment-growth baseline: the
    * FITTED graph layout. Persisted with the model (r20, params.json
    * `fittedGraphs`), so a grown model loaded on a bigger cluster still
    * compacts to the layout it was fitted with, and a never-grown model
    * loaded on a smaller one stays a compact() no-op — parallelism of
    * the SERVING session never rewrites the layout contract. Pre-r20
    * saves lack the field: fall back to the old heuristic (explicit
    * `hnswGraphs`, else this session's parallelism), the behavior those
    * artifacts were operated under. */
  private def fittedGraphTarget: Int =
    fittedGraphs.getOrElse(HnswGraphs.numGraphs(params, spark))

  /** [[SparkSearcher.resolveEf]] over the fitted state (efSearch=0 ⇒
    * beam-fraction auto; explicit values untouched). Lazy: the auto
    * resolution is a function of fitted state, resolved — and logged —
    * once per model, not on every search call. */
  private[search] lazy val effectiveEf: Int = {
    val ef = SparkSearcher.resolveEf(params.efSearch, count, hnswGraphCount)
    if (params.efSearch <= 0)
      org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher").info(
        s"HNSW auto efSearch: $count rows / $hnswGraphCount graphs -> ef=$ef")
    ef
  }

  /** One-row introspection of the FITTED operating point: every auto
    * the engine resolved, as the values that will actually serve — the
    * faiss "index properties" analog for ops dashboards and config
    * review. Family-irrelevant columns are null. Deterministic given
    * the fitted model (auto resolutions are functions of fitted state
    * only), so a dashboard diff catches a changed operating point. */
  def describe: DataFrame = {
    requireLive()
    val sp = spark
    import sp.implicits._
    val nprobeRes = fittedCentroids.map(c => IndexStrategy.resolveNprobe(params.nprobe, c.length))
    // HNSW serving lifecycle (r20): current vs fitted graph layout and
    // the compact() recommendation — SAME criterion as add()'s warning
    // (segment rows exceed the fitted corpus; the r19 2M ladder measured
    // batch latency ~linear in graph count, and compact() restoring the
    // fitted latency at recall 1.0), surfaced for ops dashboards so the
    // merge decision doesn't live only in driver logs
    val compactRec = hnsw.map(_ =>
      hnswGraphCount > fittedGraphTarget && count - hnswFittedRows > hnswFittedRows)
    val kfRes = Some(count).filter(_ => refined)
      .map(SparkSearcher.resolveRefineKFactor(params.refineKFactor, _))
    Seq((params.indexParam, searcher.strategy.toString, count, dim,
        nprobeRes, hnsw.map(_ => effectiveEf), kfRes,
        lsh.map(_.planes.length), lsh.map(_.planes(0).length), lsh.map(_.exactCheaper),
        lsh.map(_ => if (lshServeExact) "exact" else "buckets"),
        params.measurement, params.metricArg,
        hnsw.map(_ => hnswGraphCount), hnsw.map(_ => fittedGraphTarget), compactRec))
      .toDF("index_param", "effective_index", "count", "dim",
        "resolved_nprobe", "resolved_ef_search", "resolved_refine_kfactor",
        "lsh_tables", "lsh_bits", "lsh_exact_cheaper", "lsh_route",
        "measurement", "metric_arg",
        "hnsw_graphs", "hnsw_fitted_graphs", "compact_recommended")
  }

  /** Fitted model parameters, exposed for data-dependent oracle building
    * (the correctness gate embeds them as SQL literals — they are
    * deterministic functions of the fitted table). */
  def fittedCodebooks: Option[Array[Array[Array[Float]]]] = storage.codebooks
  def fittedCentroids: Option[Array[Array[Float]]] =
    Some(layout).collect { case IvfCells(_, c) => c }
  def fittedLshPlanes: Option[Array[Array[Array[Float]]]] = lsh.map(_.planes)
  def fittedSqBounds: Option[(Array[Float], Array[Float])] =
    Some(storage).collect { case SqCodes(_, mn, df) => (mn, df) }
  def fittedOpqRotation: Option[Array[Array[Float]]] =
    Some(storage).collect { case OpqCodes(_, rot, _) => rot }

  /** Truncate at feature separator: `str(x).split(sep)[0]`
    * (faiss_searcher.py:150-156). `substring_index` keeps everything before
    * the first occurrence — equal semantics for 1 field, and avoids regex
    * escaping of the separator. */
  private def sepSplit(c: Column, sep: Option[String]): Column =
    sep.fold(c)(s => substring_index(c.cast("string"), s, 1))

  /**
   * Incremental add — faiss `index.add` semantics: append newly-encoded
   * items WITHOUT refitting quantizers. IVF cells, LSH buckets and PQ
   * codes for the new rows are assigned under the EXISTING centroids /
   * planes / codebooks, exactly like faiss `add()` after `train()` (the
   * quantizer represents the training distribution; recall for rows far
   * outside it degrades the same way faiss's does — refit if the
   * distribution moved). Positional row ids continue from `count`
   * (faiss ntotal); with `idCol` set, id uniqueness is the caller's
   * contract as in `fit`. Returns the grown model; the old cached index
   * is unpersisted once the union is materialized.
   *
   * ==The receiver is CONSUMED==
   * On success the old model's cached/checkpointed index blocks are
   * released (they are what the grown model's lineage-free union
   * replaced) — any later use of the receiver throws
   * [[IllegalStateException]]. Branching (`m.add(x)` and `m.add(y)` from
   * the same `m`) is not supported: faiss mutates the index in place, so
   * the reference has no branched-index semantics to honor either —
   * re-`fit` or `save`/`load` to fork. With
   * [[SearcherParams.autoCompactAtSegmentRatio]] > 0 the returned HNSW
   * model is already [[compact]]ed when segment growth tripped the
   * ratio — one policy knob instead of a manual merge schedule.
   *
   * ==Single-threaded handoff==
   * The consumed-receiver guard is check-then-act: it catches SEQUENTIAL
   * misuse (any call after a grow op on this handle throws the named
   * exception), not concurrent races — a `search()`/`save()` running on
   * another thread while `add()`/`remove()`/`compact()` consumes the
   * receiver can pass the check and then hit the released blocks
   * mid-job. Grow ops assume they own the model exclusively, like faiss's
   * in-place `index.add`; concurrent readers of a model being grown are
   * unsupported — hand the RETURNED model to readers only after the grow
   * call completes.
   */
  def add(items: DataFrame): SearcherModel = {
    requireLive()
    val itemCol = params.itemCol.getOrElse(items.columns.head)
    require(items.columns.contains(itemCol), s"item column '$itemCol' missing")
    val encoded = toIndexSpace(searcher.encoder.encode(items, itemCol, VEC), VEC,
      storage.codesOnly && params.measurement == "cos")
    val withId = params.idCol match {
      case Some(c) => encoded.withColumn(ROW_ID, col(c).cast(LongType))
      case None =>
        // continue past the HIGHEST existing id, not ntotal: a model fitted
        // (or loaded) with sparse explicit ids must never hand out a
        // colliding positional id
        val nextId = indexed.agg(max(col(ROW_ID))).head().getLong(0) + 1
        zipWithRowId(encoded).withColumn(ROW_ID, col(ROW_ID) + nextId)
    }
    val newPayload = items.columns.filter(c =>
      c != itemCol && !params.idCol.contains(c) &&
        !searcher.encoder.sourceCols.contains(c)).toSeq
    require(newPayload == payloadCols,
      s"add: payload columns $newPayload must match the fitted $payloadCols")
    val base = withId.select((col(ROW_ID) +: col(itemCol).as(ITEM) +: col(VEC) +:
      payloadCols.map(col)): _*)
    // rows are assigned and encoded under the EXISTING quantizers, with
    // the same expressions fit used; HNSW rows get fresh segment graphs
    // past the existing ones (max(__gpart)+1 via the cached lazy val)
    val encodedPart = storage.encode(layout.assign(searcher, base, hnswGraphCount))
    val newPart = if (searcher.keepFloats) encodedPart else encodedPart.drop(VEC)
    // Break the lineage BEFORE dropping the parent cache (r19).
    // Mechanism (pinned by GrowHandOffSpec):
    // unions over LIVE caches substitute InMemoryTableScans fine, but
    // unpersist() on a parent DROPS the dependent union-cache's entry
    // from the cache manager — new plans miss it (zero IMTS) even while
    // the dependent's own already-planned re-count keeps its data. The
    // pre-r19 persist-then-unpersist-parent hand-off therefore made the
    // NEXT add replay the FULL lineage (for a fit-derived HNSW model a
    // whole base-graph rebuild per add: the r19 segment probe measured
    // every post-first add at ≈ fit cost, 104–139 s vs the real ~10 s
    // segment build at 2M). An EAGER localCheckpoint materializes the
    // union into lineage-free blocks — the next union embeds the block
    // RDD directly, nothing to invalidate — and the parent cache can be
    // dropped with nothing depending on it: the CacheDiscipline pattern
    // applied to the incremental-index hand-off.
    // the row count — and, for HNSW, the fitted/segment split the growth
    // policy below needs — ride the eager checkpoint's own
    // materialization job via observe (r22; the Dedup ckptSigTracked
    // pattern): localCheckpoint(true) already scans every row, so the
    // old follow-up count() (and the policy's filter-count) were one and
    // two whole extra jobs per add
    val unioned = indexed.unionByName(newPart).observe("__addmeta",
      org.apache.spark.sql.functions.count(lit(1)).as("__n"), hnsw.toSeq.map(_ =>
        coalesce(sum(when(col(NswGraph.GPART) < lit(fittedGraphTarget), 1L)
          .otherwise(0L)), lit(0L)).as("__fitted")): _*)
    val combined = unioned.localCheckpoint(true)
    val addMeta = unioned.queryExecution.observedMetrics("__addmeta")
    val n = addMeta.getLong(0)
    releaseCache(this)
    // a previous add/remove/compact left checkpoint-backed blocks the
    // cache release cannot reach (they are LogicalRDD leaves, not
    // cache-manager entries) — drop those too; the old model is consumed
    graft.util.CacheDiscipline.release(indexed)
    markConsumed("add")
    val grown = withIndex(combined, n)
    // segment-growth policy (r19 warning, r20 merge policy): repeated
    // HNSW add() accumulates fresh segment graphs, and per-graph beam
    // economics degrade as the segment share grows (every graph is
    // searched at the full beam, so cost scales with graph COUNT while
    // each appended graph holds only its slice). One bounded agg over
    // the cached union measures the split against the FITTED layout
    // (persisted, not re-derived from this cluster's parallelism):
    // - autoCompactAtSegmentRatio > 0 and tripped → compact() inline
    //   (the opt-in Lucene-merge-policy shape; the returned model is
    //   already in the fitted layout)
    // - otherwise, once segment rows exceed the fitted corpus the
    //   guidance is logged: compact() (one graph rebuild) restores it.
    if (hnsw.isDefined) {
      val g0 = fittedGraphTarget
      // observed on the checkpoint job above — no second scan
      val fittedRows = addMeta.getLong(1)
      val segRows = n - fittedRows
      val ratio = params.autoCompactAtSegmentRatio
      val log = org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher")
      if (ratio > 0 && fittedRows > 0 && segRows >= ratio * fittedRows) {
        log.info(s"HNSW add: segment rows $segRows / fitted $fittedRows " +
          f"reached autoCompactAtSegmentRatio=$ratio%.2f — compacting " +
          s"into the fitted $g0-graph layout")
        // the RECEIVER is already consumed and its blocks released by
        // this point; if the full-graph rebuild dies (executor loss/OOM)
        // the caller must still get a usable model — return the grown
        // segmented one (still live: compact() consumes it only after
        // its rebuild materializes) instead of propagating and leaking
        // its checkpoint blocks (r21, ADVICE)
        return (try grown.compact() catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("HNSW add: in-add compact failed — returning the " +
              "grown segmented model; call compact() again when the " +
              s"cluster recovers (${e.getMessage})", e)
            grown
        })
      }
      if (segRows > fittedRows)
        log.warn(
          s"HNSW add: segment graphs now hold $segRows rows vs " +
            s"$fittedRows fitted — growth exceeded the fitted corpus; " +
            "per-graph beam economics degrade from here (each graph is " +
            "searched at the full beam). Call compact() to rebuild into " +
            s"the fitted $g0-graph layout (or opt in to " +
            "autoCompactAtSegmentRatio), or refit.")
    }
    grown
  }

  /**
   * Merge add()-grown HNSW segment graphs back into the fitted layout —
   * the Lucene forceMerge analog: ONE graph rebuild over every row
   * (exactly a refit's graph cost, but without re-encoding, re-reading
   * or re-deriving any quantizer state), returning a model whose search
   * fans out over the fitted graph count again instead of
   * fitted + segments·adds. No-op (returns `this`) when nothing is
   * segmented: non-HNSW indexes append into existing cells/buckets/code
   * tables (no segment growth to merge), and an HNSW model that was
   * never add()-grown is already in its fitted layout. The rebuild
   * target is the PERSISTED fitted layout (r20) — a grown model loaded
   * on a cluster with more parallelism still compacts back to the graph
   * count it was fitted with, and a never-grown model loaded on a
   * smaller one stays a no-op. On a real rebuild the receiver is
   * CONSUMED (see [[add]]); the no-op tiers leave it live.
   */
  def compact(): SearcherModel = {
    // consumed-receiver check BEFORE the strategy dispatch (r21, ADVICE):
    // the no-op tiers (non-HNSW, never-grown HNSW) return `this` — on a
    // consumed model that would silently hand the dead receiver back and
    // the caller only discovers the staleness on a later search
    requireLive()
    hnsw.filter(_ => hnswGraphCount > fittedGraphTarget).fold(this) { h =>
      val numGraphs = fittedGraphTarget
      val base = indexed.drop(NswGraph.GPART, NswGraph.NBRS)
      // eager checkpoint before releasing the parent cache — same
      // dependent-cache invalidation hazard as add() (see there)
      val rebuiltObs = NswGraph.buildGraphs(base, VEC, ROW_ID, h.m,
        SparkSearcher.resolveEfConstruction(params.efConstruction, h.m),
        numGraphs, params.measurement, params.metricArg, gpartOffset = 0)
        .observe("__compactmeta",
          org.apache.spark.sql.functions.count(lit(1)).as("__n"))
      val rebuilt = rebuiltObs.localCheckpoint(true)
      // rides the eager checkpoint's own job (r22) — no follow-up count
      val n2 = rebuiltObs.queryExecution.observedMetrics("__compactmeta")
        .getLong(0)
      org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher").info(
        s"HNSW compact: $hnswGraphCount graphs -> $numGraphs, $n2 rows")
      releaseCache(this)
      graft.util.CacheDiscipline.release(indexed)
      markConsumed("compact")
      withIndex(rebuilt, n2)
    }
  }

  /**
   * Remove rows by id — faiss `remove_ids` semantics: the rows stop
   * matching immediately; quantizers (IVF centroids, PQ codebooks, LSH
   * planes) are untouched, exactly like faiss. Anti-join on row_id, so
   * removal scales with the index, not the id list. On success the
   * receiver is CONSUMED (see [[add]]); the HNSW rejection below leaves
   * it live.
   */
  def remove(ids: DataFrame, idCol: String): SearcherModel = {
    requireLive()
    // faiss raises "remove_ids not implemented" for HNSW too: deleting
    // graph nodes invalidates the adjacency their neighbors route through
    // (and the anti-join would scatter graph co-location). Mirror faiss:
    // reject, refit (or filter results downstream) instead
    if (hnsw.isDefined) throw new UnsupportedOperationException(
      "remove() is not supported on HNSW graph indexes (faiss raises " +
        "'remove_ids not implemented' for IndexHNSW as well) — refit " +
        "without the rows, or anti-join the search results")
    // eager checkpoint before releasing the parent cache — same
    // dependent-cache invalidation hazard as add() (see there)
    val combinedObs = indexed
      .join(ids.select(col(idCol).cast(LongType).as(ROW_ID)), Seq(ROW_ID), "left_anti")
      .observe("__removemeta",
        org.apache.spark.sql.functions.count(lit(1)).as("__n"))
    val combined = combinedObs.localCheckpoint(true)
    // rides the eager checkpoint's own job (r22) — no follow-up count
    val n = combinedObs.queryExecution.observedMetrics("__removemeta").getLong(0)
    releaseCache(this)
    graft.util.CacheDiscipline.release(indexed)
    markConsumed("remove")
    withIndex(combined, n)
  }

  /**
   * Range search — faiss `range_search`: ALL items within `threshold` of
   * each query (≥ for similarity metrics, ≤ for distances), not a top-k.
   * Exact scan shape (broadcast queries × streamed index, codegen
   * distance); result is unbounded by design, so no rank column —
   * `[<queryIdCol>, source_item, sim_val, sim_item, payload…]`.
   */
  def searchRange(queries: DataFrame, threshold: Double,
      queryIdCol: Option[String] = None): DataFrame = {
    requireLive()
    require(count > 0, "search before fit (faiss_searcher.py:187)")
    // stored (or refine-kept) floats; else fp16 ranges over its
    // reconstruction (faiss SQ range_search does the same), decoded in the
    // scoring projection
    val fp16Codes = !indexed.columns.contains(VEC)
    val scanBase = if (!fp16Codes) Some(indexed)
      else storage.floats(indexed, indexed.columns.filter(_ != ROW_ID).map(col): _*)
    require(scanBase.isDefined,
      "range search needs stored vectors (Flat/IVF/LSH) or decodable fp16 " +
        "codes (PQ/SQ8/SQ4 keep lossy byte codes only)")
    val qItemCol = params.itemCol
      .filter(queries.columns.contains).getOrElse(queries.columns.head)
    val withId = queryIdCol match {
      case Some(c) => queries.withColumn(QID, col(c))
      case None    => zipWithRowId(queries, QID)
    }
    // fp16 is the one code family that ranges — its cos fit normalized the
    // corpus AND trained the IVF centroids on unit vectors, so the probing
    // query is normalized the same way; cos itself is scale-invariant, so
    // threshold semantics are unchanged
    val qn = toIndexSpace(searcher.encoder.encode(withId, qItemCol, QVEC)
        .select(col(QID), col(qItemCol).as(SourceItem), col(QVEC)),
      QVEC, fp16Codes && params.measurement == "cos")
    val dist = metric.dist(col(QVEC), col(VEC))
    val keep = if (metric.higherIsCloser) dist >= threshold else dist <= threshold
    // the layout picks the candidate rows (IVF probes cells, LSH joins
    // buckets, the rest scan exactly); a refine stage ranges exactly over
    // its kept floats
    val scored = (if (refined) NoLayout else layout).rangeScan(this, scanBase.get, qn,
      col(ROW_ID) +: col(ITEM) +: col(VEC) +: payloadCols.map(col))
    scored
      .filter(keep)
      .select((col(QID).as(queryIdCol.getOrElse("query_id")) +:
        sepSplit(col(SourceItem), params.queryFeatureSep).as(SourceItem) +:
        dist.cast(FloatType).as(SimVal) +:
        sepSplit(col(ITEM), params.docFeatureSep).as(SimItem) +:
        payloadCols.map(col)): _*)
  }

  /**
   * Top-K similarity search (reference `search` + `search_items`,
   * faiss_searcher.py:127-169). Queries is any DataFrame whose `queryIdCol`
   * uniquely identifies rows (assigned via zipWithIndex when absent) and
   * whose item column (first column by default) is encodable by the
   * searcher's encoder.
   *
   * Result schema (faiss_searcher.py:129-131): `[<queryIdCol>, source_item,
   * sim_val: float, rank_no: int (if keepRankNo), sim_item, payload…]`,
   * rank-ordered per query, ties broken by `row_id` (SURVEY §4).
   *
   * Like faiss's eager `search`, a cell-scan batch that fits one query
   * chunk runs its scan here, when called, and returns a local relation
   * ([[CellScan.topK]]), unless its payload is over the broadcast guard.
   * A batch of several chunks also runs here, one chunk at a time, and
   * returns its pinned hits (free them with `CacheDiscipline.release`);
   * the rest (a capped single chunk, the LSH bucket and `RFlat` routes)
   * return a lazy plan. A cell scan collects its query chunks here on
   * either finish, as `InternalRow`s, and computes each query's probe list
   * here after that collect; the driver finish builds its local relation
   * from `InternalRow`s. A query vector that is null or has a NaN or
   * infinite component gets no hits.
   */
  def search(queries: DataFrame, topK: Int, keepRankNo: Boolean = false,
      queryIdCol: Option[String] = None): DataFrame = {
    requireLive()
    require(count > 0, "search before fit (faiss_searcher.py:187)")
    val qItemCol = params.itemCol
      .filter(queries.columns.contains).getOrElse(queries.columns.head)
    val withId = queryIdCol match {
      case Some(c) => queries.withColumn(QID, col(c))
      case None    => zipWithRowId(queries, QID)
    }
    val qn = toIndexSpace(searcher.encoder.encode(withId, qItemCol, QVEC)
        .select(col(QID), col(qItemCol).as(SourceItem), col(QVEC)),
      QVEC, storage.codesOnly && params.measurement == "cos")

    // payload gather-join (the reference's iloc, faiss_searcher.py:146-147),
    // under the byte guard of `payloadBytes`
    val gather = count <= params.broadcastThreshold && payloadBytes <= BigInt(payloadByteCap)
    // under the same guard a single-chunk cell scan carries the item and
    // payload to a driver finish (CellScan.topK): it runs here, as one job,
    // and holds at most q·k of the rows the broadcast would collect
    val hits = topKHits(qn, topK, if (gather) payloadSide.columns.tail.toSeq else Nil)
    val joined =
      if (hits.columns.contains(ITEM)) hits
      else hits.join(if (gather) broadcast(payloadSide) else payloadSide, ROW_ID)

    val base = Seq(
      col(QID).as(queryIdCol.getOrElse("query_id")),
      sepSplit(col(SourceItem), params.queryFeatureSep).as(SourceItem),
      col(DIST).cast(FloatType).as(SimVal)) ++
      (if (keepRankNo) Seq((col(RANK) - 1).cast("int").as(RankNo)) else Nil) ++
      Seq(sepSplit(col(ITEM), params.docFeatureSep).as(SimItem)) ++
      payloadCols.map(col)
    // no global sort here: results are identified by (query id, rank_no);
    // callers that need a total order add their own orderBy
    joined.select(base: _*)
  }

  /** Reference raw-path return shape (faiss_searcher.py:133-136): the
    * no-encoder path hands back ALIGNED k-length matrices — matched item
    * labels and distances per query — rather than one row per hit. Spark
    * analog: one rank-ordered array aggregation on top of the standard
    * search plan (`sim_items[r]` pairs with `sim_vals[r]`, rank-ascending);
    * no extra scan, and strictly more informative than the reference's
    * tuple because the query id and source item ride along. */
  def searchRaw(queries: DataFrame, topK: Int,
      queryIdCol: Option[String] = None): DataFrame = {
    val qc = queryIdCol.getOrElse("query_id")
    val res = search(queries, topK, keepRankNo = true, queryIdCol = queryIdCol)
    val rows = res.groupBy(col(qc), col(SourceItem))
      .agg(array_sort(collect_list(struct(col(RankNo).as("r"),
        col(SimItem).as("i"), col(SimVal).as("v")))).as("__h"))
      .select(col(qc), col(SourceItem),
        transform(col("__h"), x => x.getField("i")).as("sim_items"),
        transform(col("__h"), x => x.getField("v")).as("sim_vals"))
    // alignment contract: EVERY query gets a row, like the reference's
    // fixed-shape matrices (faiss pads missing hits; a query that collides
    // in no LSH bucket / probes only empty cells gets EMPTY arrays here —
    // dropping it would silently misalign the caller's query list). Only
    // expressible when the caller names its id column; the positional-id
    // path can't re-derive dropped ids outside the search plan.
    queryIdCol match {
      case None => rows
      case Some(c) =>
        val qItemCol = params.itemCol
          .filter(queries.columns.contains).getOrElse(queries.columns.head)
        val universe = queries.select(col(c).as(qc),
          sepSplit(col(qItemCol), params.queryFeatureSep).as(SourceItem)).distinct()
        universe.join(rows, Seq(qc, SourceItem), "left")
          .select(col(qc), col(SourceItem),
            coalesce(col("sim_items"), array().cast(rows.schema("sim_items").dataType)).as("sim_items"),
            coalesce(col("sim_vals"), array().cast(rows.schema("sim_vals").dataType)).as("sim_vals"))
    }
  }

  /** Top-k hits `(QID, SourceItem, ROW_ID, DIST, RANK)` through the
    * layout's route — shared by [[search]] and the refine stage.
    *
    * faiss IndexRefineFlat (the `…,RFlat` factory suffix): the code-based
    * route proposes topK·kFactor candidates cheaply, the kept float
    * vectors re-score them EXACTLY, top-k of the exact scores wins.
    * Candidate misses are the only recall loss left — quantization error
    * no longer reorders the final ranking. */
  private def topKHits(qn: DataFrame, topK: Int, carry: Seq[String]): DataFrame =
    if (!refined) layout.topK(this, qn, topK, carry)
    else {
      // refineKFactor = 0 (default) scales the pool with the corpus
      // (quadruple per decade, the measured ladder — resolveRefineKFactor);
      // an explicit value passes through, with a warning when it is a
      // small fixed pool at the scale where the measured decay is
      // material (RECALL.md: x4 reads 0.470 @ 200k, 0.347 @ 2M)
      val kFactor = SparkSearcher.resolveRefineKFactor(params.refineKFactor, count)
      val rlog = org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher")
      if (params.refineKFactor <= 0)
        rlog.info(s"RFlat auto pool: $count rows -> kFactor=$kFactor")
      else if (params.refineKFactor <= 4 && count >= 100000L)
        rlog.warn(s"RFlat refine pinned at x$kFactor over $count rows: a " +
          "fixed pool's recall decays with corpus growth (RECALL.md: x4 " +
          "reads 0.470 @ 200k, 0.347 @ 2M) — set refineKFactor=0 (auto) " +
          "or raise it, or serve IVF-auto/HNSW")
      mergeTopK(layout.topK(this, qn, topK * kFactor, Nil).select(col(QID), col(ROW_ID))
        .join(indexed.select(col(ROW_ID), col(VEC)), ROW_ID)
        .join(broadcast(qn.select(col(QID), col(QVEC))), QID), qn, topK)
    }

  /** Multi-K on the RAW path (faiss_searcher.py:170-183: the raw branch
    * slices the aligned matrices per k — `labels[:, :k]`, line 181): ONE
    * [[searchRaw]] at `max(ks)`, each smaller k derived by truncating the
    * rank-ordered arrays — `slice(·, 1, k)` is the columnar `[:, :k]`.
    * The prefix property makes this exact: the arrays are rank-ordered,
    * so the first k entries of the max-K result ARE the top-k result. */
  def searchRawMulti(queries: DataFrame, topKs: Seq[Int],
      queryIdCol: Option[String] = None): Map[Int, DataFrame] = {
    require(topKs.nonEmpty, "topKs must be non-empty")
    val full = trackPersist(searchRaw(queries, topKs.max, queryIdCol)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val qc = queryIdCol.getOrElse("query_id")
    topKs.map { k =>
      k -> full.select(col(qc), col(SourceItem),
        slice(col("sim_items"), 1, k).as("sim_items"),
        slice(col("sim_vals"), 1, k).as("sim_vals"))
    }.toMap
  }

  /** The payload side of a search's gather-join: `(ROW_ID, ITEM, payload…)`. */
  private lazy val payloadSide = indexed.select((col(ROW_ID) +: col(ITEM) +: payloadCols.map(col)): _*)

  /** The payload side's estimated bytes, once per model (the index is
    * fixed): the broadcast decision is row-count AND byte guarded, since
    * the row threshold alone is byte-blind — 2M rows of 10 KB documents is
    * a ~20 GB broadcast that OOMs every executor at exactly the corpus
    * scale the row check still admits. Bytes come from the CACHED
    * relation's real stats (the index is persisted + counted at fit),
    * conservatively: column pruning doesn't shrink non-CBO stats, so the
    * estimate includes the vector column and errs toward the shuffle join
    * — correct either way, never an executor OOM. */
  private lazy val payloadBytes: BigInt = payloadSide.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Session-overridable byte cap for the payload gather-join's
    * broadcast (`graft.search.payloadBroadcastByteCap`) — the default is
    * the 2 GB [[SparkSearcher.DriverTableByteCap]]. */
  private def payloadByteCap: Long =
    indexed.sparkSession.conf
      .get("graft.search.payloadBroadcastByteCap",
        SparkSearcher.DriverTableByteCap.toString).toLong

  /** Attach each hit's source item (a driver-finished scan carries it). */
  private[search] def withSource(hits: DataFrame, q: DataFrame): DataFrame =
    if (hits.columns.contains(SourceItem)) hits
    else hits.join(broadcast(q.select(col(QID), col(SourceItem))), QID)
      .select(col(QID), col(SourceItem), col(ROW_ID), col(DIST), col(RANK))

  /** Bounded-heap top-k over scored `(QID, ROW_ID, QVEC, VEC)` pairs:
    * the native [[TopKByDistance]] aggregate, O(n log k), shuffling k rows
    * per query per partition instead of sorting every pair. */
  private[search] def mergeTopK(pairs: DataFrame, q: DataFrame, topK: Int): DataFrame =
    withSource(TopKAggregate.mergeHits(
      pairs.withColumn(DIST, metric.dist(col(QVEC), col(VEC))), topK,
      ascending = !metric.higherIsCloser), q)

  /** Top-k hits through the one [[CellScan]]: the layout supplies each
    * row's `cell` and each query's cells (`probe`), the storage the scorer — the
    * float kernels over a float view, ADC over codes (queries mapped into
    * the codes' space). `carry` as in [[Layout.topK]]. */
  private[search] def cellTopK(q: DataFrame, k: Int, carry: Seq[String], cell: Column,
      probe: CellScan.Probe): DataFrame = {
    val (asc, chunk) = (!metric.higherIsCloser, CellScan.DefaultQueryChunk)
    withSource(storage.floats(indexed, cell +: carry.map(col): _*) match {
      case Some(view) => CellScan.topK(view, q, probe, k, asc, chunk)(
        CellScan.floats(metric.name, params.metricArg))
      case None => CellScan.topK(indexed.select(Seq(col(ROW_ID), col(PqIndex.CODES), cell) ++
          carry.map(col): _*), storage.queries(q), probe, k, asc, chunk)(
        PqIndex.adcRows(spark, storage.codebooks.get, metric.name, params.metricArg,
          storage.adcBits))
    }, q)
  }

  /** Convenience overload mirroring the reference's `List[str]` query input
    * (faiss_searcher.py:161: `target: List[str]`): items become a one-column
    * DataFrame, query identity = list position. */
  def search(queries: Seq[String], topK: Int, keepRankNo: Boolean): DataFrame = {
    val sp = spark
    import sp.implicits._
    // item column FIRST: search() resolves the item column positionally
    // when params.itemCol is absent (first-column convention, README.md:21)
    val qdf = queries.zipWithIndex.map { case (q, i) => (q, i.toLong) }
      .toDF(params.itemCol.getOrElse(ITEM_SAVED), "query_pos")
    search(qdf, topK, keepRankNo, queryIdCol = Some("query_pos"))
  }

  /**
   * Multi-K search (faiss_searcher.py:170-183): ONE search at `max(ks)`,
   * cached, each smaller k derived by a rank filter — the reference's
   * multi-query optimization reproduced (SURVEY §4 "multi-query reuse").
   */
  def searchMulti(queries: DataFrame, topKs: Seq[Int], keepRankNo: Boolean = false,
      queryIdCol: Option[String] = None): Map[Int, DataFrame] = {
    require(topKs.nonEmpty, "topKs must be non-empty")
    val maxK = topKs.max
    val full = trackPersist(search(queries, maxK, keepRankNo = true, queryIdCol)
      .persist(StorageLevel.MEMORY_AND_DISK))
    topKs.map { k =>
      val filtered = full.filter(col(RankNo) < k)
      k -> (if (keepRankNo) filtered else filtered.drop(RankNo))
    }.toMap
  }

  /** Reference `cal_sim` — delegates to [[SparkSearcher.calSim]] (which,
    * like the reference, needs only the encoder, not a trained index). */
  def calSim(item1: String, items2: Seq[String]): DataFrame =
    searcher.calSim(spark, item1, items2)

  /** Persist the trained searcher (reference `save_index`/`save_searcher`,
    * faiss_searcher.py:189-190, 200-203): items table as parquet + params
    * JSON (+ IVF centroids), Spark-ML style — no object serialization. */
  def save(path: String): Unit = {
    requireLive()
    SparkSearcher.writeStaged(spark, path) { dir =>
      val itemsOut = indexed.withColumnRenamed(ITEM, ITEM_SAVED)
      // flat part files for every layout: IVF cells and HNSW graphs are
      // stored columns (load's explicit-schema read also serves older
      // saves, whose cell/graph directories Spark maps back to columns).
      // Float vectors almost never repeat, so parquet's dictionary attempt
      // on the vector elements is dropped for PLAIN after a page of work;
      // the vector chunk is written PLAIN from the start, same bytes
      itemsOut.write.option(s"parquet.enable.dictionary#$VEC.list.element", "false")
        .mode("overwrite").parquet(s"$dir/items")
      val meta = new MetaDir(spark, dir)
      layout.save(meta)
      storage.save(meta)
      // PCA-prefix kernel + bias (n_components re-asserted at load)
      pcaModel.foreach(_.save(spark, s"$dir/pca"))
      // params as a 1-row JSON with every search-relevant knob persisted
      // (nprobe/broadcastThreshold included: a reloaded IVF model
      // must keep its recall setting). Option fields use an empty-string
      // sentinel so the field set is stable across writers. Written
      // DRIVER-side through the path's FileSystem since r22 (Jackson does
      // the escaping — a separator containing quotes/backslashes still
      // round-trips): Spark's JSON writer cost a whole job + commit
      // protocol for one row. The layout is a part file plus _SUCCESS under
      // params.json/, so spark.read.json and every older reader parse it.
      val p = params
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      node.put("itemCol", p.itemCol.getOrElse(""))
      node.put("indexParam", p.indexParam)
      node.put("measurement", p.measurement)
      node.put("metricArg", p.metricArg)
      node.put("normVec", p.normVec)
      node.put("docFeatureSep", p.docFeatureSep.getOrElse(""))
      node.put("queryFeatureSep", p.queryFeatureSep.getOrElse(""))
      node.put("nprobe", p.nprobe)
      node.put("efSearch", p.efSearch)
      node.put("hnswGraphs", p.hnswGraphs)
      node.put("broadcastThreshold", p.broadcastThreshold)
      node.put("lshBatchHint", p.lshBatchHint)
      node.put("lshExactFallback", p.lshExactFallback)
      node.put("refineKFactor", p.refineKFactor)
      node.put("efConstruction", p.efConstruction)
      node.put("autoCompactAtSegmentRatio", p.autoCompactAtSegmentRatio)
      node.put("count", count)
      node.put("dim", dim)
      // the parsed strategy serving the factory string
      node.put("effectiveIndex", searcher.strategy.toString)
      // the FITTED graph layout (r20): compact()'s rebuild target and
      // add()'s segment baseline, persisted so the layout contract survives
      // load onto a cluster whose parallelism differs from the fitting one
      // (0 sentinel = non-HNSW / pre-r20)
      node.put("fittedGraphs", fittedGraphs.getOrElse(0).toLong)
      // serving-format version (r19): marks saves written since the
      // joint-auto LSH degenerate reroute landed. Loads of models WITHOUT
      // it that the reroute now serves through the exact kernel log an
      // explicit migration notice — the route is deterministic from fitted
      // state, but a pre-r18 artifact's operator should not change serving
      // silently
      node.put("formatVersion", SparkSearcher.FormatVersion)
      // the items table's schema (r22): lets load() skip the distributed
      // footer-inference job with an explicit read schema. Tolerant field —
      // absent in older saves, load falls back to inference.
      node.put("itemsSchema", itemsOut.schema.json)
      val pdir = new org.apache.hadoop.fs.Path(s"$dir/params.json")
      val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.create(new org.apache.hadoop.fs.Path(pdir, "part-00000-graft.json"))
      try part.write((mapper.writeValueAsString(node) + "\n").getBytes("UTF-8"))
      finally part.close()
      fs.create(new org.apache.hadoop.fs.Path(pdir, "_SUCCESS")).close()
    }
  }

  /** Pruned `(row_id, __vec)` view of the index, for external scorers
    * (e.g. [[graft.streaming.StreamingOps.scoreStream]]). */
  def indexedSlim: DataFrame = indexed.select(col(ROW_ID), col(VEC))

  /** Release the cached index AND every frame persisted on the caller's
    * behalf (multi-K max-K results). */
  def unpersist(): Unit = {
    auxPersisted.synchronized {
      auxPersisted.foreach(_.unpersist(blocking = false))
      auxPersisted.clear()
    }
    releaseCache(this)
  }
}
