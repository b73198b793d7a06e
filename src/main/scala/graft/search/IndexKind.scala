package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import SparkSearcher._

/** An index's fitted state, split the way faiss's `index_factory` composes
  * one (faiss_searcher.py:100-107): a coarse [[Layout]] decides where each
  * row lives and which rows a query scores; a code [[Storage]] decides what
  * each row stores and how it is scored. [[IndexStrategy.kinds]] maps a
  * parsed spec to its unfitted pair (fitted fields empty); `fit` and `load`
  * return the fitted pair. */
sealed trait Layout {
  /** Fit the layout's quantizer over the cached corpus (`n` rows, dim `d`). */
  def fit(s: SparkSearcher, pre: DataFrame, n: Long, d: Int): Layout = this
  /** Add the layout's per-row columns (cell, bucket keys, graph adjacency)
    * — the same expression for fit and add. `gpartOffset` numbers HNSW
    * segment graphs built by add(); only HNSW evaluates it. */
  def assign(s: SparkSearcher, df: DataFrame, gpartOffset: => Int): DataFrame = df
  /** Serve-parallelism floor at fit, applied after assign and encode: a
    * small input is 1-3 splits, which would pin every serve scan to 1-3
    * tasks. Results are partition-independent (top-k ties break on
    * row_id). The co-locating layouts (IVF cells, HNSW graphs) already
    * spread through their own grouped shuffle and skip it. */
  def spread(df: DataFrame): DataFrame = graft.util.Parallelism.scanFloor(df, ROW_ID)
  /** Lay loaded rows out again: the same floor as fit, unless overridden. */
  def atRest(read: DataFrame): DataFrame = spread(read)
  def save(meta: MetaDir): Unit = ()
  def load(meta: MetaDir, fittedGraphs: Option[Int]): Layout = this
  /** Vector width carried by the fitted quantizer, if any. */
  def fittedDim: Option[Int] = None
  /** Top-k hits `(QID, SourceItem, ROW_ID, DIST, RANK)` for normalized
    * queries. A cell scan may finish on the driver with the stored `carry`
    * columns appended ([[CellScan.topK]]); other routes ignore them. */
  def topK(m: SearcherModel, q: DataFrame, k: Int, carry: Seq[String]): DataFrame
  /** Range candidates: index rows (`cols` plus any layout column) joined
    * to the queries they may match. */
  def rangeScan(m: SearcherModel, base: DataFrame, q: DataFrame, cols: Seq[Column]): DataFrame =
    base.select(cols: _*).crossJoin(broadcast(q))
}

/** Every row scored — the one-cell case of the cell scan: every row in
  * cell 0, every query probing it. The exact kernels over floats, ADC over
  * codes. */
case object NoLayout extends Layout {
  def topK(m: SearcherModel, q: DataFrame, k: Int, carry: Seq[String]): DataFrame =
    m.cellTopK(q, k, carry, lit(0).as(IvfIndex.CID), CellScan.cellZero)
}

/** IVF: rows stored in their nearest of `nlist` k-means cells (0 = auto,
  * [[IndexStrategy.resolveNlist]]); a query scores its `nprobe` cells. */
final case class IvfCells(nlist: Int, centroids: Array[Array[Float]] = Array.empty)
    extends Layout {
  override def fit(s: SparkSearcher, pre: DataFrame, n: Long, d: Int): Layout =
    copy(centroids = IvfIndex.fitCentroids(pre, VEC, IndexStrategy.resolveNlist(nlist, n), n))
  // store each row's cell and co-partition by it, so probes scan only
  // their nprobe cells
  override def assign(s: SparkSearcher, df: DataFrame, gpartOffset: => Int): DataFrame =
    IvfIndex.assignCells(df, VEC, centroids, df.sparkSession.sparkContext.defaultParallelism)
  override def spread(df: DataFrame): DataFrame = df
  // the cell is an ordinary stored column at rest: every serve path
  // reads the whole cached table and filters cells in the scan
  override def save(meta: MetaDir): Unit =
    meta.writeRows("centroids", ("centroid_id", "centroid"), centroids)
  override def load(meta: MetaDir, fittedGraphs: Option[Int]): Layout =
    copy(centroids = meta.readRows("centroids", ("centroid_id", "centroid")))
  override def fittedDim: Option[Int] = Some(centroids(0).length)
  @transient private lazy val index = CentroidIndex.forCentroids(centroids)
  // each query probes its nprobe nearest cells, on the driver; nprobe
  // resolves against the FITTED cell count, not the parsed nlist
  def topK(m: SearcherModel, q: DataFrame, k: Int, carry: Seq[String]): DataFrame = {
    val nprobe = IndexStrategy.resolveNprobe(m.searcher.params.nprobe, centroids.length)
    m.cellTopK(q, k, carry, col(IvfIndex.CID), IvfKernels.probes(_, index, nprobe))
  }
  // each query scans only its nprobe cells (a row lives in one cell, so
  // hits stay distinct); full probe equals the exact scan
  override def rangeScan(m: SearcherModel, base: DataFrame, q: DataFrame,
      cols: Seq[Column]): DataFrame = {
    val probes = q.withColumn(IvfIndex.CID,
      explode(IvfIndex.probesCol(centroids, m.searcher.params.nprobe)))
    // the cell id sits right after (row_id, item, vec)
    base.select(cols.take(3) ++ (col(IvfIndex.CID) +: cols.drop(3)): _*)
      .join(probes, IvfIndex.CID)
  }
}

/** HNSW: partition-local NSW graphs with `m` out-links per node
  * ([[NswGraph]]). `fittedGraphs` is the graph count fit built — the
  * rebuild target of compact() and add()'s segment baseline, persisted so
  * it survives load onto a cluster of different parallelism (None for a
  * save that predates it). */
final case class HnswGraphs(m: Int, fittedGraphs: Option[Int] = None) extends Layout {
  override def fit(s: SparkSearcher, pre: DataFrame, n: Long, d: Int): Layout =
    copy(fittedGraphs = Some(HnswGraphs.numGraphs(s.params, pre.sparkSession)))
  // one graph per parallelism slot by default: graph size stays
  // corpus/parallelism, search fans out flat. add() appends FRESH graphs
  // past the existing ones — built graphs are immutable
  override def assign(s: SparkSearcher, df: DataFrame, gpartOffset: => Int): DataFrame =
    NswGraph.buildGraphs(df, VEC, ROW_ID, m, resolveEfConstruction(s.params.efConstruction, m),
      HnswGraphs.numGraphs(s.params, df.sparkSession), s.params.measurement,
      s.params.metricArg, gpartOffset = gpartOffset)
  override def spread(df: DataFrame): DataFrame = df
  // a graph's adjacency resolves within its task: re-co-locate each graph
  // at load by its stored graph column (one shuffle)
  override def atRest(read: DataFrame): DataFrame = read.repartition(col(NswGraph.GPART))
  override def load(meta: MetaDir, fittedGraphs: Option[Int]): Layout =
    copy(fittedGraphs = fittedGraphs)
  // the one-cell cell scan, with the graph scorer in place of a row scorer
  def topK(model: SearcherModel, q: DataFrame, k: Int, carry: Seq[String]): DataFrame = {
    val (metric, params) = (model.searcher.metric, model.searcher.params)
    model.withSource(CellScan.topK(HnswGraphs.scanRows(model.indexed, carry), q, CellScan.cellZero, k,
      !metric.higherIsCloser, CellScan.DefaultQueryChunk)(
      NswGraph.scorer(k, model.effectiveEf, metric.name, params.metricArg)), q)
  }
}

object HnswGraphs {
  def numGraphs(p: SearcherParams, spark: SparkSession): Int =
    math.max(1, if (p.hnswGraphs > 0) p.hnswGraphs else spark.sparkContext.defaultParallelism)

  /** The graph scorer's rows ([[NswGraph.scorer]]): `(ROW_ID, struct(VEC,
    * NBRS, GPART), cell 0, carry…)`, each graph one run of its partition,
    * sorted by (graph, row_id) over a spillable sort. */
  private[search] def scanRows(indexed: DataFrame, carry: Seq[String]): DataFrame =
    indexed.sortWithinPartitions(NswGraph.GPART, ROW_ID).select(Seq(col(ROW_ID),
      struct(col(VEC), col(NswGraph.NBRS), col(NswGraph.GPART).cast("int")).as(NswGraph.GRAPH),
      lit(0).as(IvfIndex.CID)) ++ carry.map(col): _*)
}

/** Sign-random-projection LSH: `tables` tables of `bits` bits; a query
  * scores only rows it collides with in some table ([[SignLsh]]).
  * `LSH`/`LSH0` (tables 0, no bits) is the joint auto. */
final case class LshBuckets(tables: Int, bits: Option[Int],
    planes: Array[Array[Array[Float]]] = Array.empty) extends Layout {
  private def log = org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher")

  override def fit(s: SparkSearcher, pre: DataFrame, n: Long, d: Int): Layout = {
    // `LSH0` / bare `LSH` (joint auto): bits AND tables from the
    // closed-form recall model at a deterministic corpus-sampled anchor
    // cosine — target 0.9 estimated recall at the anchor so the measured
    // recall@k (whose rank-k pairs sit BELOW the sampled top-1 anchor)
    // keeps margin. An explicit table count keeps the old contract:
    // caller's tables, occupancy-held auto bits ([[IndexStrategy.resolveBits]]).
    val (numTables, nbits) =
      if (tables > 0) (tables, IndexStrategy.resolveBits(bits, n))
      else {
        val anchor = lshRankKAnchor(pre, n)
        val (b, t) = bits match {
          case None => autoLshConfigServing(n, anchor, s.params.lshBatchHint)
          case Some(pb) => (pb, graft.dedup.Dedup.lshTablesFor(anchor, pb))
        }
        // the config decision, logged at fit: anchor, batch hint, chosen
        // config, its estimated recall at the anchor, and the expected
        // per-query candidate volume the batch path will score
        log.info(f"LSH joint-auto: n=$n%d, rank-k anchor cos ≈ " +
          f"$anchor%.3f, batchHint=${s.params.lshBatchHint}%d -> " +
          f"LSH${t}%dx$b%d (estimated recall at anchor " +
          f"${graft.dedup.Dedup.lshRecallEstimate(anchor, b, t)}%.3f, " +
          f"~${t.toLong * math.max(1L, n >> math.min(b, 62))}%d " +
          "candidates/query)")
        // a joint-auto pick can still be degenerate (at small n or a low
        // anchor even the best config loses to the exact scan); the fitted
        // model will refuse to serve it ([[SearcherModel.lshServeExact]])
        if (bits.isEmpty && lshExactCheaper(t, b))
          log.warn(f"LSH joint-auto: LSH$t%dx$b%d is degenerate " +
            f"(tables·$CandidateRowOverhead%.0f ≥ " +
            f"2^bits — candidate verify ≥ the exact scan); serving " +
            "will route through the exact top-k kernel (recall 1.0). " +
            "Buckets stay fitted/saved for introspection; an explicit " +
            s"LSH${t}x$b spelling keeps bucket semantics")
        (t, b)
      }
    // recall advisory (no semantics change): LSH recall loss is PRUNING —
    // a true neighbor whose sign pattern differs in every probed table is
    // never scored — so `,RFlat` cannot buy it back; tables can. Logged
    // when the closed-form estimate at cosine 0.9 falls below 0.5
    // (RECALL.md: LSH12 auto-bits read 0.183 recall@10 at sf1).
    val estRecall = graft.dedup.Dedup.lshRecallEstimate(0.9, nbits, numTables)
    if (estRecall < 0.5) {
      val pb = math.pow(graft.dedup.Dedup.lshCollisionP(0.9), nbits)
      val need = if (pb >= 1.0) numTables
        else math.ceil(math.log(0.1) / math.log(1.0 - pb)).toInt
      log.info(f"LSH$numTables%dx$nbits%d: estimated recall@cos0.9 ≈ $estRecall%.3f " +
        f"at n=$n — sign-LSH loses neighbors by pruning, so add tables " +
        f"(LSH$need%dx$nbits%d clears 0.9) or lower bits; RFlat cannot " +
        "recover pruned candidates (see RECALL.md)")
    }
    copy(planes = SignLsh.planes(numTables, nbits, d))
  }
  // each row's per-table bucket keys; search is an equi-join on
  // (table, bucket) — candidates only, never the full corpus
  override def assign(s: SparkSearcher, df: DataFrame, gpartOffset: => Int): DataFrame =
    df.withColumn(BUCKETS, SignLsh.bucketsCol(col(VEC), planes))
  override def save(meta: MetaDir): Unit =
    meta.writeNested("lsh_planes", ("tbl", "bit", "plane"), planes)
  override def load(meta: MetaDir, fittedGraphs: Option[Int]): Layout =
    copy(planes = meta.readNested("lsh_planes", ("tbl", "bit", "plane")))
  override def fittedDim: Option[Int] = Some(planes(0)(0).length)

  /** [[SparkSearcher.lshExactCheaper]] of the fitted planes. */
  def exactCheaper: Boolean = lshExactCheaper(planes.length, planes(0).length)
  /** Route through the exact kernel: the explicit opt-in, or a joint-auto
    * config that resolved degenerate — an auto config carries no faiss
    * bucket obligation, so refusing one the fit's own cost model prices
    * at ≥ an exact scan returns the same or better results. Explicit
    * `LSHtxb` and `LSH0xb` stay bucket-faithful without the flag.
    * Deterministic from fitted state, so a loaded model routes like the
    * fit that saved it. */
  def serveExact(fallback: Boolean): Boolean =
    exactCheaper && (fallback || (tables == 0 && bits.isEmpty))

  private def routeLog(m: SearcherModel, routed: Boolean): Unit =
    if (routed || exactCheaper) log.warn(f"LSH${planes.length}%dx${planes(0).length}%d: " +
      f"estimated candidate verify (tables·n/2^bits at $CandidateRowOverhead%.0f× a " +
      "scanned row) ≥ the exact scan — " +
      (if (routed && m.searcher.params.lshExactFallback)
        "serving through the exact top-k kernel (lshExactFallback)"
       else if (routed)
        "auto config refused for serving; routing through the exact " +
          "top-k kernel (recall 1.0 — an auto spelling carries no bucket " +
          "obligation)"
       else "set lshExactFallback=true to serve through the exact kernel " +
         "(same or better latency, recall 1.0)"))

  /** Candidate (qid, row_id) pairs: queries explode into their per-table
    * bucket keys and equi-join the stored keys. Only the SKINNY pairs
    * shuffle; vectors join on after (the r16 sf100 probe measured 506M
    * distinct candidates at |Q|=500 — attaching the query vector before
    * this shuffle put 160 GB in flight). */
  private def candidates(base: DataFrame, q: DataFrame): DataFrame =
    q.select(col(QID), posexplode(SignLsh.bucketsCol(col(QVEC), planes)).as(Seq("__tbl", "__bkt")))
      .join(base.select(col(ROW_ID), posexplode(col(BUCKETS)).as(Seq("__tbl", "__bkt"))),
        Seq("__tbl", "__bkt"))
      .select(col(QID), col(ROW_ID)).distinct()

  // the route check runs on EVERY serve: the reroute is automatic for
  // joint-auto spellings and opt-in for explicit ones, where the index
  // you built is the index that serves (the hash gates pin bucket results).
  // May return < k rows for a query with few collisions, like faiss.
  def topK(m: SearcherModel, q: DataFrame, k: Int, carry: Seq[String]): DataFrame = {
    val exact = serveExact(m.searcher.params.lshExactFallback)
    routeLog(m, exact)
    if (exact) NoLayout.topK(m, q, k, carry)
    else m.mergeTopK(candidates(m.indexed, q)
      .join(m.indexed.select(col(ROW_ID), col(VEC)), ROW_ID)
      .join(broadcast(q.select(col(QID), col(QVEC))), QID), q, k)
  }
  // a range scan has the same candidate economics: the degenerate route
  // returns a SUPERSET of any bucket-pruned result at lower estimated cost
  override def rangeScan(m: SearcherModel, base: DataFrame, q: DataFrame,
      cols: Seq[Column]): DataFrame = {
    val exact = serveExact(m.searcher.params.lshExactFallback)
    routeLog(m, exact)
    if (exact) super.rangeScan(m, base, q, cols)
    else candidates(base, q).join(base.select(cols: _*), ROW_ID).join(broadcast(q), QID)
  }
}

/** What each row stores and how it is scored. Code storages keep a byte
  * code column and drop the floats unless a refine stage keeps them. */
sealed trait Storage {
  /** Stores codes: cos then needs MATERIALIZED normalization (scoring is
    * a raw asymmetric dot over codes, no full-vector cosine kernel). */
  def codesOnly: Boolean = true
  /** Fit the quantizer over the cached corpus; returns the fitted storage
    * and the frame codes are encoded from (OPQ: its rotated cache). */
  def fit(pre: DataFrame, n: Long, d: Int, keepFloats: Boolean): (Storage, DataFrame) = (this, pre)
  /** Add the code column — the one expression both fit and add use. */
  def encode(df: DataFrame): DataFrame
  def save(meta: MetaDir): Unit = ()
  def load(meta: MetaDir): Storage = this
  /** Vector width carried by the fitted quantizer, if any. */
  def fittedDim: Option[Int] = None
  /** Width read off the first stored row, for a storage without one. */
  def probeDim(indexed: DataFrame): Int = indexed.select(size(col(VEC))).head().getInt(0)
  /** `(ROW_ID, VEC, extra…)` float view the exact kernels score, if the
    * storage decodes to floats. */
  def floats(indexed: DataFrame, extra: Column*): Option[DataFrame] = None
  /** ADC tables: PQ's codebooks, or SQ's dequantization levels. */
  def codebooks: Option[Array[Array[Array[Float]]]] = None
  /** Width of the code STREAM the ADC scorers read. */
  def adcBits: Int = 8
  /** Map normalized queries into the codes' space (OPQ rotates). */
  def queries(q: DataFrame): DataFrame = q
}

case object Floats extends Storage {
  override def codesOnly: Boolean = false
  def encode(df: DataFrame): DataFrame = df
  override def floats(indexed: DataFrame, extra: Column*): Option[DataFrame] =
    Some(indexed.select(col(ROW_ID) +: col(VEC) +: extra: _*))
}

/** Train-free IEEE half codes (faiss `SQfp16`): 2·dim bytes, decoded
  * inside the scoring projection, fused with the distance kernel. */
case object Fp16Codes extends Storage {
  def encode(df: DataFrame): DataFrame = df.withColumn(PqIndex.CODES, Fp16.encodeCol(col(VEC)))
  override def probeDim(indexed: DataFrame): Int =
    indexed.select(length(col(PqIndex.CODES))).head().getInt(0) / 2
  override def floats(indexed: DataFrame, extra: Column*): Option[DataFrame] =
    Some(indexed.select(col(ROW_ID) +: Fp16.decodeCol(col(PqIndex.CODES)).as(VEC) +: extra: _*))
}

/** Product quantizer: `m` subspaces of `nbits` ∈ {8, 4} codes. */
final case class PqCodes(m: Int, nbits: Int,
    fitted: Array[Array[Array[Float]]] = Array.empty) extends Storage {
  override def fit(pre: DataFrame, n: Long, d: Int, keepFloats: Boolean): (Storage, DataFrame) =
    (copy(fitted = PqIndex.fitCodebooks(pre, VEC, m, d, n, nbits)), pre)
  def encode(df: DataFrame): DataFrame =
    df.withColumn(PqIndex.CODES, PqIndex.encodeCol(col(VEC), fitted, nbits))
  override def save(meta: MetaDir): Unit =
    meta.writeNested("pq_codebooks", ("sub", "cid", "centroid"), fitted)
  override def load(meta: MetaDir): Storage =
    copy(fitted = meta.readNested("pq_codebooks", ("sub", "cid", "centroid")))
  // the SUM of subspace widths
  override def fittedDim: Option[Int] = Some(fitted.map(_(0).length).sum)
  override def codebooks: Option[Array[Array[Array[Float]]]] = Some(fitted)
  override def adcBits: Int = nbits
}

/** OPQ pre-rotation (faiss `OPQm,PQm`): rotate into the fitted
  * eigen-balanced basis, then byte PQ over the rotated floats. Rotation
  * preserves dot/l2 exactly, so only those metrics qualify. */
final case class OpqCodes(m: Int, rotation: Array[Array[Float]] = Array.empty,
    fitted: Array[Array[Array[Float]]] = Array.empty) extends Storage {
  private def rotated(df: DataFrame) =
    df.withColumn(VROT, OpqIndex.rotateCol(col(VEC), rotation))
  // the rotated copy lives under its own name: a refine stage keeps the
  // UNROTATED vectors (exact re-rank scores in the query's own space).
  // Plain OPQ drops VEC before the cache, so one corpus-sized float
  // column is cached, two only when refine keeps the floats
  override def fit(pre: DataFrame, n: Long, d: Int, keepFloats: Boolean): (Storage, DataFrame) = {
    val withRot = copy(rotation = OpqIndex.fitRotation(pre, VEC, d, m))
    val cache = withRot.rotated(pre).transform(df => if (keepFloats) df else df.drop(VEC))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cache.count()
    pre.unpersist()
    (withRot.copy(fitted = PqIndex.fitCodebooks(cache, VROT, m, d, n)), cache)
  }
  def encode(df: DataFrame): DataFrame =
    (if (df.columns.contains(VROT)) df else rotated(df))
      .withColumn(PqIndex.CODES, PqIndex.encodeCol(col(VROT), fitted)).drop(VROT)
  override def save(meta: MetaDir): Unit = {
    meta.writeRows("opq_rotation", ("j", "row"), rotation)
    meta.writeNested("pq_codebooks", ("sub", "cid", "centroid"), fitted)
  }
  override def load(meta: MetaDir): Storage =
    copy(rotation = meta.readRows("opq_rotation", ("j", "row")),
      fitted = meta.readNested("pq_codebooks", ("sub", "cid", "centroid")))
  override def fittedDim: Option[Int] = Some(fitted.map(_(0).length).sum)
  override def codebooks: Option[Array[Array[Array[Float]]]] = Some(fitted)
  // the stored codes live in rotated space: queries rotate, then ADC
  override def queries(q: DataFrame): DataFrame =
    q.withColumn(QVEC, OpqIndex.rotateCol(col(QVEC), rotation))
}

/** Scalar quantizer `SQ8`/`SQ4`: per-dim bounds fitted once, shared by
  * encode and the synthetic ADC level codebooks. Persists the BOUNDS
  * (2·dim floats), not the derived levels, so add() after load encodes
  * under the exact fitted bounds; values outside them clamp to the edge
  * levels (faiss SQ semantics). */
final case class SqCodes(nbits: Int, vmin: Array[Float] = Array.empty,
    vdiff: Array[Float] = Array.empty) extends Storage {
  override def fit(pre: DataFrame, n: Long, d: Int, keepFloats: Boolean): (Storage, DataFrame) = {
    val (mn, df) = SqIndex.fitBounds(pre, VEC, d)
    (copy(vmin = mn, vdiff = df), pre)
  }
  def encode(df: DataFrame): DataFrame =
    df.withColumn(PqIndex.CODES, SqIndex.encodeCol(col(VEC), vmin, vdiff, nbits))
  override def save(meta: MetaDir): Unit = {
    import meta.spark.implicits._
    meta.write("sq_bounds", 12L * vmin.length)(
      vmin.indices.map(i => (i, vmin(i), vdiff(i))).toDF("i", "vmin", "vdiff"))
  }
  override def load(meta: MetaDir): Storage = {
    val rows = meta.read("sq_bounds", "i" -> IntegerType, "vmin" -> FloatType, "vdiff" -> FloatType)
      .sortBy(_.getAs[Int]("i"))
    copy(vmin = rows.map(_.getAs[Float]("vmin")), vdiff = rows.map(_.getAs[Float]("vdiff")))
  }
  override def fittedDim: Option[Int] = Some(vmin.length)
  // SQ4's nibbles pair into byte-level tables, so the stream is 8-bit too
  private lazy val levels = SqIndex.levels(vmin, vdiff, nbits)
  override def codebooks: Option[Array[Array[Array[Float]]]] = Some(levels)
}

/** An index directory's metadata tables: each a few KB–MB of fitted
  * constants, written as ONE parquet file (a local Seq would otherwise
  * parallelize to the shuffle-partition count) and read back with the
  * writer's own static schema — no footer-inference job — in a
  * driver-side order. */
final class MetaDir(val spark: SparkSession, path: String) {
  /** Write the driver-side table `df` of `bytes` payload bytes. One task
    * writes it, so a table past [[SparkSearcher.DriverTableByteCap]] fails
    * first, before `df` is built or anything is written. */
  def write(sub: String, bytes: Long)(df: => DataFrame): Unit = {
    require(bytes <= DriverTableByteCap, s"metadata table '$sub' holds $bytes bytes " +
      s"on the driver, over the $DriverTableByteCap-byte cap of a one-file write")
    df.coalesce(1).write.mode("overwrite").parquet(s"$path/$sub")
  }
  def read(sub: String, fields: (String, DataType)*): Array[Row] =
    spark.read.schema(StructType(fields.map { case (n, t) => StructField(n, t) }))
      .parquet(s"$path/$sub").collect()

  private val floatArr = ArrayType(FloatType)
  def writeRows(sub: String, names: (String, String), a: Array[Array[Float]]): Unit = {
    import spark.implicits._
    write(sub, a.map(4L + 4L * _.length).sum)(a.indices.map(i => (i, a(i).toSeq)).toDF(names._1, names._2))
  }
  def readRows(sub: String, names: (String, String)): Array[Array[Float]] =
    read(sub, names._1 -> IntegerType, names._2 -> floatArr).sortBy(_.getInt(0))
      .map(_.getAs[scala.collection.Seq[Float]](1).toArray)
  def writeNested(sub: String, names: (String, String, String),
      a: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    write(sub, a.iterator.flatten.map(8L + 4L * _.length).sum)(
      (for (i <- a.indices; j <- a(i).indices) yield (i, j, a(i)(j).toSeq)).toDF(names._1, names._2, names._3))
  }
  def readNested(sub: String, names: (String, String, String)): Array[Array[Array[Float]]] =
    read(sub, names._1 -> IntegerType, names._2 -> IntegerType, names._3 -> floatArr)
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getAs[scala.collection.Seq[Float]](2).toArray))
      .toArray
}
