package graft.search

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeArrayData,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSql
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructField,
  StructType}

import SparkSearcher.{DIST, QID, QVEC, RANK, ROW_ID, SourceItem}

/**
 * The one per-partition scan behind every scan-shaped top-k: IVF over
 * floats, fp16 or PQ/SQ codes; as the one-cell case (every row in cell 0,
 * every query probing it), exact search over floats or fp16 — Flat,
 * `SQfp16`, a PCA prefix over Flat, LSH's exact route — and bare PQ/SQ/OPQ
 * codes; and HNSW, whose scorer beam-searches each partition's graphs
 * ([[NswGraph.scorer]]). It is the shape faiss's `index.search` runs
 * natively (faiss_searcher.py:161-169): the driver collects a bounded chunk
 * of queries as `InternalRow`s, computes each query's probe list there
 * ([[Probe]]), buckets the queries by cell and broadcasts the chunk; each
 * index partition is read as `InternalRow`s (no
 * per-element boxing) by one [[PartitionScorer]], which scores stored rows
 * only against the queries probing their cell into one bounded heap per
 * query, and each task emits ≤ k hits per query. No (query, row) pair is
 * ever a Spark row.
 *
 * Two finishes. A batch that fits one chunk and carries its result
 * columns is finished on the driver, like faiss's eager `search`: one job,
 * whose tasks return their hits with the carried columns of each hit row,
 * merged per query id as they arrive into the result: a local relation of
 * `InternalRow`s, the carried columns read straight from the tasks' rows —
 * so the caller's collect runs no job. Any other batch goes through the
 * shared [[TopKAggregate.mergeHits]] tail: lazily for one chunk, and at
 * call time, one chunk at a time with each chunk's hits pinned, for
 * several ([[topK]]).
 */
object CellScan {
  /** Scores one partition's stored rows `(row id, payload, cell, carried…)`
    * against a chunk's queries; built once per partition from the chunk's
    * vectors. */
  trait PartitionScorer {
    /** Insert each row's distance to every query row probing its cell
      * (`byCell(cell)`, null: unprobed) into that query's heap; `admit` (if
      * not null) sees each row that some heap took in. */
    def scan(rows: Iterator[InternalRow], byCell: Array[Array[Int]], heaps: Array[TopKBuffer],
        admit: InternalRow => Unit): Unit
  }

  /** A scorer that streams the partition one row at a time. */
  trait RowScorer extends PartitionScorer {
    /** Insert the row's distance to each query `qis(j)` into `heaps(qis(j))`. */
    def score(row: InternalRow, qis: Array[Int], heaps: Array[TopKBuffer]): Unit

    final def scan(rows: Iterator[InternalRow], byCell: Array[Array[Int]], heaps: Array[TopKBuffer],
        admit: InternalRow => Unit): Unit = {
      def admitted(qis: Array[Int]): Long = {
        var n = 0L; var j = 0
        while (j < qis.length) { n += heaps(qis(j)).admitted; j += 1 }
        n
      }
      rows.foreach { r =>
        val qis = byCell(r.getInt(2))
        if (admit == null) score(r, qis, heaps)
        else {
          val before = admitted(qis)
          score(r, qis, heaps)
          if (admitted(qis) != before) admit(r)
        }
      }
    }
  }

  /** Each query's cells to score, from the vectors of a chunk's scored
    * queries (one `array<float>` each, all finite); run on the driver after
    * the chunk is collected. */
  type Probe = Array[Array[Float]] => Array[Array[Int]]

  /** The one-cell probe: every query scores cell 0. */
  val cellZero: Probe = { val zero = Array(0); qs => Array.fill(qs.length)(zero) }

  /** Queries per broadcast chunk: bounds DRIVER memory (one chunk of
    * vectors collected at a time, see [[topK]]) and EXECUTOR table memory
    * (chunk·m·256 doubles of ADC tables per partition) regardless of
    * query-batch size — a corpus self-search does not OOM the driver. Each
    * chunk costs one pass over the cached index, the standard batching
    * trade. */
  val DefaultQueryChunk = 4096

  private[search] val hitSchema = StructType(Seq(
    StructField(QID, LongType, nullable = false),
    StructField(ROW_ID, LongType, nullable = false),
    StructField(DIST, DoubleType, nullable = false)))

  /** The query batch as bounded chunks, each collected when called: one
    * collect of up to `chunkSize + 1` rows serves a batch that fits one
    * chunk; only a larger batch pays a count and a deterministic hash
    * split on qid, each chunk collected separately. */
  private[search] def queryChunks(queries: DataFrame, chunkSize: Int): Seq[() => Array[InternalRow]] = {
    val head = rowsOf(queries)(_.executeTake(math.min(chunkSize.toLong + 1, Int.MaxValue).toInt))
    if (head.length <= chunkSize) Seq(() => head)
    else {
      val nChunks = math.ceil(queries.count().toDouble / chunkSize).toInt
      (0 until nChunks).map(ci => () =>
        rowsOf(queries.filter(pmod(xxhash64(col(QID)), lit(nChunks)) === ci))(_.executeCollect()))
    }
  }

  /** `df`'s rows as its physical plan produces them (`take` or `collect`),
    * with no conversion to `Row`. */
  private def rowsOf(df: DataFrame)(take: SparkPlan => Array[InternalRow]): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(take(qe.executedPlan))
  }

  /** One query chunk as the scan reads it: each scored query row's id and
    * vector, and the query rows probing each cell (null: unprobed). */
  private final case class Chunk(qids: Array[Long], qvs: Array[Array[Float]],
      byCell: Array[Array[Int]])

  /** One driver-finish task's result: each query row's ≤ k hits, in runs of
    * `sizes`, and the `(ROW_ID, carried…)` row of each distinct hit. */
  private final class TaskHits(val sizes: Array[Int], val ids: Array[Long],
      val dists: Array[Double], val rows: Array[UnsafeRow]) extends Serializable

  /** Top-k hits `(QID, ROW_ID, DIST, RANK)`. `rows` is `(ROW_ID, payload,
    * CID, carried…)`; `probe` gives each `(QID, QVEC)` query's cells, on
    * the driver, after its chunk is collected. Queries are collected
    * [[queryChunks]] at a time.
    *
    * With carried columns and a batch of one chunk, the scan runs here and
    * returns a local relation `(QID, SourceItem, ROW_ID, DIST, RANK,
    * carried…)`: each query's hits, once per query row of its id, with that
    * row's `SourceItem` (so `queries` must hold it). Otherwise the carried
    * columns are not read, and a batch of one chunk returns a lazy plan.
    * A batch of several chunks runs here too, one chunk at a time: each
    * chunk is collected, scanned, merged and pinned (`localCheckpoint`),
    * and its broadcast released, before the next is collected — so the
    * driver and the executors hold one chunk of query vectors at a time.
    * The chunks are disjoint query sets, so the union of their merges is
    * exact. The pinned hits are lineage-free (the repo-wide
    * [[graft.util.CacheDiscipline]] contract: a lost executor fails the
    * caller's action rather than recomputing); a long-lived session frees
    * them with `CacheDiscipline.release(result)`. */
  def topK(rows: DataFrame, queries: DataFrame, probe: Probe, k: Int, asc: Boolean,
      chunkSize: Int)(scorer: Array[Array[Float]] => PartitionScorer): DataFrame = {
    val spark = rows.sparkSession
    val carried = rows.columns.length > 3
    val chunks = queryChunks(queries.select(Seq(col(QID).cast(LongType).as(QID),
      col(QVEC).cast(ArrayType(FloatType)).as(QVEC)) ++ Option.when(carried)(col(SourceItem)): _*),
      chunkSize)
    if (carried && chunks.length == 1)
      finishOnDriver(rows, chunks.head(), queries.schema(SourceItem), probe, k, asc, scorer)
    else {
      val merged = chunks.flatMap { chunk =>
        chunkOf(chunk(), probe).map { c =>
          val cB = spark.sparkContext.broadcast(c)
          val scanned = probed(rows.select(rows.columns.take(3).map(col): _*), c)
          val hits = TopKAggregate.mergeHits(spark.createDataFrame(
            scanned.queryExecution.toRdd.mapPartitions(new ScanTask(cB, k, asc, scorer)), hitSchema), k, asc)
          if (chunks.length == 1) hits
          else {
            val pinned = hits.localCheckpoint(eager = true)
            cB.unpersist(blocking = false)
            pinned
          }
        }
      }
      // empty query batch (or only null vectors): the empty hit shape
      if (merged.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], hitSchema)
          .withColumn(RANK, lit(1).cast("int"))
      else merged.reduce(_ union _)
    }
  }

  /** The chunk's scored queries, bucketed by the cells `probe` gives them.
    * A query without an id, without a vector or with a NaN or infinite
    * component probes no cell and gets no hits (None: no query to score). */
  private def chunkOf(qs: Array[InternalRow], probe: Probe): Option[Chunk] = {
    val live = qs.iterator.filter(q => !q.isNullAt(0) && !q.isNullAt(1))
      .map(q => (q.getLong(0), q.getArray(1).toFloatArray()))
      .filter(_._2.forall(java.lang.Float.isFinite)).toArray
    if (live.isEmpty) None else Some {
      val cells = probe(live.map(_._2))
      val counts = new Array[Int](cells.foldLeft(-1)((top, cs) => cs.foldLeft(top)(math.max)) + 1)
      cells.foreach(_.foreach(c => counts(c) += 1))
      val byCell = counts.map(n => if (n == 0) null else new Array[Int](n))
      java.util.Arrays.fill(counts, 0)
      cells.indices.foreach(qi => cells(qi).foreach { c => byCell(c)(counts(c)) = qi; counts(c) += 1 })
      Chunk(live.map(_._1), live.map(_._2), byCell)
    }
  }

  /** `rows` in the chunk's probed cells. Unprobed cells are filtered before
    * the payload is read or decoded, through a mask literal: an isin list
    * would be compiled into the generated code, one compile per distinct
    * probe set. */
  private def probed(rows: DataFrame, c: Chunk): DataFrame =
    rows.filter(get(lit(c.byCell.map(_ != null)), col(IvfIndex.CID)))

  /** Keep only the rows some heap still holds. */
  private def retain(rows: mutable.LongMap[UnsafeRow], heaps: Iterable[TopKBuffer]): Unit = {
    val live = mutable.LongMap.empty[Unit]
    heaps.foreach(h => (0 until h.size).foreach(i => live(h.ids(i)) = ()))
    rows.filterInPlace((id, _) => live.contains(id))
  }

  /** The single-chunk finish: one job over the probed cells; each task
    * returns its ≤ k hits per query row with the carried columns of each
    * distinct hit row, merged here into one heap per query id as the tasks
    * finish — at most q·k hits and their rows plus one task's result are
    * held, never more than the payload broadcast the other finish builds. */
  private def finishOnDriver(rows: DataFrame, qs: Array[InternalRow], source: StructField,
      probe: Probe, k: Int, asc: Boolean,
      scorer: Array[Array[Float]] => PartitionScorer): DataFrame = {
    val spark = rows.sparkSession
    val kept = StructType(rows.schema.head +: rows.schema.drop(3))
    val keptAt = (0 +: (3 until rows.schema.length)).zip(kept).map { case (i, f) =>
      BoundReference(i, f.dataType, f.nullable) }
    val merged = mutable.LongMap.empty[TopKBuffer]
    val hitRows = mutable.LongMap.empty[UnsafeRow]
    chunkOf(qs, probe).foreach { c =>
      val cB = spark.sparkContext.broadcast(c)
      val merge = (_: Int, t: TaskHits) => {
        var off = 0
        t.sizes.indices.foreach { qi =>
          val h = merged.getOrElseUpdate(c.qids(qi), new TopKBuffer(k, asc))
          (off until off + t.sizes(qi)).foreach(j => h.insert(t.dists(j), t.ids(j)))
          off += t.sizes(qi)
        }
        t.rows.foreach(r => hitRows(r.getLong(0)) = r)
        if (hitRows.size > 2L * merged.size * k) retain(hitRows, merged.values)
      }
      val qe = probed(rows, c).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("cell scan")) {
        val rdd = qe.toRdd
        spark.sparkContext.runJob(rdd, new FinishTask(cB, keptAt, k, asc, scorer), rdd.partitions.indices,
          merge)
      }
    }
    // each query row's hits: (QID, SourceItem, ROW_ID, DIST, RANK, carried…)
    val types = kept.map(_.dataType).toArray
    val out = Array.newBuilder[InternalRow]
    qs.foreach { q =>
      if (!q.isNullAt(0)) merged.get(q.getLong(0)).foreach { h =>
        val src = q.get(2, source.dataType)
        val hits = h.sorted
        var r = 0
        while (r < hits.length) {
          val (id, d) = hits(r)
          val hit = hitRows(id)
          val vs = new Array[Any](4 + types.length)
          vs(0) = q.getLong(0); vs(1) = src; vs(2) = id; vs(3) = d; vs(4) = r + 1
          var i = 1
          while (i < types.length) { vs(4 + i) = hit.get(i, types(i)); i += 1 }
          out += new GenericInternalRow(vs)
          r += 1
        }
      }
    }
    GraftSql.localRelation(spark, out.result().toSeq, StructType(Seq(
      StructField(QID, LongType, nullable = false), source,
      StructField(ROW_ID, LongType, nullable = false),
      StructField(DIST, DoubleType, nullable = false),
      StructField(RANK, IntegerType, nullable = false)) ++ kept.tail))
  }

  /** One driver-finish task: scores its partition into one heap per query
    * row and returns each row's ≤ k hits with the `(ROW_ID, carried…)` row
    * (`keptAt`) of each distinct hit. A class rather than a lambda, so
    * `runJob` does not run the closure cleaner's bytecode scan per search. */
  private final class FinishTask(cB: Broadcast[Chunk], keptAt: Seq[BoundReference], k: Int,
      asc: Boolean, scorer: Array[Array[Float]] => PartitionScorer)
      extends ((TaskContext, Iterator[InternalRow]) => TaskHits) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): TaskHits = {
      val c = cB.value
      val carry = UnsafeProjection.create(keptAt)
      val found = mutable.LongMap.empty[UnsafeRow]
      val heaps = c.qids.map(_ => new TopKBuffer(k, asc))
      scorer(c.qvs).scan(it, c.byCell, heaps, r => {
        found(r.getLong(0)) = carry(r).copy()
        if (found.size > 2L * c.qids.length * k) retain(found, heaps)
      })
      retain(found, heaps)
      new TaskHits(heaps.map(_.size), heaps.flatMap(h => h.ids.take(h.size)),
        heaps.flatMap(h => h.dists.take(h.size)), found.values.toArray)
    }
  }

  /** One lazy-scan task: scores its partition into one heap per query row
    * and emits each row's ≤ k hits `(QID, ROW_ID, DIST)`. A class rather
    * than a lambda, like [[FinishTask]], so `mapPartitions` does not run the
    * closure cleaner's bytecode scan per search. */
  private final class ScanTask(cB: Broadcast[Chunk], k: Int, asc: Boolean,
      scorer: Array[Array[Float]] => PartitionScorer)
      extends (Iterator[InternalRow] => Iterator[Row]) with Serializable {
    def apply(it: Iterator[InternalRow]): Iterator[Row] = {
      val c = cB.value
      val heaps = c.qids.map(_ => new TopKBuffer(k, asc))
      scorer(c.qvs).scan(it, c.byCell, heaps, null)
      c.qids.indices.iterator.flatMap(qi =>
        heaps(qi).sorted.iterator.map { case (id, d) => Row(c.qids(qi), id, d) })
    }
  }

  /** Scorer over `array<float>` payloads, distances bit-identical to
    * [[graft.functions.VectorKernels]]: cos and dot run blocked
    * ([[DotScorer]]); the other metrics call the kernel per pair. */
  def floats(metricName: String, metricArg: Double): Array[Array[Float]] => RowScorer = qvs =>
    if (NswGraph.higherIsCloser(metricName)) new DotScorer(qvs, metricName == "cos")
    else {
      val kernel = NswGraph.kernel(metricName, metricArg)
      val qa = qvs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)
      (row, qis, heaps) => {
        val v = row.getArray(1)
        val id = row.getLong(0)
        var j = 0
        while (j < qis.length) { heaps(qis(j)).insert(kernel(qa(qis(j)), v), id); j += 1 }
      }
    }

  /** Dot and cosine for a row against its cell's queries, up to four
    * queries per pass over the row: four independent chains, each summed
    * in double in ascending element order — the order of
    * [[graft.functions.VectorKernels.dot]]/`cosine`, so every distance is
    * bit-identical to theirs. The row's norm is taken once per row, each
    * query's once per partition. */
  private[search] final class DotScorer(qvs: Array[Array[Float]], cos: Boolean)
      extends RowScorer {
    private[this] val qs = qvs.map(_.map(_.toDouble))
    private[this] val qNorm = qs.map(q => if (cos) math.sqrt(sumSq(q)) else 0.0)
    private[this] var r = new Array[Double](0)

    private[this] def sumSq(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    private[this] def query(qi: Int): Array[Double] = {
      val q = qs(qi)
      if (q.length != r.length) throw new IllegalArgumentException(
        s"vector dimension mismatch: ${q.length} vs ${r.length}")
      q
    }
    private[this] def emit(qi: Int, s: Double, rNorm: Double, id: Long,
        heaps: Array[TopKBuffer]): Unit = heaps(qi).insert(
      if (!cos) s else { val d = qNorm(qi) * rNorm; if (d == 0.0) 0.0 else s / d }, id)

    def score(row: InternalRow, qis: Array[Int], heaps: Array[TopKBuffer]): Unit = {
      val v = row.getArray(1)
      val id = row.getLong(0)
      val n = v.numElements()
      if (r.length != n) r = new Array[Double](n)
      var i = 0
      while (i < n) { r(i) = v.getFloat(i).toDouble; i += 1 }
      val rNorm = if (cos) math.sqrt(sumSq(r)) else 0.0
      var j = 0
      while (j + 4 <= qis.length) {
        val a = query(qis(j)); val b = query(qis(j + 1))
        val c = query(qis(j + 2)); val d = query(qis(j + 3))
        var s0, s1, s2, s3 = 0.0
        i = 0
        while (i < n) {
          val x = r(i)
          s0 += a(i) * x; s1 += b(i) * x; s2 += c(i) * x; s3 += d(i) * x
          i += 1
        }
        emit(qis(j), s0, rNorm, id, heaps); emit(qis(j + 1), s1, rNorm, id, heaps)
        emit(qis(j + 2), s2, rNorm, id, heaps); emit(qis(j + 3), s3, rNorm, id, heaps)
        j += 4
      }
      while (j < qis.length) {
        val a = query(qis(j))
        var s = 0.0
        i = 0
        while (i < n) { s += a(i) * r(i); i += 1 }
        emit(qis(j), s, rNorm, id, heaps)
        j += 1
      }
    }
  }
}
