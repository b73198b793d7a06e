package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import SparkSearcher.{QID, QVEC, RANK}

/**
 * The one per-partition scan behind every cell-pruned top-k: IVF over
 * floats or fp16 codes, IVF over PQ/SQ codes, and bare PQ/SQ as the
 * one-cell case. It is the shape faiss's `index.search` runs natively
 * (faiss_searcher.py:161-169): the driver collects a bounded chunk of
 * queries with their probe lists, buckets them by cell and broadcasts the
 * chunk; each index partition is read as `InternalRow`s (no per-element
 * boxing), each stored row is scored only against the queries probing its
 * cell into one bounded heap per query, and each task emits ≤ k hits per
 * query into the shared [[TopKAggregate.mergeHits]] tail. No (query, row)
 * pair is ever a Spark row.
 */
object CellScan {
  /** Scores one stored row `(row id, payload, cell)` against some of a
    * chunk's queries; built once per partition from the chunk's vectors. */
  trait RowScorer {
    /** Insert the row's distance to each query `qis(j)` into `heaps(qis(j))`. */
    def score(row: InternalRow, qis: Array[Int], heaps: Array[TopKBuffer]): Unit
  }

  /** Top-k hits `(QID, ROW_ID, DIST, RANK)`. `rows` is `(ROW_ID, payload,
    * CID)`; `probes` is each `(QID, QVEC)` query's `array<int>` of cells.
    * Queries are collected [[PqIndex.queryChunks]] at a time. */
  def topK(rows: DataFrame, queries: DataFrame, probes: Column, k: Int, asc: Boolean,
      chunkSize: Int)(scorer: Array[Array[Float]] => RowScorer): DataFrame = {
    val spark = rows.sparkSession
    // a query without a vector probes no cell and gets no hits
    val chunks = PqIndex.queryChunks(queries.filter(col(QVEC).isNotNull)
      .select(col(QID).cast(LongType).as(QID), col(QVEC), probes), chunkSize)
    val partials = chunks.flatMap { chunk =>
      val qs = chunk()
      if (qs.isEmpty) None else Some {
        val qids = qs.map(_.getLong(0))
        val qvs = qs.map(_.getSeq[Float](1).toArray)
        val cells = qs.indices.flatMap(qi => qs(qi).getSeq[Int](2).map(_ -> qi)).groupMap(_._1)(_._2)
        val byCell = new Array[Array[Int]](cells.keys.max + 1)
        cells.foreach { case (c, qis) => byCell(c) = qis.toArray }
        val qB = spark.sparkContext.broadcast((qids, qvs, byCell))
        // unprobed cells are filtered before the payload is read or decoded,
        // through a mask literal: an isin list would be compiled into the
        // generated code, one compile per distinct probe set
        val scanned = rows.filter(get(lit(byCell.map(_ != null)), col(IvfIndex.CID)))
        spark.createDataFrame(scanned.queryExecution.toRdd.mapPartitions { it =>
          val (qids, qvs, byCell) = qB.value
          val s = scorer(qvs)
          val heaps = qids.map(_ => new TopKBuffer(k, asc))
          it.foreach(r => s.score(r, byCell(r.getInt(2)), heaps))
          qids.indices.iterator.flatMap(qi =>
            heaps(qi).sorted.iterator.map { case (id, d) => Row(qids(qi), id, d) })
        }, PqIndex.hitSchema)
      }
    }
    // empty query batch: the empty hit shape (the exact path's crossJoin
    // degrades the same way)
    if (partials.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], PqIndex.hitSchema)
        .withColumn(RANK, lit(1).cast("int"))
    // chunks are disjoint query sets, so union THEN one merge is exact
    else TopKAggregate.mergeHits(partials.reduce(_ union _), k, asc)
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
