package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorKernels

/**
 * Partition-local navigable-small-world graphs — the Spark-shaped answer to
 * the reference's `HNSW…` factory strings (/root/reference/backend/
 * faiss_searcher.py:100-102 special-cases them into `faiss.IndexHNSWFlat`).
 *
 * A single global proximity graph is the wrong shape for a cluster: graph
 * traversal hops are data-dependent random access, which on Spark would mean
 * one shuffle per hop. Instead the corpus is split into `numGraphs`
 * deterministic groups (`gpart = row_id mod numGraphs`), each group gets its
 * own NSW graph built locally inside one task (Malkov et al. 2014; HNSW's
 * level-0 layer), and a query beam-searches EVERY graph in parallel. The
 * search is a [[CellScan]] whose [[scorer]] beam-searches each partition's
 * graphs into the scan's per-query heaps, so HNSW shares the query
 * chunking, both finishes and the merge with every other kind, exact
 * search included. This is the Lucene/Elasticsearch shape (one
 * HNSW per segment/shard, merge across), and it scales the right way: graph
 * size is corpus/numGraphs (bounded per executor), search fan-out is flat
 * per graph, and no traversal ever crosses a partition.
 *
 * Recall: each graph answers its local top-k with NSW's usual high recall,
 * and the global top-k is the union's best — a global hit can only be
 * missed if its OWN graph misses it locally, so recall ≥ single-graph NSW
 * recall at the same `efSearch` (spec-gated ≥ 0.95 @ k=10 out of the box).
 *
 * Exactness escape hatch: when `efSearch ≥` the group size the scorer
 * switches to an exhaustive scan of the group — provably exact (beam search
 * with an unbounded result set would visit every reachable node anyway, and
 * the scan also covers nodes a pruned graph might disconnect). The
 * `knn_hnsw` correctness gate runs in this regime, proving the whole
 * pipeline (grouping, kernels, merge, tie-breaks) against the exact-SQL
 * oracle; traversal recall is spec-gated separately.
 *
 * Everything is deterministic: insertion order is ascending `row_id`, all
 * candidate orderings tie-break on smaller local index, and the kernels are
 * the same [[VectorKernels]] statics the codegen exact path calls.
 */
object NswGraph {
  private[search] val GPART = "__gpart"
  private[search] val NBRS = "__nbrs"
  /** A scanned graph row's `struct(VEC, NBRS, GPART)` ([[scorer]]). */
  private[search] val GRAPH = "__graph"

  /** JVM-side full-vector kernel for `metricName` — the same statics the
    * codegen distance expressions call (bit parity with the exact path);
    * aliases match [[PqIndex.adcScorer]]. */
  def kernel(metricName: String, metricArg: Double): (ArrayData, ArrayData) => Double =
    metricName match {
      case "cos"                        => VectorKernels.cosine
      case "ip" | "dot"                 => VectorKernels.dot
      case "l1"                         => VectorKernels.l1
      case "l2"                         => VectorKernels.l2
      case "l_inf" | "linf"             => VectorKernels.lInf
      case "l_p" | "lp"                 => VectorKernels.lp(_, _, metricArg)
      case "brayCurtis" | "bray_curtis" => VectorKernels.brayCurtis
      case "canberra"                   => VectorKernels.canberra
      case "jensen_shannon"             => VectorKernels.jensenShannon
      case other => throw new IllegalArgumentException(
        s"no JVM kernel for metric '$other'")
    }

  def higherIsCloser(metricName: String): Boolean =
    metricName == "cos" || metricName == "ip" || metricName == "dot"

  /**
   * Append `__gpart` (graph id) and `__nbrs` (out-neighbor row_ids) to the
   * fitted base table: repartition by graph id, build one NSW graph per
   * group inside its task. `gpartOffset` supports segment-style growth —
   * [[SearcherModel.add]] builds FRESH graphs for appended rows under ids
   * past the existing ones (the Lucene per-segment-HNSW shape) instead of
   * mutating built graphs.
   *
   * Memory: one group's rows (vectors + adjacency) are held in the task
   * heap during the build — the per-executor bound is corpus/numGraphs
   * vectors, the same budget the group's float vectors already occupy in
   * the cached index.
   */
  def buildGraphs(base: DataFrame, vecCol: String, rowIdCol: String, m: Int,
      efConstruction: Int, numGraphs: Int, metricName: String,
      metricArg: Double, gpartOffset: Int = 0): DataFrame = {
    require(m > 0, s"HNSW M must be positive, got $m")
    val withPart = base.withColumn(GPART,
      (pmod(col(rowIdCol), lit(numGraphs.toLong)) + lit(gpartOffset)).cast("int"))
    val schema = StructType(withPart.schema.fields :+
      StructField(NBRS, ArrayType(LongType, containsNull = false), nullable = false))
    val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(schema)
    val vecIdx = withPart.schema.fieldIndex(vecCol)
    val idIdx = withPart.schema.fieldIndex(rowIdCol)
    val gIdx = withPart.schema.fieldIndex(GPART)
    val dist = kernel(metricName, metricArg)
    val hic = higherIsCloser(metricName)
    withPart.repartition(numGraphs, col(GPART)).mapPartitions { it =>
      val rows = it.toArray
      rows.groupBy(_.getInt(gIdx)).toSeq.sortBy(_._1).iterator.flatMap {
        case (_, grp) =>
          val sorted = grp.sortBy(_.getLong(idIdx))
          val vecs: Array[ArrayData] = sorted.map(r =>
            UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](vecIdx).toArray))
          val adj = buildAdjacency(vecs, m, efConstruction, dist, hic)
          sorted.iterator.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+
              adj(i).map(j => sorted(j).getLong(idIdx)).toSeq)
          }
      }
    }(enc)
  }

  /** Sequential NSW insertion over one group (ascending row_id = local
    * index order): each new node links to its `m` nearest among the
    * already-inserted (found by beam search with `efConstruction`), edges
    * are added both ways, and any node exceeding `2m` out-edges prunes to
    * its `2m` nearest (HNSW's maxM0; pruning is one-sided, leaving a
    * directed graph, as in the paper). Deterministic throughout. */
  private[search] def buildAdjacency(vecs: Array[ArrayData], m: Int,
      efConstruction: Int, dist: (ArrayData, ArrayData) => Double,
      hic: Boolean): Array[Array[Int]] = {
    val n = vecs.length
    val maxM = 2 * m
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    var i = 1
    while (i < n) {
      val found = beam(vecs(i), vecs, j => adj(j), i,
        math.max(efConstruction, m), dist, hic)
      var t = 0
      val deg = math.min(m, found.length)
      while (t < deg) {
        val j = found(t)._1
        adj(i) += j
        adj(j) += i
        if (adj(j).length > maxM) {
          val kept = adj(j).toArray
            .map(x => (x, dist(vecs(j), vecs(x))))
            .sortBy { case (x, d) => (if (hic) -d else d, x) }
            .take(maxM).map(_._1)
          adj(j).clear()
          adj(j) ++= kept
        }
        t += 1
      }
      i += 1
    }
    adj.map(_.toArray)
  }

  /**
   * Greedy beam search from node 0 (the group's smallest row_id) over the
   * first `limit` nodes: bounded result set of `ef` closest, candidates
   * expanded closest-first, stop when the nearest open candidate is worse
   * than the worst kept result (the standard NSW/HNSW SEARCH-LAYER loop).
   * Returns `(localIdx, dist)` best-first with smaller-index tie-breaks.
   */
  private[search] def beam(q: ArrayData, vecs: Array[ArrayData],
      adj: Int => scala.collection.Seq[Int], limit: Int, ef: Int,
      dist: (ArrayData, ArrayData) => Double, hic: Boolean): Array[(Int, Double)] = {
    if (limit <= 0) return Array.empty
    @inline def key(d: Double) = if (hic) -d else d
    val visited = new Array[Boolean](limit)
    val res = new TopKBuffer(ef, asc = true) // over keys: smaller = closer
    // dequeue order: smallest key, then smallest index (reverse-reverse)
    val ord: Ordering[(Double, Int)] = Ordering.Tuple2(
      Ordering.Double.TotalOrdering.reverse, Ordering.Int.reverse)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](ord)
    visited(0) = true
    val k0 = key(dist(q, vecs(0)))
    cand.enqueue((k0, 0)); res.insert(k0, 0L)
    var done = false
    while (!done && cand.nonEmpty) {
      val (ck, ci) = cand.dequeue()
      if (res.size == res.k && ck > res.dists(0)) done = true
      else {
        val nbrs = adj(ci)
        var x = 0
        while (x < nbrs.length) {
          val nb = nbrs(x)
          if (nb < limit && !visited(nb)) {
            visited(nb) = true
            val k2 = key(dist(q, vecs(nb)))
            if (res.size < res.k || k2 < res.dists(0) ||
                (k2 == res.dists(0) && nb < res.ids(0))) {
              cand.enqueue((k2, nb))
              res.insert(k2, nb.toLong)
            }
          }
          x += 1
        }
      }
    }
    res.sorted.map { case (id, kk) => (id.toInt, if (hic) -kk else kk) }
  }

  /**
   * The [[CellScan]] scorer over graph rows `(ROW_ID, struct(VEC, NBRS,
   * GPART), cell, carried…)`, sorted by (GPART, ROW_ID) within partitions
   * and all in cell 0. Graph runs stream one at a time over the spillable
   * sort, never the whole partition at once: each run's rows are copied
   * (the input iterator reuses its rows), every query beam-searches the run
   * and inserts its top `min(k, found)` hits — or, when `ef ≥` the run's
   * size, scores every row of it (exact by construction, see the object
   * doc). `admit` sees each row whose insert a heap took in.
   */
  def scorer(k: Int, efSearch: Int, metricName: String, metricArg: Double)
      : Array[Array[Float]] => CellScan.PartitionScorer = {
    val dist = kernel(metricName, metricArg)
    val hic = higherIsCloser(metricName)
    val ef = math.max(efSearch, k)
    qvs => {
      val qs = qvs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)
      (rows, byCell, heaps, admit) => {
        val qis = byCell(0)
        val buffered = rows.buffered
        def graph(r: InternalRow): InternalRow = r.getStruct(1, 3)
        while (buffered.hasNext) {
          val gid = graph(buffered.head).getInt(2)
          val run = mutable.ArrayBuffer.empty[InternalRow]
          while (buffered.hasNext && graph(buffered.head).getInt(2) == gid)
            run += buffered.next().copy()
          val n = run.length
          val ids = run.map(_.getLong(0)).toArray
          val vecs = run.map(graph(_).getArray(0)).toArray
          def insert(qi: Int, d: Double, j: Int): Unit = {
            val before = heaps(qi).admitted
            heaps(qi).insert(d, ids(j))
            if (admit != null && heaps(qi).admitted != before) admit(run(j))
          }
          if (ef >= n) qis.foreach { qi =>
            // exhaustive scan of the graph: exact
            var j = 0
            while (j < n) { insert(qi, dist(qs(qi), vecs(j)), j); j += 1 }
          } else {
            // id→local-idx map to rebuild adjacency (neighbors referencing
            // rows not in this graph — impossible by construction, but a
            // hand-edited saved index degrades to a lost edge, not a crash)
            val idToIdx = new java.util.HashMap[Long, Integer](n * 2)
            var j = 0
            while (j < n) { idToIdx.put(ids(j), j); j += 1 }
            val adj: Array[Array[Int]] = run.iterator.map { r =>
              graph(r).getArray(1).toLongArray().flatMap(x => Option(idToIdx.get(x)).map(_.intValue()))
            }.toArray
            qis.foreach { qi =>
              val found = beam(qs(qi), vecs, adj(_), n, ef, dist, hic)
              var t = 0
              while (t < math.min(k, found.length)) { insert(qi, found(t)._2, found(t)._1); t += 1 }
            }
          }
        }
      }
    }
  }
}
