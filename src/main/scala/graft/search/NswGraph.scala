package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
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
 * level-0 layer), and a query beam-searches EVERY graph in parallel —
 * per-graph top-k candidates then merge through the same bounded-heap
 * aggregate as exact search. This is the Lucene/Elasticsearch shape (one
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
 * pipeline (grouping, kernels, merge, payload join, tie-breaks) against the
 * exact-SQL oracle; traversal recall is spec-gated separately.
 *
 * Everything is deterministic: insertion order is ascending `row_id`, all
 * candidate orderings tie-break on smaller local index, and the kernels are
 * the same [[VectorKernels]] statics the codegen exact path calls.
 */
object NswGraph {
  private[search] val GPART = "__gpart"
  private[search] val NBRS = "__nbrs"

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
   * Top-k over all graphs: broadcast the query batch in bounded chunks
   * (same budget discipline as [[CellScan.topK]]), beam-search every
   * locally-present graph per query, keep a per-query bounded heap per
   * partition, merge globally with the shared heap aggregate. When
   * `efSearch ≥` a group's size that group is scanned exhaustively (exact
   * by construction — see the object doc).
   *
   * Chunk hygiene: the single-chunk case (≤ [[PqIndex.DefaultQueryChunk]]
   * queries — the overwhelmingly common shape) stays a fully LAZY plan:
   * nothing is pinned, the one query broadcast is reclaimed by the
   * ContextCleaner when the plan is garbage-collected, and repeated
   * search calls in a long session accumulate no block-manager state.
   * Multi-chunk batches execute EAGERLY, one action per chunk, each
   * merged to its final ≤ chunk·k rows and pinned (localCheckpoint)
   * before the next chunk starts — so at most ONE chunk's query
   * broadcast is resident at a time instead of all of them until the
   * caller's terminal action. The checkpoint truncates lineage (the
   * repo-wide [[graft.util.CacheDiscipline]] contract): if an executor
   * holding pinned chunk blocks dies before the caller's terminal
   * action, the query fails rather than recomputes; `unpersist` (not
   * `destroy`) keeps the TorrentBroadcast driver copy valid for any
   * in-flight task. Long-lived sessions issuing huge multi-chunk
   * batches release the pinned blocks with
   * `CacheDiscipline.release(result)` when done.
   * Partition memory: graphs stream one GPART-run at a time over a
   * spillable `sortWithinPartitions`, never the whole partition
   * materialized at once (the previous `it.toArray` held every
   * co-located graph's rows on-heap simultaneously).
   */
  def topK(indexed: DataFrame, queries: DataFrame, topK: Int, efSearch: Int,
      metricName: String, metricArg: Double,
      queryChunkSize: Int = PqIndex.DefaultQueryChunk): DataFrame = {
    import SparkSearcher.{QID, QVEC, ROW_ID, DIST, RANK}
    val spark = indexed.sparkSession
    val enc: org.apache.spark.sql.Encoder[Row] = RowEncoder.encoderFor(PqIndex.hitSchema)
    val hic = higherIsCloser(metricName)
    val asc = !hic
    val dist = kernel(metricName, metricArg)
    val k = topK
    val ef = math.max(efSearch, topK)
    // sorted by (graph, row_id) within partitions: group-runs stream in
    // order (no per-group sort, no full-partition buffer) and the sort
    // spills instead of OOMing when many graphs share a partition
    val slim = indexed.select(col(ROW_ID), col(SparkSearcher.VEC),
      col(NBRS), col(GPART).cast("int").as(GPART))
      .sortWithinPartitions(GPART, ROW_ID)
    val chunks = PqIndex.queryChunks(
      queries.select(col(QID).cast(LongType).as(QID), col(QVEC)), queryChunkSize)
    val single = chunks.lengthCompare(1) == 0
    val chunkResults = chunks.flatMap { chunk =>
      val qRows = chunk()
        .map(r => (r.getLong(0),
          UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray): ArrayData))
      if (qRows.isEmpty) None else Some {
        val qB = spark.sparkContext.broadcast(qRows)
        val partials = slim.mapPartitions { it =>
          val qs = qB.value
          val heaps = qs.map(_ => new TopKBuffer(k, asc))
          val buffered = it.buffered
          // one graph run at a time (input sorted by GPART, then ROW_ID)
          while (buffered.hasNext) {
            val gid = buffered.head.getInt(3)
            val idBuf = new mutable.ArrayBuffer[Long]
            val vecBuf = new mutable.ArrayBuffer[ArrayData]
            val nbrBuf = new mutable.ArrayBuffer[scala.collection.Seq[Long]]
            while (buffered.hasNext && buffered.head.getInt(3) == gid) {
              val r = buffered.next()
              idBuf += r.getLong(0)
              vecBuf += UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray)
              nbrBuf += r.getSeq[Long](2)
            }
            val n = idBuf.length
            val ids = idBuf.toArray
            val vecs = vecBuf.toArray
            if (ef >= n) {
              // exhaustive scan of the group: exact
              var qi = 0
              while (qi < qs.length) {
                val qv = qs(qi)._2
                var j = 0
                while (j < n) {
                  heaps(qi).insert(dist(qv, vecs(j)), ids(j)); j += 1
                }
                qi += 1
              }
            } else {
              // id→local-idx map to rebuild adjacency (neighbors referencing
              // rows not in this group — impossible by construction, but a
              // hand-edited saved index degrades to a lost edge, not a crash)
              val idToIdx = new java.util.HashMap[Long, Integer](n * 2)
              var j = 0
              while (j < n) { idToIdx.put(ids(j), j); j += 1 }
              val adj: Array[Array[Int]] = nbrBuf.iterator.map { ns =>
                val out = new mutable.ArrayBuffer[Int](ns.length)
                ns.foreach { x =>
                  val li = idToIdx.get(x)
                  if (li != null) out += li.intValue()
                }
                out.toArray
              }.toArray
              var qi = 0
              while (qi < qs.length) {
                val found = beam(qs(qi)._2, vecs, adj(_), n, ef, dist, hic)
                var t = 0
                val lim = math.min(k, found.length)
                while (t < lim) {
                  heaps(qi).insert(found(t)._2, ids(found(t)._1)); t += 1
                }
                qi += 1
              }
            }
          }
          qs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
            heaps(qi).sorted.iterator.map { case (id, d) => Row(qid, id, d) }
          }
        }(enc)
        // chunks are DISJOINT query sets: per-chunk merge then union is
        // exactly the single global merge. Single chunk → stay lazy (no
        // pinning, no leak per call); multi-chunk → eager checkpoint
        // executes the chunk now (result ≤ chunk·k rows) and the chunk's
        // broadcast executor copies drop before the next chunk broadcasts.
        val merged = TopKAggregate.mergeHits(partials, topK, asc)
        if (single) merged
        else {
          val pinned = merged.localCheckpoint(true)
          qB.unpersist(blocking = false)
          pinned
        }
      }
    }
    if (chunkResults.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], PqIndex.hitSchema)
        .withColumn(RANK, lit(1).cast("int"))
    chunkResults.reduce(_ union _)
  }
}
