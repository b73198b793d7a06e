package graft.dedup

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.util.CacheDiscipline

/** Union-find connected components over an edge list held in primitive
  * arrays: the driver finish of [[Dedup.connectedComponents]] and the
  * cluster labels of the driver near-dup route. */
object UnionFind {

  /** Every distinct endpoint of the edges `(us(i), vs(i))`, ascending,
    * with its component label: the smallest id reachable from it, the
    * fixpoint the distributed star contraction converges to. Duplicate,
    * reversed and self-loop edges change nothing (a repeated union is a
    * no-op). Dense indices come from sorting the endpoints, so the
    * footprint is 16 bytes per edge plus 25 bytes per distinct id. */
  def minLabels(us: Array[Long], vs: Array[Long]): (Array[Long], Array[Long]) = {
    val n = us.length
    val ends = new Array[Long](2 * n)
    System.arraycopy(us, 0, ends, 0, n)
    System.arraycopy(vs, 0, ends, n, n)
    val m = sortDistinct(ends, ends.length)
    val parent = new Array[Int](m)
    var i = 0
    while (i < m) { parent(i) = i; i += 1 }
    val rank = new Array[Byte](m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x))
        parent(x) = gp; x = gp
      }
      x
    }
    i = 0
    while (i < n) {
      val ru = find(java.util.Arrays.binarySearch(ends, 0, m, us(i)))
      val rv = find(java.util.Arrays.binarySearch(ends, 0, m, vs(i)))
      if (ru != rv) {
        if (rank(ru) < rank(rv)) parent(ru) = rv
        else if (rank(rv) < rank(ru)) parent(rv) = ru
        else { parent(rv) = ru; rank(ru) = (rank(ru) + 1).toByte }
      }
      i += 1
    }
    // ids ascend, so the first member met of each root is its minimum
    val minOf = new Array[Int](m)
    java.util.Arrays.fill(minOf, -1)
    val labels = new Array[Long](m)
    i = 0
    while (i < m) {
      val r = find(i)
      if (minOf(r) < 0) minOf(r) = i
      labels(i) = ends(minOf(r))
      i += 1
    }
    (java.util.Arrays.copyOf(ends, m), labels)
  }

  /** Sorts `a(0 until n)` and moves its distinct values, ascending, to the
    * front; returns how many there are. */
  private[dedup] def sortDistinct(a: Array[Long], n: Int): Int = {
    java.util.Arrays.sort(a, 0, n)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    m
  }
}

/** Verified near-dup pairs held on the driver: `(a(i), b(i), jaccard(i))`,
  * `a(i) < b(i)`, ascending by `(a, b)`. */
private[dedup] final class DriverPairs(val a: Array[Long], val b: Array[Long],
    val jaccard: Array[Double])

/**
 * The driver route of the minhash family's banded verify
 * ([[Dedup.minHashNearDups]], [[Dedup.minHashNearDupsOph]]): when the
 * persisted `(id, sz, sig)` table is small, the distributed band self-join,
 * candidate-id join and verify joins (15 of `dedupCluster`'s 23 jobs on a
 * 6,000-doc corpus) become two jobs and driver arithmetic — the
 * filter-then-verify shape run where the data already fits:
 *
 *  1. one job collects every row's band keys from the filled cache;
 *  1. the driver groups rows by `(band, key)` and forms the distinct
 *     candidate pairs `id_a < id_b`;
 *  1. one job recomputes the sorted fingerprints of candidate ids only
 *     ([[ShingleStatsKernel]] with one coefficient pair, as the
 *     distributed route does);
 *  1. the driver verifies each pair with [[IntersectKernels.intersectSize]]
 *     and the same `common / (sz_a + sz_b − common)` double division.
 *
 * Every pair the distributed route emits comes out here too, with the same
 * `jaccard` bits: the candidate set, fingerprints and arithmetic are the
 * same, only the place differs.
 */
private[dedup] object NearDupRoute {

  /** Driver bytes the route may hold: band keys and ids of every row plus
    * the fingerprints of every gram (`rows·(bands+1)·8 + 8·Σsz`, the worst
    * case of what the two jobs ship), and then the candidate pairs at 16
    * bytes each, the size of the edge arrays their labels are computed
    * from. The scale of [[Dedup.connectedComponents]]' driver finish. */
  val DriverBytes: Long = 256L << 20

  /** Cap override for specs: 0 forces the distributed route. */
  private[dedup] val cap = new scala.util.DynamicVariable[Long](DriverBytes)

  /** Id types the route carries as longs and converts back exactly. */
  private def carries(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /**
   * The verified pairs of `texts` (persisted and already filled, `rows`
   * rows, gram counts summing to `sumSz`) at `threshold`, or None when the
   * route's bytes would pass the cap — nothing past it is shipped: the
   * band keys are only collected under the cap, and a candidate set over
   * it stops before any fingerprint is fetched. `src` is the `(id, __t)`
   * source the fingerprints are recomputed from.
   */
  def pairs(src: DataFrame, texts: DataFrame, n: Int, bands: Int, r: Int,
      threshold: Double, rows: Long, sumSz: Long): Option[DriverPairs] = {
    val capBytes = cap.value
    val held = rows * (bands + 1) * 8 + 8 * sumSz
    if (!carries(src.schema("id").dataType) || held >= capBytes) return None
    val spark = src.sparkSession
    val keyed = CacheDiscipline.runTask(texts.select(col("id").cast(LongType), col("sig")),
      "collect", new BandKeysTask(bands, r))
    val ids = concat(keyed.map(_._1))
    val (uid, packed) = candidates(ids, keyed.map(_._2), bands, (capBytes - held) / 16) match {
      case Some(c) => c
      case None => return None
    }
    if (packed.isEmpty) return Some(new DriverPairs(Array.emptyLongArray,
      Array.emptyLongArray, Array.emptyDoubleArray))
    // candidate ids, ascending (uid ascends)
    val isCand = new Array[Boolean](uid.length)
    packed.foreach { p => isCand((p >>> 32).toInt) = true; isCand(p.toInt) = true }
    val cid = uid.indices.filter(isCand).map(uid).toArray
    val cidB = spark.sparkContext.broadcast(cid)
    val (ca1, cb1) = Dedup.minHashCoefficients(1)
    val prints = try CacheDiscipline.runTask(src.select(col("id").cast(LongType), col("__t")),
        "collect", new FingerprintTask(cidB, n, ca1, cb1))
      finally cidB.destroy()
    Some(verify(uid, packed, cid, prints, threshold))
  }

  private def concat(parts: Array[Array[Long]]): Array[Long] = {
    val out = new Array[Long](parts.map(_.length).sum)
    var off = 0
    parts.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
    out
  }

  /**
   * Distinct candidate pairs of rows that share a key in some band:
   * `(uid, packed)` with `uid` the distinct ids ascending and each pair
   * `rank(id_a) << 32 | rank(id_b)`, `id_a < id_b`, ascending. Rows of one
   * id never pair with each other. `keyParts(p)` holds partition `p`'s
   * keys row-major (`bands` per row), rows in `ids` order. None when more
   * than `maxPairs` pairs could come out (Σ over buckets of m·(m−1)/2,
   * known before any pair is formed).
   */
  private[dedup] def candidates(ids: Array[Long], keyParts: Array[Array[Long]], bands: Int,
      maxPairs: Long): Option[(Array[Long], Array[Long])] = {
    val rows = ids.length
    val uid = ids.clone()
    val nu = UnionFind.sortDistinct(uid, rows)
    val ranks = new Array[Int](rows)
    var i = 0
    while (i < rows) { ranks(i) = java.util.Arrays.binarySearch(uid, 0, nu, ids(i)); i += 1 }
    // band-major `key << 32 | row` (keys < P < 2^31), each band sorted: a
    // bucket is a run of equal high halves
    val byBand = new Array[Long](rows * bands)
    var row = 0
    keyParts.foreach { part =>
      var j = 0
      while (j < part.length / bands) {
        var b = 0
        while (b < bands) {
          byBand(b * rows + row) = part(j * bands + b) << 32 | row
          b += 1
        }
        j += 1; row += 1
      }
    }
    var b = 0
    while (b < bands) { java.util.Arrays.sort(byBand, b * rows, (b + 1) * rows); b += 1 }
    def forRuns(f: (Int, Int) => Unit): Unit = {
      var s = 0
      while (s < byBand.length) {
        val band = s / rows
        var e = s + 1
        while (e < (band + 1) * rows && (byBand(e) >>> 32) == (byBand(s) >>> 32)) e += 1
        if (e - s > 1) f(s, e)
        s = e
      }
    }
    var bound = 0L
    forRuns((s, e) => bound += (e - s).toLong * (e - s - 1) / 2)
    if (bound > maxPairs || bound > Int.MaxValue - 8) return None
    val packed = new Array[Long](bound.toInt)
    var np = 0
    forRuns { (s, e) =>
      var x = s
      while (x < e) {
        val rx = ranks(byBand(x).toInt)
        var y = x + 1
        while (y < e) {
          val ry = ranks(byBand(y).toInt)
          if (rx != ry) {
            packed(np) = math.min(rx, ry).toLong << 32 | math.max(rx, ry)
            np += 1
          }
          y += 1
        }
        x += 1
      }
    }
    val nd = UnionFind.sortDistinct(packed, np)
    Some((java.util.Arrays.copyOf(uid, nu), java.util.Arrays.copyOf(packed, nd)))
  }

  /** Exact set-Jaccard of every candidate pair, over every fetched row of
    * each id (an id on several source rows pairs each of them, as the
    * distributed route's joins do); a row with a null text matches none. */
  private def verify(uid: Array[Long], packed: Array[Long], cid: Array[Long],
      prints: Array[Fingerprints], threshold: Double): DriverPairs = {
    val ids = concat(prints.map(_.ids))
    val sz = prints.flatMap(_.sz)
    val hs: Array[UnsafeArrayData] = prints.flatMap(_.hs).map(h =>
      if (h == null) null else UnsafeArrayData.fromPrimitiveArray(h))
    // the fetched rows of candidate id cid(c): order(first(c) until first(c + 1))
    val order = Array.tabulate(ids.length)(e =>
      java.util.Arrays.binarySearch(cid, ids(e)).toLong << 32 | e)
    java.util.Arrays.sort(order)
    val first = new Array[Int](cid.length + 1)
    order.foreach(o => first((o >>> 32).toInt + 1) += 1)
    var c = 0
    while (c < cid.length) { first(c + 1) += first(c); c += 1 }
    val outA = Array.newBuilder[Long]; val outB = Array.newBuilder[Long]
    val outJ = Array.newBuilder[Double]
    packed.foreach { p =>
      val ia = uid((p >>> 32).toInt); val ib = uid(p.toInt)
      val ca = java.util.Arrays.binarySearch(cid, ia)
      val cb = java.util.Arrays.binarySearch(cid, ib)
      var x = first(ca)
      while (x < first(ca + 1)) {
        val ea = order(x).toInt
        var y = first(cb)
        while (y < first(cb + 1)) {
          val eb = order(y).toInt
          if (hs(ea) != null && hs(eb) != null) {
            val common = IntersectKernels.intersectSize(hs(ea), hs(eb))
            val den = sz(ea) + sz(eb) - common
            // 0 only for two gram-less rows (an id repeated on a short text)
            if (den != 0) {
              val j = common.toDouble / den.toDouble
              if (j >= threshold) { outA += ia; outB += ib; outJ += j }
            }
          }
          y += 1
        }
        x += 1
      }
    }
    new DriverPairs(outA.result(), outB.result(), outJ.result())
  }

  /** `pairs` as the `[id_a, id_b, jaccard]` frame of the distributed route:
    * ids back in `idType`. */
  def frame(spark: org.apache.spark.sql.SparkSession, p: DriverPairs, idType: DataType,
      idNullable: Boolean): DataFrame = {
    val id: Long => Any = idType match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => identity
    }
    val rows = p.a.indices.map(i =>
      new GenericInternalRow(Array[Any](id(p.a(i)), id(p.b(i)), p.jaccard(i))): InternalRow)
    org.apache.spark.sql.graftshim.GraftSql.localRelation(spark, rows, StructType(Seq(
      StructField("id_a", idType, idNullable), StructField("id_b", idType, idNullable),
      StructField("jaccard", DoubleType))))
  }

  /** Cluster labels `[id, component, is_canonical]` of the pairs' ids, as
    * [[Dedup.connectedComponents]] returns them for pairs whose ids are
    * `idNullable`. */
  def labels(spark: org.apache.spark.sql.SparkSession, p: DriverPairs,
      idNullable: Boolean): DataFrame = {
    val (ids, comp) = UnionFind.minLabels(p.a, p.b)
    val rows = ids.indices.map(i =>
      new GenericInternalRow(Array[Any](ids(i), comp(i), ids(i) == comp(i))): InternalRow)
    org.apache.spark.sql.graftshim.GraftSql.localRelation(spark, rows, StructType(Seq(
      StructField("id", LongType, idNullable), StructField("component", LongType, idNullable),
      StructField("is_canonical", BooleanType, idNullable))))
  }

  /** Ids `dedupCorpus` drops: every labelled id that is not its cluster's
    * minimum, as a one-column `[id]` relation. */
  def drops(spark: org.apache.spark.sql.SparkSession, p: DriverPairs): DataFrame = {
    val (ids, comp) = UnionFind.minLabels(p.a, p.b)
    val rows = ids.indices.filter(i => ids(i) != comp(i))
      .map(i => new GenericInternalRow(Array[Any](ids(i))): InternalRow)
    org.apache.spark.sql.graftshim.GraftSql.localRelation(spark, rows,
      StructType(Seq(StructField("id", LongType))))
  }
}

/** One partition's band keys: its rows' non-null ids, and their keys
  * row-major (`bands` per row). A class rather than a lambda, so the job
  * skips the closure cleaner's bytecode scan. */
private final class BandKeysTask(bands: Int, r: Int)
    extends ((TaskContext, Iterator[InternalRow]) => (Array[Long], Array[Long])) with Serializable {
  def apply(ctx: TaskContext, it: Iterator[InternalRow]): (Array[Long], Array[Long]) = {
    val ids = Array.newBuilder[Long]
    val keys = Array.newBuilder[Long]
    while (it.hasNext) {
      val row = it.next()
      if (!row.isNullAt(0)) {
        ids += row.getLong(0)
        val sig = row.getArray(1)
        var b = 0
        while (b < bands) { keys += ShingleKernels.bandKey(sig, b, r); b += 1 }
      }
    }
    (ids.result(), keys.result())
  }
}

/** Fetched fingerprints of one partition: per row its id, distinct-gram
  * count and sorted gram hashes (null for a null text). */
private final class Fingerprints(val ids: Array[Long], val sz: Array[Int],
    val hs: Array[Array[Long]]) extends Serializable

/** Recomputes `(sz, hs)` for the rows whose id is in the broadcast sorted
  * candidate ids; the kernel runs on those rows only. */
private final class FingerprintTask(cid: Broadcast[Array[Long]], n: Int, ca: Array[Long],
    cb: Array[Long]) extends ((TaskContext, Iterator[InternalRow]) => Fingerprints) with Serializable {
  def apply(ctx: TaskContext, it: Iterator[InternalRow]): Fingerprints = {
    val want = cid.value
    val ids = Array.newBuilder[Long]
    val sz = Array.newBuilder[Int]
    val hs = Array.newBuilder[Array[Long]]
    while (it.hasNext) {
      val row = it.next()
      if (!row.isNullAt(0) && java.util.Arrays.binarySearch(want, row.getLong(0)) >= 0) {
        ids += row.getLong(0)
        if (row.isNullAt(1)) { sz += 0; hs += null }
        else {
          val st = ShingleStatsKernel.shingleStats(row.getUTF8String(1), n, ca, cb)
          sz += st.getInt(0)
          hs += st.getArray(1).toLongArray()
        }
      }
    }
    new Fingerprints(ids.result(), sz.result(), hs.result())
  }
}
