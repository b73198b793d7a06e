package graft.search

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSql.{column, expression}
import org.apache.spark.sql.types._

/** Bounded top-k buffer: a binary max-heap on the WORST kept element, so a
  * better candidate evicts the worst in O(log k). `asc = true` keeps the k
  * smallest distances (l1/l2/…), `asc = false` the k largest (cos/ip). */
final class TopKBuffer(val k: Int, val asc: Boolean) {
  // heap of (dist, rowId), ordered so the root is the eviction candidate
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0
  /** Inserts the heap took in, evicting or not. */
  var admitted = 0L

  /** true if `a` is worse than `b` (eviction order), tie-break on larger id
    * (so among equal distances the SMALLEST ids are kept — matching the
    * row_id tie-break of the window formulation). */
  @inline private def worse(da: Double, ia: Long, db: Double, ib: Long): Boolean =
    if (da != db) { if (asc) da > db else da < db } else ia > ib

  def insert(dist: Double, id: Long): Unit = {
    if (size < k) {
      var i = size
      dists(i) = dist; ids(i) = id; size += 1; admitted += 1
      // sift up
      while (i > 0 && worse(dists(i), ids(i), dists((i - 1) / 2), ids((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (worse(dists(0), ids(0), dist, id)) {
      dists(0) = dist; ids(0) = id; admitted += 1
      siftDown(0)
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val td = dists(a); dists(a) = dists(b); dists(b) = td
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var continue = true
    while (continue) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) continue = false else { swap(i, m); i = m }
    }
  }

  /** Best-first (rank order) pairs. */
  def sorted: Array[(Long, Double)] = {
    val out = (0 until size).map(i => (ids(i), dists(i))).toArray
    out.sortWith { case ((ia, da), (ib, db)) =>
      if (da != db) { if (asc) da < db else da > db } else ia < ib
    }
  }
}

/**
 * Native top-k aggregate: `top_k(struct(row_id, dist))` keeps the k closest
 * hits per group in a bounded heap — O(n log k) per partition with map-side
 * partial aggregation, so a query's shuffle traffic is `k × partitions`
 * rows instead of the full n×q cross product. This is the physical shape
 * faiss gets by pushing k into the index scan (SURVEY §4 "top-k pushdown"),
 * and the plan of record for exact search over an index too large to
 * broadcast: broadcast the (small) query set, stream the index partitions,
 * heap-aggregate per query.
 *
 * Returns `array<struct<row_id: long, dist: double>>`, best-first.
 */
case class TopKByDistance(child: Expression, k: Int, asc: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, asc)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val struct = child.eval(input).asInstanceOf[InternalRow]
    if (struct != null) buf.insert(struct.getDouble(1), struct.getLong(0))
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < b.size) { a.insert(b.dists(i), b.ids(i)); i += 1 }
    a
  }

  override def eval(buf: TopKBuffer): Any = {
    val hits = buf.sorted
    new GenericArrayData(hits.map { case (id, d) =>
      InternalRow(id, d)
    }.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.ids(i)); bb.putDouble(buf.dists(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k, asc)
    var i = 0
    while (i < n) { val id = bb.getLong; val d = bb.getDouble; buf.insert(d, id); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByDistance =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByDistance =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
  override def prettyName: String = "top_k_by_distance"
}

object TopKAggregate {
  /** Column DSL: aggregate a `struct(row_id, dist)` column to the k best. */
  def top_k(hit: Column, k: Int, asc: Boolean): Column =
    column(TopKByDistance(expression(hit), k, asc).toAggregateExpression())

  /** The shared merge tail: per-partition partial hits `(QID, ROW_ID,
    * DIST, …)` → global top-k per query with dense 1-based RANK. One
    * definition so the tie-break and rank conventions cannot drift between
    * the exact, LSH, PQ-family, graph, and refine paths. */
  def mergeHits(partials: org.apache.spark.sql.DataFrame, k: Int,
      ascending: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import SparkSearcher.{QID, ROW_ID, DIST, RANK}
    // TypedImperativeAggregate plans as ObjectHashAggregate, whose
    // sort-based fallback triggers at 128 DISTINCT KEYS regardless of
    // state size — a >128-query batch then SORTS the whole
    // (queries × corpus) scored stream (sf100: 40 GB spilled, 49 → 144 s
    // between repeats). That fallback exists for unbounded states
    // (collect_list); this heap state is k-bounded (~16 B per hit), so
    // thousands of keys cost ≤ a few MB per task. The threshold lift
    // that keeps batch search hash-aggregated is a SESSION conf —
    // [[graft.GraftConf.applySessionDefaults]] sets it, declared, at
    // session setup (every graft main and [[graft.GraftFunctions
    // .register]] apply it; cluster deploys set it in spark-defaults).
    // It is deliberately NOT set here: a conf mutation inside plan
    // building would silently persist for the whole session and also
    // govern unrelated unbounded-state aggregates (r15 shipped exactly
    // that; reverted r16).
    partials
      .groupBy(col(QID))
      .agg(top_k(struct(col(ROW_ID), col(DIST)), k, ascending).as("__hits"))
      .select(col(QID), posexplode(col("__hits")).as(Seq("__pos", "__hit")))
      .select(col(QID), col("__hit.row_id").as(ROW_ID),
        col("__hit.dist").as(DIST), (col("__pos") + 1).cast("int").as(RANK))
  }
}
