package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftSql.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType}

/**
 * Product quantization — the faiss `PQm` factory path
 * (/root/reference/backend/faiss_searcher.py:100-107 accepts any
 * index_factory string, PQ included). Vectors are split into `m`
 * subspaces; each subspace gets a 256-centroid codebook (driver-side
 * Lloyd on a bounded sample, like the IVF coarse quantizer); every vector
 * is stored as `m` BYTES instead of `dim` floats — a dim·4/m× memory
 * compression, which is what makes a 100 TB vector corpus cacheable.
 *
 * Search uses asymmetric distance computation (ADC): per query ONE
 * `m × 256` table of exact subspace distances is built, then each stored
 * code costs `m` table lookups. The per-partition table amortization is
 * genuine imperative logic, so the scorer runs inside the per-partition
 * [[CellScan]] (the documented last-resort tier — nothing declarative can
 * hoist per-query state across rows); everything around it (top-k merge,
 * payload join) stays in the declarative plan.
 *
 * Approximate by construction (codes quantize), fully deterministic given
 * the seeded sample — recall against exact search is spec-gated.
 */
object PqIndex {
  private[search] val CODES = "__pq_codes"
  val K = 256 // centroids per subspace = 1 byte per code (nbits=8)

  /** Per-subspace codebooks: `m × 2^nbits × dsub`, Lloyd on a
    * deterministic bounded sample (one collect, reused for every
    * subspace). `nbits=4` (faiss `PQmx4`) fits 16-centroid codebooks
    * whose codes nibble-pack two per byte at encode. */
  def fitCodebooks(df: DataFrame, vecCol: String, m: Int, dim: Int,
      total: Long, nbits: Int = 8): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"PQ: dim $dim must divide into m=$m subspaces")
    require(nbits == 8 || nbits == 4, s"PQ nbits must be 8 or 4, got $nbits")
    val dsub = dim / m
    val maxTrain = 100000L
    val fraction = if (total <= maxTrain) 1.0 else maxTrain.toDouble / total
    val sample = (if (fraction < 1.0) df.sample(withReplacement = false, fraction, seed = 42) else df)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      IvfIndex.lloyd(sub, math.min(1 << nbits, sub.length), iters = 10)
    }
  }

  /** Encode kernel: nearest codebook centroid per subspace → m codes in
    * `m·nbits/8` bytes. nbits=8 stores one code per byte; nbits=4
    * nibble-packs two (hi nibble = even subspace, lo = odd; an odd
    * trailing subspace packs alone in the hi nibble — the [[SqIndex]]
    * convention). */
  def encode(v: ArrayData, codebooks: Array[Array[Array[Float]]],
      nbits: Int): Array[Byte] = {
    val m = codebooks.length
    val out = new Array[Byte](if (nbits == 4) (m + 1) / 2 else m)
    var s = 0
    var off = 0
    while (s < m) {
      val cb = codebooks(s)
      val dsub = cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val t = v.getFloat(off + i).toDouble - cent(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      if (nbits == 4) {
        if ((s & 1) == 0) out(s >> 1) = (best << 4).toByte
        else out(s >> 1) = (out(s >> 1) | best).toByte
      } else out(s) = best.toByte
      off += dsub
      s += 1
    }
    out
  }

  def encodeCol(v: Column, codebooks: Array[Array[Array[Float]]],
      nbits: Int = 8): Column =
    column(PqEncodeExpr(expression(v), codebooks, nbits))

  /**
   * One query's ADC scorer. Every reference metric decomposes over the `m`
   * subspaces (faiss_searcher.py:77-86 resolves 8 metrics; faiss serves
   * them all through any factory string, PQ included):
   *
   *  - additive (ip/cos-on-normalized dot, l2, l1, lp, canberra,
   *    jensen_shannon): `dist = Σ_s table(s, code_s)`;
   *  - max-combined (linf): `dist = max_s table(s, code_s)`;
   *  - ratio of two sums (bray_curtis): numerator and denominator each get
   *    a table, `dist = Σ num / Σ den` (0 when the denominator is 0,
   *    matching [[graft.functions.VectorKernels.brayCurtis]]).
   *
   * Tables are `m × 256` exact subspace contributions against the
   * codebook centroids, laid out flat as `table(s·256 + c)`; scoring a
   * stored code is `m` lookups regardless of metric.
   */
  final class AdcScorer(t1: Array[Double], t2: Array[Double], isMax: Boolean,
      mSub: Int, nbits: Int) {
    private[this] val kStride = 1 << nbits
    // per-subspace table lookups in ascending-s order for BOTH widths —
    // 4-bit codes unpack to two lookups per byte rather than pairing into
    // byte-level tables, so the double-accumulation order (and thus the
    // rounded result) is identical to the 8-bit path and the SQL oracle
    @inline private[this] def codeAt(codes: Array[Byte], s: Int): Int =
      if (nbits == 8) codes(s) & 0xff
      else if ((s & 1) == 0) (codes(s >> 1) >> 4) & 0xf
      else codes(s >> 1) & 0xf
    def score(codes: Array[Byte]): Double = {
      val m = mSub
      var s = 0
      if (isMax) {
        var acc = 0.0
        while (s < m) {
          val v = t1(s * kStride + codeAt(codes, s)); if (v > acc) acc = v; s += 1
        }
        acc
      } else if (t2 == null) {
        var acc = 0.0
        while (s < m) { acc += t1(s * kStride + codeAt(codes, s)); s += 1 }
        acc
      } else {
        var num = 0.0
        var den = 0.0
        while (s < m) {
          val o = s * kStride + codeAt(codes, s)
          num += t1(o); den += t2(o); s += 1
        }
        if (den == 0.0) 0.0 else num / den
      }
    }
  }

  /** Build the ADC scorer for `metricName` (same names as
    * [[graft.functions.VectorFunctions.metric]]); `metricArg` is the
    * Minkowski p for `lp`; `nbits` is the stored code width (8 = byte
    * codes, 4 = nibble-packed — tables shrink to 16 entries/subspace). */
  def adcScorer(qv: Array[Float], cbs: Array[Array[Array[Float]]],
      metricName: String, metricArg: Double, nbits: Int = 8): AdcScorer = {
    val m = cbs.length
    val kStride = 1 << nbits
    val t1 = new Array[Double](m * kStride)
    val isMax = metricName == "l_inf" || metricName == "linf"
    val isRatio = metricName == "brayCurtis" || metricName == "bray_curtis"
    val t2 = if (isRatio) new Array[Double](m * kStride) else null
    var s = 0
    // running query offset: subspace widths may differ (SQ4 packs an odd
    // trailing dim into a size-1 subspace after size-2 pairs), so the
    // query slice for subspace s starts where s-1's ended, not at s·dsub
    var off = 0
    while (s < m) {
      val cb = cbs(s)
      val dsub = cb(0).length
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var acc = 0.0
        var acc2 = 0.0
        var i = 0
        metricName match {
          case "ip" | "dot" | "cos" => // cos: vectors pre-normalized at fit
            while (i < dsub) { acc += qv(off + i).toDouble * cent(i); i += 1 }
          case "l2" =>
            while (i < dsub) { val d = qv(off + i).toDouble - cent(i); acc += d * d; i += 1 }
          case "l1" =>
            while (i < dsub) { acc += math.abs(qv(off + i).toDouble - cent(i)); i += 1 }
          case "l_inf" | "linf" =>
            while (i < dsub) {
              val d = math.abs(qv(off + i).toDouble - cent(i))
              if (d > acc) acc = d
              i += 1
            }
          case "l_p" | "lp" =>
            while (i < dsub) {
              acc += math.pow(math.abs(qv(off + i).toDouble - cent(i)), metricArg); i += 1
            }
          case "canberra" =>
            while (i < dsub) {
              val x = qv(off + i).toDouble; val y = cent(i).toDouble
              val den = math.abs(x) + math.abs(y)
              if (den > 0.0) acc += math.abs(x - y) / den
              i += 1
            }
          case "jensen_shannon" =>
            while (i < dsub) {
              val x = qv(off + i).toDouble; val y = cent(i).toDouble
              val mid = 0.5 * (x + y)
              val a1 = if (x > 0.0 && mid > 0.0) 0.5 * x * math.log(x / mid) else 0.0
              val a2 = if (y > 0.0 && mid > 0.0) 0.5 * y * math.log(y / mid) else 0.0
              acc += a1 + a2
              i += 1
            }
          case "brayCurtis" | "bray_curtis" =>
            while (i < dsub) {
              val x = qv(off + i).toDouble; val y = cent(i).toDouble
              acc += math.abs(x - y); acc2 += math.abs(x + y)
              i += 1
            }
          case other => throw new IllegalArgumentException(
            s"no ADC decomposition for metric '$other'")
        }
        t1(s * kStride + c) = acc
        if (t2 != null) t2(s * kStride + c) = acc2
        c += 1
      }
      off += dsub
      s += 1
    }
    new AdcScorer(t1, t2, isMax, m, nbits)
  }

  /** [[CellScan]] scorer over byte codes: one [[AdcScorer]] per query per
    * partition, `m` table lookups per scored code. */
  private[search] def adcRows(spark: org.apache.spark.sql.SparkSession,
      codebooks: Array[Array[Array[Float]]], metricName: String, metricArg: Double,
      nbits: Int): Array[Array[Float]] => CellScan.RowScorer = {
    val cbB = spark.sparkContext.broadcast(codebooks)
    qvs => {
      val scorers = qvs.map(adcScorer(_, cbB.value, metricName, metricArg, nbits))
      (row, qis, heaps) => {
        val codes = row.getBinary(1)
        val id = row.getLong(0)
        var j = 0
        while (j < qis.length) { heaps(qis(j)).insert(scorers(qis(j)).score(codes), id); j += 1 }
      }
    }
  }
}

/** Codegen'd PQ encoder: array<float> → binary(m·nbits/8); codebooks ride
  * as a plan reference object. */
case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Array[Float]]],
    nbits: Int = 8) extends UnaryExpression {
  require(nbits == 8 || nbits == 4, s"PQ nbits must be 8 or 4, got $nbits")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    PqIndex.encode(v.asInstanceOf[ArrayData], codebooks, nbits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, c => s"graft.search.PqIndex.encode($c, $ref, $nbits)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "pq_encode"
  // content equality over the codebook arrays (see HashedLinearScore)
  override def equals(o: Any): Boolean = o match {
    case that: PqEncodeExpr => child == that.child && nbits == that.nbits &&
      java.util.Arrays.deepEquals(codebooks.asInstanceOf[Array[AnyRef]],
        that.codebooks.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(nbits),
    Int.box(java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]])))
}
