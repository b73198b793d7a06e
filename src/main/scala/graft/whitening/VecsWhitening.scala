package graft.whitening

import breeze.linalg.{svd, DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftSql.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

import graft.encoders.Encoder

/** Unboxed whitening-transform kernel, called from generated code. */
object WhitenKernels {
  /** y = (x + bias) · kernel, kernel stored row-major (d × d'). Double
    * accumulation, float32 output — matches the engine's vector type. */
  def whiten(v: ArrayData, kernel: Array[Array[Double]], bias: Array[Double]): ArrayData = {
    val d = kernel.length
    require(v.numElements() == d,
      s"whitening transform: vec dim ${v.numElements()} != fitted dim $d (vecs_whitening.py:46-49)")
    val dOut = kernel(0).length
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) { centered(i) = v.getFloat(i).toDouble + bias(i); i += 1 }
    val out = new Array[Float](dOut)
    var j = 0
    while (j < dOut) {
      var s = 0.0; i = 0
      while (i < d) { s += centered(i) * kernel(i)(j); i += 1 }
      out(j) = s.toFloat; j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Codegen'd whitening projection; kernel/bias ride as plan reference
  * objects (small d×d' driver-side matrices, SURVEY §1.4). */
case class WhitenTransform(child: Expression, kernel: Array[Array[Double]],
    bias: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WhitenKernels.whiten(v.asInstanceOf[ArrayData], kernel, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("kernel", kernel, "double[][]")
    val b = ctx.addReferenceObj("bias", bias, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.whitening.WhitenKernels.whiten($c, $k, $b)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "whiten_transform"
  // content equality over kernel/bias (see HashedLinearScore)
  override def equals(o: Any): Boolean = o match {
    case that: WhitenTransform => child == that.child &&
      java.util.Arrays.deepEquals(kernel.asInstanceOf[Array[AnyRef]],
        that.kernel.asInstanceOf[Array[AnyRef]]) &&
      java.util.Arrays.equals(bias, that.bias)
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(java.util.Arrays.deepHashCode(kernel.asInstanceOf[Array[AnyRef]])),
    Int.box(java.util.Arrays.hashCode(bias)))
}

/**
 * PCA-whitening over an embedding column — the Spark re-expression of the
 * reference's `VecsWhitening` (/root/reference/backend/vecs_whitening.py):
 * μ and covariance from one distributed pass (map-side partial aggregation
 * via treeAggregate — the only genuinely imperative per-partition logic in
 * the engine), SVD of the small d×d covariance on the driver via Breeze,
 * `kernel = U · diag(1/√s)` truncated to `nComponents`, `bias = −μ`
 * (vecs_whitening.py:25-34). The transform `y = (x + bias) · kernel`
 * (vecs_whitening.py:44-51) is a codegen'd expression.
 *
 * `whiten = false` keeps the same eigenbasis but skips the 1/√s variance
 * scaling — plain centered PCA, the faiss `PCAn,…` vector transform (the
 * default `true` is faiss's `PCAWn,…`).
 */
class VecsWhitening(val nComponents: Int, val whiten: Boolean = true) {

  /** Fit on all rows of `df(vecCol)`. Preconditions mirror the reference:
    * rows > dim (bert_encoder.py:172-175) and nComponents ≤ dim
    * (vecs_whitening.py:39-41). */
  def fit(df: DataFrame, vecCol: String): VecsWhiteningModel = {
    val (n, sum, outer) = VecsWhitening.moments(df, vecCol)
    require(n > 0, "whitening fit on empty input")
    val d = sum.length
    require(n > d, s"whitening fit needs > $d rows, got $n (bert_encoder.py:172-175)")
    require(nComponents <= d, s"n_components $nComponents > dim $d (vecs_whitening.py:39-41)")

    val mean = DenseVector(sum) / n.toDouble
    // np.cov ddof=1 (vecs_whitening.py:31): (Σxxᵀ − n·μμᵀ)/(n−1)
    val cov = DenseMatrix.create(d, d, outer) // row-major data, symmetric so layout moot
    val covM = (cov - (mean * mean.t) * n.toDouble) / (n - 1).toDouble
    val svd.SVD(u, s, _) = svd(covM)
    val kernel = DenseMatrix.zeros[Double](d, nComponents)
    var j = 0
    while (j < nComponents) {
      val scale = if (whiten) 1.0 / math.sqrt(s(j)) else 1.0
      var i = 0
      while (i < d) { kernel(i, j) = u(i, j) * scale; i += 1 }
      j += 1
    }
    val k = Array.tabulate(d, nComponents)((i, jj) => kernel(i, jj))
    val b = (-mean).toArray
    new VecsWhiteningModel(k, b, nComponents, d)
  }

  def fitTransform(df: DataFrame, vecCol: String): DataFrame =
    fit(df, vecCol).transform(df, vecCol)
}

object VecsWhitening {
  /** One distributed pass over `df(vecCol)`: `(n, Σx, Σxxᵀ)` — map-side
    * combined via treeAggregate, O(d²) state per partition. Shared by
    * [[VecsWhitening.fit]] and the whitening-invariant gate (which checks
    * the moments of the TRANSFORMED output against mean≈0 / cov≈I). */
  private[graft] def moments(df: DataFrame, vecCol: String): (Long, Array[Double], Array[Double]) = {
    val rows = df.select(col(vecCol).cast(ArrayType(FloatType))).rdd
      .map(_.getSeq[Float](0))
    val zero: (Long, Array[Double], Array[Double]) = (0L, null, null)
    rows.treeAggregate(zero)(
      seqOp = { case ((c, s0, o0), v) =>
        val d = v.length
        val s = if (s0 == null) new Array[Double](d) else s0
        val o = if (o0 == null) new Array[Double](d * d) else o0
        var i = 0
        while (i < d) {
          val xi = v(i).toDouble
          s(i) += xi
          var j = 0
          while (j < d) { o(i * d + j) += xi * v(j); j += 1 }
          i += 1
        }
        (c + 1, s, o)
      },
      combOp = {
        case ((c1, s1, o1), (c2, s2, o2)) =>
          if (s1 == null) (c2, s2, o2)
          else if (s2 == null) (c1, s1, o1)
          else {
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < o1.length) { o1(i) += o2(i); i += 1 }
            (c1 + c2, s1, o1)
          }
      })
  }
}

/** Fitted whitening model (kernel d×d', bias 1×d). */
class VecsWhiteningModel(val kernel: Array[Array[Double]], val bias: Array[Double],
    val nComponents: Int, val originDim: Int) extends Serializable {

  def transformCol(v: Column): Column =
    column(WhitenTransform(expression(v.cast(ArrayType(FloatType))), kernel, bias))

  /** Replace `vecCol` with its whitened projection (vecs_whitening.py:44-56). */
  def transform(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, transformCol(col(vecCol)))

  /** Persist as parquet + embedded params (vecs_whitening.py:58-65 pickle →
    * columnar, SURVEY §2 O23): two driver-written metadata tables. */
  def save(spark: SparkSession, path: String): Unit = {
    // one file per metadata table, byte-guarded (graft.search.MetaDir)
    val meta = new graft.search.MetaDir(spark, path)
    meta.write("kernel", kernel.map(4L + 8L * _.length).sum, VecsWhiteningModel.KernelSchema)(
      kernel.indices.iterator.map(i => InternalRow(i, UnsafeArrayData.fromPrimitiveArray(kernel(i)))))
    meta.write("meta", 8L + 8L * bias.length, VecsWhiteningModel.MetaSchema)(
      Iterator(InternalRow(UnsafeArrayData.fromPrimitiveArray(bias), nComponents, originDim)))
  }
}

object VecsWhiteningModel {
  import graft.search.MetaDir.schema
  private val doubles = ArrayType(DoubleType, containsNull = false)
  private val KernelSchema = schema("row" -> IntegerType, "kernel_row" -> doubles)
  private val MetaSchema = schema("bias" -> doubles, "n_components" -> IntegerType, "origin_dim" -> IntegerType)

  /** Load; `expectComponents` mismatch errors like vecs_whitening.py:72-73.
    * Both tables are read on the driver, in a driver-side order. */
  def load(spark: SparkSession, path: String,
      expectComponents: Option[Int] = None): VecsWhiteningModel = {
    val meta = new graft.search.MetaDir(spark, path)
    val row = meta.read("meta", MetaSchema).head
    val bias = row.getArray(0).toDoubleArray()
    val nc = row.getInt(1)
    val od = row.getInt(2)
    expectComponents.filter(_ != nc).foreach { e =>
      throw new IllegalArgumentException(
        s"loaded n_components $nc != expected $e (vecs_whitening.py:72-73)")
    }
    val kernel = meta.read("kernel", KernelSchema).sortBy(_.getInt(0)).map(_.getArray(1).toDoubleArray())
    new VecsWhiteningModel(kernel, bias, nc, od)
  }
}

/**
 * Encoder decorator with lazy, sampled whitening fit — the Spark analog of
 * the reference's fit-on-first-batch path (bert_encoder.py:159-177): wraps
 * any encoder; on first use fits whitening on a deterministic `limit(n)`
 * sample of the encoded vectors (bert_encoder.py:163-171), then whitens
 * every encoded vector.
 */
final class WhitenedEncoder(base: Encoder, nComponents: Int,
    sampleRows: Int = 10000) extends Encoder {
  @transient private var model: VecsWhiteningModel = _
  override def dim: Option[Int] = Some(nComponents)
  override def sourceCols: Seq[String] = base.sourceCols

  override def encode(df: DataFrame, itemCol: String, outCol: String): DataFrame = {
    val encoded = base.encode(df, itemCol, outCol)
    if (model == null) {
      model = new VecsWhitening(nComponents)
        .fit(encoded.limit(sampleRows), outCol)
    }
    model.transform(encoded, outCol)
  }
}
