package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType}

/**
 * Native Catalyst expressions for the 8 reference distance metrics
 * (/root/reference/backend/faiss_searcher.py:75-90) plus L2-normalize
 * (faiss_searcher.py:96-98). Implemented as `Expression`s (not UDFs) so
 * they participate in whole-stage codegen: the generated Java calls the
 * static unboxed kernels in [[VectorKernels]] directly on `ArrayData` —
 * no per-row boxing, no serialization, full `WholeStageCodegen` span
 * through the similarity cross-join.
 */
/** Inputs must be array<float> — the Column DSL in [[VectorFunctions]]
  * inserts the cast (ExpectsInputTypes is private[sql] in Spark 4). */
abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** Static method name on [[VectorKernels]]; also the codegen call target. */
  protected def kernel: String

  protected def compute(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.$kernel($a, $b)")
}

case class VecDot(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "dot"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.dot(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_dot"
}

case class VecCosine(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "cosine"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.cosine(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_cosine"
}

case class VecL1(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "l1"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.l1(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_l1"
}

case class VecL2Sq(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "l2"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.l2(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_l2sq"
}

case class VecLInf(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "lInf"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.lInf(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_linf"
}

/** Minkowski-p pre-distance; `p` is a plan-time constant (faiss metric_arg). */
case class VecLp(left: Expression, right: Expression, p: Double) extends BinaryVectorExpression {
  override protected def kernel: String = "lp"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.lp(a, b, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.lp($a, $b, ${p}D)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r, p)
  override def prettyName: String = "vec_lp"
}

case class VecBrayCurtis(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "brayCurtis"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.brayCurtis(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_bray_curtis"
}

case class VecCanberra(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "canberra"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.canberra(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_canberra"
}

case class VecJensenShannon(left: Expression, right: Expression) extends BinaryVectorExpression {
  override protected def kernel: String = "jensenShannon"
  override protected def compute(a: ArrayData, b: ArrayData): Double = VectorKernels.jensenShannon(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
  override def prettyName: String = "vec_jensen_shannon"
}

/** L2-normalize an array<float> column (faiss_searcher.py:96-98). */
case class VecL2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    VectorKernels.l2Normalize(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.l2Normalize($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "vec_l2_normalize"
}

/** Whether an array<float> holds a NaN or infinite component
  * ([[VectorKernels.nonFinite]]); null for a null vector. */
case class VecNonFinite(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any = VectorKernels.nonFinite(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.nonFinite($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "vec_non_finite"
}
