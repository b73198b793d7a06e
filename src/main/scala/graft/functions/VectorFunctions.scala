package graft.functions

import org.apache.spark.sql.graftshim.GraftSql.{column, expression, registerFunction}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/**
 * Column-level DSL over the native vector expressions — the engine's
 * distance-function surface (reference metric whitelist:
 * /root/reference/backend/faiss_searcher.py:75-90). `metric(name)` resolves
 * a metric by the reference's names (`cos`, `l1`, `l2`, `l_inf`, `l_p`,
 * `brayCurtis`, `canberra`, `jensen_shannon`) and unknown names error, like
 * faiss_searcher.py:87-90.
 */
object VectorFunctions {

  /** Cast any numeric array column to the engine's canonical array<float>
    * (reference forces float32 at ingest, faiss_searcher.py:92-94). A no-op
    * cast on an already-float array is eliminated by Catalyst. */
  def as_float_vec(v: Column): Column = v.cast(ArrayType(FloatType))

  private def e(c: Column) = expression(as_float_vec(c))

  def vec_dot(a: Column, b: Column): Column = column(VecDot(e(a), e(b)))
  def vec_cosine(a: Column, b: Column): Column = column(VecCosine(e(a), e(b)))
  def vec_l1(a: Column, b: Column): Column = column(VecL1(e(a), e(b)))
  /** Squared euclidean (faiss METRIC_L2 convention). */
  def vec_l2sq(a: Column, b: Column): Column = column(VecL2Sq(e(a), e(b)))
  def vec_linf(a: Column, b: Column): Column = column(VecLInf(e(a), e(b)))
  def vec_lp(a: Column, b: Column, p: Double): Column = column(VecLp(e(a), e(b), p))
  def vec_bray_curtis(a: Column, b: Column): Column = column(VecBrayCurtis(e(a), e(b)))
  def vec_canberra(a: Column, b: Column): Column = column(VecCanberra(e(a), e(b)))
  def vec_jensen_shannon(a: Column, b: Column): Column = column(VecJensenShannon(e(a), e(b)))
  def vec_l2_normalize(v: Column): Column = column(VecL2Normalize(e(v)))
  /** Whether a vector has a NaN or infinite component; null for null. */
  private[graft] def vec_non_finite(v: Column): Column = column(VecNonFinite(e(v)))

  /** A similarity metric: distance column + ordering direction.
    * `higherIsCloser` mirrors faiss METRIC_INNER_PRODUCT vs the rest
    * (faiss_searcher.py:77-86): cos/ip rank DESC, all others ASC. */
  final case class Metric(name: String, higherIsCloser: Boolean,
      dist: (Column, Column) => Column)

  /** Resolve a metric by reference name (faiss_searcher.py:75-90).
    * `metricArg` is faiss's metric_arg (the p of L_p). */
  def metric(name: String, metricArg: Double = 2.0): Metric = name match {
    case "cos"                       => Metric(name, higherIsCloser = true, vec_cosine)
    case "ip" | "dot"                => Metric(name, higherIsCloser = true, vec_dot)
    case "l1"                        => Metric(name, higherIsCloser = false, vec_l1)
    case "l2"                        => Metric(name, higherIsCloser = false, vec_l2sq)
    case "l_inf" | "linf"            => Metric(name, higherIsCloser = false, vec_linf)
    case "l_p" | "lp"                => Metric(name, higherIsCloser = false, vec_lp(_, _, metricArg))
    case "brayCurtis" | "bray_curtis" => Metric(name, higherIsCloser = false, vec_bray_curtis)
    case "canberra"                  => Metric(name, higherIsCloser = false, vec_canberra)
    case "jensen_shannon"            => Metric(name, higherIsCloser = false, vec_jensen_shannon)
    case other => throw new IllegalArgumentException(
      s"unsupported measurement '$other' (faiss_searcher.py:87-90 whitelist)")
  }

  /** Register all vector functions for SQL use (`SELECT vec_cosine(a, b)`). */
  def registerAll(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    def reg2(name: String, f: (Expression, Expression) => Expression): Unit =
      registerFunction(spark, name, es => f(es(0), es(1)))
    reg2("vec_dot", VecDot)
    reg2("vec_cosine", VecCosine)
    reg2("vec_l1", VecL1)
    reg2("vec_l2sq", VecL2Sq)
    reg2("vec_linf", VecLInf)
    reg2("vec_bray_curtis", VecBrayCurtis)
    reg2("vec_canberra", VecCanberra)
    reg2("vec_jensen_shannon", VecJensenShannon)
    registerFunction(spark, "vec_l2_normalize", es => VecL2Normalize(es.head))
  }
}
