package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Unboxed distance / similarity kernels over Catalyst [[ArrayData]] of
 * floats. These are the numeric core of the engine's similarity search
 * (reference: /root/reference/backend/faiss_searcher.py:75-90 resolves one
 * of 8 faiss metrics; faiss computes them in C++). Here each kernel reads
 * `ArrayData.getFloat(i)` directly — no boxing, no Row conversion — and is
 * called from whole-stage-generated code via the static forwarders of this
 * object (see [[VectorExpressions]]).
 *
 * All accumulation is double-precision, strictly ascending element order,
 * so results are bit-reproducible and match an oracle that evaluates the
 * same expression tree (IEEE-754 ops are deterministic given an order).
 *
 * Faiss metric semantics preserved (faiss_searcher.py:77-86):
 *  - `l2` is SQUARED euclidean (faiss METRIC_L2 convention);
 *  - `lp` is sum(|a-b|^p) without the final root (faiss METRIC_Lp);
 *  - `cos` is true cosine similarity — the reference force-normalizes and
 *    takes the inner product (faiss_searcher.py:53, 96-98), which equals
 *    cosine; higher = closer for cos/dot, lower = closer otherwise.
 */
object VectorKernels {

  @inline private def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) {
      throw new IllegalArgumentException(
        s"vector dimension mismatch: $n vs ${b.numElements()}")
    }
    n
  }

  /** Inner product. faiss METRIC_INNER_PRODUCT; higher = closer. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Cosine similarity = dot(a,b) / (||a||·||b||); higher = closer.
    * Equals the reference's normalize-then-inner-product path
    * (faiss_searcher.py:96-98 + METRIC_INNER_PRODUCT). Zero vector → 0.0
    * (the reference NaNs, SURVEY §7.3 flags it as a bug not to replicate). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      s += x * y; na += x * x; nb += y * y; i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else s / d
  }

  /** Manhattan distance, sum |a-b|. faiss METRIC_L1. */
  def l1(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var i = 0
    while (i < n) { s += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    s
  }

  /** SQUARED euclidean distance (faiss METRIC_L2 convention). */
  def l2(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d; i += 1
    }
    s
  }

  /** Chebyshev distance, max |a-b|. faiss METRIC_Linf. */
  def lInf(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var m = 0.0; var i = 0
    while (i < n) {
      val d = math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble)
      if (d > m) m = d
      i += 1
    }
    m
  }

  /** Minkowski-p pre-distance: sum |a-b|^p, no final root (faiss METRIC_Lp). */
  def lp(a: ArrayData, b: ArrayData, p: Double): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var i = 0
    while (i < n) {
      s += math.pow(math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble), p)
      i += 1
    }
    s
  }

  /** Bray-Curtis dissimilarity: sum|a-b| / sum|a+b| (faiss METRIC_BrayCurtis). */
  def brayCurtis(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var num = 0.0; var den = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      num += math.abs(x - y); den += math.abs(x + y); i += 1
    }
    if (den == 0.0) 0.0 else num / den
  }

  /** Canberra distance: sum |a-b| / (|a|+|b|), zero-denominator terms skipped
    * (faiss METRIC_Canberra convention). */
  def canberra(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      val den = math.abs(x) + math.abs(y)
      if (den > 0.0) s += math.abs(x - y) / den
      i += 1
    }
    s
  }

  /** Jensen-Shannon divergence over non-negative vectors treated as
    * (unnormalized) distributions; 0·log(0) terms contribute 0
    * (faiss METRIC_JensenShannon). */
  def jensenShannon(a: ArrayData, b: ArrayData): Double = {
    val n = checkDims(a, b)
    var s = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      val m = 0.5 * (x + y)
      // one add per element (t1 + t2), matching the oracle's summation shape
      val t1 = if (x > 0.0 && m > 0.0) 0.5 * x * math.log(x / m) else 0.0
      val t2 = if (y > 0.0 && m > 0.0) 0.5 * y * math.log(y / m) else 0.0
      s += t1 + t2
      i += 1
    }
    s
  }

  /** True when some component is NaN or ±Inf (a vector no metric can
    * score and no centroid may absorb). */
  def nonFinite(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (!java.lang.Float.isFinite(a.getFloat(i))) return true; i += 1 }
    false
  }

  /** L2-normalize into a fresh float array (faiss_searcher.py:96-98).
    * Norm accumulated in double, each element divided in double then cast
    * to float. Zero vector returned unchanged (reference NaNs — guarded
    * deviation, SURVEY §7.3). */
  def l2Normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var ss = 0.0; var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; ss += x * x; i += 1 }
    val norm = math.sqrt(ss)
    val out = new Array[Float](n)
    if (norm == 0.0) {
      i = 0; while (i < n) { out(i) = a.getFloat(i); i += 1 }
    } else {
      i = 0; while (i < n) { out(i) = (a.getFloat(i).toDouble / norm).toFloat; i += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
