package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftshim.GraftSql.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid kernels over primitive float vectors: fit, cell
  * assignment and query probes all score through the one flat distance
  * kernel ([[d2]]/[[d2x4]]). */
object IvfKernels {
  /** Dispatch: the flat O(k·d) scan below [[CentroidIndex.FastThreshold]]
    * — every oracle gate resolves there, and its sequential
    * `Σ(x_i−c_i)²` fp order is what the DuckDB oracles reproduce — and
    * the ILP-friendly dot-form scan ([[nearestFast]]) above it, where no
    * oracle applies (large k only arises in the sf1+/100 TB regimes,
    * which are benched, not hashed). Both are deterministic run to run.
    * Copies `v` once; called from generated code. */
  def nearestIdx(v: ArrayData, idx: CentroidIndex, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(nearestIds(v.toFloatArray(), idx, n))

  /** [[nearestIdx]] over a float vector of the centroids' width. */
  def nearestIds(x: Array[Float], idx: CentroidIndex, n: Int): Array[Int] = {
    val d = idx.centroids(0).length
    if (x.length != d) throw new IllegalArgumentException(
      s"vector dimension mismatch: ${x.length} vs $d")
    if (idx.members != null) nearestHier(x, idx, n)
    else if (idx.centNorm2 == null) nearestN(x, idx.wide, n)
    else nearestFast(x, idx, n)
  }

  /** Each query's [[nearestIds]]: in parallel over queries once the batch's
    * arithmetic (q·k·d ≥ 2^21) outweighs the fork-join dispatch, as
    * [[IvfIndex.lloyd]]'s iterations do. Each query's ids are the same
    * either way. */
  def probes(qs: Array[Array[Float]], idx: CentroidIndex, n: Int): Array[Array[Int]] = {
    val out = new Array[Array[Int]](qs.length)
    val range = java.util.stream.IntStream.range(0, qs.length)
    val work = qs.length.toLong * idx.centroids.length * idx.centroids(0).length
    (if (work >= (1L << 21)) range.parallel() else range).forEach(i => out(i) = nearestIds(qs(i), idx, n))
    out
  }

  /** `Σ_f (x_f − c_f)²` over the first `d` components, accumulated in
    * double in ascending f: the one point-to-centroid distance of every
    * fit and flat probe. `c` is a float vector widened to double (or a
    * double mean), so `x(f).toDouble - c(f)` is the same double the float
    * pair gives. */
  private[search] def d2(x: Array[Float], c: Array[Double], d: Int): Double = {
    var s = 0.0; var f = 0
    while (f < d) { val t = x(f).toDouble - c(f); s += t * t; f += 1 }
    s
  }

  /** [[d2]] of `x` to four centroids in one pass over `x`, into
    * `out(0..3)`: four independent sums, each in ascending f with no fused
    * or reordered arithmetic, so `out(q)` is `d2(x, c_q, d)` bit for bit. The
    * single sum's add chain is what bounds the plain loop; four chains
    * keep the core busy. */
  private[search] def d2x4(x: Array[Float], c0: Array[Double], c1: Array[Double],
      c2: Array[Double], c3: Array[Double], d: Int, out: Array[Double]): Unit = {
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var f = 0
    while (f < d) {
      val xf = x(f).toDouble
      val t0 = xf - c0(f); s0 += t0 * t0
      val t1 = xf - c1(f); s1 += t1 * t1
      val t2 = xf - c2(f); s2 += t2 * t2
      val t3 = xf - c3(f); s3 += t3 * t3
      f += 1
    }
    out(0) = s0; out(1) = s1; out(2) = s2; out(3) = s3
  }

  /** [[d2]] of `x` to `cs(j)`..`cs(j + g - 1)` (g ≤ 4) into `out(0..g-1)`. */
  private def d2Group(x: Array[Float], cs: Array[Array[Double]], j: Int, g: Int, d: Int,
      out: Array[Double]): Unit =
    if (g == 4) d2x4(x, cs(j), cs(j + 1), cs(j + 2), cs(j + 3), d, out)
    else { var q = 0; while (q < g) { out(q) = d2(x, cs(j + q), d); q += 1 } }

  /** Index of the nearest of `cs` to `x`: the first minimum of [[d2]] by
    * ascending index, a NaN distance never winning and no finite distance
    * leaving centroid 0 (plain `if (dd < bestD)` from `bestD = MaxValue`).
    * With `lower` given, also stores each centroid's distance `√d2` at
    * `lower(off + j)`. `buf` is a 4-double scratch. */
  private[search] def nearest(x: Array[Float], cs: Array[Array[Double]], d: Int,
      lower: Array[Double], off: Int, buf: Array[Double]): Int = {
    val k = cs.length
    var best = 0; var bestD = Double.MaxValue
    var j = 0
    while (j < k) {
      val g = math.min(4, k - j)
      d2Group(x, cs, j, g, d, buf)
      var q = 0
      while (q < g) {
        val s = buf(q)
        if (lower != null) lower(off + j + q) = math.sqrt(s)
        if (s < bestD) { bestD = s; best = j + q }
        q += 1
      }
      j += g
    }
    best
  }

  /** Ids of the `n` nearest of `cs` to `x` by [[d2]], ascending by
    * (distance, id): a bounded insertion list over one pass, ties to the
    * lower index. A distance that is not below `Double.MaxValue` (NaN,
    * infinite) is never taken, so fewer than `min(n, k)` ids come back only
    * when fewer centroids are at a finite distance. On normalized vectors
    * L2 order equals cosine order, so one quantizer serves all metrics —
    * the same simplification faiss's IVF makes. */
  private[search] def nearestN(x: Array[Float], cs: Array[Array[Double]], n: Int): Array[Int] = {
    val k = cs.length
    val buf = new Array[Double](4)
    val d = x.length
    val m = math.min(n, k)
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var filled = 0
    var j = 0
    while (j < k) {
      val g = math.min(4, k - j)
      d2Group(x, cs, j, g, d, buf)
      var q = 0
      while (q < g) {
        if (buf(q) < Double.MaxValue) filled = insert(bestD, bestId, filled, buf(q), j + q)
        q += 1
      }
      j += g
    }
    if (filled == m) bestId else java.util.Arrays.copyOf(bestId, filled)
  }

  /** Insert `(dd, id)` into the bounded list `bestD`/`bestId`, whose first
    * `filled` entries ascend by (distance, id), the lower id first among
    * equal distances; returns the new fill. */
  private def insert(bestD: Array[Double], bestId: Array[Int], filled: Int, dd: Double, id: Int): Int = {
    val m = bestD.length
    if (m == 0 || filled == m && !(dd < bestD(m - 1) || (dd == bestD(m - 1) && id < bestId(m - 1))))
      return filled
    var p = if (filled < m) filled else m - 1
    while (p > 0 && (bestD(p - 1) > dd || (bestD(p - 1) == dd && bestId(p - 1) > id))) {
      bestD(p) = bestD(p - 1); bestId(p) = bestId(p - 1); p -= 1
    }
    bestD(p) = dd; bestId(p) = id
    if (filled < m) filled + 1 else filled
  }

  private[search] def widen(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length); var f = 0
    while (f < v.length) { out(f) = v(f); f += 1 }
    out
  }

  /**
   * ILP-optimized exact nearest-n for the large-k regime: a flat scan at
   * nlist=65,536 pays ~4M FLOP per ROW — the named residual cost of the
   * sf10 probe. This kernel (a) scores `d² = ‖x‖² − 2·x·c + ‖c‖²` with
   * FOUR independent accumulators (centroid norms precomputed at build)
   * within each centroid, (b) keeps a bounded insertion top-m by
   * (dist, id) — the same lexicographic order the flat kernel produces.
   *
   * Triangle-inequality pruning was tried here first and MEASURED SLOWER
   * (0.5× at k=4096, d=64): the corpus embeddings are near-isotropic on
   * the unit sphere (pairwise distances 1.41±0.09), so coarse-group lower
   * bounds never clear the running worst — distance concentration leaves
   * nothing to prune. Constant-factor ILP is the win that survives any
   * data distribution.
   *
   * Fp note: the dot-form reassociates the summation, so near-ties within
   * ~1e-15 relative could order differently than the flat kernel. That is
   * exactly why the dispatch keeps the flat path everywhere an oracle
   * reproduces the sequential fp order (k < [[CentroidIndex.FastThreshold]]
   * — all gates), and admits this kernel only in benched scale regimes,
   * where cell assignment feeds approximate operators (IVF probes, blocked
   * near-dup) whose contract tolerates boundary reshuffles. Deterministic
   * run to run: fixed arithmetic, no parallel reduction.
   */
  def nearestFast(x: Array[Float], idx: CentroidIndex, n: Int): Array[Int] = {
    val cents = idx.centroids
    val norms = idx.centNorm2
    val k = cents.length
    val m = math.min(n, k)
    val dim = cents(0).length
    var x2 = 0.0
    var i = 0
    while (i < dim) { val d = x(i).toDouble; x2 += d * d; i += 1 }
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var filled = 0
    val tail = dim - (dim & 3)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      i = 0
      while (i < tail) {
        s0 += x(i).toDouble * cent(i)
        s1 += x(i + 1).toDouble * cent(i + 1)
        s2 += x(i + 2).toDouble * cent(i + 2)
        s3 += x(i + 3).toDouble * cent(i + 3)
        i += 4
      }
      while (i < dim) { s0 += x(i).toDouble * cent(i); i += 1 }
      filled = insert(bestD, bestId, filled, x2 - 2.0 * (s0 + s1 + s2 + s3) + norms(c), c)
      c += 1
    }
    if (filled == m) bestId else java.util.Arrays.copyOf(bestId, filled)
  }

  /**
   * Two-level assignment for the VERY-large-k regime (k ≥
   * [[CentroidIndex.HierThreshold]] — the blocked-dedup auto-nlist past
   * ~500k vectors, where even the ILP flat scan is O(n·k·d) with k ∝ n,
   * i.e. ~100× more assignment work per decade; the sf100 probe measured
   * exactly that blow-up). Probe the `wc` nearest of ~√k coarse cells
   * (fitted over the centroid rows at build, deterministic), then scan
   * only their member centroids — O(√k·(1+wc)·d) per row instead of
   * O(k·d), ~20× less at k=31k.
   *
   * APPROXIMATE: a boundary vector's true nearest centroid can sit in an
   * un-probed coarse cell. That is the same contract as the blocking it
   * serves (cells are a candidate generator, recall tuned by nprobe), it
   * activates ONLY far above every hashed gate's resolved nlist, and the
   * activation is logged at build. Deterministic run to run: fixed
   * coarse fit, fixed probe order, fixed insertion tie-breaks.
   */
  def nearestHier(x: Array[Float], idx: CentroidIndex, n: Int): Array[Int] = {
    val cents = idx.centroids
    val norms = idx.centNorm2
    val coarse = idx.coarse
    val cnorm = idx.coarseNorm2
    val members = idx.members
    val kc = coarse.length
    val dim = cents(0).length
    var x2 = 0.0
    var i = 0
    while (i < dim) { val d = x(i).toDouble; x2 += d * d; i += 1 }
    val tail = dim - (dim & 3)

    @inline def dotDist(cent: Array[Float], n2: Double): Double = {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var t = 0
      while (t < tail) {
        s0 += x(t).toDouble * cent(t)
        s1 += x(t + 1).toDouble * cent(t + 1)
        s2 += x(t + 2).toDouble * cent(t + 2)
        s3 += x(t + 3).toDouble * cent(t + 3)
        t += 4
      }
      while (t < dim) { s0 += x(t).toDouble * cent(t); t += 1 }
      x2 - 2.0 * (s0 + s1 + s2 + s3) + n2
    }

    // stage 1: top-wc coarse cells (bounded insertion, ties on id)
    val wc = math.min(kc, math.max(8, 2 * n))
    val cD = new Array[Double](wc)
    val cId = new Array[Int](wc)
    var cFilled = 0
    var c = 0
    while (c < kc) {
      cFilled = insert(cD, cId, cFilled, dotDist(coarse(c), cnorm(c)), c)
      c += 1
    }

    // stage 2: scan the probed cells' members (same top-m order as the
    // flat kernels: (dist, id) ascending)
    val m = math.min(n, cents.length)
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var filled = 0
    var pc = 0
    while (pc < cFilled) {
      val mem = members(cId(pc))
      var mi = 0
      while (mi < mem.length) {
        val id = mem(mi)
        filled = insert(bestD, bestId, filled, dotDist(cents(id), norms(id)), id)
        mi += 1
      }
      pc += 1
    }
    if (filled == m) bestId else java.util.Arrays.copyOf(bestId, filled)
  }
}

/**
 * Centroid matrix plus the large-k fast-kernel precompute (per-centroid
 * squared norms). Built once per fitted centroid array on the driver
 * ([[CentroidIndex.forCentroids]]) and shipped inside the expression as a
 * plan reference — executors deserialize bytes, no per-task rebuild.
 * `centNorm2 == null` marks the flat regime (k below [[CentroidIndex.FastThreshold]]
 * — every oracle gate), where [[IvfKernels.nearestIdx]] runs the original
 * sequential-sum scan the DuckDB oracles mirror bit for bit.
 */
final class CentroidIndex(
    val centroids: Array[Array[Float]],
    val centNorm2: Array[Double],
    val coarse: Array[Array[Float]],
    val coarseNorm2: Array[Double],
    val members: Array[Array[Int]]) extends Serializable {
  def this(centroids: Array[Array[Float]], centNorm2: Array[Double]) =
    this(centroids, centNorm2, null, null, null)
  /** The centroids widened to double, once per index: the flat kernel's
    * operand. */
  @transient lazy val wide: Array[Array[Double]] = centroids.map(IvfKernels.widen)
}

object CentroidIndex {
  /** Regime split: below this the flat scan is cheap (≤ ~131k FLOP/row at
    * dim 64) AND every correctness gate's resolved nlist lands here, so
    * the oracle-mirrored fp order is preserved exactly where it is
    * checked. At or above it (sf1+/100 TB auto-nlist regimes — benched,
    * never hashed) the ILP dot-form kernel takes over. */
  val FastThreshold = 512

  /** Second regime split: at or above this, even the ILP flat scan is the
    * bottleneck (the blocked-dedup auto-nlist is k = n/64, so assignment
    * work grows ~100× per data decade — the sf100 probe measured 176×),
    * and [[IvfKernels.nearestHier]]'s two-level probe takes over. Set
    * ABOVE the exact-agreement spec regime (k=4096) and far above every
    * hashed gate; the hier path is approximate at cell boundaries, the
    * same contract as the blocking it serves. */
  val HierThreshold = 8192

  private val log = org.slf4j.LoggerFactory.getLogger("graft.search.CentroidIndex")

  /** Cache VALUE for the WeakHashMap below: holds the precompute but must
    * never reference the key (the centroid matrix) or entries would be
    * pinned for the session (the value→key trap). */
  private final class Precomp(val norms: Array[Double],
      val coarse: Array[Array[Float]], val coarseNorm2: Array[Double],
      val members: Array[Array[Int]])

  // driver-side memo: the same fitted array flows to assignCells AND the
  // query-probe expression; identity keying is safe because fitted
  // centroid arrays are never mutated after fit.
  private val cache = new java.util.WeakHashMap[Array[Array[Float]], Precomp]()

  def forCentroids(cents: Array[Array[Float]]): CentroidIndex =
    if (cents.length < FastThreshold) new CentroidIndex(cents, null)
    else cache.synchronized {
      val hit = cache.get(cents)
      if (hit != null)
        new CentroidIndex(cents, hit.norms, hit.coarse, hit.coarseNorm2, hit.members)
      else {
        val built = build(cents)
        // the ILP dot-form kernel reassociates the fp sum — by invariant
        // every hashed gate resolves nlist below FastThreshold; log the
        // switch so a gated run crossing it is visible, not a silent
        // near-tie hash mismatch
        log.info(s"nearest-centroid kernel: nlist=${cents.length} >= " +
          s"$FastThreshold -> ILP dot-form scan (fp-reassociated, bench regime)" +
          (if (built.members != null)
            s"; nlist >= $HierThreshold -> two-level probe (~sqrt(k) coarse cells, approximate at cell boundaries)"
          else ""))
        cache.put(cents, new Precomp(built.centNorm2, built.coarse,
          built.coarseNorm2, built.members))
        built
      }
    }

  private[search] def build(cents: Array[Array[Float]]): CentroidIndex = {
    if (cents.length < FastThreshold) return new CentroidIndex(cents, null)
    val norms = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c); var s = 0.0; var i = 0
      while (i < cent.length) { val d = cent(i).toDouble; s += d * d; i += 1 }
      norms(c) = s; c += 1
    }
    if (cents.length < HierThreshold) return new CentroidIndex(cents, norms)
    val (coarse, membersArr) = fitCoarse(cents)
    val cn = new Array[Double](coarse.length)
    c = 0
    while (c < coarse.length) {
      val cent = coarse(c); var s = 0.0; var i = 0
      while (i < cent.length) { val d = cent(i).toDouble; s += d * d; i += 1 }
      cn(c) = s; c += 1
    }
    new CentroidIndex(cents, norms, coarse, cn, membersArr)
  }

  /** Deterministic driver-side coarse fit over the centroid ROWS: ~√k
    * coarse cells, strided init, 5 Lloyd iterations in double precision
    * (each centroid to its first-nearest cell, [[IvfKernels.nearest]]),
    * empty cells keep their previous position. Cost ~5·k·√k·d double ops
    * once per fitted matrix (~2 s at k=31k, d=64) — amortized against the
    * O(n·k·d) assignment scan it replaces. */
  private def fitCoarse(cents: Array[Array[Float]]): (Array[Array[Float]], Array[Array[Int]]) = {
    val k = cents.length
    val d = cents(0).length
    val kc = math.max(16, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = Array.tabulate(kc) { j =>
      val src = cents(((j.toLong * k) / kc).toInt)
      Array.tabulate(d)(i => src(i).toDouble)
    }
    val assign = new Array[Int](k)
    val buf = new Array[Double](4)
    var iter = 0
    while (iter < 5) {
      var c = 0
      while (c < k) { assign(c) = IvfKernels.nearest(cents(c), coarse, d, null, 0, buf); c += 1 }
      val sums = Array.ofDim[Double](kc, d)
      val counts = new Array[Int](kc)
      var c2 = 0
      while (c2 < k) {
        val v = cents(c2); val a = assign(c2)
        counts(a) += 1
        var i = 0
        while (i < d) { sums(a)(i) += v(i).toDouble; i += 1 }
        c2 += 1
      }
      var j = 0
      while (j < kc) {
        if (counts(j) > 0) {
          var i = 0
          while (i < d) { coarse(j)(i) = sums(j)(i) / counts(j); i += 1 }
        }
        j += 1
      }
      iter += 1
    }
    // final member lists from the last assignment
    val counts = new Array[Int](kc)
    var c = 0
    while (c < k) { counts(assign(c)) += 1; c += 1 }
    val members = Array.tabulate(kc)(j => new Array[Int](counts(j)))
    val fill = new Array[Int](kc)
    c = 0
    while (c < k) {
      val a = assign(c); members(a)(fill(a)) = c; fill(a) += 1; c += 1
    }
    val coarseF = coarse.map(row => row.map(_.toFloat))
    (coarseF, members)
  }
}

/** Codegen'd expression: `n` nearest centroid ids for a vector (fit and add
  * cell assignment, range probes, dedup blocking), through
  * [[IvfKernels.nearestIdx]], which copies the vector once. The centroid
  * index (matrix + precomputed norms, prebuilt on the driver) rides along as a
  * plan reference object (broadcast-in-codegen), not a per-row closure —
  * stays inside whole-stage codegen. */
case class NearestCentroids(child: Expression, index: CentroidIndex, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    IvfKernels.nearestIdx(v.asInstanceOf[ArrayData], index, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cindex", index, "graft.search.CentroidIndex")
    defineCodeGen(ctx, ev, c => s"graft.search.IvfKernels.nearestIdx($c, $ref, $n)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "nearest_centroids"
}

/**
 * IVF-style approximate search: k-means the corpus into `nlist` cells at
 * fit time (the analog of faiss's coarse quantizer, faiss index_factory
 * "IVFn,Flat" — /root/reference/backend/faiss_searcher.py:100-107), store
 * each row's cell id, and at query time score only the `nprobe` nearest
 * cells. Serving is one [[CellScan]] for every storage kind: the driver
 * collects each bounded query chunk and computes its probe lists
 * ([[IvfKernels.probes]]), and each
 * partition scores a stored row only against the queries probing its cell,
 * into one bounded heap per query. On a cluster the cells are
 * co-partitioned (`repartition(cellId)`) and unprobed cells are filtered
 * before their vectors are read, so a query scores nprobe/nlist of the
 * data — the partition-pruning that makes 100 TB similarity search
 * tractable where brute force isn't.
 */
object IvfIndex {
  import IvfKernels.{d2, d2x4, nearest, widen}

  private[search] val CID = "__cell"
  private val MaxTrainRows = 100000L
  /** faiss warns below ~39 training points per centroid
    * (clustering.cpp's min_points_per_centroid); the sample target scales
    * with the resolved nlist so large auto-nlist (up to 65,536 at corpus
    * scale) still trains each centroid on ≥ this many points. */
  private[search] val MinPointsPerCentroid = 39L
  /** Hard cap on the driver-side training collect: 4M rows ≈ 2 GB at
    * dim=128 float32 — bounded regardless of nlist (65,536 · 39 ≈ 2.6M
    * stays under it; anything larger is clamped and logged). */
  private[search] val TrainRowsCap = 4000000L

  /** Training-sample target for a resolved nlist: ≥100k rows (the classic
    * IVF recipe) and ≥39·nlist (so centroids don't starve as auto-nlist
    * grows), capped at [[TrainRowsCap]]. */
  private[search] def trainTarget(nlist: Int): Long =
    math.min(math.max(MaxTrainRows, MinPointsPerCentroid * nlist), TrainRowsCap)

  /** Above this many centroids the fit goes two-level ([[hierLloyd]]):
    * flat Lloyd assignment is O(n·k·d) per iteration, and with the sample
    * itself scaling as 39·k the flat fit is quadratic in k — the sf10
    * probe measured exactly this on the blocked-dedup path (nlist=3125).
    * Two-level is O(n·√k·d): the standard large-nlist recipe (faiss's
    * two-level clustering / HNSW coarse quantizers exist for the same
    * reason). Below the threshold the flat path is kept bit-identical —
    * every oracle gate fits well under it. */
  private[search] val TwoLevelNlist = 1024

  def nearestCentroidsCol(v: Column, cents: Array[Array[Float]], n: Int): Column =
    column(NearestCentroids(expression(v), CentroidIndex.forCentroids(cents), n))

  /** Each query's probe list as a column, for range search: its `nprobe`
    * nearest of the FITTED cells (auto-sized `IVF0` models parse as
    * nlist=0; nprobe=0 = auto-scaled). */
  def probesCol(cents: Array[Array[Float]], nprobe: Int): Column =
    nearestCentroidsCol(col(SparkSearcher.QVEC), cents, IndexStrategy.resolveNprobe(nprobe, cents.length))

  /** K-means centroids on a bounded sample of the vectors, Lloyd-iterated
    * ON THE DRIVER. Training the coarse quantizer on a bounded sample is
    * the standard IVF recipe (faiss does exactly this): at 100 TB the
    * sample is one narrow collect, the Lloyd iterations are local
    * arithmetic, and the cluster never runs the 10+ tiny jobs a
    * distributed k-means would schedule per iteration. The sample target
    * scales with nlist ([[trainTarget]]: max(100k, 39·nlist), capped at
    * 4M) so a 65,536-cell auto-nlist still sees ~39 points per centroid
    * instead of starving at a fixed 100k (1.5/centroid). Deterministic:
    * fixed-seed sample, k-means++-lite init from the sample order. */
  def fitCentroids(df: DataFrame, vecCol: String, nlist: Int, total: Long): Array[Array[Float]] = {
    // callers resolve auto-sizing (IndexStrategy.resolveNlist / the dedup
    // occupancy formula) BEFORE this point; nlist=0 here would degenerate
    // to a zero-centroid Lloyd, so fail fast instead
    require(nlist > 0, s"fitCentroids needs a resolved nlist > 0, got $nlist")
    val sample = trainingSample(df, vecCol, total, trainTarget(nlist))
    require(sample.nonEmpty, "IVF fit: no vectors to train on")
    val k = math.min(nlist, sample.length)
    if (k >= TwoLevelNlist) hierLloyd(sample, k, iters = 10)
    else lloyd(sample, k, iters = 10)
  }

  /** Seeded sample of about `target` of `df`'s `total` rows (every row
    * when `total <= target`): `vecCol` as float arrays, in `collect()`
    * order. Read from the plan's `InternalRow`s (`toFloatArray`), not
    * through `Row.getSeq[Float]`, which boxes every component. */
  private[search] def trainingSample(df: DataFrame, vecCol: String, total: Long,
      target: Long): Array[Array[Float]] = {
    val fraction = if (total <= target) 1.0 else target.toDouble / total
    val qe = (if (fraction < 1.0) df.sample(withReplacement = false, fraction, seed = 42) else df)
      .select(col(vecCol).cast(ArrayType(FloatType))).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.toRdd.map(_.getArray(0).toFloatArray()).collect()
    }
  }

  /** Two-level Lloyd for large k: cluster the sample into ⌈√k⌉ coarse
    * cells, then Lloyd `k_c` sub-centroids inside each cell with `k_c`
    * allocated proportionally to cell population (largest-remainder,
    * deterministic lowest-id tie-break, capped by population). The
    * returned flat centroid array is the concatenation in (coarse id,
    * sub id) order — fully deterministic, so oracle refit-and-embed
    * still reproduces it. Cost: O(n·√k·d) against flat Lloyd's
    * O(n·k·d); quantization quality gives up a few percent (sub-fits
    * never move points across coarse boundaries), which for an IVF
    * coarse quantizer trades as cell-balance noise, not correctness —
    * assignments remain nearest-of-k at index build and query time. */
  private[search] def hierLloyd(xs: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val n = xs.length
    val k1 = math.min(math.ceil(math.sqrt(k.toDouble)).toInt, n)
    val coarse = lloyd(xs, k1, iters)
    // deterministic nearest-coarse assignment (first-min wins, the Lloyd
    // assignment kernel)
    val d = xs(0).length
    val coarseD = coarse.map(widen)
    val assign = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      assign(i) = nearest(xs(i), coarseD, d, null, 0, new Array[Double](4))
    }
    val counts = new Array[Int](coarse.length)
    var i = 0
    while (i < n) { counts(assign(i)) += 1; i += 1 }
    // proportional sub-centroid allocation: floor share (≥1 for nonempty
    // cells, ≤ population), then hand out the remainder one at a time to
    // the most under-allocated cell (deficit vs exact share; lowest id on
    // ties) — sums exactly to k because Σ caps = n ≥ k
    val alloc = new Array[Int](coarse.length)
    var allocated = 0
    var c = 0
    while (c < coarse.length) {
      if (counts(c) > 0) {
        alloc(c) = math.min(counts(c),
          math.max(1, (k.toLong * counts(c) / n).toInt))
        allocated += alloc(c)
      }
      c += 1
    }
    while (allocated < k) {
      var best = -1; var bestDef = Double.NegativeInfinity
      c = 0
      while (c < coarse.length) {
        if (alloc(c) < counts(c)) {
          val deficit = k.toDouble * counts(c) / n - alloc(c)
          if (deficit > bestDef) { bestDef = deficit; best = c }
        }
        c += 1
      }
      alloc(best) += 1; allocated += 1
    }
    while (allocated > k) { // over-allocation from the max(1, …) floors;
      // a cell with alloc > 1 always exists here: allocated > k ≥ 1024
      // across ≤ ⌈√k⌉ cells forces an average alloc well above 1
      var best = -1; var bestExc = Double.NegativeInfinity
      c = 0
      while (c < coarse.length) {
        if (alloc(c) > 1) {
          val excess = alloc(c) - k.toDouble * counts(c) / n
          if (excess > bestExc) { bestExc = excess; best = c }
        }
        c += 1
      }
      alloc(best) -= 1; allocated -= 1
    }
    // per-cell sub-fit over the cell's points, in sample order
    val members = Array.fill(coarse.length)(new scala.collection.mutable.ArrayBuilder.ofRef[Array[Float]])
    i = 0
    while (i < n) { members(assign(i)) += xs(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[Array[Float]]
    out.sizeHint(k)
    c = 0
    while (c < coarse.length) {
      if (alloc(c) > 0) out ++= lloyd(members(c).result(), alloc(c), iters)
      c += 1
    }
    val cents = out.result()
    assert(cents.length == k, s"hierLloyd produced ${cents.length} of $k centroids")
    cents
  }

  /** Lloyd k-means over a local sample: deterministic spread-out init
    * (greedy farthest-point from a fixed start), then `iters` iterations;
    * a cluster that ends an iteration empty keeps its previous centroid.
    *
    * The assignment step returns exactly what plain Lloyd returns — each
    * point's first nearest centroid by the sequential double `d2`, a NaN
    * distance never winning — with far fewer distance evaluations:
    *  - Iteration 0 is the full scan ([[nearest]], four centroids per pass
    *    over the point).
    *  - After that, Elkan's triangle-inequality bounds ("Using the Triangle
    *    Inequality to Accelerate k-Means", ICML 2003; [[LloydBounds]]) keep
    *    an upper bound per point and a lower bound per (point, centroid). A
    *    centroid is skipped only when `u·(1+ε) < max(l, cc/2)·(1−ε)`, with a
    *    rounding margin ε = 1e-9 relative: a skipped centroid is strictly
    *    farther than the point's current one in the computed doubles, so a
    *    tie is never pruned and the first-min rule sees every candidate.
    *  - The bounds take n·k doubles; over [[LloydBoundCap]] every iteration
    *    runs the full scan instead.
    *  - An iteration that changes no assignment would recompute bit-equal
    *    centroids, so the fit stops there.
    * Per-chunk sums are still taken over every point in sample order and
    * merged in chunk order, so the centroids are bit-identical to the
    * plain scan's, run to run and on any core count. */
  private[search] def lloyd(xs: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val n = xs.length
    val d = xs(0).length
    // assignment + partial sums parallelized over FIXED chunks (count not
    // tied to thread scheduling), partials merged in chunk order — so the
    // result is bit-deterministic run to run while the O(n·k·d) inner loops
    // (the whole cost of a driver-side fit) use every core
    val nChunks = math.min(32, n)
    val bounds = Array.tabulate(nChunks + 1)(c => (c.toLong * n / nChunks).toInt)
    // go parallel only when a round's arithmetic outweighs the fork-join
    // dispatch: the init below runs k SEQUENTIAL rounds of O(n·d) each. A
    // PQ subspace fit (n ≈ 8k, dsub = 8, k = 256: n·d = 64k) stays on one
    // thread — 2048 dispatches per codebook fit would cost ~0.8 s of
    // scheduling against ~30 µs of flops per round — while an IVF fit at
    // 16,000 × 64 (n·d ≈ 1M, 127 rounds) splits each round over the pool.
    // The chunk decomposition and in-order merge are identical either way,
    // so the picked centroids are bit-identical — only the executing
    // thread count changes.
    val parInit = n.toLong * d >= (1L << 18)
    val parIter = n.toLong * k * d >= (1L << 21)
    def chunkStream(par: Boolean): java.util.stream.IntStream = {
      val s = java.util.stream.IntStream.range(0, nChunks)
      if (par) s.parallel() else s
    }
    // farthest-point init (deterministic k-means++ analog, no RNG). The
    // O(k·n·d) scan is chunk-parallel with the same in-order merge as the
    // Lloyd iterations: per-i minD updates are independent, and the global
    // argmax under strict-> keeps the EARLIEST index among ties whether
    // found in one sequential pass or merged chunk-by-chunk — so the picked
    // centroids are bit-identical to the sequential version (oracle gates
    // embed these centroids; sf10 measured the sequential init dominating
    // the blocked-dedup fit at nlist=3125: ~73 GFLOP on one core)
    val cents = new Array[Array[Float]](k)
    cents(0) = xs(0).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val prev = widen(cents(c - 1))
      val chunkFar = chunkStream(parInit)
        .mapToObj { ch =>
          var far = -1; var farD = -1.0; var i = bounds(ch)
          while (i < bounds(ch + 1)) {
            val dd = d2(xs(i), prev, d)
            if (dd < minD(i)) minD(i) = dd
            if (minD(i) > farD) { farD = minD(i); far = i }
            i += 1
          }
          (farD, far)
        }
        .toArray(new Array[(Double, Int)](_))
      var far = 0; var farD = -1.0; var ch = 0
      while (ch < nChunks) {
        if (chunkFar(ch)._1 > farD) { farD = chunkFar(ch)._1; far = chunkFar(ch)._2 }
        ch += 1
      }
      cents(c) = xs(far).clone(); c += 1
    }
    val assign = new Array[Int](n)
    val elkan =
      if (n.toLong * k <= LloydBoundCap && k.toLong * k <= LloydBoundCap) new LloydBounds(n, k, d)
      else null
    var centsD = cents.map(widen)
    var it = 0
    var settled = false
    while (it < iters && !settled) {
      val cd = centsD
      val full = it == 0 || elkan == null
      val partials = chunkStream(parIter)
        .mapToObj { ch =>
          val sums = Array.ofDim[Double](k, d)
          val counts = new Array[Int](k)
          val buf = new Array[Double](4)
          val cand = if (full) null else new Array[Int](k)
          var changed = false
          var i = bounds(ch)
          while (i < bounds(ch + 1)) {
            val x = xs(i)
            val best =
              if (elkan == null) nearest(x, cd, d, null, 0, buf)
              else if (full) elkan.scan(i, x, cd, buf)
              else elkan.reassign(i, x, assign(i), cd, cand, buf)
            if (best != assign(i)) { changed = true; assign(i) = best }
            counts(best) += 1
            var f = 0
            while (f < d) { sums(best)(f) += x(f); f += 1 }
            i += 1
          }
          (sums, counts, changed)
        }
        .toArray(new Array[(Array[Array[Double]], Array[Int], Boolean)](_))
      // no assignment changed: the update would reproduce these centroids
      settled = it > 0 && !partials.exists(_._3)
      if (!settled) {
        val sums = Array.ofDim[Double](k, d)
        val counts = new Array[Int](k)
        partials.foreach { case (ps, pc, _) =>
          var j = 0
          while (j < k) {
            counts(j) += pc(j)
            var f = 0
            while (f < d) { sums(j)(f) += ps(j)(f); f += 1 }
            j += 1
          }
        }
        val before = cents.clone()
        var j = 0
        while (j < k) {
          if (counts(j) > 0) {
            val cj = new Array[Float](d); var f = 0
            while (f < d) { cj(f) = (sums(j)(f) / counts(j)).toFloat; f += 1 }
            cents(j) = cj
          }
          j += 1
        }
        centsD = cents.map(widen)
        if (elkan != null) elkan.moved(before, cents, centsD, parIter)
      }
      it += 1
    }
    cents
  }

  /** Most (point, centroid) lower bounds [[lloyd]] keeps: 4M doubles, 32 MB.
    * At the IVF workload's shape (16,000 × 127) the bounds take 2M; a flat
    * fit near 100k × 1,023 or a PQ codebook fit at 100k × 256 runs every
    * iteration as the full scan instead. */
  private val LloydBoundCap = 1L << 22

  /**
   * Elkan's bounds for [[lloyd]]'s assignment step, on Euclidean distances
   * (`√d2`): per point an upper bound `u` on the distance to its centroid,
   * per (point, centroid) a lower bound `l`, and half the distance between
   * every two centroids. Centroid `j` cannot beat the point's centroid `a`
   * when `u < l(j)` or `u < cc(a, j)/2`; the test is taken with a relative
   * margin ε on both sides, so it holds for the computed doubles and not
   * only for the exact reals (a NaN bound never prunes):
   *  - `d2`'s rounding is at most about `(d+3)·2^-53` relative, far inside
   *    ε = 1e-9 for any realistic d (ε grows with d past ~10^6);
   *  - each centroid's move is inflated by `1+ε` before `u` grows and the
   *    `l`s shrink by it, so a bound never loses its side through a move's
   *    rounding; the add and subtract then round relative to their result.
   * A point whose `u` is not finite (a NaN or infinite component, or a
   * non-finite centroid, whose move is then NaN) takes the full scan again.
   * Every evaluated candidate is compared on its exact `d2` with the
   * first-min rule, so the assignment equals the full scan's.
   */
  private final class LloydBounds(n: Int, k: Int, d: Int) {
    private val eps = math.max(1e-9, 4.0 * (d + 8) * Math.ulp(1.0))
    private val upper = new Array[Double](n)
    private val lower = new Array[Double](n * k)
    /** Each centroid's last move, inflated by `1+ε`. */
    private var shift: Array[Double] = _
    /** `cc(a, j)/2`, row-major `k × k`. */
    private var half: Array[Double] = _
    /** `min_{j≠a} cc(a, j)/2` per centroid `a`. */
    private var sep: Array[Double] = _

    /** Full scan of point `i`, setting all its bounds. */
    def scan(i: Int, x: Array[Float], cd: Array[Array[Double]], buf: Array[Double]): Int = {
      val best = nearest(x, cd, d, lower, i * k, buf)
      upper(i) = lower(i * k + best)
      best
    }

    /** Nearest centroid of point `i`, assigned to `a` before the last move. */
    def reassign(i: Int, x: Array[Float], a0: Int, cd: Array[Array[Double]],
        cand: Array[Int], buf: Array[Double]): Int = {
      val off = i * k
      var j = 0
      while (j < k) { lower(off + j) -= shift(j); j += 1 }
      var u = upper(i) + shift(a0)
      if (!(u < Double.PositiveInfinity)) return scan(i, x, cd, buf)
      val keep = 1.0 - eps
      var a = a0
      if (u * (1.0 + eps) < sep(a) * keep) { upper(i) = u; return a }
      var sa = d2(x, cd(a), d)
      u = math.sqrt(sa)
      lower(off + a) = u
      val thr = u * (1.0 + eps)
      if (thr < sep(a) * keep) { upper(i) = u; return a }
      // candidates against the tightened u, all scored: pruning against a
      // centroid found better mid-scan would only skip more
      var nc = 0
      val row = a * k
      j = 0
      while (j < k) {
        if (j != a && !(thr < math.max(lower(off + j), half(row + j)) * keep)) {
          cand(nc) = j; nc += 1
        }
        j += 1
      }
      var q = 0
      while (q < nc) {
        val m = math.min(4, nc - q)
        if (m == 4) d2x4(x, cd(cand(q)), cd(cand(q + 1)), cd(cand(q + 2)), cd(cand(q + 3)), d, buf)
        else { var r = 0; while (r < m) { buf(r) = d2(x, cd(cand(q + r)), d); r += 1 } }
        var r = 0
        while (r < m) {
          val cj = cand(q + r); val s = buf(r)
          lower(off + cj) = math.sqrt(s)
          if (s < sa || (s == sa && cj < a)) { a = cj; sa = s }
          r += 1
        }
        q += m
      }
      upper(i) = math.sqrt(sa)
      a
    }

    /** Centroids moved from `before` to `now` (`nowD` widened). */
    def moved(before: Array[Array[Float]], now: Array[Array[Float]],
        nowD: Array[Array[Double]], par: Boolean): Unit = {
      shift = Array.tabulate(k)(j => math.sqrt(d2(before(j), nowD(j), d)) * (1.0 + eps))
      val h = new Array[Double](k * k)
      val rows = java.util.stream.IntStream.range(0, k)
      (if (par) rows.parallel() else rows).forEach { a =>
        var j = a + 1
        while (j < k) {
          val v = math.sqrt(d2(now(a), nowD(j), d)) / 2
          h(a * k + j) = v; h(j * k + a) = v
          j += 1
        }
      }
      half = h
      sep = Array.tabulate(k) { a =>
        var m = Double.PositiveInfinity; var j = 0
        while (j < k) { if (j != a) m = math.min(m, h(a * k + j)); j += 1 }
        m
      }
    }
  }

  /** Assign each indexed row its cell id (fit-time, stored + co-partitioned). */
  def assignCells(indexed: DataFrame, vecCol: String, cents: Array[Array[Float]],
      partitions: Int): DataFrame =
    indexed
      .withColumn(CID, nearestCentroidsCol(col(vecCol), cents, 1).getItem(0))
      .repartition(math.min(partitions, cents.length), col(CID))
}
