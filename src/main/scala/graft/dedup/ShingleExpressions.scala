package graft.dedup

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass shingling and MinHash kernels. The expression-only versions
 * (nested `transform`/`array_min` lambdas) are interpreted by Spark —
 * higher-order functions don't participate in whole-stage codegen and
 * don't get subexpression elimination, so a 64-hash signature recomputed
 * the shingle set 64 times (227 s for sf0.1 in the bench). These kernels
 * do one pass per row inside generated code.
 */
object ShingleKernels {

  /** Distinct character n-grams, first-occurrence order. */
  def charShingles(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    if (s.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= s.length - n) { seen.add(s.substring(i, i + n)); i += 1 }
    toUtf8Array(seen)
  }

  /** Distinct word w-grams over whitespace tokens, first-occurrence order. */
  def wordShingles(text: UTF8String, w: Int): ArrayData = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < w) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - w) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < w) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    toUtf8Array(seen)
  }

  /** Positioned token w-gram fingerprints: element g is a 64-bit
    * polynomial hash over the characters of tokens `[g, g+w)` with a
    * separator fold between tokens — equal grams hash equal, and NO
    * intermediate gram strings are built (the HOF slice+join formulation
    * allocated ~50 chars per corpus position; at 100x data that was pure
    * GC). Tokenization is single-space + drop-empties, matching the
    * dedup_spans oracle's `str_split(text, ' ')`. */
  def gramHashes(text: UTF8String, w: Int): ArrayData = {
    // ASCII fast path: one scan over the UTF-8 BYTES (char == byte there)
    // collects per-token (poly·31 + separator, 31^(len+1)) pairs, then
    // each gram folds w PRECOMPUTED pairs — h' = h·31^(len+1) + (poly·31
    // + 1) equals the char-by-char recurrence exactly because Long
    // arithmetic wraps mod 2^64 and multiplication there is associative.
    // The previous shape re-walked every character w times through a
    // java.lang.String round-trip; this walks each byte once and
    // allocates nothing per token. Any non-ASCII byte falls back to the
    // bit-identical String path below.
    val nb = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var phs = new Array[Long](64) // token poly·31 + 1 (separator folded in)
    var pws = new Array[Long](64) // 31^(len+1)
    var ntok = 0
    var ascii = true
    var i = 0
    while (ascii && i < nb) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b < 0) ascii = false
      else if (b == ' ') i += 1
      else {
        var h = 0L
        var pw = 31L
        var c = b
        while (c >= 0 && c != ' ') {
          h = h * 31L + c
          pw *= 31L
          i += 1
          c = if (i < nb)
            org.apache.spark.unsafe.Platform.getByte(base, off + i)
          else ' ' // virtual trailing separator ends the token
        }
        if (c < 0) ascii = false
        else {
          if (ntok == phs.length) {
            phs = java.util.Arrays.copyOf(phs, ntok * 2)
            pws = java.util.Arrays.copyOf(pws, ntok * 2)
          }
          phs(ntok) = h * 31L + 1L
          pws(ntok) = pw
          ntok += 1
        }
      }
    }
    if (ascii) {
      if (ntok < w) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](ntok - w + 1)
      var g = 0
      while (g <= ntok - w) {
        var h = 1125899906842597L
        var j = g
        val end = g + w
        while (j < end) { h = h * pws(j) + phs(j); j += 1 }
        out(g) = h
        g += 1
      }
      return new GenericArrayData(out)
    }
    val toks = text.toString.split(" ", -1).filter(_.nonEmpty)
    val n = toks.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    var g = 0
    while (g <= n - w) {
      var h = 1125899906842597L
      var j = 0
      while (j < w) {
        val t = toks(g + j)
        var k = 0
        while (k < t.length) { h = h * 31L + t.charAt(k); k += 1 }
        h = h * 31L + 1L // token separator: "ab c" never collides "a bc"
        j += 1
      }
      out(g) = h
      g += 1
    }
    new GenericArrayData(out)
  }

  private def toUtf8Array(seen: java.util.LinkedHashSet[String]): ArrayData = {
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Full MinHash signature in one pass: for each shingle, the oracle-
    * expressible polynomial hash ([[graft.functions.PolyHash]]) then all
    * `numHashes` permutations `(a·h + b) mod p`, tracking each minimum.
    * Every product stays < 2^62 — no overflow on either side. */
  def minHashSignature(shingles: ArrayData, coefA: Array[Long],
      coefB: Array[Long]): ArrayData = {
    val p = graft.functions.PolyHash.P
    val k = coefA.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = graft.functions.PolyHash.hash(
        shingles.getUTF8String(i), graft.functions.PolyHash.B1)
      var j = 0
      while (j < k) {
        val v = graft.functions.PolyHash.modP(coefA(j) * h + coefB(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box))
  }

  /** LSH band keys: fold each of the `bands` signature slices of length `r`
    * with the same polynomial combine the oracle uses:
    * `acc = (acc·B1 + v) mod P`. */
  def bandKeys(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) { out(b) = Long.box(bandKey(sig, b, r)); b += 1 }
    new GenericArrayData(out)
  }

  /** Key of band `b` (the fold of `sig(b·r until b·r + r)`), in [0, P). */
  def bandKey(sig: ArrayData, b: Int, r: Int): Long = {
    val m = graft.functions.PolyHash.B1
    var acc = 0L
    var j = 0
    while (j < r) {
      // signature values are < P except the empty-set sentinel
      // Long.MaxValue; reduce first so the product stays < 2^52
      acc = graft.functions.PolyHash.modP(
        acc * m + graft.functions.PolyHash.modP(sig.getLong(b * r + j)))
      j += 1
    }
    acc
  }
}

object ShingleStatsKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /**
   * Fused one-pass shingle statistics: the distinct-gram COUNT, the
   * SORTED xxhash64 fingerprints (the exact-Jaccard set representation),
   * and the full MinHash signature — everything [[Dedup.minHashNearDups]]
   * needs — computed in a single walk over the text, allocating ZERO
   * gram strings on the ASCII path (gram hashes fold directly over the
   * parent UTF8String's byte window). The separate charShingles →
   * sortedHashes/minHashSignature formulation materialized ~500
   * five-char strings per document three expressions deep; at sf10
   * (500k docs) that allocation churn made the whole near-dup pipeline
   * GC-bound (12–18 s of task GC per run, 3–7× wall-clock swings with
   * heap pressure).
   *
   * Distinctness is keyed on the (xxhash64, polyhash) PAIR via open
   * addressing — two distinct grams collide only if BOTH 64-bit and
   * 31-bit hashes agree (≈2⁻⁹⁵); an xx-collision with differing poly
   * keeps both entries, reproducing the string-distinct behavior
   * (duplicate xx values in the sorted array) bit-for-bit. Non-ASCII
   * text falls back to the exact string-building path so multi-byte
   * code-point semantics stay identical to [[ShingleKernels.charShingles]].
   */
  def shingleStats(text: UTF8String, n: Int, coefA: Array[Long],
      coefB: Array[Long]): InternalRow = {
    val numBytes = text.numBytes
    var ascii = true
    var i = 0
    while (ascii && i < numBytes) { if (text.getByte(i) < 0) ascii = false; i += 1 }
    if (!ascii) return shingleStatsGeneric(text, n, coefA, coefB)
    val k = coefA.length
    val p = graft.functions.PolyHash.P
    val mins = Array.fill(k)(Long.MaxValue)
    if (numBytes < n)
      return pack(0, Array.emptyLongArray, mins)
    val cap = Integer.highestOneBit(math.max(4, (numBytes - n + 1) * 2) - 1) << 1
    val keyXx = new Array[Long](cap)
    val keyPoly = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val hs = new Array[Long](numBytes - n + 1)
    var m = 0 // distinct grams so far
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var pos = 0
    while (pos <= numBytes - n) {
      val xx = XXH64.hashUnsafeBytes(base, off + pos, n, 42L)
      var poly = 0L
      var j = 0
      while (j < n) {
        val b = text.getByte(pos + j)
        if (b != '\n'.toByte)
          poly = graft.functions.PolyHash.modP(poly * graft.functions.PolyHash.B1 + b)
        j += 1
      }
      // open addressing, linear probe on xx
      var slot = (java.lang.Long.hashCode(xx) & (cap - 1))
      var fresh = false
      var done = false
      while (!done) {
        if (!used(slot)) { used(slot) = true; keyXx(slot) = xx; keyPoly(slot) = poly; fresh = true; done = true }
        else if (keyXx(slot) == xx && keyPoly(slot) == poly) done = true
        else slot = (slot + 1) & (cap - 1)
      }
      if (fresh) {
        hs(m) = xx; m += 1
        var q = 0
        while (q < k) {
          val v = graft.functions.PolyHash.modP(coefA(q) * poly + coefB(q))
          if (v < mins(q)) mins(q) = v
          q += 1
        }
      }
      pos += 1
    }
    val out = java.util.Arrays.copyOf(hs, m)
    java.util.Arrays.sort(out)
    pack(m, out, mins)
  }

  /** Non-ASCII fallback: identical output via the exact string-distinct
    * path (code-point polyhash, xxhash of the gram's UTF-8 bytes). */
  private def shingleStatsGeneric(text: UTF8String, n: Int,
      coefA: Array[Long], coefB: Array[Long]): InternalRow = {
    val k = coefA.length
    val p = graft.functions.PolyHash.P
    val mins = Array.fill(k)(Long.MaxValue)
    val s = text.toString
    if (s.length < n) return pack(0, Array.emptyLongArray, mins)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= s.length - n) { seen.add(s.substring(i, i + n)); i += 1 }
    val hs = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) {
      val g = UTF8String.fromString(it.next())
      hs(m) = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
      m += 1
      val poly = graft.functions.PolyHash.hash(g, graft.functions.PolyHash.B1)
      var q = 0
      while (q < k) {
        val v = graft.functions.PolyHash.modP(coefA(q) * poly + coefB(q))
        if (v < mins(q)) mins(q) = v
        q += 1
      }
    }
    java.util.Arrays.sort(hs)
    pack(m, hs, mins)
  }

  private def pack(sz: Int, hs: Array[Long], sig: Array[Long]): InternalRow = {
    val row = new GenericInternalRow(3)
    row.update(0, sz)
    row.update(1, new GenericArrayData(hs.map(Long.box)))
    row.update(2, new GenericArrayData(sig.map(Long.box)))
    row
  }
}

object OphSigKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /**
   * Banded one-permutation-hashing MinHash signature (Li/Owen/Zhang,
   * NIPS'12; densification after Shrivastava/Li, ICML'14): `r = k /
   * bandCount` INDEPENDENT permuted hashes per distinct gram — one per
   * band ROW — each range-binned into `bands = k / r` bins by
   * multiply-shift (`(v·bands) >>> 31`, v < 2³¹−1), tracking per-(perm,
   * bin) minima. Component layout `sig[j·r + p]` = permutation `p`'s
   * minimum in bin `j`, so band `j` (the consecutive `r`-slice the
   * banded join folds) holds one component from each of the `r`
   * permutations: the components INSIDE a band are independent across
   * permutations, and the per-band collision probability is ≈ J^r — the
   * classic banding operating point. The single-permutation variant this
   * replaces derived all 64 components from ONE hash; its within-band
   * correlation let weak pairs collide on whole bands, and the sf100
   * decomposition measured 10.5M candidates vs classic's 3.1M — the
   * inflation ate the kernel win in the verify stage. At r = 8 the
   * kernel does 8 multiply/fold/min per gram instead of the classic 64
   * (sf100 signature pass: classic 33.4 s, 1-perm OPH 9.7 s, this
   * scheme sits proportionally between) while the candidate volume
   * matches classic.
   *
   * Empty bins borrow circularly from the nearest non-empty bin to the
   * right WITHIN the same permutation, offset by the borrow distance
   * (`(m_src + d·B1) mod P`) so a borrowed value collides with an
   * unrelated native value only at hash odds. Rotation (not the
   * ICML'17 "optimal" randomized-probe densification) is deliberate: at
   * bands=8 bins/perm a document with g distinct grams leaves a bin
   * empty with probability (1−1/8)^g — negligible past ~50 grams — and
   * the rotation rule is a pure list expression in the DuckDB oracle
   * (no unbounded probe loop to unroll). Every permutation sees every
   * gram, so any non-empty shingle set occupies ≥ 1 bin of every
   * permutation and densification always has a source. The whole scheme
   * is pinned bit-for-bit by the dedup_minhash_oph gate.
   *
   * Distinctness, ASCII fast path, and the non-ASCII string fallback
   * mirror [[ShingleStatsKernel.shingleStats]]; unlike it, NO sorted
   * fingerprint array is built here — the corpus signature pass also
   * drops shingleStats' per-document sort and copy, which it computed
   * only to discard.
   *
   * Returns `(sz: distinct grams, sig: array[k])`; an empty shingle set
   * (text shorter than the gram width) returns `sz = 0` with all-sentinel
   * `sig` — callers filter `sz > 0` exactly as on the classic path.
   */
  def ophSig(text: UTF8String, n: Int, a: Array[Long], b: Array[Long],
      k: Int): InternalRow = {
    val numBytes = text.numBytes
    var ascii = true
    var i = 0
    while (ascii && i < numBytes) { if (text.getByte(i) < 0) ascii = false; i += 1 }
    if (!ascii) return ophSigGeneric(text, n, a, b, k)
    val r = a.length
    val bands = k / r
    val mins = Array.fill(k)(Long.MaxValue)
    if (numBytes < n) return pack(0, mins)
    val cap = Integer.highestOneBit(math.max(4, (numBytes - n + 1) * 2) - 1) << 1
    val keyXx = new Array[Long](cap)
    val keyPoly = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var m = 0
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var pos = 0
    while (pos <= numBytes - n) {
      val xx = XXH64.hashUnsafeBytes(base, off + pos, n, 42L)
      var poly = 0L
      var j = 0
      while (j < n) {
        val c = text.getByte(pos + j)
        if (c != '\n'.toByte)
          poly = graft.functions.PolyHash.modP(poly * graft.functions.PolyHash.B1 + c)
        j += 1
      }
      var slot = (java.lang.Long.hashCode(xx) & (cap - 1))
      var fresh = false
      var done = false
      while (!done) {
        if (!used(slot)) { used(slot) = true; keyXx(slot) = xx; keyPoly(slot) = poly; fresh = true; done = true }
        else if (keyXx(slot) == xx && keyPoly(slot) == poly) done = true
        else slot = (slot + 1) & (cap - 1)
      }
      if (fresh) {
        m += 1
        var p = 0
        while (p < r) {
          // a(p) < P and poly < P keep a·poly < 2^62: modP's whole domain
          val v = graft.functions.PolyHash.modP(a(p) * poly + b(p))
          // multiply-shift range binning: v < 2^31 ⇒ (v·bands) >>> 31 ∈
          // [0, bands); no hardware divide in the per-gram loop
          val idx = ((v * bands) >>> 31).toInt * r + p
          if (v < mins(idx)) mins(idx) = v
          p += 1
        }
      }
      pos += 1
    }
    densify(m, mins, k, r)
  }

  /** Non-ASCII fallback: identical output via the exact string-distinct
    * path (code-point polyhash), mirroring shingleStatsGeneric. */
  private def ophSigGeneric(text: UTF8String, n: Int, a: Array[Long],
      b: Array[Long], k: Int): InternalRow = {
    val r = a.length
    val bands = k / r
    val mins = Array.fill(k)(Long.MaxValue)
    val s = text.toString
    if (s.length < n) return pack(0, mins)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= s.length - n) { seen.add(s.substring(i, i + n)); i += 1 }
    val it = seen.iterator()
    while (it.hasNext) {
      val poly = graft.functions.PolyHash.hash(it.next(), graft.functions.PolyHash.B1)
      var p = 0
      while (p < r) {
        val v = graft.functions.PolyHash.modP(a(p) * poly + b(p))
        val idx = ((v * bands) >>> 31).toInt * r + p
        if (v < mins(idx)) mins(idx) = v
        p += 1
      }
    }
    densify(seen.size, mins, k, r)
  }

  /** Rotation densification per PERMUTATION: an empty (perm p, bin j)
    * slot borrows from permutation p's nearest non-empty bin to the
    * right (circular over its `bands = k / r` bins), never across
    * permutations — cross-permutation borrowing would re-correlate the
    * in-band components the multi-permutation layout exists to keep
    * independent. */
  private def densify(m: Int, mins: Array[Long], k: Int, r: Int): InternalRow = {
    if (m == 0) return pack(0, mins)
    val bands = k / r
    val sig = new Array[Long](k)
    var p = 0
    while (p < r) {
      var j = 0
      while (j < bands) {
        val idx = j * r + p
        if (mins(idx) != Long.MaxValue) sig(idx) = mins(idx)
        else {
          var d = 1
          while (mins(((j + d) % bands) * r + p) == Long.MaxValue) d += 1
          sig(idx) = graft.functions.PolyHash.modP(
            mins(((j + d) % bands) * r + p) + d.toLong * graft.functions.PolyHash.B1)
        }
        j += 1
      }
      p += 1
    }
    pack(m, sig)
  }

  private def pack(sz: Int, sig: Array[Long]): InternalRow = {
    val row = new GenericInternalRow(2)
    row.update(0, sz)
    row.update(1, new GenericArrayData(sig.map(Long.box)))
    row
  }
}

/** Fused `(sz, sig)` banded one-permutation-hashing signature of a text
  * column — see [[OphSigKernel.ophSig]]. The O(r·grams) sibling of
  * [[ShingleStatsExpr]] for the corpus signature pass (no sorted
  * fingerprint array, `r = k / bands` coefficient pairs instead of the
  * classic numHashes). Coefficients ride as plan reference objects. */
case class OphSigExpr(child: Expression, n: Int, coefA: Array[Long],
    coefB: Array[Long], k: Int) extends UnaryExpression {
  require(coefA.length == coefB.length && coefA.nonEmpty &&
    k % coefA.length == 0,
    s"k=$k must be a multiple of the permutation count ${coefA.length}")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sz",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("sig",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullSafeEval(v: Any): Any =
    OphSigKernel.ophSig(v.asInstanceOf[UTF8String], n, coefA, coefB, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("coefA", coefA, "long[]")
    val b = ctx.addReferenceObj("coefB", coefB, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.dedup.OphSigKernel.ophSig($c, $n, $a, $b, $k)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "oph_sig"
  // Array fields degrade case-class equality to reference identity,
  // defeating common-subexpression elimination and plan-cache matching
  // for two semantically identical expressions built separately —
  // compare coefficient CONTENT instead.
  override def equals(o: Any): Boolean = o match {
    case that: OphSigExpr => child == that.child && n == that.n &&
      k == that.k && java.util.Arrays.equals(coefA, that.coefA) &&
      java.util.Arrays.equals(coefB, that.coefB)
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(n), Int.box(k), Int.box(java.util.Arrays.hashCode(coefA)),
    Int.box(java.util.Arrays.hashCode(coefB)))
}

object DecontamKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Occurrence and distinct-gram hit counts of a document's token
    * `w`-gram fingerprints against a SORTED eval-set fingerprint array
    * (binary search per gram; the array rides broadcast as a plan
    * reference). The zero-shuffle half of exact n-gram decontamination:
    * the training corpus is scanned once, nothing is joined. */
  def gramHits(text: UTF8String, w: Int, evalSorted: Array[Long]): InternalRow = {
    val grams = ShingleKernels.gramHashes(text, w)
    val n = grams.numElements()
    var occ = 0
    var matched: Array[Long] = null
    var m = 0
    var i = 0
    while (i < n) {
      val g = grams.getLong(i)
      if (java.util.Arrays.binarySearch(evalSorted, g) >= 0) {
        occ += 1
        if (matched == null) matched = new Array[Long](n)
        matched(m) = g; m += 1
      }
      i += 1
    }
    var distinct = 0
    if (m > 0) {
      val hit = java.util.Arrays.copyOf(matched, m)
      java.util.Arrays.sort(hit)
      distinct = 1
      var j = 1
      while (j < m) { if (hit(j) != hit(j - 1)) distinct += 1; j += 1 }
    }
    val row = new GenericInternalRow(2)
    row.update(0, occ.toLong)
    row.update(1, distinct.toLong)
    row
  }
}

/** `(n_hits, n_distinct)` of a text's token w-gram fingerprints against a
  * sorted eval fingerprint set — see [[DecontamKernel.gramHits]]. */
case class GramHitsExpr(child: Expression, w: Int, evalSorted: Array[Long])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_hits", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_distinct", LongType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    DecontamKernel.gramHits(v.asInstanceOf[UTF8String], w, evalSorted)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("evalSorted", evalSorted, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.dedup.DecontamKernel.gramHits($c, $w, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "gram_hits"
  // content equality over the (possibly large) eval-set array; the hash
  // is computed once (lazy) so canonicalization doesn't re-walk it
  override def equals(o: Any): Boolean = o match {
    case that: GramHitsExpr => child == that.child && w == that.w &&
      ((evalSorted eq that.evalSorted) ||
        java.util.Arrays.equals(evalSorted, that.evalSorted))
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(w), Int.box(java.util.Arrays.hashCode(evalSorted)))
}

object IntersectKernels {
  /** xxhash64 (seed 42) of each string, sorted ascending — the compact
    * set representation for O(n) merge intersections. */
  def sortedHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      out(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out.map(Long.box))
  }

  /** |A ∩ B| of two ascending long arrays via merge scan — no hashing, no
    * allocation (vs `size(array_intersect(...))` which builds the result
    * array and re-hashes strings per pair: the near-dup verify hotspot). */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Sorted xxhash64 fingerprints of an array<string>. */
case class SortedHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    IntersectKernels.sortedHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.IntersectKernels.sortedHashes($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  override def prettyName: String = "sorted_hashes"
}

/** Merge-scan |A∩B| of two sorted long arrays. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectKernels.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.dedup.IntersectKernels.intersectSize($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(l, r)
  override def prettyName: String = "sorted_intersect_size"
}

case class CharShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernels.charShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.ShingleKernels.charShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "char_shingles"
}

case class WordShinglesExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernels.wordShingles(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.ShingleKernels.wordShingles($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "word_shingles"
}

/** Positioned token w-gram fingerprints (array<long>, index = gram
  * position) — the allocation-free gram stream behind
  * [[Dedup.dedupSpans]]. */
case class GramHashesExpr(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernels.gramHashes(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.ShingleKernels.gramHashes($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

/** LSH band keys of a MinHash signature (array<long> → array<long> of
  * `bands` polynomial folds over length-`r` slices). */
case class BandKeysExpr(child: Expression, bands: Int, r: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernels.bandKeys(v.asInstanceOf[ArrayData], bands, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.ShingleKernels.bandKeys($c, $bands, $r)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "band_keys"
}

/** Fused `(sz, hs, sig)` shingle statistics of a text column — see
  * [[ShingleStatsKernel.shingleStats]]. One kernel call per row replaces
  * the charShingles → size/sortedHashes/minHashSignature expression trio
  * (and with it, every per-gram string allocation on ASCII text). */
case class ShingleStatsExpr(child: Expression, n: Int, coefA: Array[Long],
    coefB: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sz",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("hs",
      ArrayType(LongType, containsNull = false), nullable = false),
    org.apache.spark.sql.types.StructField("sig",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullSafeEval(v: Any): Any =
    ShingleStatsKernel.shingleStats(v.asInstanceOf[UTF8String], n, coefA, coefB)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("coefA", coefA, "long[]")
    val b = ctx.addReferenceObj("coefB", coefB, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.dedup.ShingleStatsKernel.shingleStats($c, $n, $a, $b)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "shingle_stats"
  // content equality over the coefficient arrays (see OphSigExpr)
  override def equals(o: Any): Boolean = o match {
    case that: ShingleStatsExpr => child == that.child && n == that.n &&
      java.util.Arrays.equals(coefA, that.coefA) &&
      java.util.Arrays.equals(coefB, that.coefB)
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(n), Int.box(java.util.Arrays.hashCode(coefA)),
    Int.box(java.util.Arrays.hashCode(coefB)))
}

/** `child` is an array<string> of shingles; coefficients ride as plan
  * reference objects. */
case class MinHashSignatureExpr(child: Expression, coefA: Array[Long],
    coefB: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernels.minHashSignature(v.asInstanceOf[ArrayData], coefA, coefB)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("coefA", coefA, "long[]")
    val b = ctx.addReferenceObj("coefB", coefB, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.dedup.ShingleKernels.minHashSignature($c, $a, $b)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_signature"
  // content equality over the coefficient arrays (see OphSigExpr)
  override def equals(o: Any): Boolean = o match {
    case that: MinHashSignatureExpr => child == that.child &&
      java.util.Arrays.equals(coefA, that.coefA) &&
      java.util.Arrays.equals(coefB, that.coefB)
    case _ => false
  }
  override lazy val hashCode: Int = java.util.Objects.hash(getClass, child,
    Int.box(java.util.Arrays.hashCode(coefA)),
    Int.box(java.util.Arrays.hashCode(coefB)))
}

/**
 * One-pass line fingerprinting for the substring-dedup family
 * (reference behavior: FaissSearcher-style corpora are cleaned line-wise
 * before indexing; see /root/reference/README.md usage pipeline). Scans
 * the document's UTF-8 BYTES once: finds literal delimiter occurrences,
 * counts characters per segment, and xxhash64-fingerprints qualifying
 * segments in place via [[XXH64.hashUnsafeBytes]] (seed 42 — bit-equal
 * to `xxhash64(line)`). Replaces the
 * `posexplode(split(text, quote(delim), -1))` → `length(line) >= minLen`
 * → `xxhash64(line)` pipeline, whose regex split round-trips the whole
 * corpus through java.lang.String and allocates one String + one
 * UTF8String per line — the sf100 decomposition measured that kernel
 * stage at ~2/3 of removeBoilerplate's end-to-end cost. Emits ONLY
 * `(pos, lh)` — no line string ever materializes.
 */
object LineHashKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.Platform

  /** Positions (0-based split-array index over ALL segments, matching
    * posexplode) and xxhash64 fingerprints of segments with >= minLen
    * CHARACTERS (matching `length(line)` — codepoints, not bytes).
    * Split semantics mirror `split(text, Pattern.quote(delim), -1)`:
    * non-overlapping left-to-right literal matches, trailing empty
    * segment kept (then typically dropped by minLen). */
  def lineHashes(text: UTF8String, delim: Array[Byte], minLen: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    val dlen = delim.length
    val d0 = delim(0)
    val out = new java.util.ArrayList[InternalRow]()
    var segStart = 0
    var pos = 0

    def emit(start: Int, end: Int): Unit = {
      val segBytes = end - start
      // chars <= bytes in UTF-8: a byte count below minLen can't qualify
      if (segBytes >= minLen) {
        var ok = true
        if (minLen > 1) {
          // count codepoints: bytes that are not 10xxxxxx continuations
          var chars = 0
          var i = start
          while (i < end && chars < minLen) {
            if ((Platform.getByte(base, off + i) & 0xC0) != 0x80) chars += 1
            i += 1
          }
          ok = chars >= minLen
        }
        if (ok) {
          val row = new GenericInternalRow(2)
          row.update(0, pos)
          row.update(1, XXH64.hashUnsafeBytes(base, off + start, segBytes, 42L))
          out.add(row)
        }
      }
      pos += 1
    }

    var i = 0
    val scanEnd = n - dlen
    while (i <= scanEnd) {
      if (Platform.getByte(base, off + i) == d0) {
        var j = 1
        while (j < dlen && Platform.getByte(base, off + i + j) == delim(j)) j += 1
        if (j == dlen) {
          emit(segStart, i)
          i += dlen
          segStart = i
        } else i += 1
      } else i += 1
    }
    emit(segStart, n)
    new GenericArrayData(out.toArray)
  }
}

/** `array<struct<pos:int, lh:long>>` of qualifying lines — see
  * [[LineHashKernel.lineHashes]]. The delimiter travels as plan-local
  * UTF-8 bytes (a literal, as in the `Pattern.quote` formulation). */
case class LineHashesExpr(child: Expression, delim: String, minLen: Int)
    extends UnaryExpression {
  require(delim.nonEmpty, "delimiter must be non-empty")
  private lazy val delimBytes = delim.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("lh", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    LineHashKernel.lineHashes(v.asInstanceOf[UTF8String], delimBytes, minLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("delimBytes", delimBytes, "byte[]")
    defineCodeGen(ctx, ev,
      c => s"graft.dedup.LineHashKernel.lineHashes($c, $d, $minLen)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "line_hashes"
}
