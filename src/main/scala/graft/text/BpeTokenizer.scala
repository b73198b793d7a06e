package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fitted byte-pair-encoding model: an ordered merge list. Ranks are
 * 1-based (mirroring the oracle's `list_position` lookup) and lower rank
 * wins. The whole model is a few KB — it rides to executors inside the
 * encode UDF's closure, never through a join.
 *
 * Encode semantics (mirrored EXACTLY by the recursive-CTE oracle): start
 * from per-character symbols; repeatedly find the occurrence with the
 * lowest (rank, position) among adjacent symbol pairs present in the
 * merge list and merge THAT single occurrence; stop when no adjacent
 * pair is mergeable. One merge per step keeps the spec trivially
 * order-deterministic on both engines.
 */
case class BpeModel(merges: Vector[(String, String)],
    alphabet: Option[Set[String]] = None) {
  @transient private lazy val rank: Map[(String, String), Int] =
    merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap

  // per-task encode memo (the closure deserializes per task, so this is
  // single-threaded): real corpora repeat words constantly — Zipf says
  // most of the stream is the memo's head. Bounded for web-scale vocab.
  @transient private lazy val memo =
    new java.util.HashMap[String, Vector[String]]()
  private val MaxMemo = 1 << 16

  def encodeWord(word: String): Vector[String] = {
    val hit = memo.get(word)
    if (hit != null) return hit
    val out = encodeWordUncached(word)
    if (memo.size < MaxMemo) memo.put(word, out)
    out
  }

  /** Base symbols: with a fitted alphabet, characters OUTSIDE it expand
    * to their UTF-8 bytes as `<0xNN>` escape tokens (the GPT-2-style
    * byte-level fallback) — so the output vocabulary is CLOSED: alphabet
    * ∪ merge products ∪ 256 byte tokens, whatever characters the corpus
    * throws at encode. Without an alphabet (hand-built models, unit
    * specs) every character is its own symbol. */
  private def baseSyms(word: String): Vector[String] = alphabet match {
    case None => word.map(_.toString).toVector
    case Some(a) =>
      val out = Vector.newBuilder[String]
      word.foreach { ch =>
        val s = ch.toString
        if (a.contains(s)) out += s
        else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .foreach(b => out += f"<0x${b & 0xff}%02X>")
      }
      out.result()
  }

  private def encodeWordUncached(word: String): Vector[String] = {
    var syms: Vector[String] = baseSyms(word)
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestI = i }
        i += 1
      }
      if (bestI < 0) done = true
      else syms = (syms.take(bestI) :+ (syms(bestI) + syms(bestI + 1))) ++
        syms.drop(bestI + 2)
    }
    syms
  }

  /** Whitespace-split words, each BPE-encoded, flattened in order. */
  def encodeText(text: String): Seq[String] =
    if (text == null) null
    else text.split(" ").iterator.filter(_.nonEmpty).flatMap(encodeWord).toSeq
}

/**
 * Byte-pair-encoding tokenizer — the real (trainable) sibling of
 * [[TextAnalysis.tokenCountBpeish]]'s regex proxy, and the piece every
 * training-data pipeline runs between curation and packing. The
 * reference's tokenizer lives inside its BERT vocabulary
 * (/root/reference/backend/encoder_utils.py:56, `do_lower_case` wordpiece);
 * this is the from-scratch equivalent: fit learns the merge table from
 * the corpus, encode applies it.
 *
 * Shape at scale: fit is ONE word-count shuffle + a driver loop over a
 * bounded `maxWords` frequency dictionary (the standard BPE trick —
 * merges depend only on the word-frequency histogram, never the corpus
 * order, so the corpus-sized data is touched exactly once); encode is a
 * single stateless scan with the model broadcast in the UDF closure
 * (inherently iterative per word — the documented UDF exception, like
 * the NSW graph walks).
 */
object BpeTokenizer {

  /**
   * Learn `numMerges` merges from the `maxWords` most frequent
   * whitespace tokens (ties on frequency broken by the word string, so
   * the dictionary — and thus the model — is deterministic). Each
   * iteration merges the most frequent adjacent symbol pair (count
   * desc, then pair lexicographic), rewriting dictionary words
   * leftmost-non-overlapping; stops early when no pair occurs twice.
   *
   * Real-sized defaults (512 merges over a 65,536-word histogram): the
   * driver loop maintains pair counts and a pair→words occurrence index
   * INCREMENTALLY, so each merge touches only the words that contain
   * the chosen pair — O(affected words) per merge plus one counts scan
   * for the deterministic argmax — instead of recounting the whole
   * dictionary 512 times. The fitted alphabet (every character of the
   * histogram words) rides in the model for byte-level OOV fallback.
   */
  def fit(df: DataFrame, textCol: String, numMerges: Int = 512,
      maxWords: Int = 65536): BpeModel = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val words = df
      .select(explode(filter(split(col(textCol), " ", -1),
        t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val alphabet: Set[String] =
      words.iterator.flatMap(_._1.iterator.map(_.toString)).toSet
    val dict: Array[Vector[String]] = words.map(_._1.map(_.toString).toVector)
    val freq: Array[Long] = words.map(_._2)

    // pair machinery: counts weighted by word frequency; occ = indices of
    // words with >=1 adjacent occurrence (a BitSet per pair)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    def eachPair(syms: Vector[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i < syms.length - 1) { f((syms(i), syms(i + 1))); i += 1 }
    }
    def indexWord(wi: Int, sign: Long): Unit = {
      val syms = dict(wi)
      val c = freq(wi) * sign
      eachPair(syms) { p =>
        val n = counts.getOrElse(p, 0L) + c
        if (n == 0L) counts.remove(p) else counts.update(p, n)
      }
      if (sign > 0) eachPair(syms)(p =>
        occ.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += wi)
      else eachPair(syms)(p => occ.get(p).foreach(_ -= wi))
    }
    dict.indices.foreach(indexWord(_, 1L))

    // deterministic argmax in O(log n) amortized: a max-heap of
    // (count, pair) snapshots with lazy invalidation — entries go stale
    // when a rewrite changes a pair's count; the pop loop discards any
    // whose snapshot no longer matches the live count. The heap order
    // (count desc, then pair lexicographic asc) IS the tie-break rule,
    // so the popped head is exactly the pair the full scan would pick.
    // (A full counts scan per merge measured 20+ s at 512 merges over a
    // 65,536-word dictionary; the heap makes the loop sub-second.)
    val pairOrd = Ordering[(String, String)]
    val heap = new java.util.PriorityQueue[(Long, (String, String))](
      math.max(16, counts.size),
      new java.util.Comparator[(Long, (String, String))] {
        def compare(x: (Long, (String, String)), y: (Long, (String, String))): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) c else pairOrd.compare(x._2, y._2)
        }
      })
    counts.foreach { case (p, c) => heap.add((c, p)) }

    val merges = Vector.newBuilder[(String, String)]
    var made = 0
    var stop = numMerges == 0
    while (!stop) {
      var bestP: (String, String) = null
      while (bestP == null && !heap.isEmpty) {
        val (c, p) = heap.poll()
        if (c >= 2L && counts.getOrElse(p, 0L) == c) bestP = p
        // else stale snapshot (count changed since push) — discard; the
        // live count, if still >= 2, has its own fresher entry
      }
      if (bestP == null) stop = true
      else {
        val (pa, pb) = bestP
        val affected = occ.getOrElse(bestP, scala.collection.mutable.BitSet.empty)
          .toArray // snapshot: indexWord mutates occ during the rewrite
        val touched = scala.collection.mutable.HashSet.empty[(String, String)]
        affected.foreach { wi =>
          eachPair(dict(wi))(touched += _)
          indexWord(wi, -1L)
          val syms = dict(wi)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == pa && syms(i + 1) == pb) {
              out += (pa + pb); i += 2
            } else { out += syms(i); i += 1 }
          }
          dict(wi) = out.result()
          eachPair(dict(wi))(touched += _)
          indexWord(wi, 1L)
        }
        // refresh heap snapshots for every pair whose count changed
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c >= 2L) heap.add((c, p))
        }
        merges += bestP
        made += 1
        if (made >= numMerges) stop = true
      }
    }
    BpeModel(merges.result(), Some(alphabet))
  }

  /** Encode column: BPE token array (null text → null). */
  def encode(text: Column, model: BpeModel): Column = {
    val f = udf((t: String) => model.encodeText(t))
    f(text)
  }

  /** Corpus tokenization: `[<idCol>, n_bpe, bpe_text]` — token count and
    * the space-joined token stream (tokens never contain spaces). */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame = {
    val toks = encode(col(textCol), model)
    df.select(col(idCol), toks.as("__t"))
      .select(col(idCol),
        when(col("__t").isNull, lit(null).cast("long"))
          .otherwise(size(col("__t")).cast("long")).as("n_bpe"),
        array_join(col("__t"), " ").as("bpe_text"))
  }

  /**
   * Tokenizer-artifact persistence — a fitted tokenizer SHIPS WITH the
   * dataset it produced (retokenizing from a refit model silently
   * changes every token id downstream), so it gets the same ML-style
   * parquet persistence as the searcher and whitening models: merges as
   * `(ord, left, right)` rows (order IS the model — ranks reload from
   * `ord`), the fitted alphabet as symbol rows alongside. Bounded small
   * (≤ numMerges + |alphabet| rows).
   */
  def save(model: BpeModel, path: String): Unit = {
    val meta = new graft.search.MetaDir(org.apache.spark.sql.SparkSession.active, path)
    def utf8(s: String) = UTF8String.fromString(s)
    val merges = model.merges
    meta.write("merges", merges.iterator.map { case (a, b) => 4L + utf8(a).numBytes + utf8(b).numBytes }.sum,
      MergesSchema)(merges.iterator.zipWithIndex.map { case ((a, b), i) => InternalRow(i, utf8(a), utf8(b)) })
    val alphabet = model.alphabet.getOrElse(Set.empty).toSeq.sorted
    meta.write("alphabet", alphabet.iterator.map(utf8(_).numBytes.toLong).sum, AlphabetSchema)(
      alphabet.iterator.map(s => InternalRow(utf8(s))))
  }

  /** Inverse of [[save]]; an empty alphabet table loads as `None`
    * (hand-built models without byte-level fallback round-trip). Both
    * tables are read on the driver, merges in driver-side `ord` order. */
  def load(path: String): BpeModel = {
    val meta = new graft.search.MetaDir(org.apache.spark.sql.SparkSession.active, path)
    val merges = meta.read("merges", MergesSchema).sortBy(_.getInt(0))
      .map(r => (r.getUTF8String(1).toString, r.getUTF8String(2).toString))
      .toVector
    val alpha = meta.read("alphabet", AlphabetSchema).map(_.getUTF8String(0).toString).toSet
    BpeModel(merges, if (alpha.isEmpty) None else Some(alpha))
  }

  private val MergesSchema =
    graft.search.MetaDir.schema("ord" -> IntegerType, "left" -> StringType, "right" -> StringType)
  private val AlphabetSchema = graft.search.MetaDir.schema("sym" -> StringType)
}
