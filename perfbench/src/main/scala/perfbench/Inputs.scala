package perfbench

import java.util.SplittableRandom

/** Seeded inputs. Everything here is plain Scala: the engine only ever
  * sees the DataFrames built from these arrays. */
object Inputs {

  /** `n` points of a `centers`-component Gaussian mixture in `dim`
    * dimensions; unit-variance centers, `spread` within-component sigma. */
  final class Mixture(seed: Long, dim: Int, centers: Int, spread: Double) {
    private val rnd = new SplittableRandom(seed)
    private val mu = Array.fill(centers, dim)(rnd.nextGaussian())
    def draw(n: Int): Array[Array[Float]] = Array.fill(n) {
      val c = mu(rnd.nextInt(centers))
      Array.tabulate(dim)(j => (c(j) + spread * rnd.nextGaussian()).toFloat)
    }
  }

  private def unit(v: Array[Float]): Array[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => if (n == 0) 0.0 else x / n)
  }

  /** Exact cosine top-`k` ids of each query over `corpus` (ids are the
    * corpus positions), ties to the smaller id. Brute force, in parallel
    * over queries. */
  def exactTopK(corpus: Array[Array[Float]], queries: Array[Array[Float]],
      k: Int): Array[Array[Long]] = {
    val c = corpus.map(unit)
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = unit(queries(qi))
      val best = new Array[Double](k); val ids = new Array[Long](k)
      java.util.Arrays.fill(best, Double.NegativeInfinity); java.util.Arrays.fill(ids, Long.MaxValue)
      var i = 0
      while (i < c.length) {
        val v = c(i); var s = 0.0; var j = 0
        while (j < v.length) { s += v(j) * q(j); j += 1 }
        if (s > best(k - 1)) {
          var p = k - 1
          while (p > 0 && s > best(p - 1)) { best(p) = best(p - 1); ids(p) = ids(p - 1); p -= 1 }
          best(p) = s; ids(p) = i
        }
        i += 1
      }
      out(qi) = ids
    }
    out
  }

  final case class Doc(id: Long, text: String)

  /** A document corpus with planted duplicate clusters.
    * @param docs     every document, ids 0 until n, in arrival order
    * @param clusters planted clusters of ids; each holds an original and
    *                 copies of it, one in three exact and the others with
    *                 one or two words replaced
    * @param exactGroups the sets of ids whose texts are identical
    * @param junk     ids of planted short documents a quality filter drops
    * @param decoys   planted pairs with a fifth of their words different:
    *                 similar enough to become MinHash candidates now and
    *                 then, too far apart (shingle Jaccard about 0.55) to
    *                 verify as duplicates */
  final case class Corpus(docs: Array[Doc], clusters: Seq[Seq[Long]],
      exactGroups: Seq[Seq[Long]], junk: Set[Long], decoys: Seq[(Long, Long)])

  private val Stop = Array("the", "and", "of", "to", "that", "with", "have",
    "this", "from", "is", "for", "it")

  def corpus(seed: Long, n: Int, words: Int, clusters: Int, decoys: Int): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab = Array.fill(5000) {
      val len = 3 + rnd.nextInt(7)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def word() = if (rnd.nextInt(10) < 3) Stop(rnd.nextInt(Stop.length))
      else vocab(rnd.nextInt(vocab.length))
    def fresh(len: Int) = Array.fill(len)(word())
    // a full-length document holds at least two distinct Gopher stopwords,
    // so only the planted junk fails the quality filter; copies change
    // other words only
    def normal(len: Int) = {
      val t = fresh(len); val p = rnd.nextInt(len)
      t(p) = "the"; t((p + 1 + rnd.nextInt(len - 1)) % len) = "of"; t
    }
    def changeable(t: Array[String]) = t.indices.filter(i => t(i) != "the" && t(i) != "of").toArray
    val texts = new Array[Array[String]](n)
    val clus = Seq.newBuilder[Seq[Long]]; val exact = Seq.newBuilder[Seq[Long]]
    // clusters occupy disjoint id slots spread over the corpus; the
    // original comes first so both batch and stream see it before copies
    val slots = Iterator.continually(rnd.nextInt(n)).distinct
    var made = 0
    while (made < clusters) {
      val size = 2 + rnd.nextInt(3)
      val ids = Seq.fill(size)(slots.next()).sorted
      if (ids.forall(i => texts(i) == null)) {
        val orig = normal(words)
        texts(ids.head) = orig
        ids.tail.foreach { i =>
          val copy = orig.clone()
          // one copy in three is exact, the others near
          if (rnd.nextInt(3) != 0) {
            val pos = changeable(copy)
            (0 until 1 + rnd.nextInt(2)).foreach { _ =>
              copy(pos(rnd.nextInt(pos.length))) = vocab(rnd.nextInt(vocab.length))
            }
          }
          texts(i) = copy
        }
        clus += ids.map(_.toLong)
        // exact groups from the texts themselves: a replaced word may
        // happen to equal the one it replaced
        exact ++= ids.groupBy(i => texts(i).mkString(" ")).values
          .filter(_.size > 1).map(_.sorted.map(_.toLong))
        made += 1
      }
    }
    val decoy = Seq.newBuilder[(Long, Long)]
    made = 0
    while (made < decoys) {
      val Seq(a, b) = Seq.fill(2)(slots.next()).sorted
      if (texts(a) == null && texts(b) == null) {
        texts(a) = normal(words)
        // words / 5 distinct positions, by a partial Fisher-Yates shuffle
        val copy = texts(a).clone(); val pos = changeable(copy)
        (0 until words / 5).foreach { k =>
          val j = k + rnd.nextInt(pos.length - k)
          val t = pos(k); pos(k) = pos(j); pos(j) = t
          copy(pos(k)) = vocab(rnd.nextInt(vocab.length))
        }
        texts(b) = copy
        decoy += ((a.toLong, b.toLong))
        made += 1
      }
    }
    val junk = Set.newBuilder[Long]
    var i = 0
    while (i < n) {
      if (texts(i) == null) {
        if (rnd.nextInt(40) == 0) { texts(i) = fresh(12); junk += i.toLong }
        else texts(i) = normal(words)
      }
      i += 1
    }
    Corpus(Array.tabulate(n)(j => Doc(j, texts(j).mkString(" "))),
      clus.result(), exact.result(), junk.result(), decoy.result())
  }
}
