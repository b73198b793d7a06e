package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operator behavior on the documents table + synthetic literals. */
class DedupSpec extends SparkSpec {

  private lazy val docs = sf("documents")

  test("rescanIsExpensive: bare scans and filters stay uncached, computed projections and aggregates trigger") {
    val sp = spark
    import sp.implicits._
    // bare local/scan-shaped relation: cheap to re-run
    val bare = docs.select(col("doc_id"), col("text"))
    assert(!Dedup.rescanIsExpensive(bare))
    assert(!Dedup.rescanIsExpensive(bare.filter(col("doc_id") > 10)))
    // an expensive FILTER CONDITION makes the re-scan expensive too
    // (the curation composition: quality-flag predicate over a scan)
    assert(Dedup.rescanIsExpensive(bare.filter(
      size(filter(split(col("text"), " "), t => length(t) > 3)) > 5)))
    // trivial projection (alias/cast) stays cheap
    assert(!Dedup.rescanIsExpensive(
      docs.select(col("doc_id").cast("string").as("id2"), col("text"))))
    // a projection doing real compute (the reshaped-upstream shape)
    val reshaped = docs.select(col("doc_id"),
      array_join(transform(split(col("text"), " "), t => upper(t)), " ").as("text"))
    assert(Dedup.rescanIsExpensive(reshaped))
    // anything above the leaves beyond prune/filter
    assert(Dedup.rescanIsExpensive(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))))
    assert(Dedup.rescanIsExpensive(docs.join(docs.select(col("doc_id")), "doc_id")))
    // NONDETERMINISTIC plans must persist however small their tree: two
    // independent re-evaluations would hand the multi-pass operators two
    // DIFFERENT id assignments (r15 shipped the tree-size-only test, which
    // classified a monotonically_increasing_id projection as cheap)
    assert(Dedup.rescanIsExpensive(
      docs.select(monotonically_increasing_id().as("rid"), col("text"))))
    // a sampling filter (re-scan would select DIFFERENT rows); a tautology
    // like rand > -1 won't do — the optimizer folds it away entirely
    assert(Dedup.rescanIsExpensive(bare.filter(rand(7) > 0.5)))
  }

  test("minhash family: computed (persist-triggering) input yields the bare-scan result") {
    val sp = spark
    import sp.implicits._
    val base = docs.select(col("doc_id"), col("text")).limit(200)
    // an input plan the persist heuristic classifies as expensive —
    // identity on the text content, so results must be bit-equal
    val computed = base.select(col("doc_id"),
      array_join(filter(split(col("text"), " ", -1), t => length(t) >= 0), " ")
        .as("text"))
    assert(Dedup.rescanIsExpensive(computed))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect().toSeq.map(_.toString)
    assert(norm(Dedup.minHashNearDups(computed, "doc_id", "text", 5, 64, 8, 0.5)) ===
      norm(Dedup.minHashNearDups(base, "doc_id", "text", 5, 64, 8, 0.5)))
    assert(norm(Dedup.minHashNearDupsOph(computed, "doc_id", "text", 5, 64, 8, 0.5)) ===
      norm(Dedup.minHashNearDupsOph(base, "doc_id", "text", 5, 64, 8, 0.5)))
    val ca = Dedup.dedupCorpus(computed, "doc_id", "text", 5, 64, 8, 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val cb = Dedup.dedupCorpus(base, "doc_id", "text", 5, 64, 8, 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ca === cb)
  }

  test("exact dedup groups identical keys, keeps min id") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "t")
    val res = Dedup.exact(df, Seq("t"), "id").orderBy("t").collect()
    assert(res.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("aa", 1L, 2L), ("bb", 2L, 1L)))
  }

  test("charShingles: positional n-grams, distinct") {
    val sp = spark
    import sp.implicits._
    val got = Seq("abcab").toDF("text")
      .select(Dedup.charShingles(col("text"), 3)).head().getSeq[String](0)
    assert(got === Seq("abc", "bca", "cab"))
  }

  test("jaccard pairs: near-identical texts found, unrelated not") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with nothing shared")).toDF("id", "text")
    val pairs = Dedup.jaccardPairs(df, "id", "text", 5, 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
  }

  test("minhash LSH candidates recover the exact-jaccard pairs (recall=1 here)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 5, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashNearDups(docs, "doc_id", "text", 5, 64, 8, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mh === exact) // high-sim pairs: banding should not lose any
  }

  test("connected components: chains merge transitively, min-id labels, canonical flags") {
    val sp = spark
    import sp.implicits._
    // two components: {1,2,3,4} via a chain (diameter 3 — forces several
    // propagation rounds) and {10,11}; 7–7 self-loop stays a singleton
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 1L, false), (7L, 7L, true), (10L, 10L, true), (11L, 10L, false)))
  }

  test("connected components: long path converges within maxIters via min propagation") {
    val sp = spark
    import sp.implicits._
    // a 12-node path 0-1-2-...-11: worst-case diameter for propagation
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
    assert(labels.length === 12)
    assert(labels.forall(_.getLong(1) === 0L))
    assert(labels.count(_.getBoolean(2)) === 1)
  }

  test("simhash: identical texts hamming 0; near-dups close; fingerprint deterministic") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h"),
      ("a b c d e f g h", "a b c d e f g z")).toDF("t1", "t2")
      .select(Dedup.simHash62(col("t1")).as("h1"), Dedup.simHash62(col("t2")).as("h2"))
    val rows = df.collect()
    assert(rows(0).getLong(0) === rows(0).getLong(1))
    val hamming = java.lang.Long.bitCount(rows(1).getLong(0) ^ rows(1).getLong(1))
    assert(hamming <= 16, s"near-dup hamming $hamming")
    // deterministic across evaluations
    assert(rows(0).getLong(0) === rows(1).getLong(0))
  }

  test("simhash banding-invariance: pair set identical for every block count (pigeonhole exact)") {
    val base = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3, chunks = 4)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // wider bands (the corpus-scaled policy's choices) and the auto default
    // must produce the EXACT same pair set — banding only tunes candidates
    for (c <- Seq(5, 6, 8)) {
      val got = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3, chunks = c)
        .select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === base, s"chunks=$c")
    }
    val auto = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto === base)
    // auto policy (cost model): fixed-width holds at small n, widens as
    // the expected random-verify volume overtakes the extra band shuffle
    assert(Dedup.simHashAutoChunks(500, 3) === 4)
    assert(Dedup.simHashAutoChunks(50000, 3) === 5)
    assert(Dedup.simHashAutoChunks(5000000, 3) === 5) // was 6 pre-cost-model
    assert(Dedup.simHashAutoChunks(50000000L, 3) === 6)
    // too few blocks to pigeonhole -> fail fast
    intercept[IllegalArgumentException](
      Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3, chunks = 3))
  }

  test("fuzz: in-kernel text simhash ≡ array formulation (ASCII fast path + unicode fallback)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{filter => afilter, split, lower, length}
    val rnd = new scala.util.Random(11)
    val alphabets = Seq(
      "abc XYZ 019 \t\n\r.,!", // ASCII incl. every ws class and case
      "abc déjà vu über 北京 \t") // multi-byte → the non-ASCII fallback
    val strs = (for (a <- alphabets; _ <- 0 until 50) yield
      (0 until rnd.nextInt(40)).map(_ => a(rnd.nextInt(a.length))).mkString) :+
      "" :+ "   " :+ "single"
    val ref = org.apache.spark.sql.graftshim.GraftSql.column(
      graft.dedup.SimHash62(org.apache.spark.sql.graftshim.GraftSql.expression(
        afilter(split(lower(col("t")), "\\s+"), x => length(x) > 0))))
    val df = strs.toDF("t")
      .select(Dedup.simHash62(col("t")).as("fast"), ref.as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("crossJaccardPairs ≡ self-join pairs restricted to the corpus boundary") {
    val left = docs.filter(col("doc_id") < 50)
    val right = docs.filter(col("doc_id") >= 50)
    val cross = Dedup.crossJaccardPairs(left, right, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the full self-join, keeping only pairs that straddle
    // the boundary (id order in the self-join puts the benchmark id first)
    val all = Dedup.jaccardPairsWords(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 50 && b >= 50 }.toSet
    assert(cross === all)
    assert(cross.forall(_._3 >= 0.5))
  }

  test("embeddingClusters: deterministic nearest-centroid assignment, ≤ k clusters") {
    val emb = sf("embeddings")
    val a = Dedup.embeddingClusters(emb, "vec_id", "embedding", k = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Dedup.embeddingClusters(emb, "vec_id", "embedding", k = 16)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b) // deterministic fit + assignment
    assert(a.size === emb.count())
    val nClusters = a.values.toSet.size
    assert(nClusters > 1 && nClusters <= 16)
    // non-degenerate: no cluster swallows the whole corpus
    assert(a.values.groupBy(identity).values.map(_.size).max < a.size)
  }

  test("embeddingClusters: a vector with a NaN component fails the fit, saying how many") {
    val sp = spark
    import sp.implicits._
    // without the check the NaN row became every farthest-point centroid
    // after the first, all 4 centroids ended with a NaN component, no row
    // had a finite nearest centroid, and the collect failed on an
    // out-of-bounds `getItem(0)` of the empty probe list
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(j => if (i == 7 && j == 2) Float.NaN else ((i * 7 + j * 3) % 11).toFloat))
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Dedup.embeddingClusters(emb, "vec_id", "embedding", k = 4).collect())
    assert(e.getMessage.contains("fit: 1 vector(s) with a NaN or infinite component"), e.getMessage)
  }

  test("cell-blocked embedding near-dups: high recall vs brute force") {
    val emb = sf("embeddings")
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", 0.4,
      nlist = 16, nprobe = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    assert(blocked.subsetOf(brute)) // never false positives (exact verify)
    val recall = (brute intersect blocked).size.toDouble / brute.size
    assert(recall >= 0.8, s"blocked recall $recall")
    // auto cell count (nlist=0 default) resolves to max(16, n/64) = 16 on
    // this 500-vector corpus — byte-identical to the pinned setting
    val auto = Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", 0.4,
        nprobe = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === blocked)
  }

  test("embedding near-dups: symmetric pairs, id_a < id_b, cos >= threshold") {
    val pairs = Dedup.embeddingNearDups(sf("embeddings"), "vec_id", "embedding", 0.4)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("LSH embedding near-dups: auto bits ≡ the explicit occupancy-16 setting") {
    // bits=0 (default) resolves to ceil(log2(n/16)) floored at 4 — on the
    // 500-vector corpus that is 5 bits; pinning 5 explicitly must give
    // byte-identical pairs (auto-resolution changes no plane arithmetic)
    val emb = sf("embeddings")
    def run(bits: Int) = Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, bits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = run(0)
    assert(auto.nonEmpty)
    assert(auto === run(5))
  }

  test("duplicated-span docs: shared w-grams flagged, unique docs absent") {
    val sp = spark
    import sp.implicits._
    val span = "one two three four" // 4-gram shared by docs 1 and 2
    val docs = Seq(
      (1L, s"alpha $span beta gamma"),
      (2L, s"delta epsilon $span zeta"),
      (3L, "wholly unique words with no overlap at all here"),
      (4L, "short doc")). // < w tokens → no grams → never flagged
      toDF("doc_id", "text")
    val flagged = Dedup.duplicatedSpanDocs(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(flagged.keySet === Set(1L, 2L))
    // doc 1: tokens alpha,one,two,three,four,beta,gamma → 4 grams, 1 hot
    assert(flagged(1L).getLong(1) === 4L) // n_grams
    assert(flagged(2L).getLong(2) === 1L) // n_hot
    assert(flagged(1L).getLong(3) === 2L) // max_df: span in 2 docs
  }

  test("large-star/small-star CC ≡ min-label CC on a seeded random graph") {
    val sp = spark
    import sp.implicits._
    // 120 nodes, ~100 seeded random edges: mixes chains, small cliques,
    // singleton-inducing self-loops and duplicate/reversed pairs
    val rnd = new scala.util.Random(42)
    val pairs = ((0 until 100).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    } ++ Seq((5L, 5L), (1L, 0L), (0L, 1L))).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    // three independent paths must agree: hybrid (driver union-find finish,
    // the default at this size), PURE distributed star contraction
    // (driverFinishEdges = 0 disables the driver finish entirely), and the
    // min-label propagation cross-check
    val fast = asMap(Dedup.connectedComponents(pairs, "id_a", "id_b"))
    val dist = asMap(Dedup.connectedComponents(pairs, "id_a", "id_b",
      driverFinishEdges = 0L))
    val slow = asMap(Dedup.connectedComponentsMinLabel(pairs, "id_a", "id_b"))
    assert(fast === dist)
    assert(fast === slow)
    // no per-round checkpoint blocks may survive any call: only the three
    // result-pinning RDDs (one per invocation) are added
    assert(spark.sparkContext.getPersistentRDDs.size - pinnedBefore <= 3)
    // the MID-FLOW immediate finish must still agree (r22): a pair list
    // whose RAW count exceeds the cap but whose DISTINCT edge count fits
    // skips the raw-immediate shortcut, checkpoints the oriented-distinct
    // set, and driver-finishes from there — 300 duplicate pairs over a
    // 10-edge chain with cap 50 takes exactly that path
    val dup = (0 until 30).flatMap(_ => (0L until 10L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    assert(asMap(Dedup.connectedComponents(dup, "id_a", "id_b",
        driverFinishEdges = 50L)) ===
      asMap(Dedup.connectedComponents(dup, "id_a", "id_b")))
    // the driver-finish knob caps where the dense-table arithmetic is
    // safe: 2^28 accepted, anything above rejected (at the old 2^30 cap
    // the open-addressed table's power-of-two sizing overflowed Int)
    assert(asMap(Dedup.connectedComponents(pairs, "id_a", "id_b",
      driverFinishEdges = 1L << 28)) === fast)
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverFinishEdges = (1L << 28) + 1)
    }
  }

  test("connected components: empty and all-self-loop pair lists degrade cleanly") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, "id_a", "id_b").count() === 0L)
    val loops = Seq((3L, 3L), (9L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(loops, "id_a", "id_b")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq((3L, 3L, true), (9L, 9L, true)))
  }

  test("large-star/small-star converges on a long chain in O(log n) rounds") {
    val sp = spark
    import sp.implicits._
    // 200-node path: diameter 199 — min-label would need 199 rounds and
    // blow past maxIters; star contraction must converge inside 25.
    // driverFinishEdges = 0 forces the pure distributed rounds this test
    // exists to exercise (the default would collect-and-union-find).
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b",
      driverFinishEdges = 0L).collect()
    assert(labels.length === 200)
    assert(labels.forall(_.getLong(1) === 0L))
    assert(labels.count(_.getBoolean(2)) === 1)
  }

  test("dedupLines: keep-first removal, minLen guard, null/empty preservation") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "boilerplate header line\nunique alpha\n--\nboilerplate header line"),
      (2L, "boilerplate header line\nunique beta\n--"),
      (3L, "unique gamma"),
      (4L, null.asInstanceOf[String]),
      (5L, ""),
      (6L, "boilerplate header line")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", minLen = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 owns the first occurrence; its own within-doc repeat is removed
    assert(got(1L) === "boilerplate header line\nunique alpha\n--")
    // cross-doc repeat removed, short "--" separator (len 2 < minLen) kept
    assert(got(2L) === "unique beta\n--")
    assert(got(3L) === "unique gamma")
    assert(got(4L) === null)     // null text stays null
    assert(got(5L) === "")       // empty doc: its one "" line is short, kept
    // a doc reduced to nothing becomes "", not a dropped row
    assert(got(6L) === "")
    assert(got.size === 6)
  }

  test("dedupCorpus: canonical doc per near-dup cluster survives, uniques pass through") {
    val sp = spark
    import sp.implicits._
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (10L, body),                    // cluster canonical (min id)
      (11L, body + " extra"),         // near-dup of 10 -> dropped
      (12L, body + " extras"),        // near-dup of 10/11 -> dropped
      (20L, "completely different content about spark catalyst planning"),
      (21L, "another unrelated document on parquet column pruning"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "doc_id", "text",
        n = 5, numHashes = 64, bands = 8, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L, 20L, 21L))
  }

  test("dedupCorpus/dedupCluster scheme dispatch: default is OPH, classic knob routes the 64-perm kernel") {
    val sub = docs.select(col("doc_id"), col("text")).limit(300)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // the r16 default IS the OPH route — bit-equal to the explicit spelling
    assert(ids(Dedup.dedupCorpus(sub, "doc_id", "text", 5, 64, 8, 0.5)) ===
      ids(Dedup.dedupCorpusOph(sub, "doc_id", "text", 5, 64, 8, 0.5)))
    // the classic knob IS the classic pipeline (pairs → CC → anti-join)
    val classicPairs = Dedup.minHashNearDups(sub, "doc_id", "text", 5, 64, 8, 0.5)
    val classicDrop = Dedup.connectedComponents(classicPairs, "id_a", "id_b")
      .filter(!col("is_canonical")).select(col("id"))
    val classicKept = sub.join(classicDrop, sub("doc_id") === classicDrop("id"), "left_anti")
    assert(ids(Dedup.dedupCorpus(sub, "doc_id", "text", 5, 64, 8, 0.5,
      scheme = "classic")) === ids(classicKept))
    // dedupCluster mirrors the same dispatch
    assert(labels(Dedup.dedupCluster(sub, "doc_id", "text", 5, 64, 8, 0.5)) ===
      labels(Dedup.connectedComponents(
        Dedup.minHashNearDupsOph(sub, "doc_id", "text", 5, 64, 8, 0.5),
        "id_a", "id_b")))
    assert(labels(Dedup.dedupCluster(sub, "doc_id", "text", 5, 64, 8, 0.5,
      scheme = "classic")) ===
      labels(Dedup.connectedComponents(classicPairs, "id_a", "id_b")))
    intercept[IllegalArgumentException] {
      Dedup.dedupCorpus(sub, "doc_id", "text", scheme = "simhash")
    }
  }

  test("dedupSpans: keep-first masking, sub-width runs kept, null/empty preservation") {
    val sp = spark
    import sp.implicits._
    // w=3 grams; "a b c d" repeated across docs 1/2 and within doc 1
    val docs = Seq(
      (1L, "a b c d x y z a b c d"),  // owns first occurrence of all grams
      (2L, "p q a b c d r"),          // copied span -> masked
      (3L, "a b x"),                  // shares a 2-token run only: below w, kept
      (4L, null.asInstanceOf[String]),
      (5L, "")).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 5)
    // doc 1: grams at positions 0..1 are firsts; the within-doc repeat at
    // position 7 ("a b c" / "b c d") masks tokens 7..10
    assert(got(1L) === "a b c d x y z")
    // doc 2: duplicated window "a b c d" masked, unique neighbors survive
    assert(got(2L) === "p q r")
    assert(got(3L) === "a b x")
    assert(got(4L) === null)
    assert(got(5L) === "")
  }

  test("dedupSpans: overlapping duplicated grams union their covered ranges") {
    val sp = spark
    import sp.implicits._
    // doc 2 copies a 5-token passage: its three overlapping 3-grams must
    // mask the whole run, not punch disjoint holes
    val docs = Seq(
      (1L, "m n o p q"),
      (2L, "u v m n o p q w")).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "m n o p q")
    assert(got(2L) === "u v w")
  }

  test("decontaminateNgrams: occurrence + distinct hits against the eval gram set") {
    val sp = spark
    import sp.implicits._
    // eval doc carries the 3-gram "a b c" (and "b c d"); train doc 1
    // contains "a b c" twice and "b c d" once; doc 2 is clean; doc 3 is
    // too short to form a gram; doc 4 is null
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c x a b c d"),   // grams hit: "a b c"@0, "a b c"? (pos 4: a b c), "b c d"@5
      (2L, "p q r s t u v w"),
      (3L, "a b"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.decontaminateNgrams(train, eval, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)),
         (if (r.isNullAt(2)) -1L else r.getLong(2)), r.getInt(3))).toMap
    // doc 1 grams: [a b c][b c x][c x a][x a b][a b c][b c d] -> hits:
    // "a b c" twice + "b c d" once = 3 occurrences, 2 distinct
    assert(got(1L) === ((3L, 2L, 1)))
    assert(got(2L) === ((0L, 0L, 0)))
    assert(got(3L) === ((0L, 0L, 0)))
    assert(got(4L) === ((0L, 0L, 0)))
  }

  test("decontaminateNgrams: empty eval set flags nothing") {
    val sp = spark
    import sp.implicits._
    val eval = Seq((9L, "x")).toDF("doc_id", "text") // too short for any gram
    val train = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val got = Dedup.decontaminateNgrams(train, eval, "doc_id", "text", w = 8).collect()
    assert(got.length === 1 && got(0).getLong(1) === 0L && got(0).getInt(3) === 0)
  }

  test("removeBoilerplate: >=minDocs lines dropped everywhere, rare/short lines kept") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (0L, "subscribe to newsletter\nreal content zero\nok"),
      (1L, "subscribe to newsletter\nreal content one"),
      (2L, "subscribe to newsletter\nreal content two"),
      (3L, "rare line appears twice\nunique payload three"),
      (4L, "rare line appears twice\nunique payload four"),
      (5L, null.asInstanceOf[String]),
      (6L, "subscribe to newsletter")
    ).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplate(docs, "doc_id", "text",
        minDocs = 3, minLen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the 3-doc line vanishes from every document, including its first
    assert(got(0L) == "real content zero\nok") // "ok" short: never touched
    assert(got(1L) == "real content one")
    assert(got(2L) == "real content two")
    // a 2-doc line is below the threshold: kept in both
    assert(got(3L) == "rare line appears twice\nunique payload three")
    assert(got(4L) == "rare line appears twice\nunique payload four")
    assert(got(5L) == null) // null text preserved
    assert(got(6L) == "")   // fully-boilerplate doc -> empty, not dropped
  }

  test("removeBoilerplate: repeated in-doc positions all removed; in-doc repeats don't fake df") {
    val sp = spark
    import sp.implicits._
    // chrome appears TWICE inside doc 0 (header + footer) — the grouped
    // positional re-extraction must recover BOTH candidate positions from
    // the single split; and a line repeated 3x inside ONE doc (doc 3)
    // counts df=1, not 3 — the (lh, doc_id) level of the two-phase count
    val docs = Seq(
      (0L, "visit our shop\nalpha body\nvisit our shop"),
      (1L, "visit our shop\nbeta body"),
      (2L, "gamma body\nvisit our shop"),
      (3L, "echo echo echo\necho echo echo\necho echo echo\ndelta body")
    ).toDF("doc_id", "text")
    def run(smallBytes: Long) = Dedup.removeBoilerplate(docs, "doc_id",
        "text", minDocs = 3, minLen = 5, smallCorpusBytes = smallBytes)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val narrow = run(0L)             // forced narrow + positional re-extraction
    val small = run(Long.MaxValue)   // forced strings-in-cache path
    assert(narrow === small)
    assert(narrow(0L) == "alpha body") // both chrome positions removed
    assert(narrow(1L) == "beta body")
    assert(narrow(2L) == "gamma body")
    // df("echo echo echo") = 1 distinct doc < 3: untouched
    assert(narrow(3L) == "echo echo echo\necho echo echo\necho echo echo\ndelta body")
  }

  test("gramHashes: ASCII byte-scan fast path bit-equal to the reference recurrence") {
    import org.apache.spark.unsafe.types.UTF8String
    def naive(text: String, w: Int): Seq[Long] = {
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      if (toks.length < w) Seq.empty
      else (0 to toks.length - w).map { g =>
        var h = 1125899906842597L
        for (j <- 0 until w) {
          val t = toks(g + j)
          for (k <- 0 until t.length) h = h * 31L + t.charAt(k)
          h = h * 31L + 1L
        }
        h
      }
    }
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota",
      "  doubled  spaces   here and a trailing space ",
      "short a b c d e f g h i j",
      "one-long-token-" + ("x" * 300) + " then more tokens follow here now",
      "unicodé token forces the fallback päth here now ok", // non-ASCII
      "中文 tokens mixed with ascii words in here too yes",  // non-ASCII
      "", " ", "only three tokens here")
    for (t <- texts; w <- Seq(1, 2, 3, 8)) {
      val got = ShingleKernels.gramHashes(UTF8String.fromString(t), w)
      val gotSeq = (0 until got.numElements()).map(got.getLong(_))
      assert(gotSeq === naive(t, w), s"w=$w text=${t.take(30)}")
    }
  }

  test("dedupLines: narrow-cache path bit-equal to strings-in-cache path") {
    val sp = spark
    import sp.implicits._
    // dup-heavy fixture: cross-doc dups (kept only at global first),
    // in-doc repeats (non-first removed), short lines (immune), empty
    // lines, trailing delim, a fully-duplicated doc, unicode lines —
    // exercised at line ("\n") and paragraph ("\n\n") granularity
    val docs = Seq(
      (0L, "shared alpha line\nunique zero\nshared alpha line"),
      (1L, "shared alpha line\nunique one\n\nshared beta line"),
      (2L, "shared beta line\nok\nunique two\n"),
      (3L, "shared alpha line"),
      (4L, "中文重复的行内容\nunique four"),
      (5L, "中文重复的行内容\nunique five"),
      (6L, null.asInstanceOf[String]),
      (7L, "")
    ).toDF("doc_id", "text")
    for (delim <- Seq("\n", "\n\n")) {
      def run(smallBytes: Long) = Dedup.dedupLines(docs, "doc_id", "text",
          minLen = 5, delim = delim, smallCorpusBytes = smallBytes)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val narrow = run(0L)
      val small = run(Long.MaxValue)
      assert(narrow === small, s"delim=${delim.replace("\n", "\\n")}")
    }
    // dup-free corpus: the narrow path's zero-candidate short-circuit
    // (no occurrence machinery, verbatim projection) must still equal
    // the strings-in-cache path row-for-row
    val uniq = Seq(
      (0L, "wholly unique line a\nwholly unique line b"),
      (1L, "another unique line\nyet another one"),
      (2L, null.asInstanceOf[String]), (3L, "")
    ).toDF("doc_id", "text")
    def runU(smallBytes: Long) = Dedup.dedupLines(uniq, "doc_id", "text",
        minLen = 5, smallCorpusBytes = smallBytes)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(runU(0L) === runU(Long.MaxValue))
    // spot-check the line-level semantics on the narrow path
    val got = Dedup.dedupLines(docs, "doc_id", "text", minLen = 5,
        smallCorpusBytes = 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "shared alpha line\nunique zero") // first kept, in-doc repeat dropped
    assert(got(1L) == "unique one\n\nshared beta line") // lost to doc 0; beta first here
    assert(got(2L) == "ok\nunique two\n")               // beta lost; short+empty immune
    assert(got(3L) == "")                               // fully-duplicated doc
    assert(got(4L) == "中文重复的行内容\nunique four")   // unicode first kept
    assert(got(5L) == "unique five")
    assert(got(6L) == null)
    assert(got(7L) == "")
  }

  test("LineHashKernel: (pos, lh) stream bit-equal to split/posexplode/length/xxhash64") {
    val sp = spark
    import sp.implicits._
    // adversarial shapes: empty lines, trailing/leading delims, unicode
    // (char count != byte count), delim-run (for the "\n\n" paragraph
    // delim), single char, empty text, whole-text == delim
    val texts = Seq(
      "plain line\nsecond line\nthird",
      "\nleading empty\n\n\ntrailing empty\n",
      "café naïve 中文行\nascii",     // 2-3 byte chars
      "😀 emoji line\nx",                          // 4-byte char
      "", "x", "\n", "\n\n\n",
      "para one line a\npara one line b\n\npara two\n\n",
      "seg one§seg two§§terminal§", // 2-byte UTF-8 delimiter case
      "exactly5\nfour\nsix ch"
    )
    for (delim <- Seq("\n", "\n\n", "§"); minLen <- Seq(0, 1, 2, 5, 8)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val delimQ = java.util.regex.Pattern.quote(delim)
      val expected = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), delimQ, -1)).as(Seq("pos", "line")))
        .filter(length(col("line")) >= minLen)
        .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("lh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val got = docs
        .select(col("doc_id"), explode(org.apache.spark.sql.graftshim.GraftSql.column(
          LineHashesExpr(org.apache.spark.sql.graftshim.GraftSql.expression(col("text")),
            delim, minLen))).as("__plh"))
        .select(col("doc_id"), col("__plh.pos"), col("__plh.lh"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === expected, s"delim=${delim.replace("\n", "\\n")} minLen=$minLen")
    }
  }

  test("clusterQuotaSample: per-cell quota enforced, rank follows score desc with id ties") {
    val sp = spark
    import sp.implicits._
    // two well-separated cells on an axis; scores = vector norms
    val rows = (0 until 12).map { i =>
      val base = if (i < 6) 10f else -10f
      // norm grows with i inside each half -> highest norms win the quota
      (i.toLong, Array(base + i * 0.01f, (1 + i % 6).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.clusterQuotaSample(df, "vec_id", "embedding",
        k = 2, quota = 2, scoreCol =
          sqrt(graft.functions.VectorFunctions.vec_dot(
            col("embedding"), col("embedding"))))
      .collect()
    assert(got.length == 4) // 2 cells x quota 2
    val byCluster = got.groupBy(_.getInt(1))
    assert(byCluster.size == 2 && byCluster.values.forall(_.length == 2))
    // within each cell the kept pair is the two largest norms (i%6 = 5, 4)
    byCluster.values.foreach { rs =>
      val ids = rs.sortBy(_.getInt(2)).map(_.getLong(0) % 6).toSeq
      assert(ids == Seq(5L, 4L))
    }
  }

  // ---- clone-heavy equivalence witnesses for the third-decade skew
  // guards: the sf0.01 gates run the SMALL-corpus paths (thresholds), so
  // these corpora force the guarded paths where they actually differ —
  // clone clusters piling identical fingerprints / heavy-hitter grams —
  // and pin bit-identical results against the plain paths.

  /** 30 clusters; cluster i's base text replicated (i%5)+1 times under
    * distinct ids (identical fingerprints — the class path's m-clone
    * case), plus a one-token variant per cluster (a nonzero but small
    * hamming distance — the cross-class case). */
  private def cloneCorpus = {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 30).flatMap { i =>
      val base = (0 until 10).map(t => s"w${i}tok$t").mkString(" ")
      val variant = base.replace(s"w${i}tok7", s"v${i}alt")
      val clones = (0 to i % 5).map(c => (i * 100L + c, base))
      clones :+ (i * 100L + 50L, variant)
    }
    rows.toDF("id", "text")
  }

  test("simhash class-level banding ≡ row-level banding on a clone-heavy corpus") {
    def run(classMinRows: Long) = Dedup.simHashNearDups(
        cloneCorpus, "id", "text", maxHamming = 20, classMinRows = classMinRows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val classes = run(0L)            // forced class banding
    val rowsPath = run(Long.MaxValue) // forced row banding
    assert(classes === rowsPath)
    // the corpus must actually exercise both pair kinds: within-class
    // (hamming 0, the clone self-join) and cross-class (hamming > 0)
    assert(classes.exists(_._3 == 0), "no identical-fingerprint pairs — corpus degenerate")
    assert(classes.exists(_._3 > 0), "no cross-class pairs — corpus degenerate")
  }

  test("dedupSpans hot-gram split ≡ single shuffle join on a clone-heavy corpus") {
    val sp = spark
    import sp.implicits._
    // a 6-token passage shared by 40 docs -> its 4-grams have df=40 >= 8
    // (hot by construction); unique pre/suffixes keep docs distinct; 10
    // wholly unique docs must pass through verbatim on both paths
    val shared = "copy aa bb cc dd ee"
    val docs = ((0 until 40).map(i => (i.toLong, s"pre$i $shared post$i")) ++
      (100 until 110).map(i => (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e")))
      .toDF("doc_id", "text")
    def run(minSplit: Long) = Dedup.dedupSpans(docs, "doc_id", "text", w = 4,
        hotDf = 8, minHotOcc = minSplit)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val split = run(0L)              // forced hot/cold split
    val plain = run(Long.MaxValue)   // forced single join
    assert(split === plain)
    // doc 0 keeps the first occurrence; every later clone loses the span
    assert(split(0L) === s"pre0 $shared post0")
    assert(split(1L) === "pre1 post1")
    assert(split(105L) === "u105a u105b u105c u105d u105e")
  }

  test("decontaminateNgrams: forced equi-join path ≡ broadcast path") {
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 7)
    val eval = docs.filter(pmod(col("doc_id"), lit(20)) === 7)
    def run(maxB: Long) = Dedup.decontaminateNgrams(train, eval,
        "doc_id", "text", w = 8, maxBroadcast = maxB)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(run(0L) === run(8000000L))
  }

  // ---- joint LSH auto-config policy ([[Dedup.autoLshConfig]])

  test("autoLshConfig: recall floor holds when feasible, tables scale with n, cap respected") {
    val anchor = 0.9
    // feasibility regime: estimated recall at the anchor meets the target
    Seq(1000L, 100000L, 2000000L).foreach { n =>
      val (b, t) = Dedup.autoLshConfig(n, anchor, targetRecall = 0.9, maxTables = 64)
      assert(t <= 64)
      val est = Dedup.lshRecallEstimate(anchor, b, t)
      assert(est >= 0.9, s"n=$n -> ($b bits, $t tables) est recall $est < 0.9")
    }
    // tables grow with corpus size (the r10 defect was a FIXED 12)
    val t1 = Dedup.autoLshConfig(2000L, anchor)._2
    val t2 = Dedup.autoLshConfig(2000000L, anchor)._2
    assert(t2 > t1, s"tables must scale with n: $t1 -> $t2")
    // infeasible regime (low anchor, tight cap): capped and best-effort
    val (bi, ti) = Dedup.autoLshConfig(100000000L, 0.5, targetRecall = 0.99,
      maxTables = 8)
    assert(ti <= 8 && bi >= 4)
  }

  test("LSH auto-config: empirical recall on cos>=0.9 pairs meets the modeled floor") {
    val emb = sf("embeddings")
    val close = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingNearDupsLsh(emb, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (close.nonEmpty) {
      val recall = close.count(auto.contains).toDouble / close.size
      // modeled floor is 0.9 at the anchor; 0.75 allows small-sample noise
      // (pairs sit AT various cosines above 0.9, each an independent draw)
      assert(recall >= 0.75, s"recall on cos>=0.9 pairs was $recall")
    }
  }
}
