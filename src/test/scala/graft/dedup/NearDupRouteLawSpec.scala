package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Law: the driver route of the minhash family's verify ([[NearDupRoute]])
  * gives exactly the rows of the distributed route, forced by a cap of 0 —
  * `minHashNearDups` and `minHashNearDupsOph` pairs with raw `jaccard`
  * bits, `dedupCluster` labels and `dedupCorpus` survivors under both
  * schemes — over corpora of planted clones, edited copies, decoys at
  * Jaccard ~0.55, docs shorter than the shingle width, a null text,
  * non-ASCII text, and a computed input that takes the
  * `rescanIsExpensive` persist. Also: the union-find kernel agrees with
  * both contractions on random graphs, and a small `dedupCluster` runs at
  * most 4 jobs into a local scan. */
class NearDupRouteLawSpec extends SparkSpec {

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey", "xray")

  /** `(doc_id, text)` rows: fresh docs, clones, one-word edits, copies
    * with every 15th or 18th word replaced, decoys with every third, and
    * the edge rows. */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def fresh() = Array.fill(24 + rnd.nextInt(16))(words(rnd.nextInt(words.length)) +
      rnd.nextInt(50))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (texts.length < n) {
      val t = fresh()
      texts += t.mkString(" ")
      rnd.nextInt(6) match {
        case 0 => texts += t.mkString(" ")
        case 1 =>
          val c = t.clone(); c(rnd.nextInt(c.length)) = "edit" + rnd.nextInt(9)
          texts += c.mkString(" ")
        case 2 =>
          val c = t.clone()
          c.indices.filter(_ % 3 == 2).foreach(i => c(i) = "decoy" + rnd.nextInt(1000))
          texts += c.mkString(" ")
        case k @ (3 | 4) =>
          // Jaccard ~0.7–0.85: such pairs often share a single band
          val c = t.clone()
          c.indices.filter(_ % (6 + 3 * k) == 3).foreach(i => c(i) = "mid" + rnd.nextInt(1000))
          texts += c.mkString(" ")
        case _ => ()
      }
    }
    val rows = texts.map(Option(_)) ++ Seq(Some("abc"), Some(""), Some("xy"), None,
      Some("Größe über Straße, naïve café — 日本語のテキスト " * 2),
      Some("Größe über Straße, naïve café — 日本語のテキスト " * 2 + "!"))
    val shuffled = rnd.shuffle(rows.toSeq)
    // an RDD leaf, so a projection over it stays a projection (a local
    // relation would fold the computed input below into itself)
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled.zipWithIndex.map { case (t, i) =>
      Row(i.toLong * 7 - 100, t.orNull) }, 3), StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType))))
  }

  /** The same rows through a projection the persist heuristic calls
    * expensive (identity on the text), with a nullable id that is null on
    * one row. */
  private def computed(df: DataFrame): DataFrame = {
    val c = df.select(when(col("doc_id") =!= -100L, col("doc_id")).as("doc_id"),
      array_join(filter(split(col("text"), " ", -1), t => length(t) >= 0), " ").as("text"))
    assert(Dedup.rescanIsExpensive(c))
    c
  }

  /** Every column, doubles as raw bits, in a total order. */
  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(r =>
    r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def local(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  private val shape = for {
    n <- Gen.choose(40, 90); threshold <- Gen.oneOf(0.5, 0.7); seed <- Gen.long
  } yield (n, threshold, seed)

  test("driver route ≡ distributed route: pairs, clusters and survivors, both schemes") {
    val law = Prop.forAllNoShrink(shape) { case (n, threshold, seed) =>
      val base = corpus(seed, n)
      Prop.all(Seq(base, computed(base)).map { df =>
        val input = if (df eq base) "bare" else "computed"
        def runs: Seq[DataFrame] = Seq(
          Dedup.minHashNearDups(df, "doc_id", "text", 5, 64, 8, threshold),
          Dedup.minHashNearDupsOph(df, "doc_id", "text", 5, 64, 8, threshold),
          Dedup.dedupCluster(df, "doc_id", "text", 5, 64, 8, threshold),
          Dedup.dedupCluster(df, "doc_id", "text", 5, 64, 8, threshold, scheme = "classic"),
          Dedup.dedupCorpus(df, "doc_id", "text", 5, 64, 8, threshold),
          Dedup.dedupCorpus(df, "doc_id", "text", 5, 64, 8, threshold, scheme = "classic"))
        val names = Seq("minHashNearDups", "minHashNearDupsOph", "dedupCluster oph",
          "dedupCluster classic", "dedupCorpus oph", "dedupCorpus classic")
        val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val driver = runs
        // the driver route pins nothing but what dedupCorpus pins for a
        // computed input (its result): no cache, no checkpoint
        val added = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinned).size
        val dist = DedupRoutes.distributed(runs)
        Prop.all(
          (added == (if (df eq base) 0 else 2)) :| s"$input: driver route pinned $added RDDs",
          rows(driver.head).nonEmpty :| s"$input: no pairs",
          driver.take(4).forall(local) :| s"$input: driver route planned no local scan",
          !dist.exists(local) :| s"$input: forced route planned a local scan") &&
          Prop.all(names.indices.map(i =>
            (driver(i).schema == dist(i).schema && rows(driver(i)) == rows(dist(i))) :|
              s"$input ${names(i)}: routes differ"): _*)
      }: _*)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2)
      .withInitialSeed(Seed(12L)), law)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("candidates: every band's buckets pair their rows, one id never pairs itself") {
    // rows 0..4, 2 bands; ids 5 and 6 twice (rows 1, 4 share id 5)
    val ids = Array(5L, 6L, 9L, 7L, 6L)
    val keys = Array(Array(
      1L, 10L, // row 0
      1L, 11L, // row 1
      2L, 11L, // row 2
      3L, 12L, // row 3
      1L, 12L)) // row 4
    val (uid, packed) = NearDupRoute.candidates(ids, keys, 2, 100L).get
    val got = packed.map(p => (uid((p >>> 32).toInt), uid(p.toInt))).toSeq
    assert(got === Seq((5L, 6L), (6L, 7L), (6L, 9L)))
    assert(NearDupRoute.candidates(ids, keys, 2, 4L).isEmpty, "5 candidate slots over a bound of 4")
  }

  test("candidates ≡ brute force over every band, with the pair bound exact") {
    val shapes = for {
      rows <- Gen.choose(1, 60); bands <- Gen.choose(1, 8); seed <- Gen.long
    } yield (rows, bands, seed)
    val law = Prop.forAllNoShrink(shapes) { case (rows, bands, seed) =>
      val rnd = new scala.util.Random(seed)
      val ids = Array.fill(rows)(rnd.nextInt(rows).toLong - rows / 2)
      val keys = Array.fill(rows * bands)(rnd.nextInt(6).toLong)
      val want = (for {
        x <- 0 until rows; y <- x + 1 until rows
        if ids(x) != ids(y) && (0 until bands).exists(b => keys(x * bands + b) == keys(y * bands + b))
      } yield (ids(x) min ids(y), ids(x) max ids(y))).distinct.sorted
      val bound = (0 until bands).map(b => (0 until rows).groupBy(i => keys(i * bands + b))
        .values.map(g => g.size.toLong * (g.size - 1) / 2).sum).sum
      // two partitions, split anywhere
      val cut = rnd.nextInt(rows + 1)
      val parts = Array(keys.take(cut * bands), keys.drop(cut * bands))
      val (uid, packed) = NearDupRoute.candidates(ids, parts, bands, bound).get
      val got = packed.toSeq.map(p => (uid((p >>> 32).toInt), uid(p.toInt)))
      (got == want) :| s"candidates $got, want $want" &&
        (bound == 0 || NearDupRoute.candidates(ids, parts, bands, bound - 1).isEmpty) :|
          "a bound one short still formed the pairs"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(7L)), law)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("a small dedupCluster runs at most 4 jobs and plans a local scan") {
    val df = corpus(3L, 60)
    df.cache().count()
    val (out, jobs) = try jobsOf {
      val o = Dedup.dedupCluster(df, "doc_id", "text", 5, 64, 8, 0.5)
      o.collect()
      o
    } finally df.unpersist()
    assert(local(out))
    assert(jobs.length <= 4, s"dedupCluster ran ${jobs.length} jobs")
  }

  /** Random graphs: chains, stars, cliques, self-loops, duplicate and
    * reversed pairs, ids near ±2^62. */
  private val graph: Gen[Seq[(Long, Long)]] = for {
    seed <- Gen.long; parts <- Gen.choose(1, 5)
  } yield {
    val rnd = new scala.util.Random(seed)
    val base = Seq(0L, (1L << 62) - 40, -(1L << 62))
    var next = base(rnd.nextInt(base.length))
    def fresh(k: Int) = { val s = next; next += k + rnd.nextInt(3); (0 until k).map(s + _) }
    val edges = (0 until parts).flatMap { _ =>
      rnd.nextInt(4) match {
        case 0 => val c = fresh(2 + rnd.nextInt(10)); c.zip(c.tail)
        case 1 => val c = fresh(2 + rnd.nextInt(8)); c.tail.map(c.head -> _)
        case 2 => val c = fresh(2 + rnd.nextInt(4)); c.combinations(2).map(p => p(0) -> p(1)).toSeq
        case _ => val v = fresh(1).head; Seq(v -> v)
      }
    }
    val extra = edges.take(3).map(_.swap) ++ edges.take(2)
    rnd.shuffle(edges ++ extra)
  }

  test("union-find kernel ≡ distributed star contraction ≡ min-label CC on random graphs") {
    val sp = spark
    import sp.implicits._
    def labels(df: DataFrame): Map[Long, (Long, Boolean)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val law = Prop.forAllNoShrink(graph) { edges =>
      val (ids, comp) = UnionFind.minLabels(edges.map(_._1).toArray, edges.map(_._2).toArray)
      val kernel = ids.indices.map(i => ids(i) -> (comp(i), ids(i) == comp(i))).toMap
      val pairs = edges.toDF("id_a", "id_b")
      ids.toSeq == ids.sorted.toSeq &&
        labels(Dedup.connectedComponents(pairs, "id_a", "id_b", driverFinishEdges = 0L)) == kernel &&
        labels(Dedup.connectedComponentsMinLabel(pairs, "id_a", "id_b")) == kernel
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(4)
      .withInitialSeed(Seed(4L)), law)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
