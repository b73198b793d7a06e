package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.encoders.PassthroughEncoder

/** Law: a single-chunk cell scan finished on the driver returns exactly the
  * rows of the distributed merge → payload-join route (forced by a payload
  * broadcast cap of 0) — every output column, raw `sim_val` bits included —
  * for every [[CellScan]] kind under cos, l2 and ip — IVF over each storage,
  * bare codes, exact search as the one-cell case (Flat, `SQfp16`, and a
  * joint-auto `LSH0` that resolves degenerate and so routes to the exact
  * scan), and HNSW's graph scorer, both exhaustive (graphs no larger than
  * `efSearch`) and beam-searching one graph of ≥ 48 rows at `efSearch` 8.
  * Batches hold duplicate query ids, a null-vector query,
  * separator-truncated items and fresh vectors; corpora hold planted
  * duplicates (ties fall on `row_id`), and probing one or two of eight
  * cells leaves some queries short of k hits. */
class DriverFinishLawSpec extends SparkSpec {

  private val beamHnsw = "HNSW8 (one graph, efSearch 8)"
  private val kinds = Seq("IVF8", "IVF8,SQfp16", "IVF8,SQ8", "IVF8,PQ4", "PQ4", "SQ8",
    "Flat", "SQfp16", "LSH0", "HNSW8", beamHnsw)
  private val cap = "graft.search.payloadBroadcastByteCap"
  private val vecType = ArrayType(FloatType, containsNull = false)

  private def vec(rnd: scala.util.Random, dim: Int) = Array.fill(dim)(rnd.nextGaussian().toFloat)

  private def corpus(rnd: scala.util.Random, n: Int, dim: Int): DataFrame = {
    val vs = (0 until n).foldLeft(Vector.empty[Array[Float]]) { (acc, i) =>
      acc :+ (if (i % 5 == 4) acc(rnd.nextInt(i)) else vec(rnd, dim))
    }
    spark.createDataFrame(java.util.Arrays.asList(vs.indices.map(i =>
      Row(i.toLong, s"v$i#doc", vs(i).toSeq, s"tag$i")): _*), StructType(Seq(
      StructField("vec_id", LongType, nullable = false), StructField("item", StringType),
      StructField("embedding", vecType), StructField("tag", StringType))))
  }

  /** Query rows `(qid, item, embedding)`: qid 1 twice (one copy of a stored
    * vector, one fresh), qid 2 twice with the same vector, a null vector. */
  private def queries(rnd: scala.util.Random, dim: Int, stored: Seq[Array[Float]]): DataFrame = {
    val same = vec(rnd, dim)
    val rows = Seq[(Long, Array[Float])](1L -> stored(rnd.nextInt(stored.length)), 1L -> vec(rnd, dim),
      2L -> same, 2L -> same, 3L -> null, 4L -> vec(rnd, dim), 5L -> stored.head)
    spark.createDataFrame(java.util.Arrays.asList(rows.zipWithIndex.map { case ((q, v), i) =>
      Row(q, s"q$i#src", Option(v).map(_.toSeq).orNull) }: _*), StructType(Seq(
      StructField("qid", LongType, nullable = false), StructField("item", StringType),
      StructField("embedding", vecType))))
  }

  private val shape = for {
    dim <- Gen.choose(1, 4).map(_ * 4); n <- Gen.choose(24, 64); k <- Gen.choose(1, 12)
    nprobe <- Gen.choose(1, 2); seed <- Gen.long
  } yield (dim, n, k, nprobe, seed)

  /** Every output column, `sim_val` as raw bits, in a total order. */
  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(r =>
    r.toSeq.map {
      case f: Float => java.lang.Float.floatToRawIntBits(f).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def driverFinished(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  for ((kind, ki) <- kinds.zipWithIndex; (metric, mi) <- Seq("cos", "l2", "ip").zipWithIndex)
    test(s"driver finish ≡ distributed merge: $kind, $metric") {
      val law = Prop.forAllNoShrink(shape) { case (dim, n, k, nprobe, seed) =>
        val rnd = new scala.util.Random(seed)
        val items = corpus(rnd, if (kind == beamHnsw) n max 48 else n, dim)
        val stored = items.collect().toSeq.map(_.getSeq[Float](2).toArray)
        val q = queries(rnd, dim, stored)
        val params = SearcherParams(itemCol = Some("item"), idCol = Some("vec_id"),
          measurement = metric, indexParam = kind, nprobe = nprobe, docFeatureSep = Some("#"),
          queryFeatureSep = Some("#"))
        val model = new SparkSearcher(new PassthroughEncoder("embedding"),
          if (kind != beamHnsw) params
          else params.copy(indexParam = "HNSW8", hnswGraphs = 1, efSearch = 8)).fit(items)
        try {
          // named ids (duplicates, a null vector) and positional ids
          def both(): Seq[DataFrame] = Seq(
            model.search(q, k, keepRankNo = true, queryIdCol = Some("qid")),
            model.search(q.drop("qid"), k, keepRankNo = true))
          val driver = both()
          spark.conf.set(cap, "0")
          val distributed = try both() finally spark.conf.unset(cap)
          (kind != "LSH0" || model.lshServeExact) &&
          driver.forall(driverFinished) && !distributed.exists(driverFinished) &&
            driver.zip(distributed).forall { case (a, b) => rows(a) == rows(b) } &&
            rows(driver.head).exists(_.contains("tag"))
        } finally model.unpersist()
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2)
        .withInitialSeed(Seed(ki * 3L + mi)), law)
      assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    }

  test("a query vector with a NaN or infinite component gets no hits, like a null one") {
    val rnd = new scala.util.Random(17)
    val dim = 8
    val items = corpus(rnd, 120, dim)
    val good = Seq.fill(3)(vec(rnd, dim))
    def bad(f: Int, x: Float) = { val v = vec(rnd, dim); v(f) = x; v }
    val qs = good.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++ Seq(
      10L -> bad(0, Float.NaN), 11L -> bad(dim - 1, Float.PositiveInfinity),
      12L -> bad(3, Float.NegativeInfinity), 13L -> null)
    def frame(rs: Seq[(Long, Array[Float])]) = spark.createDataFrame(
      java.util.Arrays.asList(rs.map { case (q, v) => Row(q, s"q$q", Option(v).map(_.toSeq).orNull) }: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false), StructField("item", StringType),
        StructField("embedding", vecType))))
    for (kind <- Seq("Flat", "IVF8", "HNSW8", "PQ4"); metric <- Seq("cos", "l2")) {
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("item"), idCol = Some("vec_id"), measurement = metric,
          indexParam = kind, nprobe = 2)).fit(items)
      try {
        def run(rs: Seq[(Long, Array[Float])]) =
          rows(model.search(frame(rs), 5, keepRankNo = true, queryIdCol = Some("qid")))
        val alone = run(qs.take(3))
        assert(alone.length == 15, s"$kind $metric")
        assert(run(qs) == alone, s"$kind $metric: driver finish")
        spark.conf.set(cap, "0")
        try assert(run(qs) == alone, s"$kind $metric: distributed merge")
        finally spark.conf.unset(cap)
      } finally model.unpersist()
    }
    // a probe of another width fails with the kernels' message
    val ivf = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("item"), idCol = Some("vec_id"), measurement = "l2",
        indexParam = "IVF8", nprobe = 2)).fit(items)
    try {
      val e = intercept[IllegalArgumentException](ivf.search(frame(Seq(0L -> vec(rnd, dim - 1))), 5,
        queryIdCol = Some("qid")))
      assert(e.getMessage == s"vector dimension mismatch: ${dim - 1} vs $dim")
    } finally ivf.unpersist()
  }

  /** Runs `body` and returns its value with the jobs it ran, in the order
    * the listener saw their events: `(start, job id, stage names)` and
    * `(end, job id, Nil)`. */
  private def observed[T](body: => T): (T, Seq[(Boolean, Int, Seq[String])]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Int, Seq[String])]
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.job.description") == "drain") drained = true
        else events.add((true, j.jobId, j.stageInfos.map(_.name)))
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        events.add((false, j.jobId, Nil))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try body finally {
      // listener events arrive in order: once the drain job is seen, every
      // job of `body` has been recorded
      spark.sparkContext.setJobDescription("drain")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(drained)
    import scala.jdk.CollectionConverters._
    (out, events.asScala.toSeq)
  }

  private def queryFrame(rnd: scala.util.Random, n: Int, dim: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList((0 until n).map(i =>
      Row(i.toLong, s"q$i", vec(rnd, dim).toSeq)): _*), StructType(Seq(
      StructField("qid", LongType, nullable = false), StructField("item", StringType),
      StructField("embedding", vecType))))

  for (kind <- Seq("IVF0", "HNSW8"))
    test(s"a loaded $kind index serves 16 local queries as one job and a local scan") {
      val rnd = new scala.util.Random(7)
      val items = corpus(rnd, 600, 16)
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("item"), idCol = Some("vec_id"), measurement = "cos",
          indexParam = kind)).fit(items)
      val dir = java.nio.file.Files.createTempDirectory("graft-driver-finish").toString + "/index"
      model.save(dir)
      model.unpersist()
      val loaded = SparkSearcher.load(spark, dir)
      val q = queryFrame(rnd, 16, 16)
      val ((res, out), events) = observed {
        val res = loaded.search(q, 10, keepRankNo = true, queryIdCol = Some("qid"))
        (res, res.collect())
      }
      val jobs = events.count(_._1)
      assert(jobs == 1, s"search + collect ran $jobs jobs")
      assert(driverFinished(res), res.queryExecution.executedPlan.toString)
      assert(out.length == 160 && out.map(_.getAs[Long]("qid")).toSet == (0L until 16L).toSet)
      loaded.unpersist()
    }

  test("a batch of several query chunks is scanned one chunk at a time") {
    import org.apache.spark.sql.functions.col
    import SparkSearcher.{QID, QVEC, ROW_ID, VEC}
    val rnd = new scala.util.Random(13)
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("item"), idCol = Some("vec_id"), measurement = "l2",
        indexParam = "IVF8", nprobe = 2)).fit(corpus(rnd, 300, 8))
    // an RDD-backed batch: collecting a chunk runs a job the listener sees
    val local = queryFrame(rnd, 50, 8)
    val q = spark.createDataFrame(spark.sparkContext.parallelize(local.collect().toSeq, 2),
      local.schema).select(col("qid").as(QID), col("embedding").as(QVEC))
    def run(chunk: Int) = CellScan.topK(model.indexed.select(col(ROW_ID), col(VEC),
        col(IvfIndex.CID)), q, IvfKernels.probes(_, CentroidIndex.forCentroids(model.fittedCentroids.get), 2),
      5, asc = true,
      chunk)(CellScan.floats("l2", 2.0))
    try {
      val (chunked, events) = observed(run(7)) // 50 queries → 8 chunks
      // the chunk collects (of InternalRows, executeCollect): the one collect
      // call site that ran once per chunk
      val starts = events.filter(_._1)
      val collects = starts.flatMap(_._3.headOption).filter(_.startsWith("executeCollect at"))
      val chunkSite = collects.groupBy(identity).collectFirst { case (site, n) if n.size == 8 => site }
      assert(chunkSite.nonEmpty, s"no collect ran once per chunk: $collects")
      val at = events.zipWithIndex
      val chunkJobs = at.collect { case ((true, id, names), i) if names.headOption == chunkSite => (id, i) }
      def endOf(id: Int) = at.collectFirst { case ((false, `id`, _), i) => i }.get
      // between two chunk collects, a scan job of the earlier chunk ran to
      // its end: the next chunk is collected only after it
      chunkJobs.sliding(2).foreach { case Seq((prev, _), (_, nextStart)) =>
        val scans = at.collect { case ((true, id, names), i) if i > endOf(prev) &&
          names.exists(_.startsWith("localCheckpoint at")) && endOf(id) < nextStart => id }
        assert(scans.nonEmpty, s"chunk after job $prev collected before its scan finished: " +
          events.mkString("\n"))
      }
      def sorted(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(sorted(chunked) == sorted(run(Int.MaxValue)))
    } finally model.unpersist()
  }
}
