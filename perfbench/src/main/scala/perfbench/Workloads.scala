package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.Dedup
import graft.encoders.PassthroughEncoder
import graft.search.{SearcherModel, SearcherParams, SparkSearcher}
import graft.text.TextAnalysis

import Run.{median, timed}

/** One seeded workload. `setup` builds the inputs (part of `setup_s`,
  * several times per run). The timed section runs `cycle` several times,
  * each a complete pass of the workload that adds one sample or more to
  * each end-to-end timing (the run reports their medians, so one slow
  * call does not set a metric alone).
  * `finish` then runs the untimed calls that follow the cycles, sets
  * `quality_ratio`, runs the whole-run checks and, in the traced run only,
  * measures the per-layer ratios and kernel timings outside the timed
  * section. Each workload is one closed-loop client:
  * every call waits for the previous one. */
trait Workload[I] {
  def setup(r: Run): I
  def cycle(r: Run, in: I): Unit
  def finish(r: Run, in: I): Unit
  /** Removes what `setup` wrote to disk, so repeated set-ups start equal. */
  def discard(in: I): Unit = ()
}

/** Vector inputs and search calls of the `search` workload. */
object Vectors {
  val Dim = 64
  val K = 10
  val SmallBatch = 16
  val Enc = new PassthroughEncoder("embedding")

  private val VecType = ArrayType(FloatType, containsNull = false)
  val CorpusSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("embedding", VecType, nullable = false)))
  val QuerySchema = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("embedding", VecType, nullable = false)))

  def params(indexParam: String): SearcherParams = SearcherParams(
    itemCol = Some("id"), idCol = Some("id"), measurement = "cos",
    indexParam = indexParam, nprobe = 0, efSearch = 0)

  /** The vectors stored as a corpus, ids `from` on. */
  def corpus(r: Run, vecs: Array[Array[Float]], from: Long = 0): DataFrame =
    r.store(vecs.indices.map(i => Row(from + i, vecs(i).toSeq)), CorpusSchema)

  def queries(r: Run, pool: Array[Array[Float]], idx: Seq[Int]): DataFrame =
    r.frame(idx.map(i => Row(i.toLong, pool(i).toSeq)), QuerySchema)

  /** Top-k of the pool queries `idx`; checks the row count and that every
    * query got k distinct hits. Returns query index -> hit ids. */
  def serve(r: Run, m: SearcherModel, pool: Array[Array[Float]], idx: Seq[Int]): Map[Int, Set[Long]] = {
    val rows = m.search(queries(r, pool, idx), K, queryIdCol = Some("qid"))
      .select("qid", "sim_item").collect()
    val hits = rows.groupBy(_.getLong(0).toInt).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    r.check(rows.length == idx.length * K && hits.size == idx.length &&
      hits.values.forall(_.size == K),
      s"search of ${idx.length} queries returned ${rows.length} rows (want ${idx.length * K})")
    hits
  }

  /** Mean recall@k of served queries against the exact top-k. */
  final class Recall(truth: Array[Array[Long]]) {
    private var sum = 0.0; private var n = 0
    def add(hits: Map[Int, Set[Long]]): Unit = hits.foreach { case (q, h) =>
      sum += truth(q).count(h.contains).toDouble / K; n += 1
    }
    def value: Double = if (n == 0) 0.0 else sum / n
    def count: Int = n
  }

  /** Cycles through the query pool in fixed-size batches. */
  final class Batches(poolSize: Int) {
    private var next = 0
    def take(b: Int): Seq[Int] = { val s = (0 until b).map(i => (next + i) % poolSize); next = (next + b) % poolSize; s }
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  /** ns per call of the engine's cosine kernel and per insert into the
    * bounded top-k buffer, each the median of five timed passes. */
  def kernelTimings(r: Run, vecs: Array[Array[Float]]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val arr = vecs.take(256).map(v => UnsafeArrayData.fromPrimitiveArray(v): org.apache.spark.sql.catalyst.util.ArrayData)
    var sink = 0.0
    def cosPass(): Double = {
      val t0 = System.nanoTime(); var n = 0L
      var i = 0
      while (i < arr.length) {
        var j = 0
        while (j < arr.length) { sink += graft.functions.VectorKernels.cosine(arr(i), arr(j)); j += 1; n += 1 }
        i += 1
      }
      (System.nanoTime() - t0).toDouble / n
    }
    val rnd = new java.util.SplittableRandom(r.seed)
    val ds = Array.fill(1 << 20)(rnd.nextDouble())
    def topkPass(): Double = {
      val buf = new graft.search.TopKBuffer(K, asc = false)
      val t0 = System.nanoTime()
      var i = 0
      while (i < ds.length) { buf.insert(ds(i), i.toLong); i += 1 }
      sink += buf.size
      (System.nanoTime() - t0).toDouble / ds.length
    }
    (0 until 3).foreach { _ => cosPass(); topkPass() } // JIT warm-up
    r.layer("functions.cosine_ns") = median(Seq.fill(5)(cosPass()))
    r.layer("search.topk_insert_ns") = median(Seq.fill(5)(topkPass()))
    r.facts("kernel_checksum") = sink
  }
}

final case class IvfIn(vecs: Array[Array[Float]], corpus: DataFrame,
    pool: Array[Array[Float]], truth: Array[Array[Long]],
    added: Array[Array[Float]], segment: DataFrame) {
  val recall = new Vectors.Recall(truth)
  val batches = new Vectors.Batches(pool.length)
  var model: Option[(SearcherModel, String)] = None
}

/** Build -> save -> load -> serve on the engine's default auto IVF path;
  * after the last cycle, one `add()` segment read back by its own vectors
  * (checked and traced, timed in no end-to-end metric). Small batches
  * pay per-call driver cost, bulk batches mostly executor task time
  * (distance kernels, top-k). */
object IvfServe extends Workload[IvfIn] {
  import Vectors._
  private val Steps = 5
  private val BulkBatches = 2
  private val Bulk = 1200

  def setup(r: Run): IvfIn = {
    val mix = new Inputs.Mixture(r.seed, Dim, 48, 1.5)
    val vecs = mix.draw(r.sized(16000, 500))
    val pool = mix.draw(r.sized(Bulk, 64))
    val added = mix.draw(r.sized(200, 20))
    IvfIn(vecs, corpus(r, vecs), pool, Inputs.exactTopK(vecs, pool, K),
      added, corpus(r, added, vecs.length))
  }

  def cycle(r: Run, in: IvfIn): Unit = {
    val path = new java.io.File(r.freshDir("ivf"), "index").getPath
    in.model.foreach(_._1.unpersist())
    val (_, buildS) = timed {
      val m = r.span("search.fit")(new SparkSearcher(Enc, params("IVF0")).fit(in.corpus))
      r.span("search.save")(m.save(path))
      m.unpersist()
    }
    val (model, openS) = timed {
      val l = r.span("search.load")(SparkSearcher.load(r.spark, path, Enc))
      in.recall.add(r.span("search.query")(serve(r, l, in.pool, in.batches.take(SmallBatch))))
      l
    }
    in.model = Some((model, path))
    r.sample("build_s", buildS)
    r.sample("open_s", openS)
    (0 until Steps).foreach { _ =>
      val (hits, s) = timed(r.span("search.query")(serve(r, model, in.pool, in.batches.take(SmallBatch))))
      in.recall.add(hits)
      r.sample("step_p50_s", s)
    }
    val bulk = in.pool.indices
    (0 until BulkBatches).foreach { _ =>
      val (_, bulkS) = timed(in.recall.add(r.span("search.bulk")(serve(r, model, in.pool, bulk))))
      r.sample("bulk_per_s", bulk.length / bulkS)
    }
  }

  override def discard(in: IvfIn): Unit = in.model.foreach(_._1.unpersist())

  def finish(r: Run, in: IvfIn): Unit = {
    r.e2e("quality_ratio") = in.recall.value
    r.check(in.recall.value >= 0.9, f"ivf_serve recall@10 ${in.recall.value}%.4f below 0.9")
    r.facts ++= Seq("corpus" -> in.vecs.length, "added" -> in.added.length,
      "bulk_queries" -> in.pool.length, "recall_queries" -> in.recall.count)
    // add() retires the served model; the grown one is read back by the
    // added vectors, each of which must find itself
    val (served, path) = in.model.get
    val model = r.span("search.add") {
      val g = served.add(in.segment)
      val hits = serve(r, g, in.added, in.added.indices)
      r.check(hits.forall { case (q, h) => h.contains(in.vecs.length.toLong + q) },
        "a vector added with add() is not its own nearest neighbour")
      g
    }
    in.model = Some((model, path))
    if (r.tracer.enabled) {
      val nprobe = model.describe.select("resolved_nprobe").head().getInt(0)
      r.layer("search.scan_fraction") = nprobe.toDouble / model.fittedCentroids.get.length
      r.layer("search.index_bytes_ratio") =
        dirBytes(new java.io.File(path)).toDouble / (in.vecs.length * Dim * 4L)
      kernelTimings(r, in.vecs)
    }
  }
}

final case class CurateIn(corpus: Inputs.Corpus, docs: DataFrame, root: java.io.File,
    base: Seq[java.io.File], drops: Seq[java.io.File]) {
  var dupRecall = 0.0
  var streamBatches = 0
  /** Survivors of the batch run of the stream's guard: one doc per
    * distinct `simHash62` fingerprint. */
  lazy val guardSurvivors: Long =
    docs.select(Dedup.simHash62(col("text"))).distinct().count()
}

/** Corpus curation: the batch dedup chain and a one-pass quality filter,
  * then the same documents ingested as files through the streaming
  * near-dup guard. No `search` work: the control for search changes. */
object Curate extends Workload[CurateIn] {
  private val Drops = 3
  private val FilterPasses = 3
  private val T0Ns = 1700000000L * 1000000000L
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false), StructField("ts", LongType, nullable = false)))

  private def writeJson(f: java.io.File, docs: Seq[Inputs.Doc]): java.io.File = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    // ids 1 µs apart: every document lies inside the guard's 1-hour
    // watermark, so the stream keeps state for all of them
    try docs.foreach(d => w.println(s"""{"doc_id":${d.id},"text":"${d.text}","ts":${T0Ns + d.id * 1000}}"""))
    finally w.close()
    f
  }

  def setup(r: Run): CurateIn = {
    val c = Inputs.corpus(r.seed, r.sized(6000, 400), 60, r.sized(120, 8), r.sized(120, 8))
    val docs = r.store(c.docs.toSeq.map(d => Row(d.id, d.text, T0Ns + d.id * 1000)), DocSchema)
    val root = r.freshDir("curate")
    val dropSize = r.sized(100, 10)
    val nBase = c.docs.length - Drops * dropSize
    val base = c.docs.take(nBase).grouped((nBase + 3) / 4).zipWithIndex.map { case (g, i) =>
      writeJson(new java.io.File(root, f"base-$i%02d.json"), g.toSeq)
    }.toSeq
    val drops = c.docs.drop(nBase).grouped(dropSize).zipWithIndex.map { case (g, i) =>
      writeJson(new java.io.File(root, f"drop-$i%02d.json"), g.toSeq)
    }.toSeq
    CurateIn(c, docs, root, base, drops)
  }

  override def discard(in: CurateIn): Unit = Run.deleteTree(in.root)

  /** Candidate pairs of the OPH scheme `dedupCluster` and `dedupCorpus` run
    * by default (5-char shingles, 64 bins, 8 bands): distinct id pairs that
    * share a band key, computed on the driver with the engine's own
    * signature and band kernels. */
  private def ophCandidates(docs: Array[Inputs.Doc]): Long = {
    val (n, bins, bands) = (5, 64, 8)
    val (ca, cb) = Dedup.minHashCoefficients(bins / bands)
    val byKey = docs.flatMap { d =>
      val st = graft.dedup.OphSigKernel.ophSig(UTF8String.fromString(d.text), n, ca, cb, bins)
      if (st.getInt(0) == 0) Nil
      else {
        val keys = graft.dedup.ShingleKernels.bandKeys(st.getArray(1), bands, bins / bands)
        (0 until bands).map(b => (b, keys.getLong(b)) -> d.id)
      }
    }.groupBy(_._1).values
    byKey.flatMap(g => g.map(_._2).sorted.combinations(2).map(p => (p(0), p(1)))).toSet.size.toLong
  }

  private def keep(text: org.apache.spark.sql.Column) =
    TextAnalysis.gopherFlags(text).getField("keep") === 1 && TextAnalysis.qualityScore(text) >= 0.9

  private def copyInto(f: java.io.File, dir: java.io.File): Unit =
    java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)

  def cycle(r: Run, in: CurateIn): Unit = {
    val c = in.corpus
    val n = c.docs.length
    // batch phase: exact -> near-dup clusters -> keep-one corpus
    val ((exactRows, comps, survivors), buildS) = timed {
      val ex = r.span("dedup.exact")(Dedup.exact(in.docs, Seq("text"), "doc_id")
        .filter(col("n_dups") > 1).select("keep_id", "n_dups").collect())
      val cl = r.span("dedup.cluster")(Dedup.dedupCluster(in.docs, "doc_id", "text")
        .select("id", "component", "is_canonical").collect())
      val out = r.span("dedup.corpus") {
        val o = Dedup.dedupCorpus(in.docs, "doc_id", "text").persist()
        o.count(); o
      }
      (ex, cl, out)
    }
    r.sample("build_s", buildS)
    val keptIds = survivors.select("doc_id").collect().map(_.getLong(0))
    val kept = keptIds.toSet
    val filtered = (0 until FilterPasses).map { _ =>
      val (f, filterS) = timed(r.span("text.filter")(
        survivors.filter(keep(col("text"))).select("doc_id").collect()))
      r.sample("bulk_per_s", kept.size / filterS)
      f
    }.last
    survivors.unpersist()

    // ingest phase: the base files cold, then one drop file per call;
    // then the base files cold once more into fresh state, a second
    // `open_s` sample
    final class Stream {
      val dir = r.freshDir("stream")
      val src = new java.io.File(dir, "src"); src.mkdirs()
      in.base.foreach(copyInto(_, src))
      val sink = new java.io.File(dir, "sink").getPath
      private val ckpt = new java.io.File(dir, "ckpt").getPath
      def ingest(): Unit = r.span("streaming.ingest") {
        val stream = r.spark.readStream.schema(DocSchema).json(src.getPath)
        val q = graft.streaming.StreamingOps.nearDupDedupStream(stream, "text", "ts")
          .writeStream.format("parquet").option("path", sink).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        in.streamBatches += q.recentProgress.length
        r.check(q.exception.isEmpty, s"stream failed: ${q.exception}")
      }
    }
    val main = new Stream
    r.sample("open_s", timed(main.ingest())._2)
    in.drops.foreach { f =>
      copyInto(f, main.src)
      r.sample("step_p50_s", timed(main.ingest())._2)
    }
    val again = new Stream
    r.sample("open_s", timed(again.ingest())._2)
    val sink = main.sink

    // output checks
    val want = c.exactGroups.map(g => (g.min, g.size.toLong)).toSet
    val got = exactRows.map(row => (row.getLong(0), row.getLong(1))).toSet
    r.check(got == want, s"Dedup.exact found ${got.size} duplicate groups, planted ${want.size}")
    val members = comps.map(row => (row.getLong(0), row.getLong(1), row.getBoolean(2)))
    val comp = members.map(m => m._1 -> m._2).toMap
    val pairs = c.clusters.flatMap(_.combinations(2))
    val found = pairs.count { case Seq(a, b) => comp.get(a).exists(comp.get(b).contains) }
    in.dupRecall = found.toDouble / pairs.length
    r.check(in.dupRecall >= 0.9, f"dup_recall ${in.dupRecall}%.4f below 0.9")
    // every component lies inside one planted cluster and has one canonical member
    val clusterOf = c.clusters.zipWithIndex.flatMap { case (ids, k) => ids.map(_ -> k) }.toMap
    val components = members.groupBy(_._2).values
    r.check(components.forall(ms => ms.map(m => clusterOf.get(m._1)).distinct.length == 1 &&
      clusterOf.contains(ms.head._1) && ms.count(_._3) == 1),
      "dedupCluster merged planted clusters or unplanted documents, or a component lacks one canonical id")
    // dedupCorpus keeps exactly the documents dedupCluster marks canonical or leaves alone
    val dropped = members.collect { case (id, _, false) => id }.toSet
    val expected = (0L until n).filterNot(dropped).toSet
    r.check(keptIds.length == expected.size && kept == expected,
      s"dedupCorpus kept ${keptIds.length} documents, dedupCluster implies ${expected.size}")
    val whole = c.clusters.filter(ids => ids.map(comp.get).distinct.length == 1 && comp.contains(ids.head))
    r.check(whole.forall(_.count(kept.contains) == 1),
      "dedupCorpus kept other than one document of a planted cluster found whole")
    val keptAfterFilter = filtered.map(_.getLong(0)).toSet
    r.check(keptAfterFilter == kept -- c.junk,
      s"quality filter kept ${keptAfterFilter.size} documents, want the ${(kept -- c.junk).size} non-junk survivors")
    val streamed = r.spark.read.parquet(sink).count()
    r.check(streamed == in.guardSurvivors,
      s"stream kept $streamed docs, the batch guard keeps ${in.guardSurvivors}")
    r.facts ++= Seq("docs" -> n, "planted_clusters" -> c.clusters.length,
      "planted_pairs" -> pairs.length, "decoy_pairs" -> c.decoys.length, "found_whole" -> whole.length, "survivors" -> kept.size,
      "filtered" -> keptAfterFilter.size, "streamed" -> streamed,
      "drops" -> in.drops.length, "filter_passes" -> FilterPasses)
  }

  def finish(r: Run, in: CurateIn): Unit = {
    r.e2e("quality_ratio") = in.dupRecall
    r.layer("streaming.batches") = in.streamBatches.toDouble / r.cycles
    if (r.tracer.enabled) {
      val verified = Dedup.minHashNearDupsOph(in.docs, "doc_id", "text").count()
      val candidates = ophCandidates(in.corpus.docs)
      r.check(verified <= candidates, s"OPH verified $verified pairs out of $candidates candidates")
      r.layer("dedup.verify_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    }
  }
}
