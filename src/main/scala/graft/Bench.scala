package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.GraftCore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every SparkEntry query executed to completion via a
  * noop sink (forces full computation — `count()` would let Catalyst prune
  * whole subtrees), one JSON line on stdout. */
object Bench {

  /** Contention self-check: queries whose measured min exceeds `k`× their
    * reference (previous builder artifact) min. min-of-2 misses SUSTAINED
    * machine contention — both repeats slow (the r9 driver artifact
    * misreported the flagship query 22× this way) — so the artifact
    * flags itself against the last known-good run instead of waiting for
    * a judge re-measure. Sub-second refs still need a 0.5 s absolute gap:
    * tiny queries jitter multiplicatively without meaning anything. */
  def suspects(current: Map[String, Double], ref: Map[String, Double],
      k: Double = 3.0): Seq[String] =
    current.toSeq.sorted.collect {
      case (name, sec) if ref.get(name).exists(r =>
        r > 0 && sec > k * r && sec - r > 0.5) => name
    }

  /** `queries` map of a prior bench artifact (the full per-query record,
    * not the stdout summary); empty when absent/unparseable — the suspect
    * check degrades to off rather than failing the bench. */
  def loadRef(path: String): Map[String, Double] =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val qs = root.get("queries")
      if (qs == null) Map.empty
      else {
        val it = qs.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += (e.getKey -> e.getValue.asDouble())
        }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }

  /** The `sf` field of a prior bench artifact — None when absent. The
    * suspect/self-heal pass only compares runs at the SAME scale: a 3×
    * threshold against a reference measured on 10× less data would flag
    * every query on every scale probe. */
  def loadRefSf(path: String): Option[String] =
    try {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val sf = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes).get("sf")
      if (sf == null) None else Some(sf.asText())
    } catch { case _: Throwable => None }

  /** Total length of the union of `[start, end]` spans: the time at least
    * one of them covers. The fold starts from an empty span at
    * `Long.MinValue`, which adds 0 (a -1 sentinel seed once made no spans
    * read -1). */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    val (closed, s0, e0) = spans.sortBy(_._1).foldLeft((0L, Long.MinValue, Long.MinValue)) {
      case ((tot, cs, ce), (s, e)) =>
        if (s > ce) (tot + (ce - cs), s, e) else (tot, cs, math.max(ce, e))
    }
    closed + (e0 - s0)
  }

  /** One measured run of a gate: wall seconds, success, and what the
    * session's listener saw during it. */
  private final case class Run(sec: Double, ok: Boolean, gcMs: Long, spill: Long,
      cpuMs: Long, taskMs: Long, jobs: Int, gapSec: Double)

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // JIT/codegen warmup + one scan per table, so the alphabetically-first
    // query doesn't absorb one-time session costs (file listing, footer
    // reads, first-scan codegen) into its number
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // optional arg: comma-separated gate-name filter for local iteration.
    // An explicit list also fixes EXECUTION ORDER (scale-probe protocol:
    // the zero-shuffle control must run before heap-heavy families — a
    // control that ran last behind three heavy families GC-stormed to
    // 241 s in r14 and the artifact was discarded). Full runs stay
    // alphabetical.
    val onlyOrder: Option[Seq[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSeq) else None
    val only: Option[Set[String]] = onlyOrder.map(_.toSet)
    // Hygiene: queries persist/checkpoint intermediates (index fits, dedup
    // shingle tables, CC rounds). In an 81-query single-JVM run those
    // orphaned blocks compound into 4-6× slowdowns on later queries (r3
    // lesson) — so every measured run starts from an empty block manager.
    def clearState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Per-task metric accumulator: a machine-state episode (GC storm, memory
    // pressure → spill) should carry its own diagnosis in the artifact
    // instead of costing a cross-machine triage (r7 lesson: sq4/sq8 driver
    // outliers). Listener delivery is async — flush the bus around each
    // snapshot so deltas attribute to the right run.
    val gcAcc = new AtomicLong; val spillAcc = new AtomicLong
    // task wall (executorRunTime, ms) vs on-CPU (executorCpuTime, ns):
    // their ratio is the in-artifact contention/GC diagnosis — the r16
    // corpus swing (39.6 ↔ 74.0 s on identical code) cost an interleaved
    // old-binary A/B to attribute to slot state; task_ms >> cpu_ms says
    // "the cores were stalled, not busy" without a re-measure
    val cpuAcc = new AtomicLong; val runAcc = new AtomicLong
    // each run's jobs as (start, end) event times in ms: their count, and
    // the wall no job covers (driver gap: planning, driver-side work and
    // file IO between jobs)
    val jobStart = new ConcurrentHashMap[Int, Long]
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach(t0 => jobSpans.add((t0, e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          gcAcc.addAndGet(m.jvmGCTime)
          spillAcc.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          cpuAcc.addAndGet(m.executorCpuTime)
          runAcc.addAndGet(m.executorRunTime)
        }
      }
    })
    def metricSnapshot(): (Long, Long, Long, Long) = {
      GraftCore.flushListenerBus(spark.sparkContext)
      (gcAcc.get, spillAcc.get, cpuAcc.get, runAcc.get)
    }
    // min-of-2 per query: one-off GC pauses / page-cache misses stop moving
    // the official number; repeats run back-to-back for OS-cache locality
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt)
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      clearState()
      val (gc0, sp0, cpu0, run0) = metricSnapshot()
      jobStart.clear(); jobSpans.clear()
      val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9; val t1Ms = System.currentTimeMillis()
      val (gc1, sp1, cpu1, run1) = metricSnapshot()
      val spans = jobSpans.asScala.toSeq
      val covered = unionLength(spans.map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
        .filter { case (s, e) => e > s })
      Run(sec, ok, gc1 - gc0, sp1 - sp0, (cpu1 - cpu0) / 1000000L, run1 - run0,
        spans.size, math.max(0.0, sec - covered / 1e3))
    }
    val selected = {
      val filtered = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
      onlyOrder match {
        case Some(order) =>
          val pos = order.zipWithIndex.toMap
          filtered.sortBy { case (name, _) => pos.getOrElse(name, Int.MaxValue) }
        case None => filtered
      }
    }
    var results = selected.map { case (name, fn) =>
      val runs = (1 to repeats).map(_ => runOnce(name, fn))
      // ok only if EVERY repeat succeeded: a flaky query is a bug and must
      // surface as FAILED in the official output, not vanish behind a
      // lucky retry
      val ok = runs.forall(_.ok)
      val dt = runs.map(_.sec).min
      System.err.println(f"[bench] $name%-24s $dt%8.2f s" + (if (ok) "" else "  FAILED"))
      // diagnosis rides with the SLOWEST repeat — that's the one that needs
      // explaining when min and max disagree
      (name, dt, ok, runs.maxBy(_.sec))
    }
    // Sustained-contention self-heal: min-of-2 misses episodes where BOTH
    // repeats land inside one machine-state event (the r9 driver artifact
    // misreported the flagship 22× that way). Any query whose min exceeds
    // 3× its last-builder-artifact value gets ONE more measurement after
    // the sweep — by then the episode has usually passed — and the min is
    // taken; both values are recorded so the artifact shows its work.
    val refPathPre = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
    // cross-scale comparison is meaningless: a scale probe at sf1/sf10
    // would trip the 3x threshold on every query vs an sf0.1 reference
    val refScaleMatches = loadRefSf(refPathPre).forall(_ == sfDir)
    val refPre = if (refScaleMatches) loadRef(refPathPre) else {
      System.err.println(s"[bench] ref $refPathPre measured a different sf dir; suspect check off")
      Map.empty[String, Double]
    }
    // r22 (stabilization, additions-only): the r21 driver sweep flagged 16
    // gates noisy with zero code cause and its slowest gate read 2.7x its
    // reference — UNDER the 3x recheck trigger. The self-heal pass now
    // also fires on (a) sustained drift >= 2x the reference (the official
    // `suspect` list keeps its 3x meaning) and (b) intra-run min/max
    // spread (both repeats inside one contention episode escape min-of-2).
    // Each hit costs one extra measurement after the sweep; the min is
    // taken, exactly like the standing 3x self-heal.
    val driftRecheck = suspects(
      results.filter(_._3).map(r => r._1 -> r._2).toMap, refPre, k = 2.0)
    val spreadRecheck = results.collect {
      case (k, dt, ok, slow) if ok && slow.sec > 3 * dt && slow.sec - dt > 0.3 => k
    }
    val firstPass = (driftRecheck ++ spreadRecheck).distinct
    val rechecked = firstPass.flatMap { name =>
      selected.find(_._1 == name).map { case (_, fn) =>
        val run = runOnce(name, fn)
        System.err.println(f"[bench] recheck $name%-16s ${run.sec}%8.2f s (was ${results.find(_._1 == name).get._2}%.2f)")
        (name, results.find(_._1 == name).get._2, if (run.ok) run.sec else Double.MaxValue)
      }
    }
    results = results.map { r =>
      rechecked.find(_._1 == r._1) match {
        case Some((_, first, again)) if again < first => r.copy(_2 = again)
        case _ => r
      }
    }
    val recheckJson = rechecked.map { case (k, first, again) =>
      f""""$k":{"first":$first%.3f,"recheck":${if (again == Double.MaxValue) -1.0 else again}%.3f}"""
    }.mkString("{", ",", "}")
    // a failed query records sentinel -1 (not its time-to-failure: a fast
    // regression must not read as an improvement) and is excluded from total
    val qs = results.map { case (k, v, ok, _) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    // task_ms vs cpu_ms: stall diagnosis (see the accumulator comment)
    val metricsJson = results.map { case (k, _, _, r) =>
      f""""$k":{"max_sec":${r.sec}%.3f,"gc_ms":${r.gcMs},"spill_bytes":${r.spill},"cpu_ms":${r.cpuMs},"task_ms":${r.taskMs},"jobs":${r.jobs},"driver_gap_s":${r.gapSec}%.3f}"""
    }.mkString("{", ",", "}")
    // noise flag: min/max spread over 3x AND over 0.3 s absolute (sub-second
    // queries jitter multiplicatively without meaning anything)
    val noisy = results.collect {
      case (k, dt, ok, slow) if ok && slow.sec > 3 * dt && slow.sec - dt > 0.3 =>
        "\"" + k + "\""
    }.mkString("[", ",", "]")
    val failed = results.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // post-recheck suspect list: what STILL exceeds 3× the reference after
    // the self-heal pass — either a real regression or a sick machine
    val suspect = suspects(
      results.filter(_._3).map(r => r._1 -> r._2).toMap, refPre)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val load = loadavg()
    // zero-shuffle control alongside totals (r22, BASELINE.md class-1
    // protocol): text_bm25 is the suite's standing machine-speed control —
    // a flat control across rounds means total deltas are code, a moved
    // control means drift. control_ref_ratio > 1 reads "this box is
    // currently slower than the reference run".
    val controlSec = results.find(r => r._1 == "text_bm25" && r._3).map(_._2)
    val controlJson = controlSec.map { c =>
      val ratio = refPre.get("text_bm25").filter(_ > 0)
        .map(r => f""","control_ref_ratio":${c / r}%.3f""").getOrElse("")
      f""","control_sec":$c%.3f$ratio"""
    }.getOrElse("")
    val fullJson = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"noisy":$noisy,"suspect":$suspect,"rechecked":$recheckJson,"loadavg":"$load"$controlJson,"run_metrics":$metricsJson,"sf":"$sfDir"}"""
    // The harness keeps only the last ~2000 chars of stdout and parses a
    // JSON line out of them (r3-r8 lesson: the one-line-per-query format
    // outgrew that window and every driver-side parse came back null). So:
    // the FULL per-query record goes to a file, and stdout's LAST line is a
    // compact summary — total + failures + noise flags + the slowest
    // queries — sized to survive the tail window with room for sbt's
    // trailing "[success]" line.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL_LAST.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query record -> $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    val slowest = results.filter(_._3).sortBy(-_._2).take(25)
      .map { case (k, v, _, _) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$slowest,"n_queries":${results.size},"n_ok":${results.count(_._3)},"failed":$failed,"noisy":$noisy,"suspect":$suspect,"loadavg":"$load"$controlJson,"queries_note":"slowest 25 of ${results.size}; full per-query record in $outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
