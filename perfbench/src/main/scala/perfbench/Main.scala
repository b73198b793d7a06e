package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
  * metrics untraced (`--trace 0`) or the per-layer ones traced (`--trace 1`).
  * The line before it holds the run's facts. Usage:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir> [--scale <f>]` */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "build_s" -> "s",
    "open_s" -> "s", "step_p50_s" -> "s", "bulk_per_s" -> "items/s",
    "quality_ratio" -> "ratio")

  val LayerExtras: Seq[(String, String)] = Seq("search.scan_fraction" -> "ratio",
    "search.index_bytes_ratio" -> "ratio", "search.topk_insert_ns" -> "ns",
    "functions.cosine_ns" -> "ns", "dedup.verify_yield" -> "ratio",
    "streaming.batches" -> "count")

  private val Workloads: Map[String, Workload[_]] = Map(
    "ivf_serve" -> IvfServe, "curate" -> Curate)

  /** Input set-ups per run; `setup_s` counts their median. */
  private val SetupReps = 2
  /** Warm-up cycles before the first timed call. After one, the JIT was
    * still compiling: small-batch latency fell by a third over the timed
    * cycles that followed. */
  private val WarmupCycles = 2
  /** Timed cycles run until `--seconds` would be passed, at least this
    * many; every timing is the median of their samples. */
  private val MinCycles = 3
  /** Spark task threads, fewer on a smaller box. Tasks keep well under two
    * cores busy on average (README.md), so two task threads leave the other
    * cores to the driver, JIT and GC threads instead of all of them
    * competing for four. */
  private val MaxThreads = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val out = new java.io.File(opt("out"))
    val runId = s"$name-$seed-${if (traced) "traced" else "untraced"}-${System.currentTimeMillis}"
    val work = new java.io.File(out, s"work/$runId")
    work.mkdirs()
    val loadStart = loadavg()
    val cpuStart = Run.cpuTicks()
    val nproc = Runtime.getRuntime.availableProcessors
    val threads = math.min(MaxThreads, nproc)

    val (spark, sessionS) = Run.timed {
      val s = SparkSession.builder()
        .master(s"local[$threads]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.GraftConf.applySessionDefaults(s)
      s
    }
    val tracer = new Tracer(spark, traced, runId)
    val r = new Run(spark, tracer, work, seed, opt("seconds").toDouble,
      opts.get("scale").map(_.toDouble).getOrElse(1.0))
    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" || k == "spark.local.dir" }.toMap
    val rows = try {
      run(name, workload, r, sessionS)
      if (traced) tracer.rows() else Nil
    } finally {
      spark.stop()
      Run.deleteTree(work)
    }

    r.facts ++= Seq("workload" -> name, "seed" -> seed, "traced" -> traced, "run_id" -> runId,
      "nproc" -> nproc, "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "steal_share" -> Run.stealShare(cpuStart, Run.cpuTicks()),
      "jit_compile_s" -> jitS(), "gc_s" -> gcS(),
      "spark_conf" -> conf,
      "end_to_end" -> r.e2e.toMap, "failures" -> r.failures.toSeq)

    val metrics: Seq[(String, Any)] =
      if (!traced) EndToEnd.map { case (m, u) => m -> Map("value" -> r.e2e(m), "unit" -> u) }
      else {
        val byLayer = rows.groupBy(_._1.name)
        val root = rows.find(_._1.name == s"workload.$name").map(_._1)
        val spanned = rows.filter(s => root.exists(_.id == s._1.parent)).map(_._1.wallS).sum
        val timed = root.map(_.wallS).getOrElse(0.0)
        r.facts ++= Seq("span_calls" -> Tracer.Layers.map(l => l -> byLayer.getOrElse(l, Nil).length).toMap,
          "timed_wall_s" -> timed, "span_wall_s" -> spanned, "untraced_gap_s" -> (timed - spanned))
        writeTrace(new java.io.File(out, s"$runId.trace.jsonl"), rows)
        // span counters are per call: the mean over the layer's spans
        val counters = for (l <- Tracer.Layers; c <- Tracer.Counters) yield {
          val rs = byLayer.getOrElse(l, Nil)
          s"$l.$c" -> Map("value" -> (if (rs.isEmpty) 0.0 else rs.map(_._2(c)).sum / rs.length),
            "unit" -> Tracer.CounterUnits(c))
        }
        counters ++ LayerExtras.map { case (m, u) => m -> Map("value" -> r.layer.getOrElse(m, 0.0), "unit" -> u) }
      }
    println(Json(Map("perfbench_facts" -> r.facts.toSeq)))
    println(Json(Seq("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics)))
    System.out.flush()
    if (r.failed > 0) {
      System.err.println(s"[perfbench] ${r.failed} of ${r.attempted} checked operations FAILED:")
      r.failures.foreach(f => System.err.println(s"  - $f"))
      sys.exit(1)
    }
  }

  /** Set up the inputs `SetupReps` times; run the warm-up cycles on the
    * first copy, so JIT and codegen are warm before the first timed call;
    * run the timed cycles on the last copy under the workload's root span
    * until `--seconds` would be passed, then reduce each timing to the
    * median of its samples. `setup_s` is everything
    * before the first timed call: session start, the median input set-up
    * (generation, ground truth, writes) and the warm-up cycles. */
  private def run[I](name: String, w: Workload[I], r: Run, sessionS: Double): Unit = {
    val reps = (1 to SetupReps).map(_ => Run.timed(w.setup(r)))
    reps.tail.init.foreach { case (in, _) => w.discard(in) }
    val inputS = Run.median(reps.map(_._2))
    val (wi, in) = (reps.head._1, reps.last._1)

    val warm = new Run(r.spark, new Tracer(r.spark, enabled = false, r.tracer.runId),
      new java.io.File(r.work, "warmup"), r.seed, 0, r.scale)
    val (_, warmS) = Run.timed {
      (1 to WarmupCycles).foreach { _ => w.cycle(warm, wi); warm.cycles += 1 }
      w.finish(warm, wi)
    }
    w.discard(wi)
    r.attempted += warm.attempted; r.failed += warm.failed; r.failures ++= warm.failures
    r.facts("jit_compile_s_at_warm") = jitS()
    r.facts("gc_s_at_warm") = gcS()
    r.e2e("setup_s") = sessionS + inputS + warmS
    r.facts("setup_parts_s") = Map("session" -> sessionS, "input" -> inputS, "warmup" -> warmS)

    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    r.span(s"workload.$name") {
      while (r.cycles < MinCycles || elapsedS * (r.cycles + 1) / r.cycles <= r.seconds) {
        val ticks = Run.cpuTicks()
        w.cycle(r, in)
        r.cycleSteal += Run.stealShare(ticks, Run.cpuTicks())
        r.cycles += 1
      }
    }
    r.samples.foreach { case (m, xs) => r.e2e(m) = Run.median(xs.toSeq) }
    r.facts ++= Seq("cycle_steal_share" -> r.cycleSteal.toSeq,
      "samples" -> r.samples.map { case (m, xs) => m -> xs.toSeq }.toMap)
    w.finish(r, in)
  }

  /** Total JIT compilation time of this JVM so far. */
  private def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Total collection time of this JVM's garbage collectors so far. */
  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  private def writeTrace(f: java.io.File, rows: Seq[(Span, Map[String, Double])]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try rows.sortBy(_._1.id).foreach { case (s, c) =>
      w.println(Json(Seq("run_id" -> s.runId, "span_id" -> s.id, "parent_id" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ c.toSeq.sortBy(_._1)))
    } finally w.close()
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => apply(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
