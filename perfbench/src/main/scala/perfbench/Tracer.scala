package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftshim.GraftCore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work charged to one span: the jobs submitted while the span's id
  * was the thread's `perfbench.span` local property, and their tasks. */
final class SpanCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val resultBytes = new AtomicLong
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

final case class Span(runId: String, id: Long, parent: Long, name: String,
    startMs: Long, endMs: Long, wallS: Double)

/** Records a span around each call the benchmark makes into a layer.
  *
  * Spans are named `<layer>.<op>` and nest by the thread's local property,
  * so Spark jobs (and, through the inherited property, jobs of streaming
  * query threads started inside a span) are charged to the innermost span.
  * Disabled, `span` only runs its body: the untraced run adds no listener
  * and sets no property. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val counters = new ConcurrentHashMap[Long, SpanCounters]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]
  val spans = ArrayBuffer.empty[Span]

  private def countersOf(id: Long) =
    counters.computeIfAbsent(id, _ => new SpanCounters)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Key)))
      p.foreach { s =>
        val id = s.toLong
        countersOf(id).jobs.incrementAndGet()
        jobSpan.put(e.jobId, (id, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, t0) =>
        val c = countersOf(id)
        c.jobIntervals.synchronized { c.jobIntervals += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) {
        val c = countersOf(stageSpan.get(e.stageId))
        c.tasks.incrementAndGet()
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.resultBytes.addAndGet(m.resultSize)
      }
    }
  })

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parentProp = sc.getLocalProperty(Key)
      val parent = Option(parentProp).map(_.toLong).getOrElse(0L)
      val id = nextId.getAndIncrement()
      sc.setLocalProperty(Key, id.toString)
      val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Key, parentProp)
        spans.synchronized {
          spans += Span(runId, id, parent, name, t0Ms, System.currentTimeMillis(), wall)
        }
      }
    }

  /** Seconds of `span` not covered by any of its jobs. */
  private def driverGapS(s: Span, c: SpanCounters): Double = {
    val iv = c.jobIntervals.synchronized(c.jobIntervals.toList)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  /** Every span with its counters, after the listener bus has drained. */
  def rows(): Seq[(Span, Map[String, Double])] = {
    GraftCore.flushListenerBus(sc)
    spans.synchronized(spans.toList).map { s =>
      val c = countersOf(s.id)
      s -> Map(
        "wall_s" -> s.wallS,
        "jobs" -> c.jobs.get.toDouble,
        "tasks" -> c.tasks.get.toDouble,
        "task_cpu_s" -> c.cpuNs.get / 1e9,
        "gc_s" -> c.gcMs.get / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.get.toDouble,
        "spill_bytes" -> c.spillBytes.get.toDouble,
        "result_bytes" -> c.resultBytes.get.toDouble,
        "driver_gap_s" -> driverGapS(s, c))
    }
  }
}

object Tracer {
  /** The nine counters every layer span reports. */
  val Counters: Seq[String] = Seq("wall_s", "jobs", "tasks", "task_cpu_s",
    "gc_s", "shuffle_write_bytes", "spill_bytes", "result_bytes", "driver_gap_s")
  val CounterUnits: Map[String, String] = Map("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "result_bytes" -> "bytes", "driver_gap_s" -> "s")

  /** The layer spans, `<layer>.<op>` after the engine's module names. */
  val Layers: Seq[String] = Seq("search.fit", "search.save", "search.load",
    "search.query", "search.bulk", "search.add",
    "dedup.exact", "dedup.cluster", "dedup.corpus", "text.filter",
    "streaming.ingest")
}
