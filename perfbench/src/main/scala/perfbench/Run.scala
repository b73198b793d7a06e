package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** State one workload run shares: the session, the tracer, a scratch
  * directory, the output checks and the metrics gathered so far. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: java.io.File,
    val seed: Long, val seconds: Double, val scale: Double) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics: name -> value (units are fixed in [[Main.EndToEnd]]). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Timed samples of the end-to-end metrics; each reports their median. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Timed cycles run so far. */
  var cycles = 0
  /** Steal share of each timed cycle, in order. */
  val cycleSteal = mutable.ArrayBuffer.empty[Double]
  /** Per-layer ratios and kernel timings beyond the span counters. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Run facts that are not metrics: sample counts, sizes, routes. */
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** Count one checked operation; a false `ok` counts it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }
    ok
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** `n` scaled by `--scale`, at least `min`. */
  def sized(n: Int, min: Int = 1): Int = math.max(min, math.round(n * scale).toInt)

  private var dirs = 0

  /** A new empty directory under the run's scratch directory. */
  def freshDir(name: String): java.io.File = {
    dirs += 1
    val d = new java.io.File(work, s"$name-$dirs"); d.mkdirs(); d
  }

  def frame(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `rows` written as parquet under the run's directory and read back:
    * corpora reach the engine as a file scan, as they would in use. */
  def store(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new java.io.File(freshDir("input"), "data").getPath
    frame(rows, schema).write.parquet(path)
    spark.read.parquet(path)
  }
}

object Run {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The machine's cumulative CPU ticks from the first line of `/proc/stat`. */
  def cpuTicks(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case _: Exception => Array.empty }

  /** Share of the machine's CPU ticks between `a` and `b` that the
    * hypervisor gave to other guests (the `steal` column); 0 where
    * `/proc/stat` is missing. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else d(7).toDouble / total
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
