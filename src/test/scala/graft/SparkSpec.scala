package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (ScalaTest guideline in
  * /opt/skills/guides/spark_guide.md). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** A job that a [[SparkSpec.jobsOf]] body started: its stages as
  * submitted, and the positions of its start and end in the order the
  * listener saw every start and end (`endAt` is -1 for a job not seen to
  * end). */
final case class ObservedJob(id: Int, stages: Seq[StageInfo], startAt: Int, endAt: Int) {
  def stageNames: Seq[String] = stages.map(_.name)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(name: String, dir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Runs `body` and returns its value with the jobs it started, in start
    * order. A marker job run after `body` drains the listener: a listener
    * sees events in the order they were posted, so once it has seen the
    * marker start, it has seen every job of `body` start and end. */
  def jobsOf[T](body: => T): (T, Seq[ObservedJob]) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val started = new ConcurrentLinkedQueue[ObservedJob]
    val ended = new ConcurrentHashMap[Int, Int]
    val seq = new AtomicInteger
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(SparkSpec.MarkerKey) == marker) drained = true
        else started.add(ObservedJob(j.jobId, j.stageInfos, seq.getAndIncrement(), -1))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.put(j.jobId, seq.getAndIncrement())
    }
    sc.addSparkListener(listener)
    val out = try body finally {
      sc.setLocalProperty(SparkSpec.MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
      sc.removeSparkListener(listener)
    }
    assert(drained, "the job listener never saw the marker job")
    (out, started.asScala.toSeq.map(j => j.copy(endAt = ended.getOrDefault(j.id, -1))))
  }
}

object SparkSpec {
  private val MarkerKey = "graft.spec.jobMarker"
}
