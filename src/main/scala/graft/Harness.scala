package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.{Configurator, DefaultConfiguration}
import org.apache.spark.sql.SparkSession

/** The one local session the graft mains (`Bench`, `Verify`, `PlanDump`,
  * `Recall`, `ScaleGen`, `BoilerGen`) run in:
  *  - `local[$SPARK_GRAFT_CPUS]`, the box's processor count when unset;
  *  - `SPARK_GRAFT_SHUFFLE` shuffle partitions, else the core count (at
  *    sf100 partitions == cores is one wave of 500 MB+ tasks; AQE coalesces
  *    any excess at small sf);
  *  - UTC, `events`' TIMESTAMP(NANOS) read as epoch-nanos longs, no UI;
  *  - Spark logging at WARN;
  *  - [[GraftConf]]'s session defaults. */
object Harness {
  def session(): SparkSession = {
    // Spark loads its log4j2 defaults (root at INFO) at its first log line
    // and applies `spark.log.level` only after the context has logged its
    // version lines: load those defaults now, at WARN, unless a log4j2
    // configuration was given
    val log4j = LogManager.getContext(false).asInstanceOf[LoggerContext]
    if (log4j.getConfiguration.isInstanceOf[DefaultConfiguration]) {
      log4j.setConfigLocation(
        classOf[SparkSession].getResource("/org/apache/spark/log4j2-defaults.properties").toURI)
      Configurator.setRootLevel(Level.WARN)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .getOrCreate()
    GraftConf.applySessionDefaults(spark)
    spark
  }
}
