package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * Minimal bridge into Spark's `private[sql]` Column↔Expression conversions
 * (Spark 4 moved them behind `org.apache.spark.sql.classic.ExpressionUtils`).
 * This is the standard pattern for third-party Catalyst extensions: one shim
 * object living under `org.apache.spark.sql` so the package-private API is
 * reachable, everything else stays in the `graft` namespace.
 */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function builder on the session's function registry. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `rows` (Catalyst values of `schema`) as a local relation: the plan
    * `createDataFrame(rows, schema)` builds from `Row`s, with no
    * conversion. */
  def localRelation(spark: SparkSession, rows: Seq[InternalRow], schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.withActive(Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows)))
  }

  /** Write `rows` (Catalyst values of `schema`) on the driver as the
    * directory `df.coalesce(1).write.mode("overwrite").parquet(dir)`
    * leaves: one part file, through the writer Spark's own parquet sink
    * builds under the session's confs (codec, legacy format, timestamp
    * type), then `_SUCCESS`. Runs no job. */
  def writeParquet(spark: SparkSession, dir: String, schema: StructType,
      rows: Iterator[InternalRow]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val out = new Path(dir)
    val fs = out.getFileSystem(conf)
    fs.delete(out, true)
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(out, s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    try rows.foreach(writer.write) finally writer.close()
    fs.create(new Path(out, "_SUCCESS")).close()
  }

  /** Every row of the parquet data files in `dir` (names not starting with
    * `_` or `.`, the files `spark.read.parquet` lists), read on the driver
    * through Spark's own parquet reader as `schema`, columns matched by
    * name; each row is copied out of the reader's buffers. Runs no job. */
  def readParquet(spark: SparkSession, dir: String, schema: StructType): Array[InternalRow] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val at = new Path(dir)
    val files = at.getFileSystem(conf).listStatus(at).filter { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".")
    }.sortBy(_.getPath.getName)
    if (files.isEmpty) Array.empty
    else {
      val readAs = schema.asNullable
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, readAs, new StructType(),
        readAs, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      val copy = UnsafeProjection.create(readAs)
      files.flatMap(st => read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0,
        st.getLen, Array.empty, st.getModificationTime, st.getLen)).map(r => copy(r).copy()))
    }
  }
}
