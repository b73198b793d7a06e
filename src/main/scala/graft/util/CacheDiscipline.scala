package graft.util

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow

/**
 * End-of-pipeline cache discipline for operators that persist shared
 * subtrees (shingle tables, banded signatures, range-arranged inputs):
 * eagerly materialize the (small) result as one local checkpoint, then
 * free every intermediate. Without this, each pipeline invocation leaks
 * its persisted blocks into the session — harmless in a one-shot job,
 * compounding in a long-lived session (the round-3 bench regressed 41%
 * from exactly this: orphaned blocks from 80 earlier queries).
 *
 * The eager checkpoint also pins the result against recomputation: a
 * downstream action can never re-execute the pipeline against
 * already-freed intermediates (or, for [[graft.operators.Relational]]'s
 * prefix sum, against a re-shuffled partitioning the offsets no longer
 * describe).
 */
object CacheDiscipline {
  def materializeAndFree(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Free the blocks behind a [[materializeAndFree]] result once the caller
    * is done with it. `Dataset.unpersist` cannot release a local
    * checkpoint's directly-persisted RDD (it only clears cache-manager
    * entries), so callers of operators whose result is NOT small — the
    * prefix sum returns one row per input row — use this to drop the
    * pinned blocks explicitly. Safe to call on any DataFrame: it only
    * touches checkpoint-backed leaf RDDs of THIS plan. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Build persisted `df`'s cache and return `metrics` (aggregates) observed
    * on that cache-filling scan: one job, where `count()` or a separate
    * aggregate would run their own. */
  def observeOnCache(df: DataFrame, metrics: Column*): Row = {
    val observed = df.observe("__materialize", metrics.head, metrics.tail: _*)
    runTask(observed, "materialize", Drain)
    observed.queryExecution.observedMetrics("__materialize")
  }

  /** One job over `df`'s rows, as the SQL execution `name`: `task` per
    * partition, results in partition order. Pass a named class or object
    * for `task`, so `runJob` skips the closure cleaner's bytecode scan. */
  def runTask[U: scala.reflect.ClassTag](df: DataFrame, name: String,
      task: (TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd
      df.sparkSession.sparkContext.runJob(rdd, task, rdd.partitions.indices)
    }
  }

  /** Consumes a partition. An object rather than a lambda, so `runJob` does
    * not run the closure cleaner's bytecode scan per call. */
  private object Drain extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow]): Unit = while (it.hasNext) it.next()
  }
}
