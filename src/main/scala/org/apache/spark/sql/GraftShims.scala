package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** The `private[sql]` doorways the custom-operator tier needs:
  *
  *   - construct a DataFrame from a hand-built [[LogicalPlan]]
  *     (`Dataset.ofRows` — the same entry point Spark's own
  *     parser/connectors use);
  *   - an eager localCheckpoint whose MATERIALIZATION JOB also returns a row
  *     count (total, or of a boolean flag column), so iterative convergence
  *     loops pay ONE job per round instead of checkpoint + count (r14
  *     VERDICT "next round" #1/#4 — the per-round count tax across the
  *     q97/q218/q282 loop family).
  *
  * Lives in this package solely for access; contains no query logic.
  */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eagerly localCheckpoint `df` (lineage truncation + MEMORY_AND_DISK
    * blocks, exactly `localCheckpoint(true)`) and, IN THE SAME JOB, count
    * rows — all rows when `flagCol` is None, else rows where the named
    * BOOLEAN column is true. Returns the checkpointed frame (partitioning
    * and ordering preserved via [[LogicalRDD.fromDataset]], as
    * `Dataset.checkpoint` does) and the count.
    *
    * The flag count rides a [[org.apache.spark.util.LongAccumulator]]
    * inside the materialization; `count()` is a ResultStage action, so each
    * partition's update is applied exactly once on success. A speculative /
    * retried task could in principle over-count, which for a convergence
    * test errs only toward one extra (idempotent) round — never toward a
    * premature exit, because a true fixpoint round adds zero everywhere.
    * So the flagged count is an UPPER BOUND, fit only for a nonzero
    * convergence test: a caller must not use it as an exact row count.
    */
  def localCheckpointAndCount(
      df: DataFrame, flagCol: Option[String] = None): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val physicalRdd = ds.queryExecution.toRdd
    flagCol match {
      case None =>
        val rdd = physicalRdd.map(_.copy())
        rdd.localCheckpoint()
        val n = rdd.count() // materializes the checkpoint AND counts
        (finish(spark, rdd, ds), n)
      case Some(name) =>
        val idx = df.schema.fieldIndex(name)
        val acc = spark.sparkContext.longAccumulator(s"graft.flagCount.$name")
        val rdd = physicalRdd.mapPartitions { it =>
          it.map { r =>
            if (!r.isNullAt(idx) && r.getBoolean(idx)) acc.add(1L)
            r.copy()
          }
        }
        rdd.localCheckpoint()
        rdd.count() // materializes the checkpoint; fills the accumulator
        (finish(spark, rdd, ds), acc.value)
    }
  }

  private def finish(
      spark: classic.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      origin: classic.Dataset[Row]): DataFrame =
    classic.Dataset.ofRows(spark,
      LogicalRDD.fromDataset(rdd, origin, isStreaming = false))
}
