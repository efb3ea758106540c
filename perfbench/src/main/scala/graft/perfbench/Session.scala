package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The one session configuration every workload runs under:
  * `local[cpus]`, the project's SQL extensions (SQL `ner()` and the
  * `graft.plans` rules), and every file the session writes (warehouse
  * tables, checkpoints, shuffle and spill files) kept under `work`.
  */
object Session {
  def builder(cpus: Int, work: Path): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)

  /** Stop the session and forget it, so the next builder makes a new one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
