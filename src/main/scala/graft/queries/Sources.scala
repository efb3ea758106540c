package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks beyond parquet, declared through the driver contract:
  * each query writes a slice of `documents` in the target format and reads
  * it back with an explicit schema (inference would be engine-specific),
  * then aggregates — so the oracle over the original parquet verifies the
  * round trip was lossless. `SourcesSpec` covers ORC and partitioned-write
  * pruning; these two make the JSON/CSV paths driver-checked.
  */
object Sources {
  import Tables._

  private val roundtripSchema = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING")

  private def sinkDir(s: SparkSession, name: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    s"$wh/$name"
  }

  private def agg(df: DataFrame): DataFrame =
    df.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"))

  private val oAgg = """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents GROUP BY lang ORDER BY lang"""

  /** q95: JSON lines sink + source round trip. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_json_roundtrip")
    documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").json(dir)
    agg(s.read.schema(roundtripSchema).json(dir))
  }

  /** q96: CSV sink + source round trip (header + explicit schema; the
    * writer quotes delimiters inside text fields, the reader must agree).
    * Lossless-text options are explicit: the writer's whitespace trimming
    * defaults ON and would drop edge spaces, and the reader needs
    * multiLine for quoted embedded newlines.
    */
  private def q96(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_csv_roundtrip")
    documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    agg(s.read.schema(roundtripSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir))
  }

  /** q99: partitioned parquet sink + partition-pruned source — the write
    * side of partition layout (one directory per lang) and the read side's
    * pruning: the `lang = 'en'` filter resolves against partition
    * directories, so only that partition's files are ever opened (the scan
    * shows it under PartitionFilters, not a data filter).
    */
  private def q99(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_part_roundtrip")
    documents(s, d)
      .select(col("doc_id"), col("text"), col("source"), col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    s.read.parquet(dir)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy(col("source"))
  }

  private val o99 = """
    SELECT source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source"""

  /** q101: ORC sink + source round trip (columnar like parquet; types and
    * strings round-trip losslessly without options).
    */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_orc_roundtrip")
    documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").orc(dir)
    agg(s.read.schema(roundtripSchema).orc(dir))
  }

  /** q109: small-file compaction — the table-maintenance pass a 100 TB
    * lakehouse runs continuously: a fragmented partitioned dataset (16
    * writer tasks per lang here, i.e. 16 small files per partition) is
    * rewritten with one shuffle keyed on the partition column so each
    * partition lands in a single file, then read back and aggregated so
    * the oracle proves the rewrite lossless. At real scale the shuffle key
    * adds a size-derived file-group (`hash(doc_id) pmod ceil(part_bytes /
    * target_file_bytes)`) to target a file SIZE instead of one file;
    * the single-key form here is that with group count 1. File counts are
    * asserted by `SourcesSpec`.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val frag = sinkDir(s, "graft_fragmented")
    val compacted = sinkDir(s, "graft_compacted")
    documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .repartition(16)
      .write.mode("overwrite").partitionBy("lang").parquet(frag)
    // explicit schema on read-back (module convention): without it the lang
    // partition-directory values go through partition-column TYPE INFERENCE
    // and a lang spelled like a number or date would come back non-string
    s.read.schema(roundtripSchema).parquet(frag)
      .repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(compacted)
    agg(s.read.schema(roundtripSchema).parquet(compacted))
  }

  /** q146: schema evolution — the lakehouse reality that a long-lived table's
    * files carry DIFFERENT schemas as columns are added over time. Two
    * generations of the documents table are written side by side (gen 1
    * without `source`, gen 2 with it); `mergeSchema` reads them as one table
    * whose union schema null-fills the column gen-1 files lack. The aggregate
    * distinguishes genuine nulls from fill-nulls via the generation marker,
    * so the oracle (which reconstructs the same union from the base table)
    * proves both the merge and the null-fill semantics.
    *
    * Scale note: mergeSchema footer-merging is a driver-side O(files)
    * planning cost — production tables pin the merged schema in a catalog
    * instead; the per-file null-fill column adaptation exercised here is the
    * part that runs on executors and survives any scale.
    */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_schema_evolution")
    val docs = documents(s, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_gen1"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }

  private val o146 = """
    WITH merged AS (
      SELECT doc_id, text, lang, NULL AS source FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, lang, source FROM documents
      WHERE doc_id % 2 <> 0)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gen1,
           count(DISTINCT source) AS n_sources,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM merged GROUP BY lang ORDER BY lang"""

  /** q177: malformed-record ingestion — the robustness contract a crawl
    * loader actually needs: a JSONL source mixing the valid corpus with 6
    * deliberately-broken lines is read in PERMISSIVE mode with an explicit
    * corrupt-record column, and the result accounts for EVERY line — valid
    * rows aggregate per-lang exactly as the lossless round trip (q95),
    * broken lines land in a '_corrupt_' bucket with their count. A reader
    * that silently dropped corrupt lines, or mis-flagged a valid one,
    * breaks the oracle (which predicts both partitions from the original
    * parquet + the known corrupt set). FAILFAST/DROPMALFORMED are the
    * other two contracts; PERMISSIVE-with-accounting is the one a lossy
    * 100-TB crawl ingest wants, because it quantifies what it lost.
    */
  private def q177(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val good = sinkDir(s, "graft_json_good")
    val bad = sinkDir(s, "graft_json_bad")
    documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").json(good)
    Seq(
      """{"doc_id": 1, "text": "unterminated""",
      """not json at all""",
      """{"doc_id": }""",
      """[1, 2, 3""",
      """{{""",
      """}""")
      .toDF("value").write.mode("overwrite").text(bad)
    val schema = StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, _bad STRING")
    // Corruption is decided by the PERMISSIVE contract's own signal (_bad
    // set), NOT by lang nullability — a valid line with a null/absent lang
    // must stay in its lang group (round-6 ADVICE). Fields partially
    // salvaged from a corrupt line are nulled before aggregating: a row the
    // parser flagged is untrustworthy wholesale, and the accounting must
    // not depend on how far the parser got before failing.
    val corrupt = col("_bad").isNotNull
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(good, bad)
      .select(
        when(corrupt, lit("_corrupt_")).otherwise(col("lang")).as("lang"),
        when(corrupt, lit(null).cast("string")).otherwise(col("text"))
          .as("text"),
        when(corrupt, lit(null).cast("long")).otherwise(col("doc_id"))
          .as("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0L)).cast("long")
          .as("total_chars"),
        coalesce(min(col("doc_id")), lit(-1L)).as("min_doc"),
        coalesce(max(col("doc_id")), lit(-1L)).as("max_doc"))
      .orderBy(col("lang"))
  }

  private val o177 = """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '_corrupt_', CAST(6 AS BIGINT), CAST(0 AS BIGINT),
           CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
    ORDER BY lang"""

  /** q277: model tensor catalog via the `ggml` DataSource V2 relation
    * ([[graft.sources.GgmlTensorSource]]). Writes the synthetic model's
    * three twins (F32 / F16-linears / Q4_0-linears —
    * [[graft.ner.ModelFormat.write]], byte-deterministic) into one
    * directory, then scans it as a table: one row per stored tensor,
    * payloads never read, one partition per container file. The output is
    * the full directory listing — names, innermost-first shapes, on-disk
    * dtypes, exact payload bytes and offsets, and whether the encoder would
    * matmul the tensor natively in its stored form (`linear`) — i.e. the
    * introspection the reference's loader performs implicitly on every
    * load (`src/ner_model.cpp:162-290`), surfaced as a relation.
    *
    * Rows-only by necessity, like the `ner()` queries that name these twins
    * as their model source (q26/q205/q208, [[graft.ner.Ner.Synthetic]]):
    * DuckDB has no GGML reader, so no oracle SQL exists; content is
    * pinned by `GgmlTensorSourceSpec` (schema, directory parity vs
    * [[graft.ner.ModelFormat.scanFile]], filter/column pushdown, and
    * write→scan round-trip against the in-memory model).
    */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(s, "q277_models")
    new java.io.File(out).mkdirs()
    graft.ner.ModelFormat.write(
      graft.ner.SyntheticModel.loaded.model, s"$out/f32.bin")
    graft.ner.ModelFormat.write(
      graft.ner.SyntheticModel.loadedF16.model, s"$out/f16.bin")
    graft.ner.ModelFormat.write(
      graft.ner.SyntheticModel.loadedQ4.model, s"$out/q4.bin")
    s.read.format("ggml").load(out)
      .select(
        regexp_extract(col("file"), "([^/]+)$", 1).as("file"),
        col("tensor"), col("ndims"),
        array_join(col("shape"), "x").as("shape"),
        col("dtype"), col("numel"), col("payload_bytes"),
        col("data_offset"), col("linear"))
      .orderBy(col("file"), col("tensor"))
  }

  /** q294: plain-text source round trip — the line-oriented log/corpus
    * format the JSON/CSV/ORC trips don't cover: each document becomes one
    * TAB-delimited line (tabs inside text normalized to spaces on BOTH
    * sides, so the oracle equivalence holds by construction even on tabby
    * corpora), written through the text sink and read back with
    * `spark.read.text` as raw `value` lines — no schema, no quoting; the
    * positional re-parse is the query's own responsibility, exactly as in
    * a real log-ingestion pipeline. The replace is 1-char-for-1-char so
    * lengths (and the shared oAgg totals) are unchanged.
    */
  private def q294(s: SparkSession, d: String): DataFrame = {
    val dir = sinkDir(s, "graft_text_roundtrip")
    documents(s, d).select(concat_ws("\t",
        col("doc_id").cast("string"), col("lang"),
        regexp_replace(col("text"), "\t", " ")).as("value"))
      .write.mode("overwrite").text(dir)
    agg(s.read.text(dir)
      .select(split(col("value"), "\t", 3).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("lang"),
        col("p").getItem(2).as("text")))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q277_model_tensor_catalog", q277, None),
    QueryDef("q294_text_roundtrip", q294, Some(oAgg)),
    QueryDef("q177_corrupt_records", q177, Some(o177)),
    QueryDef("q146_schema_merge", q146, Some(o146)),
    QueryDef("q95_json_roundtrip", q95, Some(oAgg)),
    QueryDef("q96_csv_roundtrip", q96, Some(oAgg)),
    QueryDef("q99_partitioned_pruning", q99, Some(o99)),
    QueryDef("q101_orc_roundtrip", q101, Some(oAgg)),
    QueryDef("q109_compaction", q109, Some(oAgg)))
}
