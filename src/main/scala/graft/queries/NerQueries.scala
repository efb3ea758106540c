package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ner.{ModelFormat, Ner}

/** The reference's flagship surface as driver-checkable queries: `ner()` /
  * `ner_extract()` over `documents.text` (`docs/README.md:8`). With no model
  * configured (the driver's state), every row yields `[]` — exactly the
  * reference's tested no-model semantics (`test/sql/ner.test:20-24`), which
  * plain DuckDB can oracle as an empty typed list literal. q26/q205/q208
  * name an in-memory [[graft.ner.SyntheticModel]] twin as the call's model
  * source instead, so they run the with-model path in the same session.
  */
object NerQueries {
  import Tables._

  /** q24: `SELECT doc_id, ner(text) ...` via the DataFrame API entry point.
    * The LIST(STRUCT) result is serialized with `to_json` for the driver
    * compare: the pandas hash-compare cannot sort rows on array-typed
    * columns (round-2 ADVICE), and both engines render the empty typed
    * list as the JSON literal `[]`. The typed ArrayType(StructType) schema
    * itself is pinned by `NerSparkSpec`.
    */
  private def q24(s: SparkSession, d: String): DataFrame = {
    Ner.register(s)
    documents(s, d)
      .select(col("doc_id"), to_json(Ner.ner(col("text"))).as("entities"))
      .orderBy(col("doc_id"))
  }

  private val o24 = """
    SELECT doc_id,
           CAST(to_json(CAST([] AS STRUCT(entity VARCHAR, label VARCHAR)[]))
                AS VARCHAR) AS entities
    FROM documents ORDER BY doc_id"""

  /** q25: the SQL registration path + alias + 2-arg arity in one query. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    Ner.register(s)
    documents(s, d).createOrReplaceTempView("graft_documents_ner")
    s.sql("""SELECT doc_id, to_json(ner_extract(text, true)) AS entities
             FROM graft_documents_ner ORDER BY doc_id""")
  }

  /** Each document's entity count and first label under the synthetic
    * twin stored as `ftype` ([[graft.ner.Ner.Synthetic]]): the with-model
    * path end to end (tokenizer, encoder, BIO merge). No DuckDB counterpart
    * exists for a transformer, so callers are rows-only. `get`, not
    * `e[0]`: ANSI mode throws past the end of an empty list. */
  private def withTwin(ftype: Int, s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        Ner.ner(col("text"), lit(true), Ner.Synthetic(ftype)).as("e"))
      .select(col("doc_id"), size(col("e")).as("n_entities"),
        get(col("e"), lit(0)).getField("label").as("first_label"))
      .orderBy(col("doc_id"))

  /** q26: NER with the deterministic in-memory F32
    * [[graft.ner.SyntheticModel]] (char-level vocab, seeded weights) — the
    * bench's measure of real inference throughput. */
  private def q26(s: SparkSession, d: String): DataFrame =
    withTwin(ModelFormat.F32, s, d)

  /** q205: NER with the Q4_0-quantized twin of the synthetic model — the
    * Q4_0 panel decode ([[graft.ner.LinearWeight.Q4]]) end to end. Its
    * bench time against q26's is the F32-vs-Q4 throughput readout for a
    * cache-resident model (BASELINE.md). */
  private def q205(s: SparkSession, d: String): DataFrame =
    withTwin(ModelFormat.Q4_0, s, d)

  /** q208: NER with the F16 twin of the synthetic model — the F16 panel
    * decode ([[graft.ner.LinearWeight.F16]]) end to end. Together, the
    * q26/q208/q205 bench times form the F32/F16/Q4 weight-precision
    * profile for a cache-resident model (BASELINE.md). */
  private def q208(s: SparkSession, d: String): DataFrame =
    withTwin(ModelFormat.F16, s, d)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q24_ner_flagship", q24, Some(o24)),
    QueryDef("q25_ner_extract_sql", q25, Some(o24)),
    QueryDef("q26_ner_with_model", q26, None),
    QueryDef("q205_ner_q4_native", q205, None),
    QueryDef("q208_ner_f16_native", q208, None))
}
