package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ner.Ner

/** The reference's flagship surface as driver-checkable queries: `ner()` /
  * `ner_extract()` over `documents.text` (`docs/README.md:8`). With no model
  * configured (the driver's state), every row yields `[]` — exactly the
  * reference's tested no-model semantics (`test/sql/ner.test:20-24`), which
  * plain DuckDB can oracle as an empty typed list literal.
  */
object NerQueries {
  import Tables._

  /** `SELECT doc_id, ner(text) ...` via the DataFrame API entry point.
    * The LIST(STRUCT) result is serialized with `to_json` for the driver
    * compare: the pandas hash-compare cannot sort rows on array-typed
    * columns (round-2 ADVICE), and both engines render the empty typed
    * list as the JSON literal `[]`. The typed ArrayType(StructType) schema
    * itself is pinned by `NerSparkSpec`.
    */
  private def flagship(s: SparkSession, d: String): DataFrame = {
    Ner.register(s)
    documents(s, d)
      .select(col("doc_id"), to_json(Ner.ner(col("text"))).as("entities"))
      .orderBy(col("doc_id"))
  }

  private val oFlagship = """
    SELECT doc_id,
           CAST(to_json(CAST([] AS STRUCT(entity VARCHAR, label VARCHAR)[]))
                AS VARCHAR) AS entities
    FROM documents ORDER BY doc_id"""

  /** The SQL registration path + alias + 2-arg arity in one query. */
  private def extract2(s: SparkSession, d: String): DataFrame = {
    Ner.register(s)
    documents(s, d).createOrReplaceTempView("graft_documents_ner")
    s.sql("""SELECT doc_id, to_json(ner_extract(text, true)) AS entities
             FROM graft_documents_ner ORDER BY doc_id""")
  }

  /** The WITH-model inference path end-to-end — tokenizer, transformer
    * forward pass, argmax, BIO merge — run through `mapPartitions` so the
    * model is resolved once per partition, batched: the partition's rows
    * are tokenized and packed into token-budgeted batches so the encoder
    * streams its weights once per batch, not once per document (round-5
    * VERDICT #6). Entities are synthetic but deterministic; there is no
    * DuckDB counterpart for a transformer, so every caller is a rows-only
    * check by design. `model` runs on the executor: it must name one of
    * the [[graft.ner.SyntheticModel]] vals, never close over a model value,
    * which would serialize the whole model into every task.
    */
  private def withModelOf(model: () => Ner.Loaded)(s: SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    Tables.parallelize(s, documents(s, d))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        Ner.evalPartition(Some(model()),
            rows.map { case (id, text) => (id, text, true) }).map {
          case (id, ents) =>
            (id, ents.length, if (ents.isEmpty) null else ents.head.label)
        }
      }
      .toDF("doc_id", "n_entities", "first_label")
      .orderBy(col("doc_id"))
  }

  /** q26: [[withModelOf]] against the deterministic in-memory F32
    * [[graft.ner.SyntheticModel]] (char-level vocab, seeded weights) — the
    * bench's measure of real inference throughput. */
  private val withModel = withModelOf(() => graft.ner.SyntheticModel.loaded) _

  /** q205: [[withModelOf]] against the Q4_0-QUANTIZED twin of the synthetic
    * model — the Q4_0 panel decode
    * ([[graft.ner.LinearWeight.Q4]], round-7 VERDICT #3) exercised
    * end-to-end under Spark parallelism. Its bench time against q26's is
    * the in-situ F32-vs-Q4 throughput readout for a cache-resident model
    * (BASELINE.md records the single-thread story; the weight-streaming
    * regime is where Q4 wins, which local testdata cannot reach).
    */
  private val withModelQ4 =
    withModelOf(() => graft.ner.SyntheticModel.loadedQ4) _

  /** q208: [[withModelOf]] against the F16 twin of the synthetic model —
    * the F16 panel decode
    * ([[graft.ner.LinearWeight.F16]], round-8 VERDICT #4) exercised
    * end-to-end under Spark parallelism.
    * q26/q208/q205 bench times together form the F32/F16/Q4
    * weight-precision profile for a cache-resident model (BASELINE.md; the
    * weight-streaming regime where F16 halves traffic is what a
    * bert-base-class model would see).
    */
  private val withModelF16 =
    withModelOf(() => graft.ner.SyntheticModel.loadedF16) _

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q24_ner_flagship", flagship, Some(oFlagship)),
    QueryDef("q25_ner_extract_sql", extract2, Some(oFlagship)),
    QueryDef("q26_ner_with_model", withModel, None),
    QueryDef("q205_ner_q4_native", withModelQ4, None),
    QueryDef("q208_ner_f16_native", withModelF16, None))
}
