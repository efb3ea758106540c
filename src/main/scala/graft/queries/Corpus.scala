package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs between raw
  * ingestion and dedup: lambda-based array analytics, term weighting,
  * n-gram statistics, PII scrubbing, deterministic corpus splits, and
  * overlapping-window chunking. No reference counterpart (the reference
  * delegates all of this to its host engine); every query here is exact
  * integer/string/IEEE-arithmetic work so the DuckDB oracle reproduces it
  * bit-for-bit.
  *
  * Scale notes: q69/q70/q73/q74/q75/q77 are per-row maps or map + explode
  * (shuffle-free until their final aggregation); q72 is the classic
  * two-aggregation term-weighting shape whose document-frequency side is a
  * broadcastable dimension.
  */
object Corpus {
  import Tables._

  private def wsCol = split(trim(col("text")), "\\s+")

  /** q69: higher-order array functions (filter/aggregate/transform lambdas)
    * — Catalyst's codegen'd lambda expressions, no UDFs.
    */
  private def q69(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("ws", wsCol)
      .select(
        col("doc_id"),
        size(filter(col("ws"), w => length(w) > 5)).as("n_long"),
        aggregate(col("ws"), lit(0), (acc, w) => acc + length(w))
          .as("sum_len"),
        array_max(transform(col("ws"), w => length(w))).as("max_len"),
        array_join(transform(slice(col("ws"), 1, 5), w => upper(w)), " ")
          .as("upper5"))
      .orderBy(col("doc_id"))

  private val o69 = """
    SELECT doc_id,
           CAST(len(list_filter(ws, w -> length(w) > 5)) AS INT) AS n_long,
           CAST(list_sum(list_transform(ws, w -> length(w))) AS INT)
             AS sum_len,
           CAST(list_max(list_transform(ws, w -> length(w))) AS INT)
             AS max_len,
           array_to_string(list_transform(list_slice(ws, 1, 5),
                                          w -> upper(w)), ' ') AS upper5
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          FROM documents)
    ORDER BY doc_id"""

  /** q70: positional explode (generator with ordinality). DuckDB 1.0 has no
    * WITH ORDINALITY; `unnest + generate_subscripts` expand in lockstep.
    */
  private def q70(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("doc_id") < 20)
      .withColumn("ws", wsCol)
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "word")))
      .orderBy(col("doc_id"), col("pos"))

  private val o70 = """
    SELECT doc_id,
           CAST(generate_subscripts(ws, 1) - 1 AS INT) AS pos,
           unnest(ws) AS word
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          FROM documents WHERE doc_id < 20)
    ORDER BY doc_id, pos"""

  /** q71: conditional + argmax aggregates: count_if, filtered sum, bool
    * or/and, max_by/min_by. The arg key is a zero-padded (price, orderkey)
    * string so ties are impossible and both engines' argmax pick the same
    * row deterministically.
    */
  private def q71(s: SparkSession, d: String): DataFrame = {
    val key = Keys.key(
      Keys.asc("cast(round(o_totalprice * 100) as bigint)", 12),
      Keys.asc("o_orderkey", 12))
    orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("count_if(o_totalprice > 200000)").as("n_big"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
          .cast("long").as("n_urgent"),
        expr("bool_or(o_totalprice > 400000)").as("has_huge"),
        expr("bool_and(o_totalprice > 0)").as("all_positive"),
        expr(s"max_by(o_orderkey, $key)").as("top_order"),
        expr(s"min_by(o_orderkey, $key)").as("bottom_order"))
      .orderBy(col("o_orderstatus"))
  }

  private val o71 = {
    val okey = Keys.oKey(
      Keys.oAsc("CAST(round(o_totalprice * 100) AS BIGINT)", 12),
      Keys.oAsc("o_orderkey", 12))
    s"""
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           bool_or(o_totalprice > 400000) AS has_huge,
           bool_and(o_totalprice > 0) AS all_positive,
           arg_max(o_orderkey, $okey) AS top_order,
           arg_min(o_orderkey, $okey) AS bottom_order
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  }

  /** q72: TF-IDF-style term weighting, top-3 terms per document. The weight
    * is `tf * (N / df)` — multiplication and division are exactly rounded in
    * IEEE-754, so identical inputs give bit-identical doubles in both
    * engines (a logarithmic idf would differ in last ulps per row — the
    * linear variant keeps the oracle exact). The document-frequency side is
    * a per-term dimension — broadcast, so the big fact side never shuffles.
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).withColumn("ws", wsCol)
    // persisted: tf feeds both the document-frequency aggregate and the
    // scored join below — without it the explode+aggregate subtree
    // evaluates twice
    val tf = docs
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // the corpus size joins in on a column-derived constant key so Catalyst
    // plans a broadcast HASH join; a literal crossJoin would plan as
    // BroadcastNestedLoopJoin (harmless for 1 row, but the catalog keeps a
    // strict no-nested-loop invariant)
    val n = documents(s, d).agg(count(lit(1)).as("n"))
      .withColumn("k", pmod(col("n"), lit(1)).cast("int"))
    val scored = tf.filter(col("doc_id") < 10)
      .join(broadcast(df), "term")
      .withColumn("k", pmod(col("tf"), lit(1)).cast("int"))
      .join(broadcast(n), "k")
      .withColumn("score",
        col("tf").cast("double") *
          (col("n").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    val out = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"),
        col("rn"))
      .orderBy(col("doc_id"), col("rn"))
    Cached.scopedTo(out, tf)
  }

  private val o72 = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
           GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rn FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE)
               / CAST(df.df AS DOUBLE)) AS score,
             row_number() OVER (PARTITION BY tf.doc_id ORDER BY
               CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE)
                 / CAST(df.df AS DOUBLE)) DESC, tf.term) AS rn
      FROM tf JOIN df USING (term), n
      WHERE tf.doc_id < 10)
    WHERE rn <= 3 ORDER BY doc_id, rn"""

  /** q73: top-20 corpus bigrams. The adjacent-pair list comes from zipping
    * the word list with its own tail (null-padded tail entries are dropped);
    * per-row map + explode, then one count aggregation — the n-gram LM-stats
    * shape.
    */
  private def q73(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .withColumn("ws", wsCol)
      .select(explode(filter(
        zip_with(
          col("ws"),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        x => x.isNotNull)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  private val o73 = """
    SELECT bigram, count(*) AS cnt
    FROM (SELECT unnest(list_transform(range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
          FROM (SELECT string_split_regex(trim(text), '\s+') AS ws
                FROM documents))
    GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20"""

  /** q74: PII-style scrubbing: redact email-shaped tokens then digit runs,
    * and count redactions. Patterns stick to character classes + quantifiers
    * so Java regex and DuckDB's RE2 agree; DuckDB needs the 'g' flag to
    * replace all occurrences. Output carries md5 of the scrubbed text, not
    * the text, to keep compare rows narrow.
    */
  private def q74(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(col("text"),
            "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
          "[0-9]+", "<NUM>"))
      .select(
        col("doc_id"),
        md5(col("scrubbed")).as("scrub_md5"),
        expr("CAST(regexp_count(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+') AS INT)")
          .as("n_emails"),
        expr("CAST(regexp_count(text, '[0-9]+') AS INT)").as("n_nums"),
        (length(col("text")) - length(col("scrubbed"))).cast("int")
          .as("chars_removed"))
      .orderBy(col("doc_id"))

  private val o74 = """
    SELECT doc_id, md5(scrubbed) AS scrub_md5,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
           CAST(length(text) - length(scrubbed) AS INT) AS chars_removed
    FROM (SELECT doc_id, text,
            regexp_replace(
              regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+',
                             '<EMAIL>', 'g'),
              '[0-9]+', '<NUM>', 'g') AS scrubbed
          FROM documents)
    ORDER BY doc_id"""

  /** THE content-hash split convention, one definition for every consumer
    * (q75 and the composed pipeline q112, both engines): first md5 hex digit
    * 0-b => train (75%), c-d => val, e-f => test.
    */
  private def splitCol(text: Column): Column = {
    val h = substring(md5(text), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  private def oSplitCase(textExpr: String): String =
    s"""CASE WHEN substr(md5($textExpr), 1, 1) < 'c' THEN 'train'
             WHEN substr(md5($textExpr), 1, 1) < 'e' THEN 'val'
             ELSE 'test' END"""

  /** q75: deterministic train/val/test split on a content hash — the
    * reproducible (re-runnable, engine-portable) corpus split
    * ([[splitCol]]). Shuffle-free until the 3-group rollup.
    */
  private def q75(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("split", splitCol(col("text")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))

  private def o75 = s"""
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM (SELECT doc_id, n_chars, ${oSplitCase("text")} AS split
          FROM documents)
    GROUP BY split ORDER BY split"""

  /** q77: overlapping-window chunking (200-char windows, stride 150) — how
    * long documents become training samples. Chunk index comes from an
    * exploded integer sequence so the whole operator is a per-row map +
    * generator, no shuffle; floor of an IEEE division is bit-identical in
    * both engines.
    */
  private def q77(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("last_ci",
        greatest(floor((length(col("text")) - 1) / lit(150.0)).cast("int"),
          lit(0)))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), col("last_ci"))).as("ci"))
      .select(
        col("doc_id"), col("ci"),
        (col("ci") * 150 + 1).as("start"),
        md5(expr("substring(text, ci * 150 + 1, 200)")).as("chunk_md5"),
        length(expr("substring(text, ci * 150 + 1, 200)")).cast("int")
          .as("chunk_len"))
      .orderBy(col("doc_id"), col("ci"))

  private val o77 = """
    SELECT doc_id, CAST(ci AS INT) AS ci, CAST(ci * 150 + 1 AS INT) AS start,
           md5(substr(text, CAST(ci * 150 + 1 AS INT), 200)) AS chunk_md5,
           CAST(length(substr(text, CAST(ci * 150 + 1 AS INT), 200)) AS INT)
             AS chunk_len
    FROM (SELECT doc_id, text,
            unnest(range(0, greatest(CAST(floor((length(text) - 1) / 150.0)
                                          AS INT), 0) + 1)) AS ci
          FROM documents)
    ORDER BY doc_id, ci"""

  /** q83: train/eval contamination detection — corpus documents sharing
    * word-3-grams with a held-out benchmark set (here: doc_id < 5 stands in
    * for the eval set). The benchmark n-gram table is tiny and broadcast, so
    * the corpus side is one shuffle-free map + explode + broadcast-hash
    * probe; work scales with corpus size, never benchmark x corpus.
    */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val benchGrams = word3grams(documents(s, d).filter(col("doc_id") < 5))
      .select(col("gram")).distinct()
    // persisted: referenced twice below (per-doc sizes + the broadcast
    // probe) — without it the split/explode subtree evaluates twice
    val corpusGrams = word3grams(
      parallelize(s, documents(s, d).filter(col("doc_id") >= 5))).persist()
    val sz = corpusGrams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val out = corpusGrams
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .join(sz, "doc_id")
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        round(col("n_hits") / col("n_grams").cast("double"), 6)
          .as("contamination"))
      .orderBy(col("doc_id"))
    Cached.scopedTo(out, corpusGrams)
  }

  private val o83 = """
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, len(w) - 2),
               i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS gram
      FROM d WHERE len(w) >= 3),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
    corpus AS (SELECT * FROM g WHERE doc_id >= 5),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, count(*) AS n_hits
      FROM corpus c JOIN bench b ON c.gram = b.gram
      GROUP BY c.doc_id)
    SELECT h.doc_id, h.n_hits, s.n_grams,
           round(h.n_hits / CAST(s.n_grams AS DOUBLE), 6) AS contamination
    FROM hits h JOIN sz s ON h.doc_id = s.doc_id
    ORDER BY h.doc_id"""

  /** q93: repeated-n-gram ratio — the classic repetition quality filter
    * (high duplicate-3-gram fraction flags boilerplate/spam). Per-row map,
    * shuffle-free.
    */
  private def q93(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .withColumn("ws", wsCol)
      .filter(size(col("ws")) >= 3)
      .withColumn("grams", expr(Tables.word3GramArraySql))
      .select(
        col("doc_id"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_distinct"),
        round(lit(1.0) -
          size(array_distinct(col("grams"))).cast("double") /
            size(col("grams")).cast("double"), 6).as("dup_ratio"))
      .orderBy(col("doc_id"))

  private val o93 = """
    SELECT doc_id, CAST(len(g) AS INT) AS n_grams,
           CAST(len(list_distinct(g)) AS INT) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                       / CAST(len(g) AS DOUBLE), 6) AS dup_ratio
    FROM (SELECT doc_id,
            list_transform(range(0, len(w) - 2),
              i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]) AS g
          FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents)
          WHERE len(w) >= 3)
    ORDER BY doc_id"""

  /** q94: domain mixing weights — per-source sampling weight that would
    * rebalance the corpus to uniform shares (weight = target share /
    * actual share). The arithmetic is one integer-count aggregation plus
    * exact IEEE division, so the oracle matches bit-for-bit.
    */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .select(col("source"), col("cnt"),
        round(col("total").cast("double") / (col("k") * col("cnt")), 6)
          .as("mix_weight"))
      .orderBy(col("source"))
  }

  private val o94 = """
    SELECT source, cnt,
           round(CAST(total AS DOUBLE) / (k * cnt), 6) AS mix_weight
    FROM (SELECT source, count(*) AS cnt,
                 sum(count(*)) OVER () AS total,
                 count(*) OVER () AS k
          FROM documents GROUP BY source)
    ORDER BY source"""

  /** q103: sequence packing — concat-and-split assignment of documents into
    * fixed-size (512-token) training bins, the step that turns a cleaned
    * corpus into dense pretraining sequences. Docs pack in doc_id order
    * WITHIN independent shards (`pmod(doc_id, 8)`), so at scale each shard
    * packs in parallel after one shuffle and no global order exists; a
    * cluster run raises the shard count with the executor count. The bin of
    * a doc is `cumulative-tokens-before DIV 512` (concat-and-split: a doc
    * may straddle bins; every bin except a shard's last is exactly full),
    * a running sum per shard.
    *
    * Scale shape (rewritten r12 — the structural window-discipline walk
    * flagged the original single window per 8-way shard as exactly the
    * O(1)-partition row-rank class it polices): the per-shard running sum
    * is TWO-PHASE, the q256/q271 prefix-sum recipe — doc_id-block partials
    * (one hash aggregation), cumulative block offsets over the
    * shards×blocks frame, and a within-(shard, block) running pass whose
    * partition count GROWS with the corpus. Offsets join back
    * co-partitioned on (shard, block) — never broadcast, the block frame
    * grows with data. Block order refines doc_id order, so
    * cum_before = block_offset + in-block running sum is integer-identical
    * to the single-window form and the oracle is unchanged.
    */
  private def q103(s: SparkSession, d: String): DataFrame = {
    val binSize = 512
    val blockW = 1024L
    val t = documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
        size(wsCol).as("n_tok"),
        expr(s"doc_id DIV $blockW").as("block"))
    val wb = Window.partitionBy(col("shard")).orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boffs = t.groupBy(col("shard"), col("block"))
      .agg(sum(col("n_tok")).as("bsum"))
      .withColumn("boff", coalesce(sum(col("bsum")).over(wb), lit(0L)))
      .select(col("shard"), col("block"), col("boff"))
    val wIn = Window.partitionBy(col("shard"), col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("s_in", coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .join(boffs, Seq("shard", "block"))
      .withColumn("cum_before", col("boff") + col("s_in"))
      .withColumn("bin", expr(s"cum_before DIV $binSize"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("tok_sum"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("shard"), col("bin"))
  }

  private val o103 = """
    WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                      len(string_split_regex(trim(text), '\s+')) AS n_tok
               FROM documents),
    c AS (SELECT doc_id, shard, n_tok,
                 CAST(COALESCE(sum(n_tok) OVER (PARTITION BY shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          FROM t)
    SELECT shard, cum_before // 512 AS bin, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum, min(doc_id) AS first_doc
    FROM c GROUP BY shard, bin ORDER BY shard, bin"""

  /** q105: deterministic stratified sampling — top-3 docs per language by
    * md5(doc_id) rank, the reproducible per-stratum pick a pipeline uses
    * for eval carve-outs and inspection samples (no RNG state, any engine
    * reproduces the same sample). Window top-k per stratum: k rows survive
    * per group; on a skewed stratum at 100 TB the same query pre-filters
    * with a hash-prefix predicate (md5 < threshold) to bound the sort input
    * — the rank stays correct because the hash order is the sort order.
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy(col("lang"), col("rk"))
  }

  private val o105 = """
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
    WHERE rk <= 3 ORDER BY lang, rk"""

  /** q112: the corpus-prep stages COMPOSED end-to-end in one declarative
    * plan — quality gate, exact dedup (lowest doc_id survives per identical
    * text), deterministic content-hash split (q75's convention), per-split
    * rollup — proving the catalog's stages chain without materialization
    * boundaries: Catalyst fuses the gate into the scan, the dedup is one
    * aggregation (min doc_id per md5) feeding a semi-join, and the split is
    * a shuffle-free map before the final 3-group rollup. This is the shape
    * a production run executes nightly; each stage is oracle-checked alone
    * elsewhere (q32/q35/q75), the composition is oracle-checked here.
    */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val gated = documents(s, d)
      .withColumn("n_tok", size(wsCol))
      .filter(col("n_tok") >= 5 && col("n_chars") >= 20)
    val survivors = gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    gated
      .join(survivors, Seq("doc_id"), "left_semi")
      .withColumn("split", splitCol(col("text")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("split"))
  }

  private def o112 = s"""
    WITH gated AS (
      SELECT doc_id, text, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
        AND n_chars >= 20),
    survivors AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
    split AS (
      SELECT g.*, ${oSplitCase("g.text")} AS split
      FROM gated g JOIN survivors s ON g.doc_id = s.doc_id)
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           min(doc_id) AS min_doc
    FROM split GROUP BY split ORDER BY split"""

  /** q126: token co-occurrence + pointwise mutual information — the
    * association-mining statistic (collocation detection, embedding-free
    * relatedness) over within-document token pairs. Pair space is bounded
    * BEFORE pairing: only tokens in the broadcast top-20-df vocabulary
    * participate, so the per-doc self-join emits ≤ C(20,2) pairs per doc
    * regardless of corpus size — the standard guard that keeps co-occurrence
    * mining linear in the corpus. PMI's ln() is a single transcendental per
    * OUTPUT row (30 rows), rounded at 6 per the parity rules.
    */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val docTok = documents(s, d)
      .select(col("doc_id"), explode(wsCol).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
    val vocab = docTok.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(20)
    val in = docTok.join(broadcast(vocab), Seq("tok"))
    val nDocs = documents(s, d).select(
      countDistinct(col("doc_id")).as("n_docs"),
      pmod(count(lit(1)), lit(1)).as("jk")) // column-derived key, stays a hash join
    in.as("a")
      .join(in.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .agg(count(lit(1)).as("n_both"))
      .withColumn("jk", pmod(col("n_both"), lit(1)))
      .join(broadcast(nDocs), Seq("jk"))
      .select(col("tok_a"), col("tok_b"), col("n_both"),
        round(
          log((col("n_both") * col("n_docs")).cast("double") /
            (col("df_a") * col("df_b")).cast("double")), 6).as("pmi"))
      .orderBy(col("n_both").desc, col("tok_a"), col("tok_b"))
      .limit(30)
  }

  private val o126 = """
    WITH docTok AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents)
      WHERE length(tok) > 0),
    vocab AS (
      SELECT tok, count(*) AS df FROM docTok GROUP BY tok
      ORDER BY df DESC, tok LIMIT 20),
    i AS (SELECT d.doc_id, d.tok, v.df
          FROM docTok d JOIN vocab v ON d.tok = v.tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
             count(*) AS n_both
      FROM i a JOIN i b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2, 3, 4)
    SELECT tok_a, tok_b, n_both,
           round(ln(CAST(n_both * (SELECT count(DISTINCT doc_id)
                                   FROM documents) AS DOUBLE)
                    / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi
    FROM pairs
    ORDER BY n_both DESC, tok_a, tok_b LIMIT 30"""

  /** q131: BM25 retrieval — score every document against a fixed term query
    * and return the top 20. The classic search-engine ranking function as
    * one declarative plan:
    *   - the postings explode is filtered to the QUERY'S terms immediately
    *     (an `isin` literal filter under the generator), so everything past
    *     the scan touches only matching postings — at 100 TB the per-query
    *     work is proportional to the query terms' posting lists, never the
    *     corpus token count;
    *   - document length joins in from the same scan (carried through the
    *     explode, no second pass over `text`);
    *   - df and the (N, avgdl) corpus stats are tiny aggregates joined back
    *     by broadcast on column-derived keys (hash join, not nested loop).
    * Scoring uses the standard Robertson/Sparck-Jones parameters k1=1.2,
    * b=0.75 and the +1-smoothed idf. The ln() lands inside a rounded
    * per-doc sum, so engine ulp drift cannot flip a digit.
    */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("spark", "hash", "merge")

  /** BM25-scored frame (doc_id, bm25, n_terms_hit) — shared by q131 (the
    * top-k listing) and q200 (the candidate-generation stage of hybrid
    * retrieval). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val stats = docs
      .agg(count(lit(1)).as("n_docs"), avg(size(col("ws"))).as("avgdl"))
      .withColumn("jk", pmod(col("n_docs"), lit(1)).cast("int"))
    val tf = docs
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .withColumn("jk", pmod(col("tf"), lit(1)).cast("int"))
      .join(broadcast(stats), Seq("jk"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("w",
        col("idf") * col("tf") * lit(Bm25K1 + 1.0) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 5).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** q131: BM25 top 20, every document scored against the fixed three-term query. */
  private def q131(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)

  /** q200: hybrid two-stage retrieval — the production retrieval
    * architecture: a CHEAP ranker (BM25, inverted-index-shaped work) prunes
    * the corpus to 20 candidates, and the EXPENSIVE ranker (embedding
    * cosine against the query vector) re-ranks only those. Differs from
    * q164 (RRF), which fuses two FULL rankings — here the semantic stage
    * never touches a non-candidate row, which is the at-scale point: stage
    * 2's cost is O(candidates), independent of corpus size. Output: the
    * semantic top-10 with both ranks side by side (the rank_bm25 column is
    * the re-ranking's visible effect).
    */
  private def q200(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dotc(a: Column, b: Column): Column =
      graft.functions.DotProductExpression.dotProduct(a, b)
    def toD(a: Column): Column = transform(a, x => x.cast("double"))
    val cand = bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    val ev = embeddings(s, d)
      .select(col("vec_id").as("doc_id"), toD(col("embedding")).as("v"))
    val qv = embeddings(s, d).filter(col("vec_id") === 0)
      .select(toD(col("embedding")).as("qv"),
        pmod(col("vec_id"), lit(1)).as("jk"))
    val scored = cand.filter(col("doc_id") =!= 0)
      .join(ev, Seq("doc_id"))
      .withColumn("jk", pmod(col("doc_id"), lit(1)))
      .join(broadcast(qv), Seq("jk"))
      .select(col("doc_id"), col("bm25"),
        round(dotc(col("v"), col("qv")) /
          (sqrt(dotc(col("v"), col("v"))) * sqrt(dotc(col("qv"), col("qv")))),
          6).as("cos_q"))
    // both rank windows run over the 20-row candidate set only
    val wB = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wC = Window.orderBy(col("cos_q").desc, col("doc_id"))
    scored
      .withColumn("rank_bm25", row_number().over(wB).cast("int"))
      .withColumn("rank_sem", row_number().over(wC).cast("int"))
      .filter(col("rank_sem") <= 10)
      .select(col("rank_sem"), col("doc_id"), col("bm25"), col("cos_q"),
        col("rank_bm25"))
      .orderBy(col("rank_sem"))
  }

  private val o200 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM docs),
    toks AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term
      FROM docs),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM toks WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
      GROUP BY doc_id, term),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scoreall AS (
      SELECT doc_id,
             round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * ${Bm25K1 + 1.0}
                 / (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))
             ), 5) AS bm25
      FROM tf JOIN dfr USING (term), stats GROUP BY doc_id),
    cand AS (SELECT doc_id, bm25 FROM scoreall
             ORDER BY bm25 DESC, doc_id LIMIT 20),
    ev AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    sc AS (
      SELECT c.doc_id, c.bm25,
             round(list_cosine_similarity(ev.v, q.qv), 6) AS cos_q
      FROM cand c JOIN ev ON ev.doc_id = c.doc_id, q
      WHERE c.doc_id <> 0),
    r AS (
      SELECT doc_id, bm25, cos_q,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS rank_bm25,
             CAST(row_number() OVER (ORDER BY cos_q DESC, doc_id) AS INT)
               AS rank_sem
      FROM sc)
    SELECT rank_sem, doc_id, bm25, cos_q, rank_bm25
    FROM r WHERE rank_sem <= 10 ORDER BY rank_sem"""

  private val o131 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM docs),
    toks AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term
      FROM docs),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM toks WHERE term IN ('spark', 'hash', 'merge')
      GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id,
           round(sum(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * ${Bm25K1 + 1.0}
               / (tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl / avgdl))
           ), 5) AS bm25,
           count(*) AS n_terms_hit
    FROM tf JOIN df USING (term), stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20"""

  /** q133: bigram-language-model perplexity scoring — the classic
    * KenLM-style quality filter: fit add-one-smoothed bigram probabilities
    * on the corpus itself, then score every document's cross-entropy
    * `H = avg(-ln p(w_i | w_{i-1}))` under that model.
    *
    * Scale shape: the model (bigram counts, unigram context counts, vocab
    * size) is vocabulary-bounded, not corpus-bounded — here it rides a
    * broadcast; dropping the hint degrades gracefully to a shuffle join on
    * the SAME n-gram key, never a replan. The document side is one explode
    * pass; per-doc H is one hash aggregation. Only the rounded per-doc
    * AGGREGATES of the ln() terms are compared (engine ulp drift on a
    * single ln cannot survive a 150-term mean rounded to 4 digits).
    */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val bg = docs.select(col("doc_id"),
      explode(filter(
        zip_with(
          col("ws"),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        x => x.isNotNull)).as("bigram"))
    val c12 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = docs.select(explode(col("ws")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
      .withColumn("jk", pmod(col("v"), lit(1)).cast("int"))
    bg.join(broadcast(c12), Seq("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(broadcast(c1), Seq("w1"))
      .withColumn("jk", pmod(col("c12"), lit(1)).cast("int"))
      .join(broadcast(v), Seq("jk"))
      .withColumn("nlp",
        -log((col("c12") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nlp")), 4).as("cross_entropy"),
        round(exp(avg(col("nlp"))), 2).as("perplexity"))
      .orderBy(col("doc_id"))
  }

  private val o133 = """
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM docs),
    c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
    c1 AS (SELECT w1, count(*) AS c1
           FROM (SELECT unnest(ws) AS w1 FROM docs) GROUP BY w1),
    v AS (SELECT count(*) AS v FROM c1)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(nlp), 4) AS cross_entropy,
           round(exp(avg(nlp)), 2) AS perplexity
    FROM (
      SELECT b.doc_id,
             -ln((c.c12 + 1.0) / (u.c1 + v.v)) AS nlp
      FROM bg b
      JOIN c12 c USING (bigram)
      JOIN c1 u ON u.w1 = string_split(b.bigram, ' ')[1], v)
    GROUP BY doc_id ORDER BY doc_id"""

  /** Kneser–Ney absolute discount (the standard 0.75). Exact in binary
    * (3/4), so both engines compute identical doubles. */
  private val KnDiscount = 0.75

  /** q213: interpolated Kneser–Ney bigram perplexity — the PRODUCTION LM
    * smoothing (what KenLM builds and the CCNet quality pipeline scores
    * with), completing the LM-scoring family: q133 is the add-one teaching
    * baseline, this is the one real pipelines run. Per bigram:
    *
    *   p_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *               + D·N1+(w1·)/c(w1·) · N1+(·w2)/|B|
    *
    * with D = 0.75, N1+(w1·)/N1+(·w2) the distinct right/left-neighbor
    * counts, |B| the distinct-bigram-type count — the continuation
    * probability that makes KN rank "Francisco" low despite high frequency
    * (it follows only "San"). Scoring the corpus's own bigrams means every
    * term is in-model (no OOV arm needed); all inputs are exact integer
    * counts and the discount is exact in binary, so the probabilities are
    * bit-identical cross-engine and only the rounded per-doc ln-aggregates
    * need the q133 rounding discipline.
    *
    * Scale shape: identical to q133 — every model table (bigram types,
    * context counts, continuation counts, the |B| scalar) is
    * vocabulary-bounded and broadcast; the scored side is one explode +
    * broadcast probes + one hash aggregation.
    */
  private def q213(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val bg = docs.select(col("doc_id"), explode(bigramArr).as("bigram"))
    val c12 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val w = c12
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val ctx = w.groupBy(col("w1")).agg(
      sum(col("c12")).as("cctx"), count(lit(1)).as("n1f"))
    val cont = w.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val btot = c12.agg(count(lit(1)).as("btypes"))
      .withColumn("jk", pmod(col("btypes"), lit(1)).cast("int"))
    bg.join(broadcast(w), Seq("bigram"))
      .join(broadcast(ctx), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .withColumn("jk", pmod(col("c12"), lit(1)).cast("int"))
      .join(broadcast(btot), Seq("jk"))
      .withColumn("nlp", -log(
        greatest(col("c12") - lit(KnDiscount), lit(0.0)) / col("cctx")
          + lit(KnDiscount) * col("n1f") / col("cctx")
            * (col("n1b").cast("double") / col("btypes"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nlp")), 4).as("ce_kn"),
        round(exp(avg(col("nlp"))), 2).as("ppl_kn"))
      .orderBy(col("doc_id"))
  }

  private val o213 = s"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM docs),
    c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
    w AS (SELECT bigram, c12,
                 string_split(bigram, ' ')[1] AS w1,
                 string_split(bigram, ' ')[2] AS w2
          FROM c12),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS cctx,
                   count(*) AS n1f
            FROM w GROUP BY w1),
    cont AS (SELECT w2, count(*) AS n1b FROM w GROUP BY w2),
    btot AS (SELECT count(*) AS btypes FROM c12),
    scored AS (
      SELECT b.doc_id,
             -ln(greatest(w.c12 - $KnDiscount, 0.0) / ctx.cctx
                 + $KnDiscount * ctx.n1f / ctx.cctx
                   * (CAST(cont.n1b AS DOUBLE) / btot.btypes)) AS nlp
      FROM bg b
      JOIN w USING (bigram)
      JOIN ctx ON ctx.w1 = w.w1
      JOIN cont ON cont.w2 = w.w2, btot)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(nlp), 4) AS ce_kn,
           round(exp(avg(nlp)), 2) AS ppl_kn
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** q138: weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): each document draws a deterministic md5-uniform u and gets the
    * exponential key `-ln(u) / weight`; the k smallest keys ARE a
    * weight-proportional sample without replacement. This is the standard
    * distributed weighted sampler — fully map-side (one hash per row) plus
    * a TakeOrdered(k), no shuffle, no RNG state, reproducible across
    * engines and re-runs.
    *
    * The uniform comes from the first 8 md5 hex digits: `(v + 0.5) / 2^32`
    * is exact IEEE arithmetic, so u is bit-identical in both engines; the
    * single ln() lands under round(8) where a last-ulp libm difference
    * cannot flip a digit.
    */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    documents(s, d)
      // an empty doc (n_chars=0) has zero weight — its A-ES key is
      // undefined: NULL on both engines (ANSI /0 would throw)
      .select(col("doc_id"), col("n_chars"),
        round(when(col("n_chars") > 0,
          -log((v.cast("double") + 0.5) / 4294967296.0)
            / col("n_chars")), 8).as("aes_key"))
      .orderBy(col("aes_key"), col("doc_id"))
      .limit(20)
  }

  private val o138 = """
    SELECT doc_id, n_chars,
           round(-ln((hv + 0.5) / 4294967296.0) / n_chars, 8) AS aes_key
    FROM (SELECT doc_id, n_chars,
                 list_sum(list_transform(range(1, 9), k ->
                   (strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1)
                   * power(16, 8 - k))) AS hv
          FROM documents)
    ORDER BY aes_key, doc_id LIMIT 20"""

  /** Word-bigram array for LM-style scoring (the q133 construction, shared
    * by q209/q210): zip each word with its successor, drop the trailing
    * null. Expects a `ws` column holding the whitespace-split words.
    */
  private def bigramArr: Column = filter(
    zip_with(
      col("ws"),
      slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b)),
    x => x.isNotNull)

  /** q209: Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis, ACL 2010 — the CCNet/WebText-era workhorse for mining
    * in-domain-like documents out of a general crawl): fit an add-one
    * bigram LM on an in-domain seed (here: the `lang = 'en'` slice) and a
    * second LM on the whole corpus, then score every out-of-pool document
    * by `H_in(doc) − H_general(doc)`. The most-negative scores are the
    * documents the in-domain model finds easiest RELATIVE to the general
    * model — the selection signal — with the general term cancelling the
    * "short/common words are easy for everyone" bias a raw in-domain
    * perplexity ranking (q133) suffers from.
    *
    * Scale shape: both models are vocabulary-bounded broadcast dimensions
    * (bigram counts, context counts, vocab sizes), exactly q133's stance;
    * the scored side is one explode + four broadcast-hash probes + one hash
    * aggregation. Seed bigrams UNSEEN in-domain take the smoothed floor via
    * LEFT joins + coalesce(0) — OOV handling lives in the join shape, not
    * in a data pass. Only rounded per-doc AGGREGATES of the ln() terms are
    * compared (engine ulp drift cannot survive a multi-term mean rounded
    * to 4 digits).
    */
  private def q209(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val bg = docs.select(col("doc_id"), col("lang"),
      explode(bigramArr).as("bigram"))
    // in-domain model (seed = English slice)
    val c12i = bg.filter(col("lang") === "en")
      .groupBy(col("bigram")).agg(count(lit(1)).as("ci"))
    val c1i = docs.filter(col("lang") === "en")
      .select(explode(col("ws")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("ui"))
    val vi = c1i.agg(count(lit(1)).as("vi"))
      .withColumn("jk", pmod(col("vi"), lit(1)).cast("int"))
    // general model (whole corpus)
    val c12g = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cg"))
    val c1g = docs.select(explode(col("ws")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("ug"))
    val vg = c1g.agg(count(lit(1)).as("vg"))
      .withColumn("jk", pmod(col("vg"), lit(1)).cast("int"))
    bg.filter(col("lang") =!= "en")
      .join(broadcast(c12g), Seq("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(broadcast(c1g), Seq("w1"))
      .join(broadcast(c12i), Seq("bigram"), "left")
      .join(broadcast(c1i), Seq("w1"), "left")
      .withColumn("jk", pmod(col("cg"), lit(1)).cast("int"))
      .join(broadcast(vi), Seq("jk"))
      .join(broadcast(vg), Seq("jk"))
      .withColumn("nlp_in",
        -log((coalesce(col("ci"), lit(0L)) + lit(1.0))
          / (coalesce(col("ui"), lit(0L)) + col("vi"))))
      .withColumn("nlp_gen",
        -log((col("cg") + lit(1.0)) / (col("ug") + col("vg"))))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nlp_in")), 4).as("ce_in"),
        round(avg(col("nlp_gen")), 4).as("ce_gen"),
        round(avg(col("nlp_in")) - avg(col("nlp_gen")), 4).as("ml_score"))
      .orderBy(col("ml_score"), col("doc_id"))
      .limit(25)
  }

  private val o209 = """
    WITH docs AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    bg AS (
      SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM docs),
    c12i AS (SELECT bigram, count(*) AS ci FROM bg WHERE lang = 'en'
             GROUP BY bigram),
    c1i AS (SELECT w1, count(*) AS ui
            FROM (SELECT unnest(ws) AS w1 FROM docs WHERE lang = 'en')
            GROUP BY w1),
    vi AS (SELECT count(*) AS vi FROM c1i),
    c12g AS (SELECT bigram, count(*) AS cg FROM bg GROUP BY bigram),
    c1g AS (SELECT w1, count(*) AS ug
            FROM (SELECT unnest(ws) AS w1 FROM docs) GROUP BY w1),
    vg AS (SELECT count(*) AS vg FROM c1g),
    scored AS (
      SELECT p.doc_id, p.lang,
             -ln((coalesce(ci.ci, 0) + 1.0)
                 / (coalesce(ui.ui, 0) + vi.vi)) AS nlp_in,
             -ln((cg.cg + 1.0) / (ug.ug + vg.vg)) AS nlp_gen
      FROM bg p
      JOIN c12g cg USING (bigram)
      JOIN c1g ug ON ug.w1 = string_split(p.bigram, ' ')[1]
      LEFT JOIN c12i ci USING (bigram)
      LEFT JOIN c1i ui ON ui.w1 = string_split(p.bigram, ' ')[1],
      vi, vg
      WHERE p.lang != 'en')
    SELECT doc_id, lang, count(*) AS n_bigrams,
           round(avg(nlp_in), 4) AS ce_in,
           round(avg(nlp_gen), 4) AS ce_gen,
           round(avg(nlp_in) - avg(nlp_gen), 4) AS ml_score
    FROM scored GROUP BY doc_id, lang
    ORDER BY ml_score, doc_id LIMIT 25"""

  /** Hashed-feature bucket count for q210 (DSIR): 3 leading md5 hex digits
    * = 4096 buckets, bit-reproducible in both engines. */
  private val DsirBuckets = 4096

  /** q210: DSIR — data selection via importance resampling (Xie et al.,
    * NeurIPS 2023): instead of q209's explicit LMs, represent target and
    * raw distributions over a HASHED n-gram feature space (word bigrams →
    * 4096 md5 buckets) and weight every raw document by its log importance
    * ratio `Σ_f log(p_target(f) / p_raw(f))` with add-one smoothing per
    * bucket. Hashing fixes the model size regardless of vocabulary — the
    * property that lets the weight table broadcast at any corpus scale —
    * and the weights then drive a resampling pass (q138's A-ES machinery
    * is the without-replacement sampler this pairs with).
    *
    * Scale shape: feature extraction is a per-row map + explode; both
    * bucket-count tables are FIXED-width (4096 rows) broadcast dimensions;
    * per-doc weights are one broadcast-hash probe + hash aggregation. The
    * scored pool here is the non-English slice (target = English, matching
    * q209 so the two selection families rank the same pool).
    */
  private def q210(s: SparkSession, d: String): DataFrame =
    dsirDocWeights(s, d)
      .orderBy(col("log_weight").desc, col("doc_id"))
      .limit(25)

  /** Doc-grain DSIR log-weight frame — q210's pipeline minus the final
    * order/limit, shared with q219's resampler. */
  private def dsirDocWeights(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val feats = docs.select(col("doc_id"), col("lang"),
        explode(bigramArr).as("bigram"))
      .withColumn("b",
        conv(substring(md5(col("bigram")), 1, 3), 16, 10).cast("int"))
    val tgt = feats.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = feats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val totals = feats.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"),
        count(lit(1)).as("nr"))
      .withColumn("jk", pmod(col("nr"), lit(1)).cast("int"))
    val w = raw.join(tgt, Seq("b"), "left")
      .withColumn("jk", pmod(col("cr"), lit(1)).cast("int"))
      .join(broadcast(totals), Seq("jk"))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0))
            / (col("nt") + lit(DsirBuckets)))
          - log((col("cr") + lit(1.0)) / (col("nr") + lit(DsirBuckets))))
          .as("lw"))
    feats.filter(col("lang") =!= "en")
      .join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("lw")), 4).as("log_weight"))
  }

  /** Oracle CTE chain producing the q210/q219-shared `dw` doc-weight frame
    * (doc_id, lang, n_feats, log_weight). */
  private val oDsirCtes = s"""docs AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    feats AS (
      SELECT doc_id, lang,
             list_sum(list_transform(range(1, 4), k ->
               (strpos('0123456789abcdef', substr(md5(bigram), k, 1)) - 1)
               * power(16, 3 - k)))::INT AS b
      FROM (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
            FROM docs)),
    tgt AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en'
            GROUP BY b),
    raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
    totals AS (
      SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
             count(*) AS nr
      FROM feats),
    w AS (
      SELECT r.b,
             ln((coalesce(t.ct, 0) + 1.0) / (nt + $DsirBuckets))
               - ln((r.cr + 1.0) / (nr + $DsirBuckets)) AS lw
      FROM raw r LEFT JOIN tgt t USING (b), totals),
    dw AS (
      SELECT f.doc_id, f.lang, count(*) AS n_feats,
             round(sum(w.lw), 4) AS log_weight
      FROM feats f JOIN w USING (b)
      WHERE f.lang != 'en'
      GROUP BY f.doc_id, f.lang)"""

  private val o210 = s"""
    WITH $oDsirCtes
    SELECT doc_id, lang, n_feats, log_weight FROM dw
    ORDER BY log_weight DESC, doc_id LIMIT 25"""

  /** q219: importance RESAMPLING — the pass DSIR exists to feed (Xie et
    * al., NeurIPS 2023 select the resampled subset; q210 only scores).
    * Weighted sampling WITHOUT replacement over weights `exp(log_weight)`
    * via the Gumbel-top-k identity (Vieira 2014; equivalent to q138's
    * A-ES but computed ENTIRELY in log space: `key = log w − ln(−ln u)`),
    * so astronomically spread importance ratios never overflow or
    * underflow an `exp` — the numeric property that matters when a 100 TB
    * corpus's log-weights span hundreds of nats. `u` is the q138
    * md5-of-doc_id uniform; the weight entering the key is the ROUNDED
    * q210 log_weight, so selection is bit-reproducible cross-engine (and
    * re-runnable: same corpus, same subset). One per-row map over the
    * doc-weight frame + a top-k — no shuffle beyond q210's own
    * aggregation.
    */
  private def q219(s: SparkSession, d: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    dsirDocWeights(s, d)
      .withColumn("gumbel_key",
        round(col("log_weight") - log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(20)
  }

  private val o219 = s"""
    WITH $oDsirCtes,
    g AS (
      SELECT doc_id, lang, n_feats, log_weight,
             round(log_weight - ln(-ln((hv + 0.5) / 4294967296.0)), 6)
               AS gumbel_key
      FROM (SELECT dw.*, list_sum(list_transform(range(1, 9), k ->
              (strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), k, 1)) - 1)
              * power(16, 8 - k))) AS hv
            FROM dw))
    SELECT doc_id, lang, n_feats, log_weight, gumbel_key
    FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 20"""

  private val SnmWindow = 3

  /** q139: sorted-neighborhood dedup screening (SNM) — the classic
    * alternative to hash/LSH blocking: sort each language block by a
    * cheap key (length, then id), then compare each record only against
    * its next `SnmWindow` neighbors in sort order. Candidate volume is
    * EXACTLY window × corpus — linear by construction, no bucket-skew
    * failure mode — at the cost of only catching duplicates the sort key
    * places nearby (why real pipelines run several passes with different
    * keys).
    *
    * Plan shape (r11): the per-block rank decomposes as below(lang,
    * n_chars) + the tie rank within the (lang, n_chars) group — cumulative
    * counts over the bounded distinct-value frame (q152's grain) plus a
    * window whose partition count grows with |langs|×|n_chars domain|, so
    * no task ever sorts a whole language block (the old
    * `partitionBy(lang)` shape did exactly that at 100 TB). rn is
    * integer-identical; neighbor pairs then come from a generated offset
    * equi-join on (block, rank + offset), word-set Jaccard, top 20.
    */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val below = documents(s, d)
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("below",
        coalesce(sum(col("c")).over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("n_chars"), col("below"))
    val ranked = documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(wsCol).as("wset"))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))))
      .join(broadcast(below), Seq("lang", "n_chars"))
      .withColumn("rn", col("below") + col("rn2"))
    val probes = ranked
      .select(col("doc_id"), col("lang"), col("wset"),
        explode(sequence(lit(1), lit(SnmWindow))).as("off"),
        col("rn"))
      .withColumn("rn2", col("rn") + col("off"))
    probes.as("x")
      .join(ranked.as("y"),
        col("x.lang") === col("y.lang") && col("x.rn2") === col("y.rn"))
      // r15: |A∩B| via the count-only native kernel, |A∪B| by
      // inclusion–exclusion over the already-distinct wsets (exact:
      // |A∪B| = |A|+|B|−|A∩B|) — neither set-operation array is built
      .withColumn("ovl", graft.functions.IntersectCountExpression
        .intersectCount(col("x.wset"), col("y.wset")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(col("ovl").cast("double") /
          (size(col("x.wset")) + size(col("y.wset")) - col("ovl")), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  private val o139 = s"""
    WITH ranked AS (
      SELECT doc_id, lang,
             list_distinct(string_split_regex(trim(text), '\\s+')) AS wset,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS rn
      FROM documents),
    probes AS (
      SELECT doc_id, lang, wset, rn, rn + off.off AS rn2
      FROM ranked CROSS JOIN
        (SELECT unnest(range(1, ${SnmWindow + 1})) AS off) off)
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           round(CAST(len(list_intersect(x.wset, y.wset)) AS DOUBLE)
             / len(list_distinct(list_concat(x.wset, y.wset))), 6)
             AS jaccard
    FROM probes x JOIN ranked y ON x.lang = y.lang AND x.rn2 = y.rn
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""

  /** q151: vocabulary coverage curve — rank tokens by corpus frequency and
    * report the cumulative token-mass each rank covers: the measurement that
    * sizes a tokenizer vocabulary (or a stopword list): "the top V tokens
    * cover X% of the stream". Token counting is one hash aggregation over
    * the exploded stream (map-side combinable); the top-25 then comes from a
    * TakeOrdered over the vocabulary (per-partition heaps + merge — a
    * ranking WINDOW over the vocabulary would funnel every distinct token
    * through one sorted partition, the q127 anti-pattern), and the
    * rank/cumsum window runs over the 25 SURVIVORS only, with the corpus
    * total joined in as a broadcast scalar. Exact integer counts until the
    * final division.
    *
    * Rank ties cannot occur nondeterministically: everything orders by
    * (freq DESC, token), a total order.
    */
  private def q151(s: SparkSession, d: String): DataFrame = {
    val freqs = parallelize(s, documents(s, d))
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = freqs.agg(sum(col("freq")).as("total"))
      .withColumn("jk", pmod(col("total"), lit(1)))
    val w = Window.orderBy(col("freq").desc, col("token"))
    freqs
      .orderBy(col("freq").desc, col("token")).limit(25)
      .withColumn("jk", pmod(col("freq"), lit(1)) * lit(0))
      .join(broadcast(total), Seq("jk"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum(col("freq"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rnk"), col("token"), col("freq").cast("long").as("freq"),
        round(col("cum").cast("double") / col("total"), 6).as("cum_coverage"))
      .orderBy(col("rnk"))
  }

  private val o151 = """
    WITH f AS (
      SELECT w AS token, count(*) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      GROUP BY w),
    r AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS rnk,
             sum(freq) OVER (ORDER BY freq DESC, token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(freq) OVER () AS total
      FROM f)
    SELECT CAST(rnk AS INT) AS rnk, token, CAST(freq AS BIGINT) AS freq,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_coverage
    FROM r WHERE rnk <= 25 ORDER BY rnk"""

  /** q160: the corpus data card — the one-row summary a dataset release
    * ships with: volume (docs/tokens/chars), composition (languages,
    * sources), and integrity (exact-duplicate count via the q34
    * normalized fingerprint). Three independent aggregations stitched on
    * column-derived constant keys (each a broadcast of one row); every
    * number is an exact integer or a widely-rounded mean, so the card is
    * hash-comparable. At 100 TB each branch is one scan + one partial/final
    * aggregation; nothing here holds more than a row.
    */
  private def q160(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).agg(
      count(lit(1)).as("n_docs"),
      sum(size(wsCol)).cast("long").as("n_tokens"),
      sum(col("n_chars")).cast("long").as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      round(avg(col("n_chars")), 4).as("avg_chars"))
      .withColumn("jk", pmod(col("n_docs"), lit(1)))
    val dups = documents(s, d)
      .agg((count(lit(1)) - countDistinct(
        md5(regexp_replace(lower(col("text")), "\\s+", " "))))
        .as("n_exact_dups"))
      .withColumn("jk", pmod(col("n_exact_dups"), lit(1)))
    val vecs = embeddings(s, d).agg(count(lit(1)).as("n_vectors"))
      .withColumn("jk", pmod(col("n_vectors"), lit(1)))
    base.join(broadcast(dups), Seq("jk")).join(broadcast(vecs), Seq("jk"))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_sources"), col("avg_chars"),
        col("n_exact_dups"), col("n_vectors"))
  }

  private val o160 = """
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT CAST(sum(len(string_split_regex(trim(text), '\s+')))
              AS BIGINT) FROM documents) AS n_tokens,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) AS n_chars,
           (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
           (SELECT count(DISTINCT source) FROM documents) AS n_sources,
           (SELECT round(avg(n_chars), 4) FROM documents) AS avg_chars,
           (SELECT count(*) - count(DISTINCT
              md5(regexp_replace(lower(text), '\s+', ' ', 'g')))
            FROM documents) AS n_exact_dups,
           (SELECT count(*) FROM embeddings) AS n_vectors"""

  /** q161: length-bucketed batching audit — the inference/training
    * efficiency decision: batching mixed-length documents pads every one to
    * the batch max, so wasted compute = padding fraction. Compare the
    * no-bucketing strategy (pad all to the corpus max) against 4 quartile
    * buckets (pad to each bucket's max): the output is the waste each
    * strategy pays, which is the number that justifies length-aware
    * batching in a serving stack. Quartile cuts of INTEGER token counts are
    * exact binary fractions (q125's argument), bucketing compares ints to
    * those cuts, and every downstream number is an exact integer until the
    * final rounded division. Two aggregations + a broadcast cut row; the
    * union has two branches over the same cached-size scan.
    */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val lens = documents(s, d)
      .select(col("doc_id"), size(wsCol).cast("long").as("n"))
    val cuts = lens.agg(
      expr("percentile(n, array(0.25D, 0.5D, 0.75D))").as("qs"),
      pmod(count(lit(1)), lit(1)).as("jk"))
    val bucketed = lens.withColumn("jk", pmod(col("n"), lit(1)) * lit(0))
      .join(broadcast(cuts), Seq("jk"))
      .withColumn("bucket",
        (1 to 3).map(i =>
          when(col("n") > element_at(col("qs"), i), 1).otherwise(0))
          .reduce(_ + _))
    val global = lens.agg(max(col("n")).as("bmax"),
        count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("sum_tokens"))
      .select(lit("no_bucketing").as("strategy"), col("n_docs"),
        col("sum_tokens"),
        (col("bmax") * col("n_docs")).cast("long").as("sum_padded"))
    val byBucket = bucketed.groupBy(col("bucket"))
      .agg(max(col("n")).as("bmax"), count(lit(1)).as("nb"),
        sum(col("n")).cast("long").as("st"))
      .agg(sum(col("nb")).cast("long").as("n_docs"),
        sum(col("st")).cast("long").as("sum_tokens"),
        sum(col("bmax") * col("nb")).cast("long").as("sum_padded"))
      .select(lit("quartile_buckets").as("strategy"), col("n_docs"),
        col("sum_tokens"), col("sum_padded"))
    global.unionByName(byBucket)
      .select(col("strategy"), col("n_docs"), col("sum_tokens"),
        col("sum_padded"),
        round((col("sum_padded") - col("sum_tokens")).cast("double")
          / col("sum_padded"), 6).as("waste_frac"))
      .orderBy(col("strategy"))
  }

  private val o161 = """
    WITH lens AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      FROM documents),
    cuts AS (
      SELECT quantile_cont(n, [0.25, 0.5, 0.75]) AS qs FROM lens),
    bucketed AS (
      SELECT n,
             CAST((CASE WHEN n > qs[1] THEN 1 ELSE 0 END)
                + (CASE WHEN n > qs[2] THEN 1 ELSE 0 END)
                + (CASE WHEN n > qs[3] THEN 1 ELSE 0 END) AS INT) AS bucket
      FROM lens, cuts),
    g AS (
      SELECT 'no_bucketing' AS strategy, count(*) AS n_docs,
             CAST(sum(n) AS BIGINT) AS sum_tokens,
             CAST(max(n) * count(*) AS BIGINT) AS sum_padded
      FROM lens),
    bb AS (
      SELECT bucket, max(n) AS bmax, count(*) AS nb,
             CAST(sum(n) AS BIGINT) AS st
      FROM bucketed GROUP BY bucket),
    b AS (
      SELECT 'quartile_buckets' AS strategy,
             CAST(sum(nb) AS BIGINT) AS n_docs,
             CAST(sum(st) AS BIGINT) AS sum_tokens,
             CAST(sum(bmax * nb) AS BIGINT) AS sum_padded
      FROM bb)
    SELECT strategy, n_docs, sum_tokens, sum_padded,
           round(CAST(sum_padded - sum_tokens AS DOUBLE) / sum_padded, 6)
             AS waste_frac
    FROM (SELECT * FROM g UNION ALL SELECT * FROM b)
    ORDER BY strategy"""

  /** q167: temperature-scaled mixture weights — the multilingual/multi-source
    * sampling formula (w_s ∝ n_s^α, here α = 0.5): raw token-count
    * proportions get flattened toward uniform so low-resource sources are
    * up-sampled, and the output reports each source's raw share, its
    * temperature-scaled sampling weight, and the implied epochs-per-source
    * (weight/share — how many passes over that source one epoch of the
    * mixture makes). One aggregation + one single-row broadcast; pow is
    * per-GROUP (not per-row), and all reported numbers are rounded
    * aggregates of transcendentals (module rule).
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val bySrc = documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(wsCol)).cast("long").as("n_tokens"))
      .withColumn("scaled", pow(col("n_tokens").cast("double"), 0.5))
    val tot = bySrc.agg(sum(col("n_tokens")).cast("long").as("tot_tokens"),
        sum(col("scaled")).as("tot_scaled"))
      .withColumn("jk", pmod(col("tot_tokens"), lit(1)))
    bySrc
      .withColumn("jk", pmod(col("n_tokens"), lit(1)) * lit(0))
      .join(broadcast(tot), Seq("jk"))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens") / col("tot_tokens").cast("double"), 6)
          .as("raw_share"),
        round(col("scaled") / col("tot_scaled"), 6).as("sample_weight"),
        // an all-empty-text source has n_tokens=0: its raw share is 0 and
        // epochs-per-pass is undefined — NULL on both engines (DuckDB's
        // 0/0 float -> NULL; Spark-4 ANSI /0 would throw)
        round(when(col("n_tokens") > 0, (col("scaled") / col("tot_scaled"))
          / (col("n_tokens") / col("tot_tokens").cast("double"))), 4)
          .as("epochs_per_pass"))
      .orderBy(col("source"))
  }

  private val o167 = """
    WITH s AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source),
    sc AS (SELECT source, n_tokens,
                  pow(CAST(n_tokens AS DOUBLE), 0.5) AS scaled FROM s),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   sum(scaled) AS tot_scaled FROM sc)
    SELECT source, n_tokens,
           round(n_tokens / CAST(tot_tokens AS DOUBLE), 6) AS raw_share,
           round(scaled / tot_scaled, 6) AS sample_weight,
           round((scaled / tot_scaled)
             / (n_tokens / CAST(tot_tokens AS DOUBLE)), 4)
             AS epochs_per_pass
    FROM sc, tot ORDER BY source"""

  /** q170: stratified k-fold assignment — cross-validation folds that
    * preserve each language's proportion: within every lang stratum,
    * documents take folds round-robin in deterministic md5-rank order
    * (q105's ranking trick), so every fold holds ⌈n_s/k⌉-or-⌊n_s/k⌋ docs of
    * each stratum — balance BY CONSTRUCTION, and the output matrix proves
    * it.
    *
    * Scale shape (r11): the md5 order key is near-unique, so the
    * distinct-VALUE grain doesn't compress — the scalable exact rank uses
    * the md5-PREFIX grain instead: bucket = first 3 hex chars (4096
    * buckets; prefix order is consistent with full-key order by
    * construction), rank = below(lang, bucket) + the within-bucket rank.
    * The cumulative `below` runs over the bounded (lang, bucket) frame
    * (≤ |langs|×4096 rows at any corpus size) and the within-bucket
    * window's partition count GROWS with strata×buckets — each task sorts
    * ~n_s/4096 rows, never a whole stratum (the old `partitionBy(lang)`
    * shape). rn is integer-identical; oracle SQL unchanged.
    */
  private def q170(s: SparkSession, d: String): DataFrame = {
    val mkey = md5(col("doc_id").cast("string"))
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), mkey.as("mk"),
        substring(mkey, 1, 3).as("bucket"))
    val below = docs.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below",
        coalesce(sum(col("c")).over(Window.partitionBy(col("lang"))
          .orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bucket"), col("below"))
    docs
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("mk"), col("doc_id"))))
      .join(broadcast(below), Seq("lang", "bucket"))
      .withColumn("fold",
        ((col("below") + col("rn2") - 1) % 5).cast("int"))
      .groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"), col("fold"))
  }

  private val o170 = """
    SELECT lang, CAST((rn - 1) % 5 AS INT) AS fold, count(*) AS n_docs,
           min(doc_id) AS min_doc
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    GROUP BY lang, fold ORDER BY lang, fold"""

  private val BpeRounds = 3

  /** q172: BPE vocabulary induction — the tokenizer-training primitive
    * (Sennrich et al.): start from characters, repeatedly merge the
    * highest-frequency adjacent symbol pair, greedy leftmost within each
    * word. Three merge rounds, each reported with its pair and weighted
    * count.
    *
    * Scale shape: the ONLY corpus-scale stage is the word histogram (one
    * hash aggregation, vocabulary-bounded output); every merge round runs
    * on that vocabulary dimension — pair counting weighted by word count,
    * a global top-1 (TakeOrdered, no window), and a per-word fold. At 10M+
    * distinct words this stays a dimension-sized job per round, which is
    * why production BPE trainers operate on the histogram, never the raw
    * corpus.
    *
    * Cross-engine exactness: symbols live in a '|'-delimited string and
    * the greedy merge is a fold where "merge" = append the bare symbol
    * (extending the last element) and "append" = add a '|' separator —
    * the same fold Spark's `aggregate` ('' init) and DuckDB's
    * `list_reduce` (with a prepended '' sentinel) evaluate element-wise
    * identically. Greedy-leftmost chain semantics come out of the fold
    * for free: after a merge the tail symbol is the merged pair, which no
    * longer equals the left half, so "a a a" -> "aa a" exactly like the
    * reference algorithm.
    */
  // ---- shared BPE machinery (q172 induction, q175 compression curve) ----

  private val bpeArrSql =
    "slice(split(syms, '\\\\|'), 2, size(split(syms, '\\\\|')))"

  /** Corpus word histogram with char-symbol strings — the one corpus-scale
    * stage of the BPE family (callers persist + scope it). */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .select(explode(wsCol).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", regexp_replace(col("w"), "(.)", "|$1"))
      .select(col("wc"), col("syms"))

  // bpePairs/bpeTop1/bpeMerge are private[graft] so BpeSpec can drive the
  // exact production fold over generated histograms (property-based pin of
  // the greedy-leftmost merge semantics; see BpeSpec)
  private[graft] def bpePairs(df: DataFrame): DataFrame = df
    .select(col("wc"), expr(bpeArrSql).as("arr"))
    .filter(size(col("arr")) >= 2)
    .select(col("wc"), explode(expr(
      """transform(sequence(1, size(arr) - 1),
         i -> struct(element_at(arr, i) AS a, element_at(arr, i + 1) AS b))"""))
      .as("p"))
    .select(col("wc"), col("p.a").as("a"), col("p.b").as("b"))

  private[graft] def bpeTop1(df: DataFrame): DataFrame = bpePairs(df)
    .groupBy(col("a"), col("b"))
    .agg(sum(col("wc")).cast("long").as("pair_count"))
    .orderBy(col("pair_count").desc, col("a"), col("b"))
    .limit(1)

  private[graft] def bpeMerge(df: DataFrame, top: DataFrame): DataFrame = df
    // column-derived zero key so the 1-row top pair joins as a broadcast
    // HASH join (same construction as q72's corpus-size join). LEFT join:
    // a round with NO pairs left (top empty) must leave the corpus state
    // unchanged, not empty — the null pair makes the fold's merge guard
    // null => false, so every symbol is appended verbatim.
    .withColumn("jk", pmod(col("wc"), col("wc")))
    .join(broadcast(top.select(col("a"), col("b"),
      pmod(col("pair_count"), col("pair_count")).as("jk"))), Seq("jk"),
      "left")
    .withColumn("syms", expr(
      s"""aggregate($bpeArrSql, '',
          (acc, x) -> if(endswith(acc, concat('|', a)) and x = b,
                         concat(acc, x), concat(acc, '|', x)))"""))
    .select(col("wc"), col("syms"))

  /** q172: BPE vocabulary induction, three rounds of merging the most
    * frequent adjacent symbol pair. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    // corpus-scale histogram; persisted — all three rounds and the final
    // union re-derive from it (scoped release after the consuming action)
    val words = bpeWords(s, d).persist()
    val t1 = bpeTop1(words)
    val s1 = bpeMerge(words, t1)
    val t2 = bpeTop1(s1)
    val s2 = bpeMerge(s1, t2)
    val t3 = bpeTop1(s2)
    val out = Seq(t1, t2, t3).zipWithIndex.map { case (t, i) =>
      t.select(lit(i + 1).as("merge_rank"), col("a").as("sym_a"),
        col("b").as("sym_b"), concat(col("a"), col("b")).as("merged"),
        col("pair_count"))
    }.reduce(_ union _).orderBy(col("merge_rank"))
    Cached.scopedTo(out, words)
  }

  // one round of the unrolled BPE oracle: pairs -> weighted top-1 -> fold
  // (shared by o172 and o175)
  private def oBpeRound(src: String, k: Int): String =
      s"""top$k AS (
           SELECT a, b, CAST(sum(wc) AS BIGINT) AS pair_count
           FROM (
             SELECT wc, arr[CAST(i AS INT)] AS a,
                    arr[CAST(i AS INT) + 1] AS b
             FROM (
               SELECT wc, arr, unnest(range(1, len(arr))) AS i
               FROM (SELECT wc, list_slice(string_split(syms, '|'), 2,
                              len(string_split(syms, '|'))) AS arr
                     FROM $src)))
           GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1),
         s$k AS (
           SELECT wc,
                  list_reduce(
                    list_prepend('', list_slice(string_split(syms, '|'), 2,
                      len(string_split(syms, '|')))),
                    (acc, x) -> CASE WHEN ends_with(acc, '|' || t.a)
                                      AND x = t.b
                                THEN acc || x ELSE acc || '|' || x END) AS syms
           FROM $src LEFT JOIN top$k t ON TRUE)"""

  /** words + s0 + three unrolled merge rounds — the shared oracle prefix. */
  private def oBpePrefix: String =
    s"""WITH words AS (
         SELECT w, count(*) AS wc
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents)
         GROUP BY w),
       s0 AS (SELECT wc, regexp_replace(w, '(.)', '|\\1', 'g') AS syms
              FROM words),
       ${oBpeRound("s0", 1)},
       ${oBpeRound("s1", 2)},
       ${oBpeRound("s2", 3)}"""

  private val o172: String =
    s"""$oBpePrefix
       SELECT * FROM (
         SELECT 1 AS merge_rank, a AS sym_a, b AS sym_b, a || b AS merged,
                pair_count FROM top1
         UNION ALL
         SELECT 2, a, b, a || b, pair_count FROM top2
         UNION ALL
         SELECT 3, a, b, a || b, pair_count FROM top3)
       ORDER BY merge_rank"""

  /** q175: BPE compression curve — what the induced vocabulary (q172) buys:
    * corpus token count and tokens-per-word after each of the first
    * 0..$BpeRounds merges. The curve (how fast tokens/word falls) is the
    * statistic a tokenizer-budget decision actually reads; producing it
    * costs nothing beyond q172's vocabulary-dimension rounds plus one
    * weighted aggregation per state.
    */
  private def q175(s: SparkSession, d: String): DataFrame = {
    val words = bpeWords(s, d).persist()
    val s1 = bpeMerge(words, bpeTop1(words))
    val s2 = bpeMerge(s1, bpeTop1(s1))
    val s3 = bpeMerge(s2, bpeTop1(s2))
    val out = Seq(words, s1, s2, s3).zipWithIndex.map { case (st, k) =>
      st.agg(
        sum(col("wc") * (size(split(col("syms"), "\\|")) - 1)).cast("long")
          .as("total_tokens"),
        sum(col("wc")).cast("long").as("total_words"))
        .select(lit(k).as("bpe_round"), col("total_tokens"),
          round(col("total_tokens") / col("total_words").cast("double"), 6)
            .as("tokens_per_word"))
    }.reduce(_ union _).orderBy(col("bpe_round"))
    Cached.scopedTo(out, words)
  }

  private val o175: String = {
    def stat(src: String, k: Int): String =
      s"""SELECT $k AS bpe_round,
                 CAST(sum(wc * (len(string_split(syms, '|')) - 1)) AS BIGINT)
                   AS total_tokens,
                 round(sum(wc * (len(string_split(syms, '|')) - 1))
                   / CAST(sum(wc) AS DOUBLE), 6) AS tokens_per_word
          FROM $src"""
    s"""$oBpePrefix
       SELECT * FROM (
         ${stat("s0", 0)}
         UNION ALL ${stat("s1", 1)}
         UNION ALL ${stat("s2", 2)}
         UNION ALL ${stat("s3", 3)})
       ORDER BY bpe_round"""
  }

  /** q227's frozen merge table, rank-ordered (a, b) pairs — the tokenizer
    * ARTIFACT (literal here; in production a broadcast table frozen at
    * training time, O(vocab) regardless of corpus size). */
  private[graft] val BpeMerges = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("r", "e"), ("e", "r"), ("o", "n"),
    ("s", "t"), ("e", "n"))

  /** Frozen-merge-table APPLICATION (the q227 encode): one greedy-leftmost
    * [[bpeMerge]]-style fold pass per rule, in rank order, over the `syms`
    * column — exact BPE encode (rule k's parts are products of rules < k
    * only, so a later rule can never re-enable an earlier one). Exposed
    * private[graft] so BpeSpec can pin it against the textbook reference.
    */
  private[graft] def bpeEncode(df: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df) { case (acc, (a, b)) =>
      acc.withColumn("syms", expr(
        s"""aggregate($bpeArrSql, '',
            (acc, x) -> if(endswith(acc, '|$a') and x = '$b',
                           concat(acc, x), concat(acc, '|', x)))"""))
    }

  /** q227: BPE tokenizer APPLICATION — the production encode pass q172's
    * induction exists to feed: apply a FROZEN rank-ordered merge table to
    * the corpus and report the realized token budget per language. Each
    * merge rule is one greedy-leftmost fold over the `|`-delimited symbol
    * string (the [[bpeMerge]] fold with the pair as literals) — symbols
    * are matched with EXPLICIT delimiters, so a rule can never fire across
    * a symbol boundary, and one full pass per rule in rank order is
    * exactly the BPE encode: rule k's parts are products of rules < k
    * only, so applying rule k can never re-enable an earlier rule.
    *
    * Scale shape: the encode runs on the (lang, word) HISTOGRAM, not the
    * corpus — each distinct word is encoded once and weighted by its count
    * (the q172 trick); the merge chain is constant-depth (vocab-size
    * rounds, corpus-independent); final rollup is per-language.
    */
  private def q227(s: SparkSession, d: String): DataFrame = {
    val hist = parallelize(s, documents(s, d))
      .select(col("lang"), explode(wsCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", regexp_replace(col("w"), "(.)", "|$1"))
    bpeEncode(hist, BpeMerges)
      .withColumn("ntok", size(split(col("syms"), "\\|")) - 1)
      .withColumn("nsym", length(col("w")))
      .groupBy(col("lang"))
      .agg(sum(col("wc")).cast("long").as("n_words"),
        sum(col("wc") * col("nsym")).cast("long").as("n_chars"),
        sum(col("wc") * col("ntok")).cast("long").as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        round(col("n_tokens") / col("n_words").cast("double"), 6)
          .as("tokens_per_word"),
        round(col("n_tokens") / col("n_chars").cast("double"), 6)
          .as("compression"))
      .orderBy(col("lang"))
  }

  private val o227 = {
    val passes = BpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""e${i + 1} AS (
           SELECT lang, wc, w,
                  list_reduce(
                    list_prepend('', list_slice(string_split(syms, '|'), 2,
                      len(string_split(syms, '|')))),
                    (acc, x) -> CASE WHEN ends_with(acc, '|$a')
                                      AND x = '$b'
                                THEN acc || x ELSE acc || '|' || x END)
                    AS syms
           FROM e$i)"""
    }.mkString(",\n       ")
    s"""WITH hist AS (
         SELECT lang, w, count(*) AS wc
         FROM (SELECT lang,
                      unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents)
         WHERE length(w) > 0
         GROUP BY lang, w),
       e0 AS (
         SELECT lang, wc, w,
                regexp_replace(w, '(.)', '|\\1', 'g') AS syms
         FROM hist),
       $passes,
       enc AS (
         SELECT lang, wc, length(w) AS nsym,
                len(string_split(syms, '|')) - 1 AS ntok
         FROM e${BpeMerges.size})
       SELECT lang, CAST(sum(wc) AS BIGINT) AS n_words,
              CAST(sum(wc * nsym) AS BIGINT) AS n_chars,
              CAST(sum(wc * ntok) AS BIGINT) AS n_tokens,
              round(sum(wc * ntok) / CAST(sum(wc) AS DOUBLE), 6)
                AS tokens_per_word,
              round(sum(wc * ntok) / CAST(sum(wc * nsym) AS DOUBLE), 6)
                AS compression
       FROM enc GROUP BY lang ORDER BY lang"""
  }

  /** q228: token-budget waterfilling — the "cap the big feeds" allocation
    * in mixture design (the continuous counterpart of q94/q167's weight
    * schemes): given per-source token counts and a total budget B (half
    * the corpus here), find the unique level τ with
    * `Σ min(n_i, τ) = B` — sources below τ keep everything, sources above
    * are capped at τ. Solved in closed form over the SOURCE DIMENSION
    * (sort ascending, k* = first rank where the residual-budget level
    * `τ_k = (B − cum_{<k}) / (m − k + 1)` dips to ≤ n_k): one window pass
    * over an O(#sources) frame, never the corpus; the corpus-scale work is
    * the per-source token rollup. All arithmetic is rational (no
    * transcendentals), so τ and the per-source allocations are
    * bit-identical cross-engine before rounding.
    */
  private def q228(s: SparkSession, d: String): DataFrame = {
    val src = parallelize(s, documents(s, d))
      .groupBy(col("source"))
      .agg(sum(size(wsCol)).cast("long").as("n"))
    val tot = src.agg(sum(col("n")).as("t"),
        count(lit(1)).as("m"))
      .select(expr("t DIV 2").as("b"), col("m"),
        pmod(col("t"), lit(1)).cast("int").as("jk"))
    val w = Window.orderBy(col("n"), col("source"))
    val ranked = src.withColumn("jk", pmod(col("n"), lit(1)).cast("int"))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("k", row_number().over(w))
      .withColumn("cumlt", coalesce(sum(col("n"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tau_k",
        (col("b") - col("cumlt")).cast("double") / (col("m") - col("k") + 1))
    val lvl = ranked.filter(col("tau_k") <= col("n"))
      .agg(min_by(struct(col("tau_k")), col("k")).as("s"))
      .select(col("s.tau_k").as("tau"))
      .withColumn("jk", pmod(ceil(col("tau")).cast("long"), lit(1))
        .cast("int"))
    ranked.join(broadcast(lvl), Seq("jk"))
      .select(col("source"), col("n").as("n_tokens"),
        round(least(col("n").cast("double"), col("tau")), 6).as("alloc"),
        (col("n") > col("tau")).as("capped"),
        round(col("tau"), 6).as("tau"), col("b").as("budget"))
      .orderBy(col("source"))
  }

  private val o228 = """
    WITH src AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\s+')))
               AS BIGINT) AS n
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) // 2 AS b,
                   count(*) AS m FROM src),
    ranked AS (
      SELECT source, n, b, m,
             row_number() OVER w AS k,
             coalesce(sum(n) OVER (ORDER BY n, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumlt
      FROM src, tot
      WINDOW w AS (ORDER BY n, source)),
    lvl AS (
      SELECT CAST(b - cumlt AS DOUBLE) / (m - k + 1) AS tau
      FROM ranked
      WHERE CAST(b - cumlt AS DOUBLE) / (m - k + 1) <= n
      ORDER BY k LIMIT 1)
    SELECT r.source, r.n AS n_tokens,
           round(least(CAST(r.n AS DOUBLE), lvl.tau), 6) AS alloc,
           r.n > lvl.tau AS capped,
           round(lvl.tau, 6) AS tau, r.b AS budget
    FROM ranked r, lvl ORDER BY r.source"""

  /** q243: Zipf-slope corpus health check — fit `ln(freq) ~ ln(rank)`
    * over each source's top-200 terms: natural text sits near slope −1
    * with high r²; template/boilerplate-heavy or synthetic feeds bend the
    * curve (the corpus-linguistics screen complementing q151's coverage
    * curve and q155's boilerplate fraction). The regression runs on the
    * RANKED HISTOGRAM (vocabulary-bounded, top-200 per source), never the
    * corpus; ranks are tie-broken by term so the fitted frame is
    * identical cross-engine. Cross-engine (r13, hardened with q304): each
    * ln is SNAPPED to int64 micro-units (`round(ln·1e6)`, the q316
    * stance) and slope/r² come from explicit Σx/Σy/Σxy/Σx²/Σy² folds —
    * never engine-internal `regr_slope`/`regr_r2` moment merges, whose
    * fold order and unrounded per-element lns differ across engines (the
    * knife-edge that made q304 the r12 driver-red). The per-row products
    * and 200-term sums fit int64, but the moment COMBINATIONS (n·Σy²,
    * (Σy)², Σx·Σy) pass 2⁶³ once corpus frequencies reach ~1e13, so those
    * run in DECIMAL(38,0) (Spark) ↔ HUGEINT (DuckDB, automatic on
    * sum(BIGINT)) — exact integers both sides, then one final double
    * division per statistic, rounded at 4. regr_r2's var(y)=0 edge
    * (constant ln f) is pinned explicitly: r² = 1 when denx≠0 ∧ deny=0,
    * NULL when denx=0 — the PostgreSQL semantics both engines implement.
    */
  private def q243(s: SparkSession, d: String): DataFrame = {
    val tf = parallelize(s, documents(s, d))
      .select(col("source"), explode(wsCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("f").desc, col("w"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    tf.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 200)
      .select(col("source"),
        round(log(col("rank").cast("double")) * lit(1e6))
          .cast("long").as("lx"),
        round(log(col("f").cast("double")) * lit(1e6))
          .cast("long").as("ly"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("lx")).cast("long").as("sx"),
        sum(col("ly")).cast("long").as("sy"),
        sum(col("lx") * col("ly")).cast("long").as("sxy"),
        sum(col("lx") * col("lx")).cast("long").as("sxx"),
        sum(col("ly") * col("ly")).cast("long").as("syy"))
      .withColumn("num",
        dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
      .withColumn("denx",
        dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
      .withColumn("deny",
        dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy")))
      .select(col("source"), col("n").as("n_terms"),
        when(col("denx") =!= 0,
          round(col("num").cast("double") / col("denx").cast("double"), 4))
          .as("zipf_slope"),
        when(col("denx") =!= 0 && col("deny") =!= 0,
          round((col("num").cast("double") * col("num").cast("double"))
            / (col("denx").cast("double") * col("deny").cast("double")), 4))
          .when(col("denx") =!= 0 && col("deny") === 0, lit(1.0))
          .as("r2"))
      .orderBy(col("source"))
  }

  private val o243 = """
    WITH tf AS (
      SELECT source, w, count(*) AS f
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) > 0
      GROUP BY source, w),
    ranked AS (
      SELECT source, f,
             row_number() OVER (PARTITION BY source
               ORDER BY f DESC, w) AS rank
      FROM tf),
    pts AS (
      SELECT source,
             CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS ly
      FROM ranked WHERE rank <= 200),
    mo AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             sum(lx) AS sx, sum(ly) AS sy, sum(lx * ly) AS sxy,
             sum(lx * lx) AS sxx, sum(ly * ly) AS syy
      FROM pts GROUP BY source)
    SELECT source, n AS n_terms,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) END AS zipf_slope,
           CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
             round((CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)), 4)
           WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy = 0 THEN 1.0
           END AS r2
    FROM mo ORDER BY source"""

  /** q254: per-document n-gram novelty — the inverse of the dedup tier's
    * question: not "which documents repeat each other" (q38/q142) but
    * "how much of THIS document is text the corpus has never produced
    * elsewhere". Every word-3-gram occurrence (multiplicity kept — a doc
    * that repeats a corpus-unique phrase still only said one novel thing
    * per occurrence slot) is counted corpus-wide; a doc's novelty is the
    * fraction of its gram slots whose corpus count is exactly 1. Data
    * selection uses this as the anti-boilerplate signal (high-novelty
    * docs carry information no other doc supplies; near-zero novelty =
    * template text) — the complement of q93's WITHIN-doc repetition.
    *
    * Scale shape: one explode to gram grain, one count rollup keyed on
    * the gram, one join back, one doc rollup — the exact q83/q142 cost
    * profile, shuffles on the gram key. Exact integers until one final
    * division.
    */
  private def q254(s: SparkSession, d: String): DataFrame = {
    val grams = parallelize(s, documents(s, d))
      .withColumn("ws", wsCol)
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(Tables.word3GramArraySql))
        .as("gram"))
    val counts = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
    grams.join(counts, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val o254 = """
    WITH grams AS (
      SELECT doc_id, unnest(g) AS gram
      FROM (SELECT doc_id,
              list_transform(range(0, len(w) - 2),
                i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3]) AS g
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= 3)),
    counts AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram)
    SELECT g.doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM grams g JOIN counts c ON c.gram = g.gram
    GROUP BY g.doc_id ORDER BY g.doc_id"""

  /** Total sample budget q261 allocates across strata. */
  private val NeymanBudget = 1000

  /** q261: Neyman-optimal sample allocation — the survey-sampling design
    * step a data-pruning pipeline runs before drawing its stratified
    * sample (q105 draws; THIS decides how much to draw where): allocate
    * a $NeymanBudget-doc budget across language strata proportional to
    * N_h·S_h (stratum size × stratum std-dev of document length), which
    * minimizes the estimator variance for a fixed budget — big uniform
    * strata get less than their population share, small volatile ones
    * get more. Std-devs are ROUNDED at 6 before entering the weights so
    * both engines allocate from identical inputs; the final allocation
    * is integer micro-rounded (q156's half-up integer recipe) so the
    * per-stratum counts are bit-stable.
    */
  private def q261(s: SparkSession, d: String): DataFrame = {
    val st = documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(stddev_samp(col("n_chars")), 6).as("sd"))
      .withColumn("w", round(col("n_docs") * col("sd"), 6))
    // coalesce before pmod: every-stratum-singleton corpora have sd (and
    // so tw) NULL — the oracle's CROSS JOIN still emits every row with
    // NULL alloc columns, so the broadcast key must not go NULL here
    val tot = st.agg(round(sum(col("w")), 6).as("tw"))
      .withColumn("jk",
        pmod(coalesce(col("tw").cast("long"), lit(0L)), lit(1L)))
    st.withColumn("jk", pmod(col("n_docs"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      // tw = 0 (every stratum constant: sd = 0 with n >= 2) is a NON-NULL
      // degenerate: both divisions would throw under Spark ANSI while
      // DuckDB's /0 and //0 yield NULL — guard to NULL explicitly (the
      // NULL-tw singleton case already falls through `when` to NULL)
      .select(col("lang"), col("n_docs"), col("sd"),
        when(col("tw") =!= 0,
          round(col("w") / col("tw"), 6)).as("alloc_frac"),
        when(col("tw") =!= 0,
          expr(s"""(2 * CAST(round(w * $NeymanBudget) AS BIGINT)
                   + CAST(round(tw) AS BIGINT))
                  DIV (2 * CAST(round(tw) AS BIGINT))""")).as("alloc_n"))
      .orderBy(col("lang"))
  }

  private val o261 = s"""
    WITH st AS (
      SELECT lang, count(*) AS n_docs,
             round(stddev_samp(n_chars), 6) AS sd,
             round(count(*) * round(stddev_samp(n_chars), 6), 6) AS w
      FROM documents GROUP BY lang),
    tot AS (SELECT round(sum(w), 6) AS tw FROM st)
    SELECT lang, n_docs, sd,
           round(w / tw, 6) AS alloc_frac,
           (2 * CAST(round(w * $NeymanBudget) AS BIGINT)
            + CAST(round(tw) AS BIGINT))
             // (2 * CAST(round(tw) AS BIGINT)) AS alloc_n
    FROM st CROSS JOIN tot ORDER BY lang"""

  /** q266: cross-source quantile normalization audit — the batch-effect
    * remover a multi-source corpus applies before pooling per-source
    * metrics (here: document length by source): each value maps to its
    * within-source quantile u = (rank − 0.5)/n, then to the POOLED
    * distribution's interpolated u-quantile; after the transform every
    * source has (by construction) the same distribution, and the audit
    * reports per-source mean length before vs after plus the residual
    * spread across sources — the number that should collapse toward 0.
    *
    * Cross-engine: ranks are exact ((value, doc_id) total order), u is an
    * exact rational rounded at 6, and the pooled quantile function is
    * evaluated EXPLICITLY by linear interpolation (h = 1 + u·(N−1);
    * x[⌊h⌋] + frac·(x[⌊h⌋+1] − x[⌊h⌋])) — the same formula in both
    * dialects, no reliance on either engine's percentile internals.
    *
    * Scale shape (rewritten r11, was a global single-partition row-rank
    * window): n_chars is an integer with a bounded domain, so everything
    * rank-shaped moves to the DISTINCT-VALUE grain (q152's pattern):
    *  - per-source ranks: rk = below(source, x) + row_number within the
    *    (source, x) tie group — cumulative counts over the bounded
    *    (source, value) frame plus a window whose partition count GROWS
    *    with |sources|×|domain| (parallelism scales; never one task per
    *    source). rk is integer-identical to the old per-source sort.
    *  - value-at-pooled-rank: instead of a global doc sort, the pooled
    *    CDF's (span-start → x) directory (one row per distinct value) is
    *    UNIONed with the ⌊h⌋/⌊h⌋+1 lookup keys and a last-non-null fill
    *    over the merged bounded frame reads off x[⌊h⌋] — a sort of
    *    |distinct u| + |domain| rows (u rounds at 6 ⇒ ≤ 1e6 + |domain|
    *    rows at ANY corpus size), no equi-join on per-doc ranks, no
    *    nested-loop range join.
    * Tied docs share x, so every per-doc qx and both reported means are
    * identical to the row-rank form; the oracle SQL is UNCHANGED.
    */
  private def q266(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("source"), col("doc_id"),
      col("n_chars").cast("double").as("x"))
    val sv = docs.groupBy(col("source"), col("x"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below",
        coalesce(sum(col("c")).over(Window.partitionBy(col("source"))
          .orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("x"), col("below"), col("n"))
    val ranked = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("x")).orderBy(col("doc_id"))))
      .join(broadcast(sv), Seq("source", "x"))
      .withColumn("u",
        round((col("below") + col("rn") - 0.5) / col("n"), 6))
    val nTot = docs.agg(count(lit(1)).as("nt"))
      .withColumn("jk", pmod(col("nt"), lit(1L)))
    val dir = docs.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .withColumn("key",
        coalesce(sum(col("c")).over(Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1L)
      .select(col("key"), col("x").as("dx"), lit(0).as("tag"),
        lit(null).cast("double").as("u"),
        lit(null).cast("double").as("frac"),
        lit(null).cast("string").as("which"))
    val us = ranked.select(col("u")).distinct()
      .withColumn("jk", pmod(round(col("u")).cast("long"), lit(1L)))
      .join(broadcast(nTot), Seq("jk"))
      .withColumn("h", col("u") * (col("nt") - 1) + 1.0)
      .withColumn("lo", floor(col("h")).cast("long"))
      .withColumn("frac", col("h") - floor(col("h")))
    val lookups = us
      .select(col("u"), col("frac"), explode(array(
        struct(col("lo").as("key"), lit("lo").as("which")),
        struct((col("lo") + 1L).as("key"), lit("hi").as("which"))))
        .as("kv"))
      .select(col("kv.key").as("key"), lit(null).cast("double").as("dx"),
        lit(1).as("tag"), col("u"), col("frac"), col("kv.which").as("which"))
    val filled = dir.unionByName(lookups)
      .withColumn("xv", last(col("dx"), ignoreNulls = true).over(
        Window.orderBy(col("key"), col("tag"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val qf = filled.filter(col("tag") === 1)
      .groupBy(col("u"), col("frac"))
      .agg(max(when(col("which") === "lo", col("xv"))).as("xlo"),
        max(when(col("which") === "hi", col("xv"))).as("xhi"))
      .select(col("u"),
        round(col("xlo") + col("frac") * (col("xhi") - col("xlo")), 6)
          .as("qx"))
    ranked.join(broadcast(qf), Seq("u"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("x")), 4).as("mean_before"),
        round(avg(col("qx")), 4).as("mean_after"))
      .orderBy(col("source"))
  }

  private val o266 = """
    WITH docs AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS x
                  FROM documents),
    ranked AS (
      SELECT source, doc_id, x,
             round((row_number() OVER (PARTITION BY source
                      ORDER BY x, doc_id) - 0.5)
                   / count(*) OVER (PARTITION BY source), 6) AS u
      FROM docs),
    nt AS (SELECT count(*) AS nt FROM docs),
    pooled AS (
      SELECT row_number() OVER (ORDER BY x, doc_id) AS gr, x FROM docs),
    us AS (
      SELECT u, floor(u * (nt.nt - 1) + 1.0) AS lo,
             (u * (nt.nt - 1) + 1.0) - floor(u * (nt.nt - 1) + 1.0) AS frac
      FROM (SELECT DISTINCT u FROM ranked) CROSS JOIN nt),
    qf AS (
      SELECT us.u,
             round(plo.x + us.frac * (phi.x - plo.x), 6) AS qx
      FROM us
      JOIN pooled plo ON plo.gr = us.lo
      JOIN pooled phi ON phi.gr = us.lo + 1)
    SELECT r.source, count(*) AS n_docs,
           round(avg(r.x), 4) AS mean_before,
           round(avg(p.qx), 4) AS mean_after
    FROM ranked r JOIN qf p ON p.u = r.u
    GROUP BY r.source ORDER BY r.source"""

  /** Fold count for q267. */
  private val KFolds = 5

  /** q267: deterministic k-fold assignment + stratification balance
    * audit — the cross-validation split a training pipeline must be able
    * to REPRODUCE years later: fold = md5(doc_id) mod $KFolds (the q75
    * content-hash-split convention, so assignment is engine- and
    * run-independent), audited per (fold, lang) against perfect
    * stratification: each fold's within-fold language share vs the
    * corpus share, with the absolute deviation that tells an operator
    * whether hash-folding is balanced enough or a stratified fold
    * (per-lang round-robin) is warranted. Exact counts and single
    * divisions end-to-end.
    */
  private def q267(s: SparkSession, d: String): DataFrame = {
    val withFold = documents(s, d).select(col("doc_id"), col("lang"))
      .withColumn("fold",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(KFolds.toLong)))
    val corp = withFold.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
    val tot = withFold.agg(count(lit(1)).as("n_tot"))
      .withColumn("jk", pmod(col("n_tot"), lit(1L)))
    val foldTot = withFold.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_fold"))
    withFold.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .join(foldTot, Seq("fold"))
      .join(corp, Seq("lang"))
      .withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("fold"), col("lang"), col("n"), col("n_fold"),
        round(col("n").cast("double") / col("n_fold"), 6).as("fold_share"),
        round(col("n_lang").cast("double") / col("n_tot"), 6)
          .as("corpus_share"),
        round(abs(col("n").cast("double") / col("n_fold")
          - col("n_lang").cast("double") / col("n_tot")), 6).as("abs_dev"))
      .orderBy(col("fold"), col("lang"))
  }

  private val o267 = s"""
    WITH wf AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % $KFolds AS fold
      FROM documents),
    corp AS (SELECT lang, count(*) AS n_lang FROM wf GROUP BY lang),
    tot AS (SELECT count(*) AS n_tot FROM wf),
    ft AS (SELECT fold, count(*) AS n_fold FROM wf GROUP BY fold)
    SELECT w.fold, w.lang, count(*) AS n, any_value(ft.n_fold) AS n_fold,
           round(CAST(count(*) AS DOUBLE) / any_value(ft.n_fold), 6)
             AS fold_share,
           round(CAST(any_value(c.n_lang) AS DOUBLE) / any_value(t.n_tot), 6)
             AS corpus_share,
           round(abs(CAST(count(*) AS DOUBLE) / any_value(ft.n_fold)
             - CAST(any_value(c.n_lang) AS DOUBLE) / any_value(t.n_tot)), 6)
             AS abs_dev
    FROM wf w
    JOIN ft ON ft.fold = w.fold
    JOIN corp c ON c.lang = w.lang
    CROSS JOIN tot t
    GROUP BY w.fold, w.lang ORDER BY w.fold, w.lang"""

  /** TextRank damping factor, iteration count, and minimum word length
    * (the stand-in for the POS filter of the original recipe).
    */
  private val TrDamping = 0.85
  private val TrIters = 4
  private val TrMinLen = 4

  /** q285: TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    * unsupervised corpus-keyword pass that needs no training data: words
    * are vertices, adjacent-token co-occurrences are undirected weighted
    * edges, and `TrIters` rounds of damped weighted PageRank
    * WS(v) = (1−d) + d·Σ_{u∈adj(v)} (w_uv / Σ_x w_ux)·WS(u) rank each
    * word by how strongly the co-occurrence graph recommends it — the
    * graph-centrality upgrade over raw-frequency (q151) and TF-IDF (q72)
    * term weighting. Words shorter than `TrMinLen` stand in for the
    * stopword/POS screen; adjacent-duplicate self-loops are dropped.
    * Output: the top-20 keywords with final score and neighbor count.
    *
    * Cross-engine parity: every iteration's scores are ROUNDED at 12
    * before feeding the next (per-vertex neighbor sums re-associate), so
    * both engines iterate on identical doubles; the ranking key rounds
    * at 6 with the word as tie-break. The oracle unrolls the same
    * `TrIters` iterations as chained CTEs with the identical arithmetic.
    *
    * Scale shape: one corpus-linear tokenize + adjacency-pair explode
    * collapses immediately to the vocabulary-bounded edge list (partial
    * aggregation absorbs the per-token fanout map-side); the out-weight
    * rollup and all `TrIters` score joins operate on vocab-bounded
    * frames — the iteration cost never sees the corpus again (q119's
    * iteration-body shape with the edge layout reused each round).
    */
  private def q285(s: SparkSession, d: String): DataFrame = {
    val toks = parallelize(s, documents(s, d)).withColumn("ws", wsCol)
    val pairs = toks.select(explode(expr(
        """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
           (a, b) -> struct(a AS u, b AS v))""")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(length(col("u")) >= TrMinLen && length(col("v")) >= TrMinLen
        && col("u") =!= col("v"))
    val und = pairs
      .groupBy(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .agg(count(lit(1)).as("w"))
    val dir = und.union(und.select(col("v").as("u"), col("u").as("v"),
      col("w")))
    val outw = dir.groupBy(col("u"))
      .agg(sum(col("w")).as("ow"), count(lit(1)).as("nn"))
    var sc = outw.select(col("u").as("word"),
      lit(1.0).cast("double").as("sc"))
    for (_ <- 1 to TrIters) {
      sc = dir.join(outw.select(col("u"), col("ow")), Seq("u"))
        .join(sc.select(col("word").as("u"), col("sc")), Seq("u"))
        .groupBy(col("v").as("word"))
        .agg(round(lit(1.0 - TrDamping) + lit(TrDamping)
          * sum(col("w").cast("double") / col("ow") * col("sc")), 12)
          .as("sc"))
    }
    sc.join(outw.select(col("u").as("word"), col("nn")), Seq("word"))
      .select(col("word"), round(col("sc"), 6).as("score"),
        col("nn").as("n_neighbors"))
      .orderBy(col("score").desc, col("word")).limit(20)
  }

  private val o285 = {
    val iters = (1 to TrIters).map { i =>
      s"""s$i AS (
           SELECT d.v AS word,
                  round(${1.0 - TrDamping} + $TrDamping
                    * sum(CAST(d.w AS DOUBLE) / o.ow * s.sc), 12) AS sc
           FROM dir d JOIN outw o ON o.u = d.u
           JOIN s${i - 1} s ON s.word = d.u
           GROUP BY d.v)"""
    }.mkString(",\n")
    s"""WITH toks AS (
         SELECT doc_id, CAST(generate_subscripts(ws, 1) AS INT) AS pos,
                unnest(ws) AS w
         FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
               FROM documents)),
       pairs AS (
         SELECT a.w AS u, b.w AS v
         FROM toks a JOIN toks b
           ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         WHERE length(a.w) >= $TrMinLen AND length(b.w) >= $TrMinLen
           AND a.w <> b.w),
       und AS (
         SELECT least(u, v) AS u, greatest(u, v) AS v, count(*) AS w
         FROM pairs GROUP BY 1, 2),
       dir AS (SELECT u, v, w FROM und
               UNION ALL SELECT v AS u, u AS v, w FROM und),
       outw AS (SELECT u, CAST(sum(w) AS BIGINT) AS ow,
                       count(*) AS nn FROM dir GROUP BY u),
       s0 AS (SELECT u AS word, CAST(1.0 AS DOUBLE) AS sc FROM outw),
       $iters
       SELECT s.word, round(s.sc, 6) AS score, o.nn AS n_neighbors
       FROM s$TrIters s JOIN outw o ON o.u = s.word
       ORDER BY score DESC, s.word LIMIT 20"""
  }

  /** q286's Dirichlet prior mass (Monroe et al.'s α₀) and word screen. */
  private val LoPriorMass = 500.0
  private val LoMinLen = 3

  /** q286: log-odds-ratio keyness with an informative Dirichlet prior —
    * Monroe, Colaresi & Quinn 2008's "Fightin' Words", the standard
    * corpus-COMPARISON statistic (which terms distinguish slice A from
    * slice B) that raw frequency ratios get wrong for rare words: each
    * word's usage in the `lang='en'` slice vs the rest is smoothed by a
    * prior α_w = α₀·(y_w/N) proportional to its overall corpus rate,
    * δ_w = ln((y^A_w+α_w)/(n^A+α₀−y^A_w−α_w)) − (same for B) is the
    * prior-regularized log-odds difference, and z_w = δ_w/√(1/(y^A_w+α_w)
    * + 1/(y^B_w+α_w)) standardizes it so rare and common words are
    * comparable — the keyness readout a corpus-mix audit (q124's KL is
    * the aggregate form) drills into at the word grain. Output: the 10
    * most A-associated and 10 most B-associated terms.
    *
    * Cross-engine parity: counts are exact integers; ln/√ are
    * per-element but feed only the final z, rounded at 6 with the word
    * as tie-break (the q248 rounded-transcendental stance). Every
    * α_w > 0 because the word exists in the corpus, and both slice
    * denominators carry +α₀−α_w > 0, so no log-of-zero guard is needed
    * on either engine.
    *
    * Scale shape: one corpus-linear tokenize + hash rollup to the
    * vocabulary grain (conditional sums carry both slices in one pass —
    * no join of two scans); the totals row broadcasts back; the two
    * top-10s are TakeOrdered merges, never a global sort.
    */
  private def q286(s: SparkSession, d: String): DataFrame = {
    val words = parallelize(s, documents(s, d))
      .select((col("lang") === "en").cast("long").as("a"),
        explode(wsCol).as("w"))
      .filter(length(col("w")) >= LoMinLen)
    val counts = words.groupBy(col("w"))
      .agg(sum(col("a")).as("ya"), sum(lit(1L) - col("a")).as("yb"))
    val tot = counts.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"),
        sum(col("ya") + col("yb")).as("nn"))
      .withColumn("jk", pmod(coalesce(col("nn"), lit(0L)), lit(1L)))
    val z = counts.withColumn("jk", pmod(col("ya") + col("yb"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("alpha",
        lit(LoPriorMass) * (col("ya") + col("yb")).cast("double") / col("nn"))
      // single-distinct-word degenerate (r12 audit): when one word IS the
      // whole corpus, alpha = α₀ exactly and na − ya = 0, so the log-ratio
      // denominator is exactly 0 — DuckDB's /0 yields NULL (→ NULL z),
      // Spark ANSI would throw. The denominators are never negative
      // (na >= ya, alpha <= α₀), so > 0 is the full guard.
      .withColumn("delta", when(
        (col("na") + lit(LoPriorMass) - col("ya") - col("alpha")) > 0 &&
          (col("nb") + lit(LoPriorMass) - col("yb") - col("alpha")) > 0,
        log((col("ya") + col("alpha"))
          / (col("na") + lit(LoPriorMass) - col("ya") - col("alpha")))
        - log((col("yb") + col("alpha"))
          / (col("nb") + lit(LoPriorMass) - col("yb") - col("alpha")))))
      .withColumn("z", round(col("delta")
        / sqrt(lit(1.0) / (col("ya") + col("alpha"))
          + lit(1.0) / (col("yb") + col("alpha"))), 6))
      .select(col("w").as("word"), col("ya").cast("long").as("y_en"),
        col("yb").cast("long").as("y_rest"), col("z"))
    val top = z.orderBy(col("z").desc, col("word")).limit(10)
      .withColumn("side", lit("en"))
    val bot = z.orderBy(col("z").asc, col("word")).limit(10)
      .withColumn("side", lit("rest"))
    top.union(bot)
      .select(col("side"), col("word"), col("y_en"), col("y_rest"), col("z"))
      .orderBy(col("side"), col("z").desc, col("word"))
  }

  private val o286 = s"""
    WITH words AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a, w
      FROM (SELECT lang,
              unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE length(w) >= $LoMinLen),
    counts AS (
      SELECT w, CAST(sum(a) AS BIGINT) AS ya,
             CAST(sum(1 - a) AS BIGINT) AS yb
      FROM words GROUP BY w),
    tot AS (
      SELECT CAST(sum(ya) AS BIGINT) AS na, CAST(sum(yb) AS BIGINT) AS nb,
             CAST(sum(ya + yb) AS BIGINT) AS nn
      FROM counts),
    z AS (
      SELECT w AS word, ya, yb,
             round((ln((ya + alpha)
                       / (na + $LoPriorMass - ya - alpha))
                  - ln((yb + alpha)
                       / (nb + $LoPriorMass - yb - alpha)))
               / sqrt(1.0 / (ya + alpha) + 1.0 / (yb + alpha)), 6) AS z
      FROM (SELECT c.*, t.na, t.nb,
              $LoPriorMass * CAST(ya + yb AS DOUBLE) / t.nn AS alpha
            FROM counts c CROSS JOIN tot t)),
    top AS (SELECT 'en' AS side, word, ya AS y_en, yb AS y_rest, z
            FROM z ORDER BY z DESC, word LIMIT 10),
    bot AS (SELECT 'rest' AS side, word, ya AS y_en, yb AS y_rest, z
            FROM z ORDER BY z ASC, word LIMIT 10)
    SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM bot)
    ORDER BY side, z DESC, word"""

  /** q288's anonymity threshold (classes smaller than this are at risk). */
  private val KAnonK = 5L

  /** q288: k-anonymity / l-diversity privacy audit — the re-identification
    * screen a corpus release runs before publishing (Sweeney 2002's
    * k-anonymity; Machanavajjhala et al. 2007's l-diversity): treating
    * (lang, length bucket) as the quasi-identifier an attacker could link
    * on, every equivalence class reports its size k (a class smaller than
    * `KAnonK` re-identifies its members), the number of distinct values
    * the sensitive attribute (source) takes inside it (l — a class where
    * l=1 discloses the attribute even at large k), and the dominant
    * sensitive value's share (the homogeneity-attack readout behind
    * t-closeness). The release decision is per-class: suppress or
    * generalize the flagged rows.
    *
    * Scale shape: two nested hash aggregations — corpus-linear to the
    * (QI, sensitive) grain, then to the QI grain; output bounded by
    * |langs| × |length buckets|. All integers until the one rounded share;
    * (lang, len_bucket) is a unique total order.
    */
  private def q288(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), expr("n_chars DIV 200").as("len_bucket"),
        col("source"))
      .groupBy(col("lang"), col("len_bucket"), col("source"))
      .agg(count(lit(1)).as("cs"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(sum(col("cs")).cast("long").as("k"),
        count(lit(1)).cast("long").as("l_div"),
        max(col("cs")).cast("long").as("max_sens"))
      .select(col("lang"), col("len_bucket"), col("k"), col("l_div"),
        (col("k") < KAnonK).as("at_risk"),
        round(col("max_sens").cast("double") / col("k"), 6)
          .as("dominant_share"))
      .orderBy(col("lang"), col("len_bucket"))

  private val o288 = s"""
    WITH b AS (
      SELECT lang, n_chars // 200 AS len_bucket, source, count(*) AS cs
      FROM documents GROUP BY 1, 2, 3)
    SELECT lang, len_bucket, CAST(sum(cs) AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS l_div,
           sum(cs) < $KAnonK AS at_risk,
           round(CAST(max(cs) AS DOUBLE) / sum(cs), 6) AS dominant_share
    FROM b GROUP BY 1, 2 ORDER BY lang, len_bucket"""

  /** q290's privacy-loss budget ε (sensitivity-1 count queries). */
  private val DpEps = 1.0

  /** q290: differentially-private count release with DERANDOMIZED Laplace
    * noise — the ε-DP mechanism (Dwork et al. 2006) a corpus owner applies
    * before publishing composition statistics: each (lang, source) cell's
    * count is released as n + Lap(Δ/ε) with sensitivity Δ=1. The noise is
    * derandomized the way this repo derandomizes every sampler (q138's
    * A-ES keys, q257's Poisson weights): uniform u = (md5(cell)+0.5)/2³²
    * through the Laplace inverse CDF −b·sign(u−½)·ln(1−2|u−½|), so the
    * release is reproducible AND auditable — true count, noisy value and
    * per-cell absolute error ride along (a real release would drop the
    * true columns; the audit form is the point here). u is never 0, ½ or
    * 1 by construction (k+0.5)/2³², so the log operand stays in (0, 1] —
    * no zero-log guard needed on either engine.
    *
    * Parity: one ln per CELL (a schema-bounded domain, not per row),
    * rounded at 6 — the q286/q138 rounded-transcendental stance. Scale:
    * one corpus-linear hash aggregation; the noise is column algebra on
    * the bounded cell frame.
    */
  private def q290(s: SparkSession, d: String): DataFrame = {
    val v = conv(substring(md5(concat_ws("|", col("lang"), col("source"))),
      1, 8), 16, 10).cast("long")
    val u = (v.cast("double") + 0.5) / 4294967296.0
    val noise = -lit(1.0 / DpEps) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    documents(s, d).groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("true_n"))
      .select(col("lang"), col("source"), col("true_n"),
        round(col("true_n") + noise, 6).as("noisy_n"),
        round(abs(noise), 6).as("abs_err"),
        lit(DpEps).as("epsilon"))
      .orderBy(col("lang"), col("source"))
  }

  private val o290 = s"""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS true_n
      FROM documents GROUP BY 1, 2),
    h AS (
      SELECT lang, source, true_n,
             (list_sum(list_transform(range(1, 9), k ->
                (strpos('0123456789abcdef',
                   substr(md5(lang || '|' || source), k, 1)) - 1)
                * power(16, 8 - k))) + 0.5) / 4294967296.0 AS u
      FROM g),
    n AS (
      SELECT lang, source, true_n,
             -(${1.0 / DpEps}) * sign(u - 0.5)
               * ln(1.0 - 2.0 * abs(u - 0.5)) AS noise
      FROM h)
    SELECT lang, source, true_n,
           round(true_n + noise, 6) AS noisy_n,
           round(abs(noise), 6) AS abs_err,
           CAST($DpEps AS DOUBLE) AS epsilon
    FROM n ORDER BY lang, source"""

  /** q295's keyword screen (RAKE's stopword stand-in, = q285's) and
    * report size. */
  private val RakeMinLen = 4
  private val RakeTopK = 15

  /** q295: RAKE phrase extraction (Rose et al. 2010) — the PHRASE-level
    * keyword pass beside q285's word-level TextRank: candidate phrases are
    * maximal runs of keyword tokens between stopword delimiters
    * (gaps-and-islands on token positions), each word scores
    * deg(w)/freq(w) where deg counts total phrase length over the word's
    * occurrences (words that live in long phrases score higher), and a
    * phrase scores the sum of its member words — the co-occurrence-aware
    * upgrade over frequency that needs no graph iteration at all. Output:
    * top-`RakeTopK` phrases by score with occurrence and length counts.
    *
    * Parity: deg/freq are exact integer ratios rounded at 12; the
    * per-phrase sum rounds at 6 (q285's rounded-group-sum stance);
    * (score, phrase) is a total order so the LIMIT is deterministic.
    *
    * Scale shape: phrase assembly happens INSIDE each row's token array
    * (a single higher-order fold — no corpus-scale window or join; the
    * r11 shuffle audit showed the windowed formulation moving 15× its
    * source bytes, this one moves only the vocab/phrase aggregation
    * partials); word stats and phrase scoring are vocabulary-/phrase-
    * bounded aggregations fed map-side.
    */
  private def q295(s: SparkSession, d: String): DataFrame = {
    val phraseArr = expr(s"""
      aggregate(
        ws,
        named_struct('ph', cast(array() as array<string>), 'cur', ''),
        (a, w) -> if(length(w) >= $RakeMinLen,
          named_struct('ph', a.ph,
            'cur', if(a.cur = '', w, concat(a.cur, ' ', w))),
          named_struct('ph',
            if(a.cur = '', a.ph, array_append(a.ph, a.cur)), 'cur', '')),
        a -> if(a.cur = '', a.ph, array_append(a.ph, a.cur)))""")
    val occ = parallelize(s, documents(s, d))
      .withColumn("ws", wsCol)
      .select(explode(phraseArr).as("phrase"))
      .withColumn("plen", size(split(col("phrase"), " ")).cast("long"))
    val wstats = occ
      .select(explode(split(col("phrase"), " ")).as("w"), col("plen"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        round(col("deg").cast("double") / col("freq"), 12).as("sc"))
    occ.groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_occ"),
        max(col("plen")).cast("long").as("n_words"))
      .select(col("phrase"), col("n_occ"), col("n_words"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wstats, Seq("w"))
      .groupBy(col("phrase"), col("n_occ"), col("n_words"))
      .agg(round(sum(col("sc")), 6).as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
      .limit(RakeTopK)
  }

  private val o295 = s"""
    WITH toks AS (
      SELECT doc_id, CAST(generate_subscripts(ws, 1) AS INT) AS pos,
             unnest(ws) AS w
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
            FROM documents)),
    kw AS (SELECT * FROM toks WHERE length(w) >= $RakeMinLen),
    runs AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM kw),
    phrases AS (
      SELECT doc_id, island, string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM runs GROUP BY doc_id, island),
    wstats AS (
      SELECT r.w,
             round(CAST(sum(p.plen) AS DOUBLE) / count(*), 12) AS sc
      FROM runs r JOIN phrases p ON p.doc_id = r.doc_id
                              AND p.island = r.island
      GROUP BY r.w),
    pg AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
             CAST(max(plen) AS BIGINT) AS n_words
      FROM phrases GROUP BY phrase),
    pw AS (
      SELECT pg.phrase, pg.n_occ, pg.n_words,
             unnest(string_split(pg.phrase, ' ')) AS w
      FROM pg)
    SELECT p.phrase, p.n_occ, p.n_words,
           round(sum(s.sc), 6) AS rake_score
    FROM pw p JOIN wstats s USING (w)
    GROUP BY p.phrase, p.n_occ, p.n_words
    ORDER BY rake_score DESC, p.phrase LIMIT $RakeTopK"""

  /** q314: Burrows' Delta stylometry (Burrows 2002) — per-source profiles
    * over the [[DeltaMarkers]] most frequent corpus words (the
    * "function words" of authorship attribution), z-scored across
    * sources, with Delta(s1,s2) = mean |z1−z2| for every source pair.
    * In a training-data pipeline this is the source-attribution /
    * style-drift detector: a pair with near-zero Delta is stylistically
    * interchangeable (candidate for mixing-weight merging, q94), a
    * source whose Delta to everything jumps between snapshots changed
    * its generator.
    *
    * Scale shape: one corpus-linear tokenize+count to the (source, word)
    * grain, marker selection is a global TakeOrdered over the
    * vocabulary-bounded word frame, and everything after lives on the
    * markers × sources frame (bounded) — the corpus is touched once.
    * Cross-engine: counts exact int64; rates are single double divisions;
    * the mean/sd/Delta sums run over bounded frames (≤ sources rows) and
    * land rounded at 6 — far above summation-order ulps; sd=0 markers
    * (identical rate everywhere) contribute NULL z on both engines and
    * drop out of Delta via AVG's null-skip.
    */
  private val DeltaMarkers = 8

  /** q314: Burrows' Delta between every pair of sources over the corpus's most frequent words. */
  private def q314(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("source"), explode(wsCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).cast("long").as("m"))
      .localCheckpoint(true)
    val markers = tf.groupBy(col("w"))
      .agg(sum(col("m")).as("cm"))
      .orderBy(col("cm").desc, col("w")).limit(DeltaMarkers)
      .select(col("w"))
    val st = tf.groupBy(col("source")).agg(sum(col("m")).as("nt"))
    val rates = tf.join(broadcast(markers), Seq("w"))
      .join(st, Seq("source"))
      .select(col("source"), col("w"),
        (col("m").cast("double") * lit(1000.0) / col("nt")).as("r"))
    val ms = rates.groupBy(col("w"))
      .agg(count(lit(1)).as("ns"), sum(col("r")).as("sr"),
        sum(col("r") * col("r")).as("srr"))
      .select(col("w"), (col("sr") / col("ns")).as("mu"),
        when(col("ns") > 1,
          sqrt(greatest(
            (col("srr") - col("sr") * col("sr") / col("ns"))
              / (col("ns") - lit(1L)), lit(0.0)))).as("sd"))
    val z = rates.join(broadcast(ms), Seq("w"))
      .select(col("source"), col("w"),
        when(col("sd") > 0.0, (col("r") - col("mu")) / col("sd")).as("z"))
    z.as("x")
      .join(z.as("y"),
        col("x.w") === col("y.w") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(col("x.z") - col("y.z")).as("n_markers"),
        round(avg(abs(col("x.z") - col("y.z"))), 6).as("delta"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val o314 = s"""
    WITH tf AS MATERIALIZED (
      SELECT source, w, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE length(w) > 0 GROUP BY source, w),
    markers AS (
      SELECT w FROM (SELECT w, CAST(sum(m) AS BIGINT) AS cm
                     FROM tf GROUP BY w)
      ORDER BY cm DESC, w LIMIT $DeltaMarkers),
    st AS (SELECT source, CAST(sum(m) AS BIGINT) AS nt
           FROM tf GROUP BY source),
    rates AS MATERIALIZED (
      SELECT source, w, CAST(m AS DOUBLE) * 1000.0 / nt AS r
      FROM tf JOIN markers USING (w) JOIN st USING (source)),
    ms AS (
      SELECT w, sr / ns AS mu,
             CASE WHEN ns > 1 THEN
               sqrt(greatest((srr - sr * sr / ns) / (ns - 1), 0.0)) END
               AS sd
      FROM (SELECT w, CAST(count(*) AS BIGINT) AS ns, sum(r) AS sr,
                   sum(r * r) AS srr
            FROM rates GROUP BY w)),
    z AS MATERIALIZED (
      SELECT source, w,
             CASE WHEN sd > 0.0 THEN (r - mu) / sd END AS z
      FROM rates JOIN ms USING (w))
    SELECT x.source AS source_a, y.source AS source_b,
           CAST(count(x.z - y.z) AS BIGINT) AS n_markers,
           round(avg(abs(x.z - y.z)), 6) AS delta
    FROM z x JOIN z y ON x.w = y.w AND x.source < y.source
    GROUP BY 1, 2 ORDER BY source_a, source_b"""

  /** q317: MMR — maximal marginal relevance re-ranking (Carbonell &
    * Goldstein 1998) over the BM25 top-[[MmrPool]] candidate pool:
    * greedily select [[MmrK]] results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected (λ=0.5,
    * token-set Jaccard as the redundancy measure). THE retrieval-
    * diversity operator: q131 returns five near-duplicates of the best
    * hit, MMR returns the best hit plus four that add information —
    * what a RAG pipeline actually wants in its context window.
    *
    * Exactness design: the greedy objective runs in exact int64 — BM25
    * scores arrive rounded at 5 (q131's contract) and are snapped to
    * rel_li = round(bm25·1e5); the redundancy penalty is
    * (1e5·|A∩B|) DIV |A∪B| (integer Jaccard in the same scale); each
    * argmax breaks ties by MIN doc_id. Zero float comparisons anywhere
    * in the selection loop, so the unrolled DuckDB oracle pairs
    * bit-for-bit.
    *
    * Scale shape: stage 1 is q131's corpus-linear scoring; everything
    * after (token sets, 20×20 pairwise Jaccard, K unrolled greedy
    * rounds) lives on the candidate-bounded frame — selection cost is
    * O(pool²·K), corpus-independent. Pool frames are localCheckpointed
    * once so the K rounds never re-run stage 1.
    */
  private val MmrPool = 20
  private val MmrK = 5

  /** q317: MMR re-ranking of the BM25 candidate pool, relevance traded
    * against Jaccard redundancy. */
  private def q317(s: SparkSession, d: String): DataFrame = {
    val cand = bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(MmrPool)
      .select(col("doc_id"),
        round(col("bm25") * lit(1e5)).cast("long").as("rel_li"))
      .localCheckpoint(true)
    val toks = documents(s, d)
      .join(cand.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), explode(wsCol).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .localCheckpoint(true)
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val half = toks.as("x")
      .join(toks.as("y"),
        col("x.w") === col("y.w") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sza")),
        Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("szb")),
        Seq("db"))
      .select(col("da"), col("db"),
        expr("(100000 * inter) DIV (sza + szb - inter)").as("pen"))
    // ---- r14: the K greedy rounds as ONE-ROW array folds (q206's
    // recipe) ---- the r13 form ran each round as an anti-join + penalty
    // rollup + top-1 sort over the ≤20-row pool — ~5 tiny jobs per round
    // of pure orchestration on a frame whose size is POOL-bounded at any
    // corpus scale. Both pool frames collapse to one row (both pair
    // directions emitted in the same collect pass, so the old
    // union+checkpoint goes too) and the K rounds chain inside one outer
    // aggregate whose accumulator is the selection array — a bound value,
    // so evaluation is linear (the q206 nesting lesson). Every quantity
    // is exact int64; the argmax is array_max over (mmr_li, -doc_id),
    // whose lexicographic max IS the r13 ORDER BY mmr_li DESC, doc_id
    // ASC top-1 (doc_id unique per pool); the penalty fold's
    // greatest-of-0 init IS the left-join-miss coalesce(0).
    val candRow = cand
      .agg(array_sort(collect_list(struct(col("doc_id"), col("rel_li"))))
        .as("cands"))
      .withColumn("jk", pmod(size(col("cands")), lit(1)))
    val pairRow = half
      .agg(array_sort(flatten(collect_list(array(
        struct(col("da"), col("db"), col("pen")),
        struct(col("db").as("da"), col("da").as("db"), col("pen"))))))
        .as("prs"))
      .withColumn("jk", pmod(size(col("prs")), lit(1)))
    val one = candRow.join(broadcast(pairRow), Seq("jk"))
    def fld(x: Column, f: String): Column = x.getField(f)
    val accType =
      "array<struct<doc_id:bigint,rel_li:bigint,mmr_li:bigint,sel_rank:int>>"
    def round1(acc: Column): Column = {
      val remaining = filter(col("cands"), c =>
        !exists(acc, e => fld(e, "doc_id") === fld(c, "doc_id")))
      // mmr = rel − max penalty vs the already-selected set (0 if none)
      def mmrOf(c: Column): Column = fld(c, "rel_li") - aggregate(
        filter(col("prs"), p =>
          fld(p, "da") === fld(c, "doc_id") &&
            exists(acc, e => fld(e, "doc_id") === fld(p, "db"))),
        lit(0L), (m, p) => greatest(m, fld(p, "pen")))
      // (mmr, -doc_id, rel) lexicographic max = argmax by mmr DESC then
      // doc_id ASC; rel rides along (never consulted — doc_id is unique)
      val best = array_max(transform(remaining, c =>
        struct(mmrOf(c).as("m"), (-fld(c, "doc_id")).as("nd"),
          fld(c, "rel_li").as("rel"))))
      when(best.isNotNull,
        concat(acc, array(struct(
          (-fld(best, "nd")).as("doc_id"),
          fld(best, "rel").as("rel_li"),
          fld(best, "m").as("mmr_li"),
          (size(acc) + 1).as("sel_rank")))))
        .otherwise(acc)
    }
    val selArr = aggregate(sequence(lit(1), lit(MmrK)),
      expr(s"cast(array() as $accType)"), (acc, _) => round1(acc))
    one.select(explode(selArr).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.rel_li").as("rel_li"),
        col("e.mmr_li").as("mmr_li"), col("e.sel_rank").as("sel_rank"))
      .orderBy(col("sel_rank"))
  }

  /** Unrolled greedy oracle; cumulative selection frames are referenced
    * by the next round's penalty join, anti filter, AND the final
    * readout → `AS MATERIALIZED` (the q310 CTE-inlining lesson).
    */
  private def o317: String = {
    val base = s"""
    WITH cand AS MATERIALIZED (
      SELECT doc_id, CAST(round(bm25 * 1e5) AS BIGINT) AS rel_li
      FROM (
        WITH docs AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents),
        stats AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl
                  FROM docs),
        toks AS (
          SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term
          FROM docs),
        tf AS (
          SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
          FROM toks WHERE term IN ('spark', 'hash', 'merge')
          GROUP BY doc_id, term),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        SELECT doc_id,
               round(sum(
                 ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * ${Bm25K1 + 1.0}
                   / (tf + $Bm25K1 * (${1.0 - Bm25B}
                        + $Bm25B * dl / avgdl))
               ), 5) AS bm25
        FROM tf JOIN df USING (term), stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT $MmrPool)),
    ctoks AS MATERIALIZED (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id,
              unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM cand))
      WHERE length(w) > 0),
    csz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM ctoks GROUP BY doc_id),
    halfp AS (
      SELECT x.doc_id AS da, y.doc_id AS db,
             (100000 * count(*)) // (za.sz + zb.sz - count(*)) AS pen
      FROM ctoks x JOIN ctoks y
        ON x.w = y.w AND x.doc_id < y.doc_id
      JOIN csz za ON za.doc_id = x.doc_id
      JOIN csz zb ON zb.doc_id = y.doc_id
      GROUP BY x.doc_id, y.doc_id, za.sz, zb.sz),
    pairs AS MATERIALIZED (
      SELECT da, db, pen FROM halfp
      UNION ALL SELECT db AS da, da AS db, pen FROM halfp),
    s1 AS MATERIALIZED (
      SELECT doc_id, rel_li, rel_li AS mmr_li, 1 AS sel_rank
      FROM cand ORDER BY rel_li DESC, doc_id LIMIT 1)"""
    val rounds = (2 to MmrK).map { r =>
      s"""p$r AS (SELECT da AS doc_id, max(pen) AS p
            FROM pairs JOIN s${r - 1} sl ON sl.doc_id = pairs.db
            GROUP BY da),
          pk$r AS MATERIALIZED (
            SELECT doc_id, rel_li, mmr_li, $r AS sel_rank FROM (
              SELECT c.doc_id, c.rel_li,
                     c.rel_li - COALESCE(p$r.p, 0) AS mmr_li
              FROM cand c LEFT JOIN p$r USING (doc_id)
              WHERE c.doc_id NOT IN (SELECT doc_id FROM s${r - 1}))
            ORDER BY mmr_li DESC, doc_id LIMIT 1),
          s$r AS MATERIALIZED (
            SELECT * FROM s${r - 1} UNION ALL SELECT * FROM pk$r)"""
    }.mkString(",\n       ")
    s"""$base,
       $rounds
       SELECT sel_rank, doc_id, rel_li, mmr_li
       FROM s$MmrK ORDER BY sel_rank"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q314_burrows_delta", q314, Some(o314)),
    QueryDef("q317_mmr_rerank", q317, Some(o317)),
    QueryDef("q285_textrank_keywords", q285, Some(o285)),
    QueryDef("q288_k_anonymity", q288, Some(o288)),
    QueryDef("q290_dp_release", q290, Some(o290)),
    QueryDef("q295_rake_phrases", q295, Some(o295)),
    QueryDef("q286_logodds_keyness", q286, Some(o286)),
    QueryDef("q267_kfold_balance", q267, Some(o267)),
    QueryDef("q266_quantile_normalization", q266, Some(o266)),
    QueryDef("q261_neyman_allocation", q261, Some(o261)),
    QueryDef("q254_ngram_novelty", q254, Some(o254)),
    QueryDef("q243_zipf_slope", q243, Some(o243)),
    QueryDef("q227_bpe_encode", q227, Some(o227)),
    QueryDef("q228_token_waterfill", q228, Some(o228)),
    QueryDef("q172_bpe_merges", q172, Some(o172)),
    QueryDef("q175_bpe_compression", q175, Some(o175)),
    QueryDef("q170_stratified_kfold", q170, Some(o170)),
    QueryDef("q167_temperature_mix", q167, Some(o167)),
    QueryDef("q161_length_bucketing", q161, Some(o161)),
    QueryDef("q160_corpus_card", q160, Some(o160)),
    QueryDef("q151_vocab_coverage", q151, Some(o151)),
    QueryDef("q138_weighted_sample", q138, Some(o138)),
    QueryDef("q209_moore_lewis", q209, Some(o209)),
    QueryDef("q210_dsir_weights", q210, Some(o210)),
    QueryDef("q219_dsir_resample", q219, Some(o219)),
    QueryDef("q139_sorted_neighborhood", q139, Some(o139)),
    QueryDef("q131_bm25_topk", q131, Some(o131)),
    QueryDef("q200_hybrid_retrieval", q200, Some(o200)),
    QueryDef("q133_bigram_perplexity", q133, Some(o133)),
    QueryDef("q213_kneser_ney", q213, Some(o213)),
    QueryDef("q126_cooccur_pmi", q126, Some(o126)),
    QueryDef("q112_pipeline_compose", q112, Some(o112)),
    QueryDef("q103_sequence_packing", q103, Some(o103)),
    QueryDef("q105_stratified_sample", q105, Some(o105)),
    QueryDef("q93_repetition_ratio", q93, Some(o93)),
    QueryDef("q94_mix_weights", q94, Some(o94)),
    QueryDef("q83_contamination", q83, Some(o83)),
    QueryDef("q69_higher_order", q69, Some(o69)),
    QueryDef("q70_posexplode", q70, Some(o70)),
    QueryDef("q71_conditional_agg", q71, Some(o71)),
    QueryDef("q72_tfidf_topk", q72, Some(o72)),
    QueryDef("q73_bigram_stats", q73, Some(o73)),
    QueryDef("q74_pii_scrub", q74, Some(o74)),
    QueryDef("q75_hash_split", q75, Some(o75)),
    QueryDef("q77_chunking", q77, Some(o77)))
}
