package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the corpus-statistics /
  * quality-scoring / language-ID layer a training-data pipeline runs before
  * dedup (north-star extras; no reference counterpart, SURVEY §2.C last rows).
  *
  * Everything here is exact integer/string work (occurrence counting via the
  * length-of-replace trick, token counts on `\s+` splits) so the DuckDB
  * oracle can reproduce results bit-for-bit; ratios divide the same exact
  * integers in both engines. All operators are per-row maps or single hash
  * aggregations — shuffle-free or one-shuffle at any scale.
  */
object TextOps {
  import Tables._

  /** `' ' || text || ' '` so word-boundary markers match at both ends. */
  private def withT2(df: DataFrame): DataFrame =
    df.withColumn("t2", concat(lit(" "), col("text"), lit(" ")))

  /** Occurrence count of literal `m` via length-difference (exact, portable,
    * and cheaper than regex at scale).
    */
  private def occ(m: String): Column =
    expr(s"CAST((length(t2) - length(replace(t2, '$m', ''))) / ${m.length} AS INT)")

  private def wsTokens: Column = split(trim(col("text")), "\\s+")

  /** Corpus statistics per language bucket. */
  private def q30(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(size(wsTokens)).cast("long").as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  private val o30 = """
    SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS total_tokens,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang ORDER BY lang"""

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (ceil(len/4) pieces per word — the standard ~4-chars-per-token rule).
    */
  private def q31(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        size(wsTokens).as("n_ws_tokens"),
        aggregate(wsTokens, lit(0),
          (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int"))
          .as("n_bpeish_tokens"),
        expr("CAST(length(replace(text, ' ', '')) AS INT)")
          .as("n_chars_nospace"))
      .orderBy(col("doc_id"))

  private val o31 = """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
             AS n_ws_tokens,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
             w -> CAST(ceil(length(w) / 4.0) AS INT))) AS INT)
             AS n_bpeish_tokens,
           CAST(length(replace(text, ' ', '')) AS INT) AS n_chars_nospace
    FROM documents ORDER BY doc_id"""

  /** Marker-frequency language/domain ID: score word-marker occurrences per
    * class, argmax with a fixed priority tie-break. (The corpus is synthetic
    * word soup, so classes are domain-flavored rather than natural-language —
    * the operator shape is the point.)
    */
  /** Scored + argmax'd language-ID frame, shared by q32 (per-doc listing)
    * and q185 (confusion matrix). */
  private def langPred(s: SparkSession, d: String): DataFrame =
    withT2(documents(s, d))
      .select(
        col("doc_id"), col("lang"),
        (occ(" the ") + occ(" a ") + occ(" is ")).as("s_en"),
        (occ(" table ") + occ(" query ") + occ(" join ")).as("s_db"),
        (occ(" batch ") + occ(" stream ") + occ(" window ")).as("s_etl"))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_db") && col("s_en") >= col("s_etl"), "en")
          .when(col("s_db") >= col("s_etl"), "db")
          .otherwise("etl"))

  /** q32: per-document language ID, the marker scores of each class and their
    * argmax label, ordered by doc_id. */
  private def q32(s: SparkSession, d: String): DataFrame =
    langPred(s, d).orderBy(col("doc_id"))

  private val o32 = """
    SELECT doc_id, lang, s_en, s_db, s_etl,
           CASE WHEN s_en >= s_db AND s_en >= s_etl THEN 'en'
                WHEN s_db >= s_etl THEN 'db' ELSE 'etl' END AS lang_pred
    FROM (
      SELECT doc_id, lang,
        CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
          + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
          + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
          AS s_en,
        CAST((length(t2) - length(replace(t2, ' table ', ''))) / 7 AS INT)
          + CAST((length(t2) - length(replace(t2, ' query ', ''))) / 7 AS INT)
          + CAST((length(t2) - length(replace(t2, ' join ', ''))) / 6 AS INT)
          AS s_db,
        CAST((length(t2) - length(replace(t2, ' batch ', ''))) / 7 AS INT)
          + CAST((length(t2) - length(replace(t2, ' stream ', ''))) / 8 AS INT)
          + CAST((length(t2) - length(replace(t2, ' window ', ''))) / 8 AS INT)
          AS s_etl
      FROM (SELECT doc_id, lang, ' ' || text || ' ' AS t2 FROM documents))
    ORDER BY doc_id"""

  /** q185: classifier confusion matrix — q32's language-ID predictions
    * against the `lang` ground-truth column: per (actual, predicted) cell,
    * the count and the row-normalized fraction (the per-class recall on
    * the diagonal). The evaluation primitive every pipeline classifier
    * (lang-ID, quality gates, PII flags) needs before its threshold is
    * trusted at corpus scale; one scoring pass + a cells×classes rollup,
    * both corpus-linear.
    */
  private def q185(s: SparkSession, d: String): DataFrame = {
    val pred = langPred(s, d)
    val totals = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_actual"))
    pred.groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n"),
        round(col("n") / col("n_actual").cast("double"), 6)
          .as("frac_of_actual"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  private val o185 = """
    WITH scored AS (
      SELECT doc_id, lang,
             CASE WHEN s_en >= s_db AND s_en >= s_etl THEN 'en'
                  WHEN s_db >= s_etl THEN 'db' ELSE 'etl' END AS lang_pred
      FROM (
        SELECT doc_id, lang,
          CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
            + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
            + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
            AS s_en,
          CAST((length(t2) - length(replace(t2, ' table ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' query ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' join ', ''))) / 6 AS INT)
            AS s_db,
          CAST((length(t2) - length(replace(t2, ' batch ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' stream ', ''))) / 8 AS INT)
            + CAST((length(t2) - length(replace(t2, ' window ', ''))) / 8 AS INT)
            AS s_etl
        FROM (SELECT doc_id, lang, ' ' || text || ' ' AS t2 FROM documents))),
    tot AS (SELECT lang, count(*) AS n_actual FROM scored GROUP BY lang)
    SELECT s.lang, s.lang_pred, count(*) AS n,
           round(count(*) / CAST(t.n_actual AS DOUBLE), 6) AS frac_of_actual
    FROM scored s JOIN tot t ON t.lang = s.lang
    GROUP BY s.lang, s.lang_pred, t.n_actual
    ORDER BY s.lang, s.lang_pred"""

  /** Quality scoring: length/punctuation/stopword signals combined into one
    * deterministic score (exact integer inputs -> identical doubles).
    */
  private def q33(s: SparkSession, d: String): DataFrame =
    withT2(documents(s, d))
      .withColumn("n_tok", size(wsTokens))
      .withColumn("n_ch", length(col("text")).cast("int"))
      .withColumn("punct_cnt",
        expr("CAST(length(t2) - length(replace(t2, '.', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, ',', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, '!', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, '?', '')) AS INT)"))
      .withColumn("stop_cnt", occ(" the ") + occ(" a ") + occ(" is "))
      .select(
        col("doc_id"), col("n_tok"), col("n_ch"), col("punct_cnt"),
        col("stop_cnt"),
        round(expr("length(replace(text, ' ', '')) / CAST(n_tok AS DOUBLE)"), 4)
          .as("avg_word_len"),
        round(expr("stop_cnt / CAST(n_tok AS DOUBLE)"), 6).as("stop_ratio"),
        round(expr("punct_cnt / CAST(n_ch AS DOUBLE)"), 6).as("punct_ratio"),
        round(
          expr("least(1.0, n_tok / 100.0) * 0.4") +
          expr("(stop_cnt / CAST(n_tok AS DOUBLE)) * 0.3") +
          expr("(1.0 - punct_cnt / CAST(n_ch AS DOUBLE)) * 0.3"), 6)
          .as("quality"))
      .orderBy(col("doc_id"))

  private val o33 = """
    SELECT doc_id, n_tok, n_ch, punct_cnt, stop_cnt,
           round(n_nospace / CAST(n_tok AS DOUBLE), 4) AS avg_word_len,
           round(stop_cnt / CAST(n_tok AS DOUBLE), 6) AS stop_ratio,
           round(punct_cnt / CAST(n_ch AS DOUBLE), 6) AS punct_ratio,
           round(least(1.0, n_tok / 100.0) * 0.4
                 + (stop_cnt / CAST(n_tok AS DOUBLE)) * 0.3
                 + (1.0 - punct_cnt / CAST(n_ch AS DOUBLE)) * 0.3, 6)
             AS quality
    FROM (
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tok,
        CAST(length(text) AS INT) AS n_ch,
        CAST(length(replace(text, ' ', '')) AS INT) AS n_nospace,
        CAST(length(t2) - length(replace(t2, '.', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, ',', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, '!', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, '?', '')) AS INT) AS punct_cnt,
        CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
          + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
          + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
          AS stop_cnt
      FROM (SELECT doc_id, text, ' ' || text || ' ' AS t2 FROM documents))
    ORDER BY doc_id"""

  /** Normalized-text rolling fingerprint (lower + whitespace-collapse + md5)
    * and dedup groups keyed on it.
    */
  private def q34(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("keep_id"))

  private val o34 = """
    SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_docs
    FROM documents
    GROUP BY 1 ORDER BY keep_id"""

  /** Exact dedup on content hash: one group per distinct text, keeping the
    * smallest doc_id (at 100 TB this is the standard hash-groupBy dedup — the
    * md5 group key keeps shuffle rows narrow).
    */
  private def q35(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  private val o35 = """
    SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1 ORDER BY keep_id"""

  /** q48: per-document fingerprints — md5 of the normalized text plus a
    * polynomial rolling hash (base-31 mod 1e9+7 over codepoints, the classic
    * Rabin-Karp accumulator) computed by the codegen'd native expression
    * [[graft.functions.RollingHashExpression]]; both exact and
    * engine-portable.
    */
  private def q48(s: SparkSession, d: String): DataFrame =
    parallelize(s, documents(s, d))
      .select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp_md5"),
        graft.functions.RollingHashExpression.rollingHash(col("text"))
          .as("fp_rolling"))
      .orderBy(col("doc_id"))

  private val o48 = """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                 i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS fp_rolling
    FROM documents ORDER BY doc_id"""

  /** q82: canonical-variant selection — within each normalized-fingerprint
    * dup group, keep the longest variant (ties to the smallest doc_id). The
    * survivor choice is an argmax on a zero-padded composite key so both
    * engines pick the same row deterministically; this is the "which copy do
    * we train on" step that follows dedup grouping (q34).
    */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val key = Keys.key(Keys.asc("n_chars", 12), Keys.desc("doc_id", 13))
    documents(s, d)
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .groupBy(col("fp"))
      .agg(
        expr(s"max_by(doc_id, $key)").as("keep_id"),
        max(col("n_chars")).as("keep_chars"),
        count(lit(1)).as("n_variants"))
      .orderBy(col("keep_id"))
  }

  private val o82 = s"""
    SELECT fp,
           arg_max(doc_id, ${Keys.oKey(Keys.oAsc("n_chars", 12),
             Keys.oDesc("doc_id", 13))})
             AS keep_id,
           max(n_chars) AS keep_chars, count(*) AS n_variants
    FROM (SELECT doc_id, n_chars,
            md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
          FROM documents)
    GROUP BY fp ORDER BY keep_id"""

  /** q124: corpus-mix drift — per-source language-distribution entropy and
    * KL divergence against the global language mix, the monitoring
    * statistic a training-data pipeline tracks when the source blend
    * shifts. Two hash aggregations + one broadcast-sized dimension join
    * (distinct (source, lang) pairs). Shared SQL text runs on both engines;
    * r13: each p·ln(p) term is SNAPPED to int64 nano-units
    * (`round(term·1e9)::BIGINT`) before the sum, so the fold is exact
    * integer arithmetic — ln's last-ulp engine difference survives only
    * as the ~1e-18-probability half-boundary of the snap itself, not as
    * an order-sensitive float sum (the q304 r12 lesson, enforced by
    * CatalogSpec's transcendental discipline).
    */
  private def q124(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("graft_kl_documents")
    s.sql(klSql("graft_kl_documents"))
  }

  private def klSql(t: String): String = s"""
    WITH sl AS (
      SELECT source, lang, count(*) AS c
      FROM $t GROUP BY source, lang),
    srct AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM sl GROUP BY source),
    gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cg FROM sl GROUP BY lang),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sl)
    SELECT sl.source,
           CAST(count(*) AS INT) AS n_langs,
           round(-(CAST(sum(CAST(round(
                     (sl.c / CAST(srct.cs AS DOUBLE))
                     * ln(sl.c / CAST(srct.cs AS DOUBLE)) * 1e9)
                   AS BIGINT)) AS DOUBLE) / 1e9), 6) AS entropy,
           round(CAST(sum(CAST(round(
                   (sl.c / CAST(srct.cs AS DOUBLE))
                   * ln((sl.c / CAST(srct.cs AS DOUBLE))
                        / (gl.cg / CAST((SELECT n FROM tot) AS DOUBLE)))
                   * 1e9) AS BIGINT)) AS DOUBLE) / 1e9,
                 6) AS kl_vs_global
    FROM sl
    JOIN srct ON sl.source = srct.source
    JOIN gl ON sl.lang = gl.lang
    GROUP BY sl.source
    ORDER BY sl.source"""

  /** q155: per-source boilerplate detection — the CCNet-style screen for
    * template text: a segment (fixed 10-word grain, as q141) recurring
    * across >= 5% of a source's documents is site furniture (headers,
    * cookie banners, nav text), not content, and gets stripped before
    * training. Work is two hash aggregations at natural keys — per-(source,
    * segment) distinct-doc counts, then the per-source doc totals broadcast
    * back — nothing pairwise, so the screen runs over the full corpus at
    * any scale (at 100 TB the (source, segment) rollup is the shuffle, and
    * it shrinks with map-side distinct-combine exactly like q132's gram
    * counts).
    */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val segs = parallelize(s, documents(s, d))
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          """transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1),
             i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))"""))
          .as("seg"))
      .distinct()
    val srcTot = segs.select(col("source"), col("doc_id")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    segs.groupBy(col("source"), col("seg"))
      .agg(count(lit(1)).as("n_with"))
      .filter(col("n_with") >= 2)
      .join(broadcast(srcTot), Seq("source"))
      // threshold on the RAW ratio (identical doubles from identical ints in
      // both engines); rounding only the presented column — filtering on the
      // rounded value would admit 0.049999x rows the oracle excludes
      .withColumn("fr", col("n_with").cast("double") / col("n_docs"))
      .filter(col("fr") >= 0.05)
      .select(col("source"), col("seg"), col("n_with"), col("n_docs"),
        round(col("fr"), 6).as("frac"))
      .orderBy(col("frac").desc, col("source"), col("seg"))
      .limit(50)
  }

  private val o155 = """
    WITH docs AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    segs AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ')
               AS seg
      FROM (SELECT doc_id, source, ws,
                   unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS i
            FROM docs)),
    srct AS (
      SELECT source, count(DISTINCT doc_id) AS n_docs FROM segs
      GROUP BY source),
    hits AS (
      SELECT source, seg, count(*) AS n_with FROM segs
      GROUP BY source, seg HAVING count(*) >= 2)
    SELECT h.source, h.seg, h.n_with, s.n_docs,
           round(h.n_with / CAST(s.n_docs AS DOUBLE), 6) AS frac
    FROM hits h JOIN srct s USING (source)
    WHERE h.n_with / CAST(s.n_docs AS DOUBLE) >= 0.05
    ORDER BY frac DESC, h.source, h.seg LIMIT 50"""

  /** q186: Cohen's kappa for the language-ID predictor — chance-corrected
    * agreement between q32's predictions and the ground truth: kappa =
    * (po - pe) / (1 - pe), with po the raw accuracy and pe the expected
    * agreement from the actual x predicted marginals. The one-number
    * follow-up to q185's matrix (raw accuracy flatters a classifier on a
    * skewed class mix; kappa doesn't). Shape: the scoring pass plus two
    * class-marginal aggregations joined on class (classes missing on
    * either side contribute zero by the inner join) — all dimension-sized
    * after the single corpus pass.
    */
  private def q186(s: SparkSession, d: String): DataFrame = {
    val pred = langPred(s, d).select(col("lang"), col("lang_pred"))
    val ma = pred.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("na"))
    val mp = pred.groupBy(col("lang_pred").as("cls"))
      .agg(count(lit(1)).as("np"))
    val pe = ma.join(mp, Seq("cls"))
      .agg(sum(col("na") * col("np")).cast("long").as("sumprod"))
      .withColumn("jk", pmod(col("sumprod"), col("sumprod")))
    val st = pred.agg(count(lit(1)).as("n"),
        avg(when(col("lang") === col("lang_pred"), 1.0).otherwise(0.0))
          .as("po_raw"))
      .withColumn("jk", pmod(col("n"), col("n")))
    val peCol = col("sumprod") / (col("n").cast("double") * col("n"))
    st.join(broadcast(pe), Seq("jk"))
      .select(col("n"), round(col("po_raw"), 6).as("po"),
        round(peCol, 6).as("pe"),
        round((col("po_raw") - peCol) / (lit(1.0) - peCol), 6).as("kappa"))
  }

  private val o186 = """
    WITH scored AS (
      SELECT lang,
             CASE WHEN s_en >= s_db AND s_en >= s_etl THEN 'en'
                  WHEN s_db >= s_etl THEN 'db' ELSE 'etl' END AS lang_pred
      FROM (
        SELECT lang,
          CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
            + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
            + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
            AS s_en,
          CAST((length(t2) - length(replace(t2, ' table ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' query ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' join ', ''))) / 6 AS INT)
            AS s_db,
          CAST((length(t2) - length(replace(t2, ' batch ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' stream ', ''))) / 8 AS INT)
            + CAST((length(t2) - length(replace(t2, ' window ', ''))) / 8 AS INT)
            AS s_etl
        FROM (SELECT lang, ' ' || text || ' ' AS t2 FROM documents))),
    ma AS (SELECT lang AS cls, count(*) AS na FROM scored GROUP BY 1),
    mp AS (SELECT lang_pred AS cls, count(*) AS np FROM scored GROUP BY 1),
    st AS (SELECT count(*) AS n,
                  avg(CASE WHEN lang = lang_pred THEN 1.0 ELSE 0.0 END)
                    AS po_raw
           FROM scored),
    agree AS (SELECT CAST(sum(na * np) AS BIGINT) AS sumprod
              FROM ma JOIN mp USING (cls))
    SELECT CAST(st.n AS BIGINT) AS n, round(st.po_raw, 6) AS po,
           round(sumprod / (CAST(st.n AS DOUBLE) * st.n), 6) AS pe,
           round((st.po_raw - sumprod / (CAST(st.n AS DOUBLE) * st.n))
                 / (1 - sumprod / (CAST(st.n AS DOUBLE) * st.n)), 6)
             AS kappa
    FROM st, agree"""

  /** q199: dedup ROI by source — per source feed, documents and
    * whitespace tokens before vs after exact (md5-fingerprint) dedup, and
    * the token-savings fraction: the billing-grade readout that says which
    * feed is worth deduping (and is paid for twice today). One fingerprint
    * aggregation at (source, fp) grain then a source rollup — corpus-
    * linear; tokens within a fingerprint group are identical by
    * construction (identical text), so `max` is a degenerate, deterministic
    * pick.
    */
  private def q199(s: SparkSession, d: String): DataFrame = {
    val g = parallelize(s, documents(s, d))
      .select(col("source"), md5(col("text")).as("fp"),
        size(wsTokens).cast("long").as("toks"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n_copies"), max(col("toks")).as("toks_fp"))
    g.groupBy(col("source"))
      .agg(
        sum(col("n_copies")).cast("long").as("n_docs"),
        sum(col("n_copies") * col("toks_fp")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_docs_dedup"),
        sum(col("toks_fp")).cast("long").as("n_tokens_dedup"),
        round(lit(1.0) - sum(col("toks_fp"))
          / sum(col("n_copies") * col("toks_fp")).cast("double"), 6)
          .as("token_savings"))
      .orderBy(col("source"))
  }

  private val o199 = """
    WITH t AS (
      SELECT source, md5(text) AS fp,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS toks
      FROM documents),
    g AS (SELECT source, fp, count(*) AS n_copies, max(toks) AS toks_fp
          FROM t GROUP BY source, fp)
    SELECT source,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(sum(n_copies * toks_fp) AS BIGINT) AS n_tokens,
           count(*) AS n_docs_dedup,
           CAST(sum(toks_fp) AS BIGINT) AS n_tokens_dedup,
           round(1.0 - sum(toks_fp)
                 / CAST(sum(n_copies * toks_fp) AS DOUBLE), 6)
             AS token_savings
    FROM g GROUP BY source ORDER BY source"""

  /** The q214 gazetteer: unigram and bigram surface forms with labels.
    * Literal (ships with the query) — the weak-supervision analogue of a
    * dictionary labeling function; in production this is a broadcast-sized
    * dimension table (gazetteers are O(entities), never O(corpus)).
    */
  private val GazUni = Seq(
    "spark" -> "ENGINE", "join" -> "OP", "sort" -> "OP", "merge" -> "OP",
    "filter" -> "OP", "scan" -> "OP", "agg" -> "OP",
    "table" -> "DATA", "row" -> "DATA", "column" -> "DATA",
    "vector" -> "DATA")
  private val GazBi = Seq(
    "hash join" -> "OP", "sort merge" -> "OP", "table scan" -> "OP")

  /** q214: gazetteer weak-labeling NER — the dictionary labeling function
    * (Snorkel-style weak supervision) that bootstraps NER training data
    * when no model exists yet; also the shape of the reference's domain
    * applied relationally (extract entities, then aggregate). Matching is
    * LEFTMOST-LONGEST: a matched bigram ("table scan") consumes both word
    * positions, suppressing any unigram match ("table", "scan") at the
    * positions it covers — the anti-join on covered positions is the
    * declarative form of a greedy maximal matcher (this gazetteer admits
    * no overlapping bigram matches: no term's second word is another's
    * first). Output: per (label, entity) occurrence count, document
    * frequency, and within-label share — the entity frequency table an
    * annotation pipeline reviews.
    *
    * Scale shape: the gazetteer is a broadcast dimension; token/bigram
    * position frames are per-row explodes; the suppression anti-join keys
    * on (doc, position) — all hash joins; one final aggregation.
    */
  private def q214(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = parallelize(s, documents(s, d)).withColumn("ws", wsTokens)
    val toks = docs.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "w")))
    val bigrams = docs.select(col("doc_id"),
      posexplode(filter(
        zip_with(
          col("ws"),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        x => x.isNotNull)).as(Seq("pos", "bg")))
    val gu = GazUni.toDF("term", "label")
    val gb = GazBi.toDF("term", "label")
    val bgM = bigrams.join(broadcast(gb), col("bg") === col("term"))
      .select(col("doc_id"), col("pos"), col("bg").as("entity"), col("label"))
    val covered = bgM.select(col("doc_id"), col("pos"))
      .unionAll(bgM.select(col("doc_id"), (col("pos") + 1).as("pos")))
    val uniM = toks.join(broadcast(gu), col("w") === col("term"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos"), col("w").as("entity"), col("label"))
    val ents = bgM.unionAll(uniM)
    val counts = ents.groupBy(col("label"), col("entity"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
    val totals = counts.groupBy(col("label"))
      .agg(sum(col("n_occ")).as("lt"))
    counts.join(broadcast(totals), Seq("label"))
      .select(col("label"), col("entity"), col("n_occ"), col("n_docs"),
        round(col("n_occ") / col("lt"), 6).as("label_share"))
      .orderBy(col("label"), col("entity"))
  }

  private val o214 = {
    val gu = GazUni.map { case (t, l) => s"('$t','$l')" }.mkString(", ")
    val gb = GazBi.map { case (t, l) => s"('$t','$l')" }.mkString(", ")
    s"""WITH docs AS (
         SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
         FROM documents),
       toks AS (
         SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS INT) AS pos,
                unnest(ws) AS w
         FROM docs),
       bigrams AS (
         SELECT doc_id, CAST(generate_subscripts(bl, 1) - 1 AS INT) AS pos,
                unnest(bl) AS bg
         FROM (SELECT doc_id, list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i + 1]) AS bl
               FROM docs)),
       gu(term, label) AS (VALUES $gu),
       gb(term, label) AS (VALUES $gb),
       bgm AS (
         SELECT b.doc_id, b.pos, b.bg AS entity, g.label
         FROM bigrams b JOIN gb g ON b.bg = g.term),
       covered AS (
         SELECT doc_id, pos FROM bgm
         UNION ALL SELECT doc_id, pos + 1 FROM bgm),
       unim AS (
         SELECT t.doc_id, t.pos, t.w AS entity, g.label
         FROM toks t JOIN gu g ON t.w = g.term
         WHERE NOT EXISTS (SELECT 1 FROM covered c
                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
       ents AS (SELECT * FROM bgm UNION ALL SELECT * FROM unim),
       counts AS (
         SELECT label, entity, count(*) AS n_occ,
                count(DISTINCT doc_id) AS n_docs
         FROM ents GROUP BY label, entity),
       totals AS (SELECT label, CAST(sum(n_occ) AS BIGINT) AS lt
                  FROM counts GROUP BY label)
       SELECT c.label, c.entity, c.n_occ, c.n_docs,
              round(c.n_occ / CAST(t.lt AS DOUBLE), 6) AS label_share
       FROM counts c JOIN totals t ON c.label = t.label
       ORDER BY c.label, c.entity"""
  }

  /** q220: calibration curve + expected calibration error (ECE) for a
    * quality classifier — the reliability diagram every production filter
    * model ships with (Guo et al., ICML 2017): does "score 0.8" actually
    * mean 80%? Score = q33's deterministic quality score read as
    * P(doc is English); label = `lang = 'en'`; 10 equal-width confidence
    * bins. Per bin: count, positives, mean confidence, empirical positive
    * rate, |gap|; ECE = the count-weighted mean |gap|, repeated per row.
    * The pipeline decision this feeds: an uncalibrated filter score makes
    * every downstream threshold (q207's sweep, q203's gate) mean something
    * other than it says.
    *
    * Scale shape: one per-row map (exact integer counting, the q33
    * recipe), a 10-group rollup, and two one-row broadcasts — all
    * map-side until the 10-bin aggregation. Binning is on the ROUNDED
    * score, so bin membership is bit-stable cross-engine; means/ECE are
    * compared rounded.
    */
  private def q220(s: SparkSession, d: String): DataFrame = {
    val scored = withT2(documents(s, d))
      .withColumn("n_tok", size(wsTokens))
      .withColumn("n_ch", length(col("text")).cast("int"))
      .withColumn("punct_cnt",
        expr("CAST(length(t2) - length(replace(t2, '.', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, ',', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, '!', '')) AS INT)") +
        expr("CAST(length(t2) - length(replace(t2, '?', '')) AS INT)"))
      .withColumn("stop_cnt", occ(" the ") + occ(" a ") + occ(" is "))
      .withColumn("p", round(
        expr("least(1.0, n_tok / 100.0) * 0.4") +
        expr("(stop_cnt / CAST(n_tok AS DOUBLE)) * 0.3") +
        expr("(1.0 - punct_cnt / CAST(n_ch AS DOUBLE)) * 0.3"), 6))
      .withColumn("y", (col("lang") === "en").cast("int"))
      .withColumn("bin", least(lit(9), greatest(lit(0),
        floor(col("p") * 10).cast("int"))))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
        avg(col("p")).as("conf_raw"),
        (sum(col("y")).cast("double") / count(lit(1))).as("acc_raw"))
    val tot = bins
      .agg(sum(col("n")).as("nn"),
        sum(abs(col("conf_raw") - col("acc_raw")) * col("n")).as("wgap"))
      .select((col("wgap") / col("nn")).as("ece_raw"),
        pmod(col("nn"), lit(1)).cast("int").as("jk"))
    bins.withColumn("jk", pmod(col("n"), lit(1)).cast("int"))
      .join(broadcast(tot), Seq("jk"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("conf_raw"), 6).as("avg_conf"),
        round(col("acc_raw"), 6).as("pos_rate"),
        round(abs(col("conf_raw") - col("acc_raw")), 6).as("gap"),
        round(col("ece_raw"), 6).as("ece"))
      .orderBy(col("bin"))
  }

  private val o220 = """
    WITH f AS (
      SELECT doc_id, lang,
        CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tok,
        CAST(length(text) AS INT) AS n_ch,
        CAST(length(t2) - length(replace(t2, '.', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, ',', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, '!', '')) AS INT)
          + CAST(length(t2) - length(replace(t2, '?', '')) AS INT) AS punct_cnt,
        CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
          + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
          + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
          AS stop_cnt
      FROM (SELECT doc_id, lang, text, ' ' || text || ' ' AS t2
            FROM documents)),
    scored AS (
      SELECT round(least(1.0, n_tok / 100.0) * 0.4
               + (stop_cnt / CAST(n_tok AS DOUBLE)) * 0.3
               + (1.0 - punct_cnt / CAST(n_ch AS DOUBLE)) * 0.3, 6) AS p,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM f),
    b AS (
      SELECT least(9, greatest(0, CAST(floor(p * 10) AS INT))) AS bin, p, y
      FROM scored),
    bins AS (
      SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
             avg(p) AS conf_raw,
             CAST(sum(y) AS DOUBLE) / count(*) AS acc_raw
      FROM b GROUP BY bin),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   sum(abs(conf_raw - acc_raw) * n) AS wgap FROM bins)
    SELECT bin, n, n_pos, round(conf_raw, 6) AS avg_conf,
           round(acc_raw, 6) AS pos_rate,
           round(abs(conf_raw - acc_raw), 6) AS gap,
           round(tot.wgap / tot.nn, 6) AS ece
    FROM bins, tot ORDER BY bin"""

  /** q235: consecutive-token-run detection — the degenerate-generation /
    * stutter screen ("the the the …") that doc-grain n-gram ratios (q93,
    * q132) dilute away on long documents: the classic gaps-and-islands
    * pattern, `pos − row_number() over (doc, token ORDER BY pos)` is
    * constant exactly along a consecutive run, so runs become groups
    * without any self-join or iterative pass. Per flagged doc: the longest
    * run and its token (tie-free [[Keys]] composite argmax). One window +
    * two aggregations, all partitioned by doc — no corpus-grain sort.
    */
  private def q235(s: SparkSession, d: String): DataFrame = {
    val w2 = Window.partitionBy(col("doc_id"), col("w")).orderBy(col("pos"))
    val runs = parallelize(s, documents(s, d))
      .select(col("doc_id"), posexplode(wsTokens).as(Seq("pos", "w")))
      .withColumn("grp", col("pos") - row_number().over(w2))
      .groupBy(col("doc_id"), col("w"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("doc_id"))
      .agg(max(col("run_len")).cast("long").as("max_run"),
        expr(s"max_by(w, ${Keys.key(Keys.asc("run_len", 6), "w")})")
          .as("run_token"))
      .filter(col("max_run") >= 2)
      .select(col("doc_id"), col("max_run"), col("run_token"))
      .orderBy(col("doc_id"))
  }

  private val o235 = {
    val k = Keys.oKey(Keys.oAsc("run_len", 6), "w")
    s"""WITH toks AS (
         SELECT doc_id, CAST(generate_subscripts(ws, 1) AS INT) AS pos,
                unnest(ws) AS w
         FROM (SELECT doc_id,
                 string_split_regex(trim(text), '\\s+') AS ws
               FROM documents)),
       runs AS (
         SELECT doc_id, w,
                pos - row_number() OVER (PARTITION BY doc_id, w
                  ORDER BY pos) AS grp
         FROM toks),
       r2 AS (
         SELECT doc_id, w, grp, count(*) AS run_len
         FROM runs GROUP BY doc_id, w, grp)
       SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run,
              arg_max(w, $k) AS run_token
       FROM r2 GROUP BY doc_id
       HAVING max(run_len) >= 2
       ORDER BY doc_id"""
  }

  /** q273: per-language token-budget report — the sizing table a pipeline
    * consults before fixing a sampling mix: how many (BPE-ish) tokens each
    * language contributes, its fertility (tokens per 100 chars — languages
    * whose words are long tokenize into more subword pieces per word but
    * FEWER per character), and its share of the total token budget.
    *
    * Cross-engine: token counts are q31's exact integer formulas summed per
    * language; fertility and share divide exact longs once and round at 6.
    * Scale: one per-row map + one hash aggregation; the share window runs
    * over the ALREADY-AGGREGATED per-language frame (bounded rows), never
    * the corpus.
    */
  private def q273(s: SparkSession, d: String): DataFrame = {
    val per = documents(s, d)
      .select(col("lang"),
        size(wsTokens).as("ws"),
        aggregate(wsTokens, lit(0),
          (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int")).as("bp"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).cast("long").as("ws_tokens"),
        sum(col("bp")).cast("long").as("bpeish_tokens"),
        sum(col("n_chars")).cast("long").as("chars"))
    val w = Window.partitionBy()
    per
      // a lang whose docs are all empty has chars=0: fertility undefined,
      // NULL on both engines (ANSI /0 would throw)
      .withColumn("fertility_per100",
        round(when(col("chars") > 0,
          col("bpeish_tokens") * lit(100.0) / col("chars")), 6))
      .withColumn("token_share",
        round(col("bpeish_tokens") / sum(col("bpeish_tokens")).over(w), 6))
      .orderBy(col("lang"))
  }

  private val o273 = """
    WITH per AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS ws_tokens,
             CAST(sum(CAST(list_sum(list_transform(
                 string_split_regex(trim(text), '\s+'),
                 w -> CAST(ceil(length(w) / 4.0) AS INT))) AS INT)) AS BIGINT)
               AS bpeish_tokens,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang)
    SELECT lang, n_docs, ws_tokens, bpeish_tokens, chars,
           round(bpeish_tokens * 100.0 / chars, 6) AS fertility_per100,
           round(bpeish_tokens /
             CAST(sum(bpeish_tokens) OVER () AS BIGINT), 6) AS token_share
    FROM per ORDER BY lang"""

  /** q274: exact-dedup survivor shift — what deduplication REMOVES, sliced
    * by (lang, source). Dedup is not demographically neutral: a slice whose
    * content is template-heavy loses disproportionately, so the post-dedup
    * corpus mix silently drifts from the curated one. This audit reports
    * per-slice removal rates and the before/after share shift — the number a
    * pipeline owner checks before accepting a dedup pass.
    *
    * Keeper = min doc_id per normalized-text md5 (q34/q48's fingerprint).
    * Scale: groupBy(fp) and the docs-to-keeper equi-join both hash on the
    * uniform md5 key (co-partitioned, skew-free, candidates never pairwise);
    * the share windows run over the aggregated (lang, source) frame.
    * Cross-engine: counts are exact; each ratio divides exact longs once and
    * rounds at 6; the shift subtracts two identically-rounded doubles.
    */
  private def q274(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      col("source"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
    val keep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val per = docs.join(keep, Seq("fp"))
      .withColumn("kept", (col("doc_id") === col("keep_id")).cast("int"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept")).cast("long").as("n_kept"))
    val w = Window.partitionBy()
    per
      .withColumn("n_removed", col("n_docs") - col("n_kept"))
      .withColumn("removal_rate", round(col("n_removed") / col("n_docs"), 6))
      .withColumn("share_before",
        round(col("n_docs") / sum(col("n_docs")).over(w), 6))
      .withColumn("share_after",
        round(col("n_kept") / sum(col("n_kept")).over(w), 6))
      .withColumn("share_shift",
        round(col("share_after") - col("share_before"), 6))
      .orderBy(col("lang"), col("source"))
  }

  private val o274 = """
    WITH docs AS (
      SELECT doc_id, lang, source,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents),
    keep AS (SELECT fp, min(doc_id) AS keep_id FROM docs GROUP BY fp),
    per AS (
      SELECT d.lang, d.source, count(*) AS n_docs,
             CAST(sum(CASE WHEN d.doc_id = k.keep_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
      FROM docs d JOIN keep k USING (fp)
      GROUP BY d.lang, d.source),
    shares AS (
      SELECT lang, source, n_docs, n_kept, n_docs - n_kept AS n_removed,
             round((n_docs - n_kept) / n_docs, 6) AS removal_rate,
             round(n_docs / CAST(sum(n_docs) OVER () AS BIGINT), 6)
               AS share_before,
             round(n_kept / CAST(sum(n_kept) OVER () AS BIGINT), 6)
               AS share_after
      FROM per)
    SELECT lang, source, n_docs, n_kept, n_removed, removal_rate,
           share_before, share_after,
           round(share_after - share_before, 6) AS share_shift
    FROM shares ORDER BY lang, source"""

  private val BhAlpha = "0.05"
  private val BhPassChars = 200L

  /** q324: Benjamini–Hochberg FDR control over the per-slice quality-screen
    * test family — the multiple-testing discipline every slice-metric scan
    * needs: testing ~|lang×source| slices at α=0.05 each expects false
    * alarms by volume alone, and BH (Benjamini–Hochberg '95) is the
    * standard step-up correction that bounds the FALSE DISCOVERY RATE of
    * the flagged set. Family: each (lang, source) cell's short-document
    * rate (n_chars ≥ 200 pass flag) vs the rest of the corpus, pooled
    * two-proportion z (the q187 statistic per slice); p-values via the
    * Abramowitz–Stegun 7.1.26 erf polynomial (max err 1.5e-7 — a DEFINED
    * statistic both engines compute identically); then p_(i) ≤ i·α/m
    * step-up with the largest satisfying rank accepted.
    *
    * Cross-engine: counts exact int64; the z dag is division/sqrt only
    * (correctly-rounded IEEE, identical), rounded at 12; the single
    * transcendental (exp(−x²)) is rounded at 9 immediately (the CLAUDE.md
    * transcendental stance); BH ranks/criticals are integer arithmetic and
    * one double product each. Degenerate slices (se = 0: pooled rate 0 or
    * 1, or an empty complement) carry NULL through both engines and sit
    * outside the tested family. Scale shape: one corpus-linear aggregation
    * to the bounded (lang, source) grain; the rank/count/kstar windows run
    * over that AGGREGATED frame (the spec-safe shape), never the corpus.
    */
  private def q324(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") >= BhPassChars, 1L).otherwise(0L))
          .cast("long").as("x"))
    val tot = cells.agg(sum(col("n")).cast("long").as("nn"),
        sum(col("x")).cast("long").as("xx"))
      .withColumn("jk", pmod(col("nn"), lit(1L)))
    val zc = cells.withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("n2", col("nn") - col("n"))
      .withColumn("x2", col("xx") - col("x"))
      .withColumn("pp", col("xx").cast("double") / col("nn").cast("double"))
      .withColumn("se", when(col("n2") > 0,
        sqrt(col("pp") * (lit(1.0) - col("pp"))
          * (lit(1.0) / col("n").cast("double")
            + lit(1.0) / col("n2").cast("double")))))
      .withColumn("z", when(col("se").isNotNull && col("se") =!= 0.0,
        round((col("x").cast("double") / col("n").cast("double")
          - col("x2").cast("double") / col("n2").cast("double"))
          / col("se"), 12)))
      .withColumn("za", round(abs(col("z")), 12))
      .withColumn("xq", col("za") / lit(1.4142135623730951))
      .withColumn("tq", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("xq")))
      .withColumn("p", round(
        (((((lit(1.061405429) * col("tq") - lit(1.453152027)) * col("tq")
          + lit(1.421413741)) * col("tq") - lit(0.284496736)) * col("tq")
          + lit(0.254829592)) * col("tq")) * exp(-col("xq") * col("xq")), 9))
    // r13 (ADVICE): the BH step-up rank orders by za DESC, not by p — erfc
    // is strictly monotone decreasing in za, so the orders are identical,
    // but za is transcendental-free (rounded division/sqrt of exact ints)
    // while p carries an exp() whose last-ulp noise at a .5e-9 rounding
    // boundary could flip p, p_rank, kstar and the whole-query hash. The
    // one residual transcendental comparison left is `p <= crit` (and p
    // itself in the output, display-only): a knife-edge only when the
    // UNROUNDED p sits within ~1e-16 of a .5e-9 half-boundary — accepted
    // and documented rather than inverted through erfc⁻¹.
    val w = Window.partitionBy()
    val tested = zc.filter(col("p").isNotNull)
      .withColumn("p_rank", row_number().over(
        Window.orderBy(col("za").desc, col("lang"), col("source"))))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("crit", round(lit(BhAlpha.toDouble) * col("p_rank")
        / col("m"), 9))
      .withColumn("kstar", coalesce(
        max(when(col("p") <= col("crit"), col("p_rank"))).over(w), lit(0)))
    val testedOut = tested.select(col("lang"), col("source"), col("n"),
      col("x"), round(col("x").cast("double") / col("n").cast("double"), 6)
        .as("pass_rate"),
      round(col("z"), 6).as("z"), col("p"),
      col("p_rank").cast("int").as("p_rank"), col("crit"),
      (col("p_rank") <= col("kstar")).cast("int").as("reject"))
    val degenerate = zc.filter(col("p").isNull)
      .select(col("lang"), col("source"), col("n"), col("x"),
        round(col("x").cast("double") / col("n").cast("double"), 6)
          .as("pass_rate"),
        lit(null).cast("double").as("z"), lit(null).cast("double").as("p"),
        lit(null).cast("int").as("p_rank"),
        lit(null).cast("double").as("crit"), lit(null).cast("int").as("reject"))
    testedOut.union(degenerate).orderBy(col("lang"), col("source"))
  }

  private def o324: String =
    s"""WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN n_chars >= $BhPassChars THEN 1 ELSE 0 END)
               AS BIGINT) AS x
      FROM documents GROUP BY lang, source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(x) AS BIGINT) AS xx FROM cells),
    zc AS (
      SELECT lang, source, n, x, nn - n AS n2, xx - x AS x2,
             CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE) AS pp
      FROM cells, tot),
    s1 AS (
      SELECT *, CASE WHEN n2 > 0 THEN
               sqrt(pp * (1.0 - pp)
                 * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) END
               AS se
      FROM zc),
    s2 AS (
      SELECT *, CASE WHEN se IS NOT NULL AND se <> 0 THEN
               round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / se, 12) END AS z
      FROM s1),
    s3 AS (
      SELECT *, round(abs(z), 12) / 1.4142135623730951 AS xq FROM s2),
    s4 AS (
      SELECT *, 1.0 / (1.0 + 0.3275911 * xq) AS tq FROM s3),
    s5 AS (
      SELECT *, round(
        (((((1.061405429 * tq - 1.453152027) * tq
          + 1.421413741) * tq - 0.284496736) * tq
          + 0.254829592) * tq) * exp(-(xq * xq)), 9) AS p
      FROM s4),
    tested AS (
      SELECT *, row_number() OVER (ORDER BY round(abs(z), 12) DESC,
               lang, source) AS p_rank,
             count(*) OVER () AS m
      FROM s5 WHERE p IS NOT NULL),
    bh AS (
      SELECT *, round($BhAlpha * p_rank / m, 9) AS crit FROM tested),
    ks AS (SELECT coalesce(max(CASE WHEN p <= crit THEN p_rank END), 0)
             AS kstar FROM bh)
    SELECT lang, source, n, x,
           round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pass_rate,
           round(z, 6) AS z, p, CAST(p_rank AS INT) AS p_rank, crit,
           CAST(p_rank <= kstar AS INT) AS reject
    FROM bh, ks
    UNION ALL
    SELECT lang, source, n, x,
           round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pass_rate,
           NULL, NULL, NULL, NULL, NULL
    FROM s5 WHERE p IS NULL
    ORDER BY lang, source"""

  /** q300: mutual information between the corpus's two categorical
    * dimensions (lang x source) — the one-number association audit behind
    * q124's per-source KL: MI = Σ p(l,s)·ln(p(l,s)/(p(l)p(s))), 0 iff the
    * language mix is source-independent (a balanced crawl), large when
    * feeds are language-siloed — the signal that per-source language
    * rebalancing (q94/q167) will actually change the corpus.
    *
    * Cross-engine: counts and marginals are exact int64; each cell's
    * ln argument n·nn/(nl·ns) is a ratio of exact ints (> 0 always, no
    * guard needed) and the per-cell contribution is rounded at 12 before
    * the total folds in (lang, source) order on the bounded cell frame
    * (the q206/q298 sorted-fold recipe), so both engines sum identical
    * doubles; MI rounds at 6. Scale shape: one corpus-linear hash
    * aggregation to the (lang, source) grain, everything after bounded by
    * the categorical domain.
    */
  private def q300(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val ml = cells.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
    val ms = cells.groupBy(col("source")).agg(sum(col("n")).as("ns"))
    val tot = cells.agg(sum(col("n")).as("nn"))
      .withColumn("jk", pmod(col("nn"), lit(1L)))
    val c = cells
      .join(broadcast(ml), Seq("lang")).join(broadcast(ms), Seq("source"))
      .withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("contrib",
        round((col("n").cast("double") / col("nn"))
          * log((col("n") * col("nn")).cast("double")
            / (col("nl") * col("ns")).cast("double")), 12))
    val mi = c.agg(expr(
      """aggregate(array_sort(collect_list(struct(lang, source, contrib))),
         cast(0.0 as double), (a, x) -> a + x.contrib)""").as("mi_raw"))
      .select(round(col("mi_raw"), 6).as("mi"),
        pmod(coalesce(round(col("mi_raw")).cast("long"), lit(0L)), lit(1L))
          .as("jk"))
    c.join(broadcast(mi), Seq("jk"))
      .select(col("lang"), col("source"), col("n").cast("long").as("n_docs"),
        round(col("contrib"), 8).as("mi_contrib"), col("mi"))
      .orderBy(col("lang"), col("source"))
  }

  private val o300 = """
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source),
    ml AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY lang),
    ms AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
           FROM cells GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    c AS (
      SELECT cells.lang, cells.source, n,
             round((CAST(n AS DOUBLE) / nn)
               * ln(CAST(n * nn AS DOUBLE) / CAST(nl * ns AS DOUBLE)), 12)
               AS contrib
      FROM cells JOIN ml USING (lang) JOIN ms USING (source), tot),
    mi AS (SELECT round(list_sum(
             list(contrib ORDER BY lang, source)), 6) AS mi FROM c)
    SELECT lang, source, n AS n_docs, round(contrib, 8) AS mi_contrib, mi.mi
    FROM c, mi ORDER BY lang, source"""

  /** q301: Yule's K lexical-diversity characteristic per source — the
    * repetitiveness fingerprint of a feed (Yule 1944): K = 10^4·(Σ_w m_w²
    * − N)/N² over the word-frequency spectrum; K is length-insensitive
    * (unlike type-token ratio) and rises sharply for template/boilerplate
    * feeds — the corpus-linguistics companion to q243's Zipf slope and
    * q155's boilerplate fraction.
    *
    * Cross-engine: the spectrum moments are exact int64 and K is ONE
    * division of exact ints, rounded at 6 — bit-stable by construction.
    * Scale shape: one corpus-linear explode + hash aggregation to the
    * (source, word) grain, then a sources-bounded rollup.
    */
  private def q301(s: SparkSession, d: String): DataFrame = {
    val tf = parallelize(s, documents(s, d))
      .select(col("source"), explode(wsTokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("m"))
    tf.groupBy(col("source"))
      .agg(sum(col("m")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(col("m") * col("m")).as("m2"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(lit(10000.0) * (col("m2") - col("n_tokens")).cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double"), 6)
          .as("yule_k"))
      .orderBy(col("source"))
  }

  private val o301 = """
    WITH tf AS (
      SELECT source, w, count(*) AS m
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) > 0
      GROUP BY source, w),
    st AS (
      SELECT source, CAST(sum(m) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(m * m) AS BIGINT) AS m2
      FROM tf GROUP BY source)
    SELECT source, nt AS n_tokens, v AS vocab,
           round(10000.0 * CAST(m2 - nt AS DOUBLE)
                 / CAST(nt * nt AS DOUBLE), 6) AS yule_k
    FROM st ORDER BY source"""

  /** q303: Good–Turing frequency-of-frequencies spectrum per source — the
    * smoothing diagnostic beneath q213's Kneser–Ney perplexity: n_m = number
    * of word types seen exactly m times, the Simple Good–Turing adjusted
    * count m* = (m+1)·n_{m+1}/n_m (Good 1953; Gale–Sampson 1995), and the
    * unseen-probability mass p0 = n_1/N — the quantity that says how much
    * of a feed's vocabulary a model has NOT yet seen (high p0 = open
    * vocabulary / noisy feed; near-zero = templated).
    *
    * Cross-engine: the spectrum is exact int64 counting; m* and p0 are one
    * double division of exact ints each, rounded at 6 — bit-stable by
    * construction; the m+1 shift with no n_{m+1} row yields NULL on both
    * engines (left join). Scale shape: one corpus-linear explode + hash
    * aggregation to the (source, word) grain, then everything lives on the
    * frequency-spectrum frame — |distinct frequencies| grows ~O(√N)
    * (Zipfian corpora), so the self-join and the per-source rollup are
    * derived-frame-bounded, never corpus-joins.
    */
  private def q303(s: SparkSession, d: String): DataFrame = {
    val tf = parallelize(s, documents(s, d))
      .select(col("source"), explode(wsTokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("m"))
    val fof = tf.groupBy(col("source"), col("m"))
      .agg(count(lit(1)).as("n_m"))
    val tot = fof.groupBy(col("source")).agg(
      sum(col("m") * col("n_m")).cast("long").as("n_tokens"),
      sum(col("n_m")).cast("long").as("vocab"),
      coalesce(sum(when(col("m") === 1, col("n_m"))), lit(0L)).cast("long")
        .as("n1"))
    val nxt = fof.select(col("source"), (col("m") - 1).as("m"),
      col("n_m").as("n_next"))
    fof.filter(col("m") <= 8)
      .join(nxt, Seq("source", "m"), "left")
      .join(broadcast(tot), Seq("source"))
      .select(col("source"), col("m"), col("n_m"),
        round((col("m") + 1) * col("n_next").cast("double") / col("n_m"), 6)
          .as("m_star"),
        col("n_tokens"), col("vocab"),
        round(col("n1").cast("double") / col("n_tokens"), 6).as("p0_unseen"))
      .orderBy(col("source"), col("m"))
  }

  private val o303 = """
    WITH tf AS (
      SELECT source, w, count(*) AS m
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) > 0 GROUP BY source, w),
    fof AS (SELECT source, m, CAST(count(*) AS BIGINT) AS n_m
            FROM tf GROUP BY source, m),
    tot AS (SELECT source, CAST(sum(m * n_m) AS BIGINT) AS n_tokens,
                   CAST(sum(n_m) AS BIGINT) AS vocab,
                   CAST(COALESCE(sum(CASE WHEN m = 1 THEN n_m END), 0)
                     AS BIGINT) AS n1
            FROM fof GROUP BY source)
    SELECT f.source, f.m, f.n_m,
           round((f.m + 1) * CAST(nx.n_m AS DOUBLE) / f.n_m, 6) AS m_star,
           t.n_tokens, t.vocab,
           round(CAST(t.n1 AS DOUBLE) / t.n_tokens, 6) AS p0_unseen
    FROM fof f
    LEFT JOIN fof nx ON nx.source = f.source AND nx.m = f.m + 1
    JOIN tot t ON t.source = f.source
    WHERE f.m <= 8 ORDER BY f.source, f.m"""

  /** q304: Heaps'-law vocabulary-growth curve — cumulative distinct
    * vocabulary vs cumulative tokens at ten doc-id checkpoints, plus the
    * fitted Heaps exponent β from ln V ~ β·ln N (Heaps 1978; β ≈ 0.4–0.6
    * for natural text, near 1 for id-like/noisy feeds, near 0 for
    * templates) — the open-vocabulary growth audit that says how fast a
    * tokenizer's OOV surface expands as the corpus scales.
    *
    * Scale shape: "cumulative distinct" is NOT computed by a running
    * window — each word reduces to its FIRST doc_id (one corpus-linear
    * explode + min-aggregation at the word grain), both words and docs
    * bucket into 10 deterministic doc-id ranges, and the only windows are
    * prefix sums over the 10-row aggregated frame (Aggregate-beneath safe
    * shape). Cross-engine (r13, the round-12 driver-red fix): each ln of
    * an exact int is SNAPPED to int64 micro-units immediately
    * (`round(ln·1e6)` — the q316 log-prob stance), and β is computed from
    * explicit Σx/Σy/Σxy/Σx² folds of those int64s — never an
    * engine-internal `regr_slope` moment merge, whose fold order differs
    * across engines and whose unrounded per-element lns differ in last
    * ulps (exactly the "only ROUNDED AGGREGATES of transcendentals are
    * comparable" convention; the r12 driver corpus exposed it while the
    * 31-word local corpus degenerates β to 0.0 and cannot). All moment
    * products are int64-safe by construction: |ln·1e6| ≤ 44e6 (ln 2⁶³),
    * 10 fixed buckets → n·Σxy ≤ 1.9e17 « 2⁶³. One final double division,
    * rounded at 4.
    */
  private def q304(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d))
      .select(col("doc_id"), wsTokens.as("toks"))
      .select(col("doc_id"),
        size(filter(col("toks"), w => length(w) > 0)).as("ntok"))
    val mx = documents(s, d).agg(max(col("doc_id")).as("maxid"))
      .withColumn("jk", pmod(col("maxid"), lit(1L)))
    val db = docs.withColumn("jk", pmod(col("doc_id"), lit(1L)))
      .join(broadcast(mx), Seq("jk"))
      .withColumn("bucket", expr("(doc_id * 10) DIV (maxid + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs_b"), sum(col("ntok")).cast("long").as("toks_b"))
    val nv = parallelize(s, documents(s, d))
      .select(col("doc_id"), explode(wsTokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      .withColumn("jk", pmod(col("fd"), lit(1L)))
      .join(broadcast(mx), Seq("jk"))
      .withColumn("bucket", expr("(fd * 10) DIV (maxid + 1)"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_vocab"))
    val o = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = db.join(nv, Seq("bucket"), "left")
      .withColumn("new_vocab", coalesce(col("new_vocab"), lit(0L)))
      .withColumn("cum_docs", sum(col("docs_b")).over(o).cast("long"))
      .withColumn("cum_tokens", sum(col("toks_b")).over(o).cast("long"))
      .withColumn("cum_vocab", sum(col("new_vocab")).over(o).cast("long"))
    val beta = c.filter(col("cum_vocab") > 0 && col("cum_tokens") > 0)
      .select(
        round(log(col("cum_tokens").cast("double")) * lit(1e6))
          .cast("long").as("lx"),
        round(log(col("cum_vocab").cast("double")) * lit(1e6))
          .cast("long").as("ly"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("lx")).cast("long").as("sx"),
        sum(col("ly")).cast("long").as("sy"),
        sum(col("lx") * col("ly")).cast("long").as("sxy"),
        sum(col("lx") * col("lx")).cast("long").as("sxx"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("heaps_beta", when(col("den") =!= 0L,
        round(col("num").cast("double") / col("den").cast("double"), 4)))
      .withColumn("jk", pmod(coalesce(col("n"), lit(0L)), lit(1L)))
    c.withColumn("jk", pmod(col("bucket"), lit(1L)))
      .join(broadcast(beta), Seq("jk"))
      .select(col("bucket"), col("docs_b"), col("toks_b"), col("new_vocab"),
        col("cum_docs"), col("cum_tokens"), col("cum_vocab"),
        col("heaps_beta"))
      .orderBy(col("bucket"))
  }

  private val o304 = """
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                 w -> length(w) > 0)) AS ntok
      FROM documents),
    mx AS (SELECT max(doc_id) AS maxid FROM documents),
    db AS (SELECT (doc_id * 10) // (maxid + 1) AS bucket,
                  CAST(count(*) AS BIGINT) AS docs_b,
                  CAST(sum(ntok) AS BIGINT) AS toks_b
           FROM d, mx GROUP BY 1),
    wv AS (SELECT w, min(doc_id) AS fd
           FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS w
                 FROM documents)
           WHERE length(w) > 0 GROUP BY w),
    nv AS (SELECT (fd * 10) // (maxid + 1) AS bucket,
                  CAST(count(*) AS BIGINT) AS new_vocab
           FROM wv, mx GROUP BY 1),
    f AS (SELECT db.bucket, docs_b, toks_b,
                 COALESCE(new_vocab, 0) AS new_vocab
          FROM db LEFT JOIN nv USING (bucket)),
    c AS (SELECT bucket, docs_b, toks_b, new_vocab,
                 CAST(sum(docs_b) OVER o AS BIGINT) AS cum_docs,
                 CAST(sum(toks_b) OVER o AS BIGINT) AS cum_tokens,
                 CAST(sum(new_vocab) OVER o AS BIGINT) AS cum_vocab
          FROM f
          WINDOW o AS (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    pts AS (SELECT
              CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e6) AS BIGINT)
                AS lx,
              CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1e6) AS BIGINT)
                AS ly
            FROM c WHERE cum_vocab > 0 AND cum_tokens > 0),
    mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(lx) AS BIGINT) AS sx,
                  CAST(sum(ly) AS BIGINT) AS sy,
                  CAST(sum(lx * ly) AS BIGINT) AS sxy,
                  CAST(sum(lx * lx) AS BIGINT) AS sxx
           FROM pts),
    b AS (SELECT CASE WHEN n * sxx - sx * sx <> 0 THEN
            round(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE), 4) END AS heaps_beta
          FROM mo)
    SELECT bucket, docs_b, toks_b, new_vocab,
           cum_docs, cum_tokens, cum_vocab, heaps_beta
    FROM c, b ORDER BY bucket"""

  /** q305: readability screen — Flesch–Kincaid-style grade level per
    * (lang, source) cell from exact surface counts: sentences = runs of
    * `[.!?]`, words = non-empty whitespace tokens, syllables ≈ vowel-group
    * runs (the standard orthographic proxy; Kincaid et al. 1975 grade =
    * 0.39·words/sentence + 11.8·syllables/word − 15.59). A quality screen
    * beside q33: too-low grades flag fragment/listing feeds, too-high flag
    * run-on boilerplate; `pct_hard` = share of docs at college grade (≥12).
    *
    * Cross-engine: all three counts are exact regex-run integers (Java
    * regex and RE2 agree on these ASCII character classes); the per-doc
    * grade is a fixed sequence of IEEE double ops on exact ints —
    * bit-identical on both engines, so the ≥12 comparison and the
    * cell-level micro-average (one division per term on exact int sums)
    * cannot diverge. Sentence-less docs count as one sentence
    * (greatest(sents,1), both sides); wordless docs are unscored (NULL,
    * never an ANSI /0). Scale shape: one per-row map + one hash
    * aggregation to the bounded (lang, source) grain — shuffle-free but
    * for the final rollup.
    */
  private def q305(s: SparkSession, d: String): DataFrame = {
    val per = parallelize(s, documents(s, d)).select(
      col("lang"), col("source"),
      size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")
        .as("sents"),
      size(filter(wsTokens, w => length(w) > 0)).cast("long").as("words"),
      size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("long").as("sylls"))
      .withColumn("fk", when(col("words") > 0,
        lit(0.39) * col("words") / greatest(col("sents"), lit(1L))
          + lit(11.8) * col("sylls") / col("words") - lit(15.59)))
    per.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("words") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_scored"),
        sum(col("words")).cast("long").as("tot_words"),
        sum(greatest(col("sents"), lit(1L))).cast("long").as("tot_sentences"),
        sum(col("sylls")).cast("long").as("tot_syllables"),
        sum(when(col("fk") >= 12.0, 1L).otherwise(0L)).cast("long")
          .as("n_hard"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_scored"),
        col("tot_words"), col("tot_sentences"), col("tot_syllables"),
        round(when(col("tot_words") > 0,
          lit(0.39) * col("tot_words") / col("tot_sentences")
            + lit(11.8) * col("tot_syllables") / col("tot_words")
            - lit(15.59)), 4).as("fk_grade"),
        round(when(col("n_scored") > 0,
          col("n_hard").cast("double") / col("n_scored")), 4).as("pct_hard"))
      .orderBy(col("lang"), col("source"))
  }

  private val o305 = """
    WITH per AS (
      SELECT lang, source,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS sents,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                  w -> length(w) > 0)) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS sylls
      FROM documents),
    fk AS (
      SELECT lang, source, sents, words, sylls,
             CASE WHEN words > 0 THEN
               0.39 * CAST(words AS DOUBLE) / greatest(sents, 1)
                 + 11.8 * CAST(sylls AS DOUBLE) / words - 15.59 END AS fk
      FROM per)
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN words > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(sum(words) AS BIGINT) AS tot_words,
           CAST(sum(greatest(sents, 1)) AS BIGINT) AS tot_sentences,
           CAST(sum(sylls) AS BIGINT) AS tot_syllables,
           round(CASE WHEN sum(words) > 0 THEN
             0.39 * CAST(sum(words) AS DOUBLE)
                  / CAST(sum(greatest(sents, 1)) AS BIGINT)
               + 11.8 * CAST(sum(sylls) AS DOUBLE)
                      / CAST(sum(words) AS BIGINT) - 15.59 END, 4)
             AS fk_grade,
           round(CASE WHEN sum(CASE WHEN words > 0 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CASE WHEN fk >= 12.0 THEN 1 ELSE 0 END)
                    AS DOUBLE)
                  / sum(CASE WHEN words > 0 THEN 1 ELSE 0 END) END, 4)
             AS pct_hard
    FROM fk GROUP BY lang, source ORDER BY lang, source"""

  /** q306: species-richness estimators per source — Chao1's lower bound on
    * the TRUE vocabulary size (Chao 1984, bias-corrected form so n2=0 is
    * defined), Good's sample-coverage estimate 1 − n1/N (Good 1953), and
    * the unbiased Gini–Simpson diversity 1 − Σm(m−1)/(N(N−1)) (Simpson
    * 1949) — together the "how much vocabulary is still unseen" audit that
    * complements q303's Good–Turing spectrum and q304's Heaps curve: Chao1
    * far above the observed vocab means the tokenizer's OOV surface is
    * still growing; coverage near 1 with low diversity means a templated
    * feed.
    *
    * Cross-engine: everything is exact int64 counting at the (source, word)
    * grain; each statistic is ONE double division of exact integers
    * (IEEE-identical in both engines), rounded at 6. Scale shape: one
    * corpus-linear explode + hash aggregation to the (source, word) grain
    * with map-side combine, then the source-grain rollup — no joins, no
    * windows, nothing pairwise. The Σm(m−1) and N(N−1) products stay in
    * int64 through ~10^9-token sources; beyond that the ratio form drops
    * to double (documented, not hit at any test SF).
    */
  private def q306(s: SparkSession, d: String): DataFrame = {
    val tf = parallelize(s, documents(s, d))
      .select(col("source"), explode(wsTokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("m"))
    tf.groupBy(col("source"))
      .agg(sum(col("m")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        coalesce(sum(when(col("m") === 1, 1L)), lit(0L)).cast("long")
          .as("n1"),
        coalesce(sum(when(col("m") === 2, 1L)), lit(0L)).cast("long")
          .as("n2"),
        sum(col("m") * (col("m") - 1)).cast("long").as("mm1"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        round(col("vocab") + col("n1").cast("double") * (col("n1") - 1)
          / (lit(2.0) * (col("n2") + 1)), 6).as("chao1"),
        round(lit(1.0) - col("n1").cast("double") / col("n_tokens"), 6)
          .as("good_coverage"),
        round(when(col("n_tokens") > 1, lit(1.0) - col("mm1").cast("double")
          / (col("n_tokens") * (col("n_tokens") - 1))), 6)
          .as("gini_simpson"))
      .orderBy(col("source"))
  }

  private val o306 = """
    WITH tf AS (
      SELECT source, w, count(*) AS m
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) > 0 GROUP BY source, w),
    st AS (
      SELECT source, CAST(sum(m) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS v,
             CAST(COALESCE(sum(CASE WHEN m = 1 THEN 1 END), 0) AS BIGINT)
               AS n1,
             CAST(COALESCE(sum(CASE WHEN m = 2 THEN 1 END), 0) AS BIGINT)
               AS n2,
             CAST(sum(m * (m - 1)) AS BIGINT) AS mm1
      FROM tf GROUP BY source)
    SELECT source, nt AS n_tokens, v AS vocab, n1, n2,
           round(v + CAST(n1 AS DOUBLE) * (n1 - 1) / (2.0 * (n2 + 1)), 6)
             AS chao1,
           round(1.0 - CAST(n1 AS DOUBLE) / nt, 6) AS good_coverage,
           round(CASE WHEN nt > 1 THEN
             1.0 - CAST(mm1 AS DOUBLE) / (nt * (nt - 1)) END, 6)
             AS gini_simpson
    FROM st ORDER BY source"""

  /** q307: Jensen–Shannon divergence between every source pair's unigram
    * word distribution (Lin 1991) — the symmetric, bounded (≤ ln 2)
    * "how different are these two feeds" number behind mixture design:
    * near-0 pairs are redundant feeds (dedup cross-source, see q156),
    * near-ln2 pairs are disjoint registers worth separate mixing weights
    * (q94/q167). Complements q124 (each source vs the global mix over the
    * LANG dimension) by comparing sources pairwise over the full vocab.
    *
    * Decomposition that never materializes the union vocabulary: over
    * words COMMON to the pair, core = Σ p·ln(2p/(p+q)) + q·ln(2q/(p+q));
    * each side's words ABSENT from the other contribute exactly
    * ln2 · (1 − Σ_common p), so JSD = core/2 + ln2·((1−Σp)+(1−Σq))/2 —
    * the inner equi-join at the WORD grain (shuffle partitioned by w) is
    * the only pairwise structure, and a word's fan-out is bounded by
    * (sources choose 2), a schema dimension. Cross-engine (r13,
    * CatalogSpec's transcendental discipline): p, q are exact int ratios
    * (identical doubles); each pair's ln TERM is SNAPPED to int64
    * pico-units (`round(term·1e12)::long`) so the corpus-vocabulary-sized
    * sum folds exact integers in any order — Σ|term| ≤ 2·ln2 keeps the
    * snapped sum far inside int64 at any vocabulary size; the mass terms
    * ca/cb are EXACT int count sums divided once at the end (not float
    * sums of per-word ratios); ln2 is the correctly-rounded double
    * LITERAL on both sides, not an engine ln() call. Arguments are
    * strictly positive by construction (counts ≥ 1), so neither engine's
    * ln(0) hazard is reachable.
    */
  private def q307(s: SparkSession, d: String): DataFrame = {
    val ln2 = lit(0.6931471805599453)
    val tf = parallelize(s, documents(s, d))
      .select(col("source"), explode(wsTokens).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("m"))
    val st = tf.groupBy(col("source"))
      .agg(sum(col("m")).cast("long").as("nt"))
    val p = tf.join(broadcast(st), Seq("source"))
      .select(col("source"), col("w"), col("m"), col("nt"))
    val a = p.select(col("source").as("sa"), col("w"), col("m").as("ma"),
      col("nt").as("nta"))
    val b = p.select(col("source").as("sb"), col("w"), col("m").as("mb"),
      col("nt").as("ntb"))
    a.join(b, Seq("w")).filter(col("sa") < col("sb"))
      .withColumn("pa", col("ma").cast("double") / col("nta"))
      .withColumn("pb", col("mb").cast("double") / col("ntb"))
      .withColumn("t", round(
        (col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))
          + col("pb")
            * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
          * lit(1e12)).cast("long"))
      .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("t")).cast("long").as("core_n"),
        sum(col("ma")).cast("long").as("sma"),
        sum(col("mb")).cast("long").as("smb"),
        max(col("nta")).as("nta"), max(col("ntb")).as("ntb"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(lit(0.5) * (col("core_n").cast("double") / lit(1e12))
          + lit(0.5) * ln2
          * ((lit(1.0) - col("sma").cast("double") / col("nta"))
            + (lit(1.0) - col("smb").cast("double") / col("ntb"))), 6)
          .as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val o307 = """
    WITH tf AS (
      SELECT source, w, count(*) AS m
      FROM (SELECT source,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) > 0 GROUP BY source, w),
    st AS (SELECT source, CAST(sum(m) AS BIGINT) AS nt
           FROM tf GROUP BY source),
    p AS (SELECT tf.source, w, m, nt
          FROM tf JOIN st ON st.source = tf.source),
    wpair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.m AS ma, b.m AS mb, a.nt AS nta, b.nt AS ntb,
             CAST(a.m AS DOUBLE) / a.nt AS pa,
             CAST(b.m AS DOUBLE) / b.nt AS pb
      FROM p a JOIN p b ON a.w = b.w AND a.source < b.source),
    pairs AS (
      SELECT source_a, source_b,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(round(
               (pa * ln(2.0 * pa / (pa + pb))
                + pb * ln(2.0 * pb / (pa + pb))) * 1e12)
               AS BIGINT)) AS BIGINT) AS core_n,
             CAST(sum(ma) AS BIGINT) AS sma,
             CAST(sum(mb) AS BIGINT) AS smb,
             max(nta) AS nta, max(ntb) AS ntb
      FROM wpair GROUP BY 1, 2)
    SELECT source_a, source_b, n_common,
           round(0.5 * (CAST(core_n AS DOUBLE) / 1e12)
                 + 0.5 * 0.6931471805599453
                 * ((1.0 - CAST(sma AS DOUBLE) / nta)
                    + (1.0 - CAST(smb AS DOUBLE) / ntb)), 6) AS jsd
    FROM pairs ORDER BY source_a, source_b"""

  /** q311: per-language multiple OLS regression with diagnostics — the
    * closed-form normal-equations fit every pipeline dashboard wants
    * ("how much of document length do token count and max word length
    * explain, per language?"): y = n_chars on x1 = whitespace-token count,
    * x2 = longest-token length; slopes, intercept, R², adjusted R².
    *
    * Scale shape: ONE corpus-linear hash aggregation to ten exact integer
    * moment sums per language (bounded frame); the 2-predictor solve is
    * Cramer's rule on the centered 2×2 system — a fixed dag of double ops
    * per language row, no iteration, no second pass. This is the pattern
    * that scales OLS to 100 TB: moments distribute, algebra doesn't
    * touch the corpus.
    *
    * Cross-engine: per-row features and all ten moments are exact int64
    * (Spark sum(long) ↔ DuckDB HUGEINT, both cast to double only at the
    * algebra step); the double dag is IEEE-identical on identical inputs.
    * Degenerate guards on BOTH sides: singular system (det=0, e.g. a
    * constant predictor) → NULL slopes, zero response variance → NULL R²,
    * n<=3 → NULL adjusted R² (Spark ANSI would otherwise throw on the
    * /0 where DuckDB yields NULL).
    */
  private def q311(s: SparkSession, d: String): DataFrame = {
    val feats = documents(s, d).select(
      col("lang"),
      col("n_chars").cast("long").as("y"),
      size(wsTokens).cast("long").as("x1"),
      array_max(transform(wsTokens, w => length(w))).cast("long").as("x2"))
    val sums = feats.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("sx11"),
      sum(col("x2") * col("x2")).as("sx22"),
      sum(col("x1") * col("x2")).as("sx12"),
      sum(col("x1") * col("y")).as("sx1y"),
      sum(col("x2") * col("y")).as("sx2y"),
      sum(col("y") * col("y")).as("syy"))
    val nd = col("n").cast("double")
    val cent = sums.select(col("lang"), col("n"),
      col("sx1").cast("double").as("dx1"), col("sx2").cast("double").as("dx2"),
      col("sy").cast("double").as("dy"),
      (col("sx11").cast("double") - col("sx1").cast("double")
        * col("sx1").cast("double") / nd).as("s11"),
      (col("sx22").cast("double") - col("sx2").cast("double")
        * col("sx2").cast("double") / nd).as("s22"),
      (col("sx12").cast("double") - col("sx1").cast("double")
        * col("sx2").cast("double") / nd).as("s12"),
      (col("sx1y").cast("double") - col("sx1").cast("double")
        * col("sy").cast("double") / nd).as("s1y"),
      (col("sx2y").cast("double") - col("sx2").cast("double")
        * col("sy").cast("double") / nd).as("s2y"),
      (col("syy").cast("double") - col("sy").cast("double")
        * col("sy").cast("double") / nd).as("syyc"))
      .withColumn("det", col("s11") * col("s22") - col("s12") * col("s12"))
      .withColumn("b1", when(col("det") =!= 0.0,
        (col("s22") * col("s1y") - col("s12") * col("s2y")) / col("det")))
      .withColumn("b2", when(col("det") =!= 0.0,
        (col("s11") * col("s2y") - col("s12") * col("s1y")) / col("det")))
      .withColumn("r2raw", when(col("syyc") =!= 0.0,
        (col("b1") * col("s1y") + col("b2") * col("s2y")) / col("syyc")))
    cent.select(col("lang"), col("n"),
      round((col("dy") - col("b1") * col("dx1") - col("b2") * col("dx2"))
        / nd, 4).as("b0"),
      round(col("b1"), 6).as("b1"), round(col("b2"), 6).as("b2"),
      round(col("r2raw"), 6).as("r2"),
      round(when(col("n") > 3, lit(1.0) - (lit(1.0) - col("r2raw"))
        * (nd - lit(1.0)) / (nd - lit(3.0))), 6).as("adj_r2"))
      .orderBy(col("lang"))
  }

  private val o311 = """
    WITH feats AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS y,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS x1,
             CAST(list_max(list_transform(
               string_split_regex(trim(text), '\s+'),
               w -> length(w))) AS BIGINT) AS x2
      FROM documents),
    sums AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS sx11,
             CAST(sum(x2 * x2) AS BIGINT) AS sx22,
             CAST(sum(x1 * x2) AS BIGINT) AS sx12,
             CAST(sum(x1 * y) AS BIGINT) AS sx1y,
             CAST(sum(x2 * y) AS BIGINT) AS sx2y,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM feats GROUP BY lang),
    cent AS (
      SELECT lang, n,
             CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
             CAST(sy AS DOUBLE) AS dy,
             CAST(sx11 AS DOUBLE) - CAST(sx1 AS DOUBLE)
               * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS s11,
             CAST(sx22 AS DOUBLE) - CAST(sx2 AS DOUBLE)
               * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS s22,
             CAST(sx12 AS DOUBLE) - CAST(sx1 AS DOUBLE)
               * CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE) AS s12,
             CAST(sx1y AS DOUBLE) - CAST(sx1 AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS s1y,
             CAST(sx2y AS DOUBLE) - CAST(sx2 AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS s2y,
             CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
               * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS syyc
      FROM sums),
    fit AS (
      SELECT lang, n, dx1, dx2, dy, s1y, s2y, syyc,
             s11 * s22 - s12 * s12 AS det,
             CASE WHEN s11 * s22 - s12 * s12 <> 0.0 THEN
               (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) END AS b1,
             CASE WHEN s11 * s22 - s12 * s12 <> 0.0 THEN
               (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) END AS b2
      FROM cent),
    fin AS (
      SELECT lang, n, dx1, dx2, dy, b1, b2,
             CASE WHEN syyc <> 0.0 THEN
               (b1 * s1y + b2 * s2y) / syyc END AS r2raw
      FROM fit)
    SELECT lang, n,
           round((dy - b1 * dx1 - b2 * dx2) / CAST(n AS DOUBLE), 4) AS b0,
           round(b1, 6) AS b1, round(b2, 6) AS b2,
           round(r2raw, 6) AS r2,
           round(CASE WHEN n > 3 THEN
             1.0 - (1.0 - r2raw) * (CAST(n AS DOUBLE) - 1.0)
               / (CAST(n AS DOUBLE) - 3.0) END, 6) AS adj_r2
    FROM fin ORDER BY lang"""

  /** q312: external cluster validation — ARI, NMI, purity, homogeneity /
    * completeness / V-measure of the q32 language-ID assignment against
    * the `lang` ground truth (Hubert–Arabie 1985 adjusted Rand;
    * Rosenberg–Hirschberg 2007 V-measure). THE evaluation step between
    * any clustering/classification stage (LSH dedup clusters, topic
    * assignment, lang-ID) and trusting it at corpus scale.
    *
    * Scale shape: one corpus-linear scoring pass (q32's marker counts),
    * one hash aggregation to the classes×classes contingency table
    * (bounded: 5 langs × 3 predicted classes), then all six metrics are
    * algebra on that tiny frame — the corpus is touched exactly once
    * regardless of scale. Pair counts C(n,2) stay exact int64 via the
    * always-even n*(n-1) DIV 2; the ARI expected-index product crosses
    * into double before multiplying (the only term that could overflow).
    *
    * Cross-engine: contingency cells and marginals are exact ints; the
    * entropy/MI terms are SNAPPED to int64 pico-units
    * (`round(term·1e12)::long`, r13 transcendental discipline) so the
    * three sums fold exact integers — ln ulp noise survives only as the
    * snap's own half-boundary, and the downstream ratio dag runs on
    * identical doubles; single-cluster degenerates (H=0, denominator 0)
    * yield NULL on both engines.
    */
  private def q312(s: SparkSession, d: String): DataFrame = {
    val pred = langPred(s, d).select(col("lang"), col("lang_pred"))
    val cells = pred.groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("m"))
    val aM = cells.groupBy(col("lang")).agg(sum(col("m")).as("a"))
      .withColumn("jk", pmod(col("a"), lit(1L)))
    val bM = cells.groupBy(col("lang_pred")).agg(sum(col("m")).as("b"))
      .withColumn("jk", pmod(col("b"), lit(1L)))
    val tot = cells.groupBy(pmod(col("m"), lit(1L)).as("jk"))
      .agg(sum(col("m")).as("nn"),
        sum(expr("m * (m - 1) DIV 2")).as("sumcomb"))
    val aS = aM.groupBy(col("jk"))
      .agg(sum(expr("a * (a - 1) DIV 2")).as("suma"))
    val bS = bM.groupBy(col("jk"))
      .agg(sum(expr("b * (b - 1) DIV 2")).as("sumb"))
    val totNn = tot.select(col("jk"), col("nn"))
    val info = cells
      .join(broadcast(aM.select(col("lang"), col("a"))), Seq("lang"))
      .join(broadcast(bM.select(col("lang_pred"), col("b"))),
        Seq("lang_pred"))
      .withColumn("jk", pmod(col("m"), lit(1L)))
      .join(broadcast(totNn), Seq("jk"))
      .groupBy(col("jk"))
      .agg(sum(round((col("m").cast("double") / col("nn"))
          * log(col("m").cast("double") * col("nn")
            / (col("a").cast("double") * col("b"))) * lit(1e12))
          .cast("long")).as("mi_n"))
      .select(col("jk"), (col("mi_n").cast("double") / lit(1e12)).as("mi"))
    val ha = aM.join(broadcast(totNn), Seq("jk"))
      .groupBy(col("jk"))
      .agg(sum(round((col("a").cast("double") / col("nn"))
        * log(col("a").cast("double") / col("nn")) * lit(1e12))
        .cast("long")).as("ht_n"))
      .select(col("jk"),
        (-(col("ht_n").cast("double")) / lit(1e12)).as("h_true"))
    val hb = bM.join(broadcast(totNn), Seq("jk"))
      .groupBy(col("jk"))
      .agg(sum(round((col("b").cast("double") / col("nn"))
        * log(col("b").cast("double") / col("nn")) * lit(1e12))
        .cast("long")).as("hp_n"))
      .select(col("jk"),
        (-(col("hp_n").cast("double")) / lit(1e12)).as("h_pred"))
    val pur = cells.groupBy(col("lang_pred"))
      .agg(max(col("m")).as("mx"))
      .groupBy(pmod(col("mx"), lit(1L)).as("jk"))
      .agg(sum(col("mx")).as("purnum"))
    tot.join(broadcast(aS), Seq("jk")).join(broadcast(bS), Seq("jk"))
      .join(broadcast(info), Seq("jk")).join(broadcast(ha), Seq("jk"))
      .join(broadcast(hb), Seq("jk")).join(broadcast(pur), Seq("jk"))
      .withColumn("combn", expr("nn * (nn - 1) DIV 2"))
      .withColumn("expidx", when(col("combn") =!= 0L,
        col("suma").cast("double") * col("sumb") / col("combn")))
      .withColumn("maxidx",
        (col("suma").cast("double") + col("sumb")) / lit(2.0))
      .select(
        col("nn").as("n_docs"),
        round(when(col("maxidx") - col("expidx") =!= 0.0,
          (col("sumcomb").cast("double") - col("expidx"))
            / (col("maxidx") - col("expidx"))), 6).as("ari"),
        round(when(col("h_true") * col("h_pred") > 0.0,
          col("mi") / sqrt(col("h_true") * col("h_pred"))), 6).as("nmi"),
        round(col("purnum").cast("double") / col("nn"), 6).as("purity"),
        round(when(col("h_true") =!= 0.0, col("mi") / col("h_true")), 6)
          .as("homogeneity"),
        round(when(col("h_pred") =!= 0.0, col("mi") / col("h_pred")), 6)
          .as("completeness"),
        round(when(col("h_true") + col("h_pred") =!= 0.0,
          lit(2.0) * col("mi") / (col("h_true") + col("h_pred"))), 6)
          .as("v_measure"))
  }

  private val o312 = """
    WITH pred AS (
      SELECT lang,
        CASE WHEN s_en >= s_db AND s_en >= s_etl THEN 'en'
             WHEN s_db >= s_etl THEN 'db' ELSE 'etl' END AS lang_pred
      FROM (
        SELECT lang,
          CAST((length(t2) - length(replace(t2, ' the ', ''))) / 5 AS INT)
            + CAST((length(t2) - length(replace(t2, ' a ', ''))) / 3 AS INT)
            + CAST((length(t2) - length(replace(t2, ' is ', ''))) / 4 AS INT)
            AS s_en,
          CAST((length(t2) - length(replace(t2, ' table ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' query ', ''))) / 7
              AS INT)
            + CAST((length(t2) - length(replace(t2, ' join ', ''))) / 6
              AS INT) AS s_db,
          CAST((length(t2) - length(replace(t2, ' batch ', ''))) / 7 AS INT)
            + CAST((length(t2) - length(replace(t2, ' stream ', ''))) / 8
              AS INT)
            + CAST((length(t2) - length(replace(t2, ' window ', ''))) / 8
              AS INT) AS s_etl
        FROM (SELECT lang, ' ' || text || ' ' AS t2 FROM documents))),
    cells AS (
      SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS m
      FROM pred GROUP BY lang, lang_pred),
    am AS (SELECT lang, CAST(sum(m) AS BIGINT) AS a
           FROM cells GROUP BY lang),
    bm AS (SELECT lang_pred, CAST(sum(m) AS BIGINT) AS b
           FROM cells GROUP BY lang_pred),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS nn,
                   CAST(sum(m * (m - 1) // 2) AS BIGINT) AS sumcomb
            FROM cells),
    asum AS (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT) AS suma FROM am),
    bsum AS (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT) AS sumb FROM bm),
    info AS (
      SELECT CAST(sum(CAST(round((CAST(m AS DOUBLE) / nn)
                 * ln(CAST(m AS DOUBLE) * nn
                      / (CAST(a AS DOUBLE) * b)) * 1e12) AS BIGINT))
               AS DOUBLE) / 1e12 AS mi
      FROM cells
      JOIN am USING (lang) JOIN bm USING (lang_pred), tot),
    hha AS (SELECT -(CAST(sum(CAST(round((CAST(a AS DOUBLE) / nn)
                        * ln(CAST(a AS DOUBLE) / nn) * 1e12) AS BIGINT))
                      AS DOUBLE)) / 1e12 AS h_true
            FROM am, tot),
    hhb AS (SELECT -(CAST(sum(CAST(round((CAST(b AS DOUBLE) / nn)
                        * ln(CAST(b AS DOUBLE) / nn) * 1e12) AS BIGINT))
                      AS DOUBLE)) / 1e12 AS h_pred
            FROM bm, tot),
    pur AS (SELECT CAST(sum(mx) AS BIGINT) AS purnum
            FROM (SELECT lang_pred, max(m) AS mx
                  FROM cells GROUP BY lang_pred)),
    fin AS (
      SELECT nn, sumcomb, suma, sumb, mi, h_true, h_pred, purnum,
             nn * (nn - 1) // 2 AS combn,
             CASE WHEN nn * (nn - 1) // 2 <> 0 THEN
               CAST(suma AS DOUBLE) * sumb / (nn * (nn - 1) // 2) END
               AS expidx,
             (CAST(suma AS DOUBLE) + sumb) / 2.0 AS maxidx
      FROM tot, asum, bsum, info, hha, hhb, pur)
    SELECT nn AS n_docs,
           round(CASE WHEN maxidx - expidx <> 0.0 THEN
             (CAST(sumcomb AS DOUBLE) - expidx) / (maxidx - expidx) END, 6)
             AS ari,
           round(CASE WHEN h_true * h_pred > 0.0 THEN
             mi / sqrt(h_true * h_pred) END, 6) AS nmi,
           round(CAST(purnum AS DOUBLE) / nn, 6) AS purity,
           round(CASE WHEN h_true <> 0.0 THEN mi / h_true END, 6)
             AS homogeneity,
           round(CASE WHEN h_pred <> 0.0 THEN mi / h_pred END, 6)
             AS completeness,
           round(CASE WHEN h_true + h_pred <> 0.0 THEN
             2.0 * mi / (h_true + h_pred) END, 6) AS v_measure
    FROM fin"""

  /** q316: multinomial Naive Bayes language classifier, trained AND
    * applied in pure relational algebra — add-one-smoothed per-class
    * word log-probabilities from a deterministic 80% train split
    * (doc_id % 5 ≠ 0), argmax scoring on the held-out 20%, per-class +
    * overall accuracy. The CCNet/fastText-style quality-classifier
    * pattern at its core: train a linear text model as two aggregations,
    * score the corpus as one join, no ML runtime anywhere.
    *
    * Exactness design: every log-probability is SNAPPED to an exact
    * integer (round(ln(p)·1e6) as int64) before scoring, so the per-doc
    * score Σ m_w·li + prior_li is an exact int64 sum — order-free,
    * overflow-checked by ANSI, and the argmax (ties broken by MIN class)
    * pairs bit-for-bit with DuckDB. The only cross-engine float exposure
    * is ln() per (word, class) CELL (vocab-bounded), where an ulp
    * difference would need to land within 1e-9 of a rounding boundary
    * to matter.
    *
    * Scale shape: the model is a vocab×classes frame (bounded,
    * broadcast); scoring is test-tokens ⋈ model (one corpus-linear pass,
    * ×|classes| fanout through an equi-joined bounded class frame — no
    * cross join); argmax-per-doc is the max-then-filter decomposition,
    * never a window.
    */
  private def q316(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
    val tfTrain = train
      .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val tc = tfTrain.groupBy(col("lang")).agg(sum(col("m")).as("tc"))
      .withColumn("jk", pmod(col("tc"), lit(1L)))
    val vocab = tfTrain.groupBy(pmod(col("m"), lit(1L)).as("jk"))
      .agg(countDistinct(col("w")).as("vn"))
    val ndocs = train.groupBy(col("lang")).agg(count(lit(1)).as("ndc"))
    val ntot = train.groupBy(pmod(col("doc_id"), lit(1L)).as("jk"))
      .agg(count(lit(1)).as("ndt"))
    val classes = tc
      .join(broadcast(vocab), Seq("jk"))
      .join(ndocs, Seq("lang"))
      .join(broadcast(ntot), Seq("jk"))
      .select(col("lang").as("cl"),
        round(log(col("ndc").cast("double") / col("ndt")) * lit(1e6))
          .cast("long").as("prior_li"),
        round(log(lit(1.0) / (col("tc") + col("vn")).cast("double"))
          * lit(1e6)).cast("long").as("def_li"),
        (col("tc") + col("vn")).as("den"))
    val condp = tfTrain
      .join(classes.select(col("cl").as("lang"), col("den")), Seq("lang"))
      .select(col("lang").as("cl2"), col("w").as("w2"),
        round(log((col("m") + lit(1L)).cast("double") / col("den"))
          * lit(1e6)).cast("long").as("li"))
    val tTok = test
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("mm"))
      .withColumn("jk", pmod(col("mm"), lit(1L)))
    val expanded = tTok
      .join(broadcast(classes
        .select(col("cl"), col("def_li"))
        .withColumn("jk", pmod(col("def_li"), lit(1L)))), Seq("jk"))
      .join(broadcast(condp),
        col("cl") === col("cl2") && col("w") === col("w2"), "left")
      .select(col("doc_id"), col("lang"), col("cl"),
        (col("mm") * coalesce(col("li"), col("def_li"))).as("term"))
    val scores = expanded
      .groupBy(col("doc_id"), col("lang"), col("cl"))
      .agg(sum(col("term")).as("ssum"))
      .join(broadcast(classes.select(col("cl"), col("prior_li"))), Seq("cl"))
      .select(col("doc_id"), col("lang"),
        col("cl"), (col("prior_li") + col("ssum")).as("score"))
    val dm = scores.groupBy(col("doc_id")).agg(max(col("score")).as("ms"))
    val pred = scores.join(dm, Seq("doc_id"))
      .filter(col("score") === col("ms"))
      .groupBy(col("doc_id"), col("lang")).agg(min(col("cl")).as("cl_pred"))
    val perLang = pred.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("lang") === col("cl_pred"), 1L).otherwise(0L))
          .cast("long").as("n_correct"))
    perLang
      .union(pred.groupBy(pmod(length(col("lang")), lit(1)).as("g"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("lang") === col("cl_pred"), 1L).otherwise(0L))
            .cast("long").as("n_correct"))
        .select(lit("zz_all").as("lang"), col("n_test"), col("n_correct")))
      .select(col("lang"), col("n_test"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test"), 6)
          .as("accuracy"))
      .orderBy(col("lang"))
  }

  private val o316 = """
    WITH train AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
    test AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
    tf AS MATERIALIZED (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT lang,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM train)
      WHERE length(w) > 0 GROUP BY lang, w),
    tc AS (SELECT lang, CAST(sum(m) AS BIGINT) AS tc FROM tf GROUP BY lang),
    vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vn FROM tf),
    nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS ndc
           FROM train GROUP BY lang),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS ndt FROM train),
    classes AS MATERIALIZED (
      SELECT tc.lang AS cl,
             CAST(round(ln(CAST(ndc AS DOUBLE) / ndt) * 1e6) AS BIGINT)
               AS prior_li,
             CAST(round(ln(1.0 / CAST(tc + vn AS DOUBLE)) * 1e6) AS BIGINT)
               AS def_li,
             tc + vn AS den
      FROM tc JOIN nd ON nd.lang = tc.lang, vocab, nt),
    condp AS MATERIALIZED (
      SELECT tf.lang AS cl, w,
             CAST(round(ln(CAST(m + 1 AS DOUBLE) / den) * 1e6) AS BIGINT)
               AS li
      FROM tf JOIN classes ON classes.cl = tf.lang),
    ttok AS MATERIALIZED (
      SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS mm
      FROM (SELECT doc_id, lang,
              unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM test)
      WHERE length(w) > 0 GROUP BY doc_id, lang, w),
    scores AS MATERIALIZED (
      SELECT t.doc_id, t.lang, c.cl,
             CAST(c.prior_li
               + sum(t.mm * COALESCE(p.li, c.def_li)) AS BIGINT) AS score
      FROM ttok t
      CROSS JOIN classes c
      LEFT JOIN condp p ON p.cl = c.cl AND p.w = t.w
      GROUP BY t.doc_id, t.lang, c.cl, c.prior_li),
    dm AS (SELECT doc_id, max(score) AS ms FROM scores GROUP BY doc_id),
    pred AS MATERIALIZED (
      SELECT s.doc_id, s.lang, min(s.cl) AS cl_pred
      FROM scores s JOIN dm ON dm.doc_id = s.doc_id AND s.score = dm.ms
      GROUP BY s.doc_id, s.lang),
    ev AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN lang = cl_pred THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct
      FROM pred GROUP BY lang
      UNION ALL
      -- HAVING: an empty test split must drop this row like Spark's
      -- grouped aggregate does, not emit ('zz_all', 0, 0, NULL)
      SELECT 'zz_all' AS lang, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN lang = cl_pred THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct
      FROM pred HAVING count(*) > 0)
    SELECT lang, n_test, n_correct,
           round(CAST(n_correct AS DOUBLE) / n_test, 6) AS accuracy
    FROM ev ORDER BY lang"""

  /** Window width for q335's moving-average TTR — the Covington–McFall
    * MATTR grain; 20 tokens keeps most corpus documents measurable. */
  private val MattrW = 20

  /** q335: MATTR lexical diversity per (lang, source) — the
    * length-invariant type-token ratio (Covington & McFall 2010): plain
    * TTR = vocab/tokens collapses as documents grow (Herdan's law, the
    * q304 curve), so corpus dashboards compare MATTR instead — the mean
    * TTR over every sliding $MattrW-token window, which a document's
    * length cannot deflate. Low MATTR = repetitive/template text (the
    * lexical cousin of q93's repetition screen); the plain TTR column sits
    * beside it to show exactly the length artifact MATTR removes.
    *
    * Exactness: each window's distinct count is an exact int from an
    * in-row fold; MATTR = Σdistinct / (W·Σwindows) — exact int sums, ONE
    * double division (no per-window float mean), rounded 6; plain TTR =
    * two exact counts divided once. Cells whose documents are all shorter
    * than W carry NULL MATTR on both engines (the ANSI /0 guard). Scale
    * shape: the window scan is an IN-ROW O(n·W) fold (corpus-linear, no
    * explode, no shuffle); the only exchanges are the two (lang, source)
    * rollups.
    */
  private def q335(s: SparkSession, d: String): DataFrame = {
    val docs = parallelize(s, documents(s, d))
      .withColumn("ws", expr(
        "filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"))
    val mw = docs
      .withColumn("nw", greatest(size(col("ws")) - lit(MattrW - 1), lit(0))
        .cast("long"))
      .withColumn("sd", when(col("nw") > 0, expr(
        s"""aggregate(sequence(1, size(ws) - ${MattrW - 1}), 0L,
            (acc, p) -> acc + size(array_distinct(
              slice(ws, CAST(p AS INT), $MattrW))))"""))
        .otherwise(lit(0L)))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nw") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_measured"),
        sum(col("nw")).cast("long").as("n_windows"),
        sum(col("sd")).cast("long").as("sum_distinct"))
    val tt = docs.select(col("lang"), col("source"),
        explode(col("ws")).as("w"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        countDistinct(col("w")).cast("long").as("vocab"))
    mw.join(tt, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_measured"),
        col("n_windows"),
        when(col("n_windows") > 0,
          round(col("sum_distinct").cast("double")
            / (lit(MattrW.toDouble) * col("n_windows").cast("double")), 6))
          .as("mattr"),
        round(col("vocab").cast("double") / col("n_tokens").cast("double"),
          6).as("ttr"))
      .orderBy(col("lang"), col("source"))
  }

  private def o335: String = s"""
    WITH d AS (
      SELECT lang, source,
             list_filter(string_split_regex(trim(text), '\\s+'),
               w -> length(w) > 0) AS ws
      FROM documents),
    mw AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN len(ws) >= $MattrW THEN 1 ELSE 0 END)
               AS BIGINT) AS n_measured,
             CAST(sum(greatest(len(ws) - ${MattrW - 1}, 0)) AS BIGINT)
               AS n_windows,
             CAST(sum(CASE WHEN len(ws) >= $MattrW THEN
               list_sum(list_transform(range(1, len(ws) - ${MattrW - 2}),
                 p -> len(list_distinct(
                   list_slice(ws, p, p + ${MattrW - 1})))))
               ELSE 0 END) AS BIGINT) AS sum_distinct
      FROM d GROUP BY lang, source),
    tt AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT w) AS BIGINT) AS vocab
      FROM (SELECT lang, source, unnest(ws) AS w FROM d)
      GROUP BY lang, source)
    SELECT mw.lang, mw.source, n_docs, n_measured, n_windows,
           CASE WHEN n_windows > 0 THEN
             round(CAST(sum_distinct AS DOUBLE)
                   / ($MattrW.0 * CAST(n_windows AS DOUBLE)), 6) END
             AS mattr,
           round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS ttr
    FROM mw JOIN tt ON tt.lang = mw.lang AND tt.source = mw.source
    ORDER BY mw.lang, mw.source"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q316_naive_bayes", q316, Some(o316)),
    QueryDef("q311_ols_regression", q311, Some(o311)),
    QueryDef("q312_cluster_agreement", q312, Some(o312)),
    QueryDef("q220_calibration_ece", q220, Some(o220)),
    QueryDef("q235_token_runs", q235, Some(o235)),
    QueryDef("q214_gazetteer_ner", q214, Some(o214)),
    QueryDef("q199_dedup_roi", q199, Some(o199)),
    QueryDef("q186_cohens_kappa", q186, Some(o186)),
    QueryDef("q185_confusion_matrix", q185, Some(o185)),
    QueryDef("q155_boilerplate", q155, Some(o155)),
    QueryDef("q124_lang_mix_kl", q124, Some(klSql("documents"))),
    QueryDef("q324_bh_fdr_screen", q324, Some(o324)),
    QueryDef("q82_canonical_select", q82, Some(o82)),
    QueryDef("q30_text_stats", q30, Some(o30)),
    QueryDef("q31_token_count", q31, Some(o31)),
    QueryDef("q32_language_id", q32, Some(o32)),
    QueryDef("q33_quality_score", q33, Some(o33)),
    QueryDef("q34_fingerprint_dedup", q34, Some(o34)),
    QueryDef("q35_exact_dedup", q35, Some(o35)),
    QueryDef("q48_rolling_fingerprint", q48, Some(o48)),
    QueryDef("q273_token_budget", q273, Some(o273)),
    QueryDef("q274_dedup_shift", q274, Some(o274)),
    QueryDef("q300_lang_source_mi", q300, Some(o300)),
    QueryDef("q301_yule_k", q301, Some(o301)),
    QueryDef("q303_good_turing", q303, Some(o303)),
    QueryDef("q304_heaps_law", q304, Some(o304)),
    QueryDef("q305_readability", q305, Some(o305)),
    QueryDef("q306_species_richness", q306, Some(o306)),
    QueryDef("q307_js_divergence", q307, Some(o307)),
    QueryDef("q335_mattr_diversity", q335, Some(o335)))
}
