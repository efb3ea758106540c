package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Breadth sweep over the remaining built-in families: the full window
  * function set, extended string functions, and transcendental math (safe
  * only under aggregation — per-element libm vs JVM last-ulp differences
  * vanish inside a rounded sum, see q57).
  */
object Variety {
  import Tables._

  /** q55: lead/lag/first/ntile/cume_dist/rank family in one pass. */
  private def q55(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_totalprice")).over(w).as("first_price"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val o55 = """
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice, 1) OVER w AS prev_price,
           lead(o_totalprice, 1) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(cume_dist() OVER w, 6) AS cdist,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey"""

  /** q56: extended string built-ins. */
  private def q56(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        rpad(col("p_type"), 10, ".").as("type_pad"),
        reverse(col("p_name")).as("name_rev"),
        expr("repeat(p_brand, 2)").as("brand2"),
        expr("split_part(p_name, ' ', 1)").as("first_word"),
        expr("left(p_name, 4)").as("name_l4"),
        expr("right(p_name, 3)").as("name_r3"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_vowels"))
      .orderBy(col("p_partkey"))

  private val o56 = """
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_pad,
           rpad(p_type, 10, '.') AS type_pad,
           reverse(p_name) AS name_rev,
           repeat(p_brand, 2) AS brand2,
           split_part(p_name, ' ', 1) AS first_word,
           left(p_name, 4) AS name_l4,
           right(p_name, 3) AS name_r3,
           translate(p_name, 'aeiou', 'AEIOU') AS name_vowels
    FROM part ORDER BY p_partkey"""

  /** q57: transcendental math under aggregation — ln/exp/log10 per element
    * differ between libm and the JVM by ulps, and the engines' float-sum
    * fold orders differ, so raw `sum(ln(x))` is a knife-edge that WIDENS
    * with row count (the q304 r12 driver-red class). r13: each element is
    * SNAPPED to int64 micro-units (the q316 stance), the sum folds exact
    * int64 (order-free), and one final double division restores the
    * scale. Cross-engine-exact at ANY row count (int64 sum overflows
    * only past ~8e17 rows at these magnitudes), not merely inside a
    * rounding margin. The snap itself is `floor(f(x)·1e6 + 0.5)`, NOT
    * `round(·)`: all four inputs here are provably nonnegative (ln of
    * prices ≥ 900, exp, log10 of qty ≥ 1, squares), where the two forms
    * are value-identical — but Spark's Round on DoubleType allocates a
    * BigDecimal per row while floor stays a codegen'd Math.floor, and
    * this query snaps 4 columns at the lineitem grain (measured 3× —
    * the one snapped site whose snap runs per-row on a fact table
    * rather than on an aggregated frame). Both engines use the same
    * floor form, so the IEEE dag is identical. Sign-ambiguous snap
    * sites must keep round() — floor(x+0.5) is half-UP, round is
    * half-away-from-zero; they diverge on negative halves.
    */
  private def q57(s: SparkSession, d: String): DataFrame = {
    def snapSum(c: Column): Column =
      sum(floor(c * lit(1e6) + lit(0.5)).cast("long")).cast("double")
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(snapSum(log(col("l_extendedprice"))) / lit(1e6), 4)
          .as("sum_ln_price"),
        round(snapSum(exp(col("l_discount")))
          / count(lit(1)).cast("double") / lit(1e6), 6).as("avg_exp_disc"),
        round(snapSum(log10(col("l_quantity"))) / lit(1e6), 4)
          .as("sum_log10_qty"),
        round(snapSum(pow(col("l_discount"), 2)) / lit(1e6), 6)
          .as("sum_disc_sq"))
      .orderBy(col("l_returnflag"))
  }

  private val o57 = """
    SELECT l_returnflag,
           round(CAST(sum(CAST(floor(ln(l_extendedprice) * 1e6 + 0.5) AS BIGINT))
               AS DOUBLE) / 1e6, 4) AS sum_ln_price,
           round(CAST(sum(CAST(floor(exp(l_discount) * 1e6 + 0.5) AS BIGINT))
               AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6, 6)
             AS avg_exp_disc,
           round(CAST(sum(CAST(floor(log10(l_quantity) * 1e6 + 0.5) AS BIGINT))
               AS DOUBLE) / 1e6, 4) AS sum_log10_qty,
           round(CAST(sum(CAST(floor(pow(l_discount, 2) * 1e6 + 0.5) AS BIGINT))
               AS DOUBLE) / 1e6, 6) AS sum_disc_sq
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q59: arbitrary GROUPING SETS (the general form rollup/cube specialize). */
  private def q59(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("graft_gs_orders")
    customer(s, d).createOrReplaceTempView("graft_gs_customer")
    s.sql("""
      SELECT c_mktsegment, o_orderstatus, count(*) AS n,
             round(sum(o_totalprice), 2) AS sum_price
      FROM graft_gs_orders JOIN graft_gs_customer ON o_custkey = c_custkey
      GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                              (c_mktsegment), (o_orderstatus))
      ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""")
  }

  private val o59 = """
    SELECT c_mktsegment, o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                            (c_mktsegment), (o_orderstatus))
    ORDER BY c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST"""

  private def flagParts(s: SparkSession, d: String, flag: String): DataFrame =
    lineitem(s, d).filter(col("l_returnflag") === flag)
      .select(col("l_partkey"))

  /** q60: multiset INTERSECT ALL (multiplicity = min of the two sides). */
  private def q60(s: SparkSession, d: String): DataFrame =
    flagParts(s, d, "A").intersectAll(flagParts(s, d, "R"))
      .orderBy(col("l_partkey"))

  private val o60 = """
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY l_partkey"""

  /** q61: multiset EXCEPT ALL (multiplicity = left minus right, floor 0). */
  private def q61(s: SparkSession, d: String): DataFrame =
    flagParts(s, d, "A").exceptAll(flagParts(s, d, "R"))
      .orderBy(col("l_partkey"))

  private val o61 = """
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    ORDER BY l_partkey"""

  /** q62: array built-ins over word lists (order-normalized where the
    * engines' distinct-order guarantees differ). Array-typed outputs are
    * flattened with `array_join(…, ' ')` — tokens come from a `\s+` split so
    * they contain no spaces, making the join collision-free, and the driver's
    * pandas hash-compare cannot sort rows on raw array columns (round-2
    * ADVICE).
    */
  private def q62(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        array_join(array_sort(array_distinct(col("ws"))), " ")
          .as("vocab_sorted"),
        array_join(slice(col("ws"), 1, 5), " ").as("first5"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        array_contains(col("ws"), "spark").as("has_spark"),
        element_at(array_sort(col("ws")), 1).as("min_word"))
      .orderBy(col("doc_id"))

  private val o62 = """
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(ws)), ' ') AS vocab_sorted,
           array_to_string(list_slice(ws, 1, 5), ' ') AS first5,
           CAST(len(list_distinct(ws)) AS INT) AS n_distinct,
           list_contains(ws, 'spark') AS has_spark,
           list_sort(ws)[1] AS min_word
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          FROM documents)
    ORDER BY doc_id"""

  /** q63: regexp built-ins (simple patterns are dialect-portable between
    * Java regex and RE2).
    */
  private def q63(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "#([0-9]+)", 1).as("brand_num_s"),
        col("p_name").rlike("^[a-z]+ (widget|bolt)$").as("is_widget_or_bolt"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled"))
      .withColumn("brand_num",
        when(col("brand_num_s") === "", -1)
          .otherwise(col("brand_num_s").cast("int")))
      .drop("brand_num_s")
      .orderBy(col("p_partkey"))

  private val o63 = """
    SELECT p_partkey,
           regexp_matches(p_name, '^[a-z]+ (widget|bolt)$')
             AS is_widget_or_bolt,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
           CASE WHEN regexp_extract(p_brand, '#([0-9]+)', 1) = '' THEN -1
                ELSE CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INT)
           END AS brand_num
    FROM part ORDER BY p_partkey"""

  /** q64: NULL semantics — the testdata has no native NULLs, so they are
    * manufactured with nullif and must behave identically through count/sum/
    * avg (null-skipping), coalesce, and null-safe equality.
    */
  private def q64(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("rf_n", expr("nullif(l_returnflag, 'A')"))
      .withColumn("qty_n", expr("nullif(l_quantity, 1.0D)"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("rf_n")).as("n_not_a"),
        sum(when(col("rf_n").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        round(sum(coalesce(col("qty_n"), lit(0.0))), 2).as("sum_qty_no1"),
        round(avg(col("qty_n")), 4).as("avg_qty_no1"),
        sum(when(col("rf_n") <=> lit(null), 1L).otherwise(0L)).cast("long")
          .as("n_null_safe_eq"))
      .orderBy(col("l_linestatus"))

  private val o64 = """
    SELECT l_linestatus, count(*) AS n_rows,
           count(rf_n) AS n_not_a,
           CAST(sum(CASE WHEN rf_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
           round(sum(coalesce(qty_n, 0.0)), 2) AS sum_qty_no1,
           round(avg(qty_n), 4) AS avg_qty_no1,
           CAST(sum(CASE WHEN rf_n IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_null_safe_eq
    FROM (SELECT l_linestatus, nullif(l_returnflag, 'A') AS rf_n,
                 nullif(l_quantity, 1.0) AS qty_n
          FROM lineitem)
    GROUP BY l_linestatus ORDER BY l_linestatus"""

  /** q68: date arithmetic variety (datediff/date_add/last_day/iso weekday/
    * day-of-year) over the orders-lineitem join. Spark's `weekday` is
    * 0=Monday; `weekday + 1` equals DuckDB's `isodow`.
    */
  private def q68(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_linenumber") === 1)
      .select(
        col("o_orderkey"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("ship_lag_days"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        last_day(col("o_orderdate")).as("month_end"),
        (weekday(col("o_orderdate")) + 1).as("iso_dow"),
        dayofyear(col("o_orderdate")).as("doy"))
      // (o_orderkey, l_linenumber) is NOT unique in this synthetic data —
      // order by every output column so any remaining ties are identical rows
      .orderBy(col("o_orderkey"), col("ship_lag_days"), col("due_date"))

  private val o68 = """
    SELECT o_orderkey,
           CAST(date_diff('day', o_orderdate, l_shipdate) AS INT)
             AS ship_lag_days,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           last_day(o_orderdate) AS month_end,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           CAST(dayofyear(o_orderdate) AS INT) AS doy
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_linenumber = 1
    ORDER BY o_orderkey, ship_lag_days, due_date"""

  /** q76: MAP-typed columns: construction, extraction, keys/values
    * introspection. DuckDB's `map[key]`/`map_extract` returns a LIST (its
    * documented not-found semantics), so the oracle unwraps `[1]`; outputs
    * are serialized to scalars for the row compare.
    */
  private def q76(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"),
        map(
          lit("brand"), col("p_brand"),
          lit("type"), col("p_type")).as("m"))
      .select(
        col("p_partkey"),
        element_at(col("m"), "brand").as("brand"),
        size(col("m")).as("m_size"),
        array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"),
        array_join(array_sort(map_values(col("m"))), ",").as("vals_sorted"))
      .orderBy(col("p_partkey"))

  private val o76 = """
    SELECT p_partkey,
           map_extract(m, 'brand')[1] AS brand,
           CAST(cardinality(m) AS INT) AS m_size,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted,
           array_to_string(list_sort(map_values(m)), ',') AS vals_sorted
    FROM (SELECT p_partkey,
            MAP {'brand': p_brand, 'type': p_type} AS m FROM part)
    ORDER BY p_partkey"""

  /** q78: value-RANGE window frames (frame membership decided by the order
    * key's value, not row position — peer-order-independent, so exact on
    * both engines; sums stay integer).
    *
    * Scale shape (r11): a RANGE frame's output depends only on the
    * (partition, order-key value) pair, so the window runs on the
    * DISTINCT-VALUE grain — one hash aggregation to (lang, n_chars,
    * count), the range-framed sums over that bounded frame (≤ |langs| ×
    * |n_chars domain| rows at any corpus size), then a broadcast join
    * back onto the rows. Counts/sums are integers — identical to the
    * row-grain window; the oracle SQL is UNCHANGED.
    */
  private def q78(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"))
      .rangeBetween(-100, org.apache.spark.sql.expressions.Window.currentRow)
    val g = documents(s, d)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n_within_100", sum(col("c")).over(w))
      .withColumn("chars_within_100",
        sum(col("c") * col("n_chars")).over(w).cast("long"))
      .select(col("lang"), col("n_chars"), col("n_within_100"),
        col("chars_within_100"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(g), Seq("lang", "n_chars"))
      .orderBy(col("doc_id"))
  }

  private val o78 = """
    SELECT doc_id, lang, n_chars,
           count(*) OVER w AS n_within_100,
           CAST(sum(n_chars) OVER w AS BIGINT) AS chars_within_100
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars
                 RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
    ORDER BY doc_id"""

  /** q79: correlated LATERAL subquery — per-customer top-2 orders by price.
    * Catalyst decorrelates the LIMIT-ed lateral into a window plan; DuckDB
    * executes it natively. Same SQL shape on both engines.
    */
  private def q79(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_customer_l")
    orders(s, d).createOrReplaceTempView("graft_orders_l")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM graft_customer_l c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM graft_orders_l
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      WHERE c.c_custkey < 100
      ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  private val o79 = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_custkey < 100
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""

  /** q178: NOT IN three-valued logic — the classic correctness trap, pinned
    * across both engines: a NULL anywhere in the IN-list makes `x NOT IN
    * (...)` UNKNOWN for every non-matching x, so the naive rewrite returns
    * ZERO rows; the null-filtered form and `NOT EXISTS` return the intended
    * counts (and agree). One row, three counts, any divergence between the
    * semantics (or the engines) breaks the hash.
    *
    * Scale note, the reason the distinction matters beyond semantics:
    * Spark plans the null-aware NOT IN as a single-column null-aware ANTI
    * join that can only broadcast (the build side must be scanned whole
    * per row once a NULL exists), while NOT EXISTS plans as an ordinary
    * shuffleable left-anti join — at 100 TB the NOT EXISTS form is the
    * only one that runs. Write NOT EXISTS; this query is the receipt.
    */
  private def q178(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("graft_ni_customer")
    orders(s, d).createOrReplaceTempView("graft_ni_orders")
    s.sql("""
      WITH probe AS (
        SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL ELSE o_custkey END
                 AS k
        FROM graft_ni_orders WHERE o_custkey < 800)
      SELECT
        (SELECT count(*) FROM graft_ni_customer
         WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
        (SELECT count(*) FROM graft_ni_customer
         WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
          AS n_not_in_filtered,
        (SELECT count(*) FROM graft_ni_customer c
         WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
          AS n_not_exists""")
  }

  private val o178 = """
    WITH probe AS (
      SELECT CASE WHEN o_orderkey % 997 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_custkey < 800)
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        AS n_not_in_filtered,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
        AS n_not_exists"""

  /** q80: ordered string aggregation (listagg): collect_list is
    * order-nondeterministic in a distributed agg, so sort before joining —
    * equivalent to DuckDB's `string_agg(… ORDER BY …)`.
    */
  private def q80(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(col("c_custkey") <= 200)
      .groupBy(col("c_nationkey"))
      .agg(
        array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
        count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))

  private val o80 = """
    SELECT c_nationkey, string_agg(c_name, '|' ORDER BY c_name) AS names,
           count(*) AS n
    FROM customer WHERE c_custkey <= 200
    GROUP BY c_nationkey ORDER BY c_nationkey"""

  /** q89: generator variety beyond explode/posexplode — `stack` (unpivot to
    * rows) and `sequence` ranges. DuckDB mirrors stack with UNION ALL and
    * sequence with range().
    */
  private def q89(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        expr("stack(2, 'key', CAST(n_nationkey AS STRING), " +
          "'region', CAST(n_regionkey AS STRING)) AS (attr, val)"))
      .withColumn("seq_sum",
        aggregate(sequence(lit(1), col("n_nationkey") % 5 + 1), lit(0),
          (a, x) => a + x).cast("int"))
      .select(col("n_nationkey"), col("n_name"), col("attr"), col("val"),
        col("seq_sum"))
      .orderBy(col("n_nationkey"), col("attr"))

  private val o89 = """
    WITH un AS (
      SELECT n_nationkey, n_name, 'key' AS attr,
             CAST(n_nationkey AS VARCHAR) AS val, n_regionkey FROM nation
      UNION ALL
      SELECT n_nationkey, n_name, 'region' AS attr,
             CAST(n_regionkey AS VARCHAR) AS val, n_regionkey FROM nation)
    SELECT n_nationkey, n_name, attr, val,
           CAST(list_sum(range(1, n_nationkey % 5 + 2)) AS INT) AS seq_sum
    FROM un
    ORDER BY n_nationkey, attr"""

  /** q90: bitwise aggregates — exact integer ops, identical in both
    * engines.
    */
  private def q90(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("bit_and(l_linenumber)").cast("int").as("band"),
        expr("bit_or(l_linenumber)").cast("int").as("bor"),
        expr("bit_xor(l_linenumber)").cast("int").as("bxor"),
        expr("bit_count(bit_or(l_linenumber))").cast("int").as("bits_set"))
      .orderBy(col("l_returnflag"))

  private val o90 = """
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS INT) AS band,
           CAST(bit_or(l_linenumber) AS INT) AS bor,
           CAST(bit_xor(l_linenumber) AS INT) AS bxor,
           CAST(bit_count(bit_or(l_linenumber)) AS INT) AS bits_set
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q91: bounded pairwise edit distance (levenshtein on 40-char prefixes)
    * — the fuzzy-variant detector that complements hash-based dedup. Pairs
    * form through a constant-key broadcast hash join (house pattern), never
    * a nested-loop cartesian; at scale the same kernel runs on LSH
    * candidates instead of a bounded id range.
    */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val dd = documents(s, d).filter(col("doc_id") < 12)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("pfx"),
        pmod(col("doc_id"), lit(1)).as("jk"))
    dd.as("a")
      .join(broadcast(dd.as("b")), col("a.jk") === col("b.jk"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.pfx"), col("b.pfx")).as("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val o91 = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                AS INT) AS edit_dist
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 12 AND b.doc_id < 12
    ORDER BY doc_a, doc_b"""

  /** q92: IGNORE NULLS window navigation — forward-fill (last non-null
    * value so far) and next-seen backward fill over a sparse measure (only
    * purchase events carry one, ~80% null), the standard time-series
    * gap-filling shape. Written as SQL so both engines run the same text.
    * Windows order by event_id alone: ordering by the raw timestamp would
    * diverge where DuckDB's µs truncation merges distinct nanosecond values.
    */
  private def q92(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("graft_events_in")
    s.sql("""
      SELECT event_id, user_id, v,
             last_value(v) IGNORE NULLS OVER
               (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
             first_value(v) IGNORE NULLS OVER
               (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
      FROM (SELECT event_id, user_id,
                   CASE WHEN event_type = 'purchase' THEN round(value, 4) END
                     AS v
            FROM graft_events_in)
      ORDER BY user_id, event_id""")
  }

  // DuckDB's IGNORE NULLS goes inside the call parens; Spark's after them
  private val o92 = """
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
           first_value(v IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
    FROM (SELECT event_id, user_id,
                 CASE WHEN event_type = 'purchase' THEN round(value, 4) END
                   AS v
          FROM events)
    ORDER BY user_id, event_id"""

  /** q100: recursive CTE — Spark 4's WITH RECURSIVE (planned as
    * UnionLoopExec) running the IDENTICAL SQL text DuckDB runs: ancestor
    * chains over a synthetic parent edge (nationkey -> nationkey - 5), five
    * levels deep. Complements q97, which solves the same closure problem
    * with an explicit iterative plan.
    */
  // one SQL text, parameterized only by the table name: the oracle reads
  // DuckDB's `nation` view, the Spark side a graft_-prefixed temp view (the
  // house convention — a bare `nation` temp view would shadow resolution
  // for any later unqualified reference in the shared session)
  private def recursiveSql(tbl: String) = s"""
    WITH RECURSIVE anc(nk, root, depth) AS (
      SELECT n_nationkey, n_nationkey, 0 FROM $tbl WHERE n_nationkey < 5
      UNION ALL
      SELECT n.n_nationkey, a.root, a.depth + 1
      FROM $tbl n JOIN anc a ON n.n_nationkey = a.nk + 5)
    SELECT nk, root, CAST(depth AS INT) AS depth
    FROM anc ORDER BY nk, root"""

  /** q100: ancestor chains over the synthetic nation parent edge through
    * Spark's WITH RECURSIVE, the same SQL text DuckDB runs. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("graft_nation_rec")
    s.sql(recursiveSql("graft_nation_rec"))
  }

  /** q114: keyset-free pagination — `offset(20).limit(10)` over a total
    * order (page 3 of the price-ranked parts). Spark plans
    * GlobalLimitAndOffset over per-partition TakeOrdered partials, so only
    * offset+limit rows ever reach the driver-side merge; the oracle is the
    * literal LIMIT/OFFSET clause. (At interactive scale deep offsets still
    * pay offset+limit work per page — the documented trade vs keyset
    * pagination, which q10's top-k shape provides.)
    */
  private def q114(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .offset(20)
      .limit(10)

  private val o114 = """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 10 OFFSET 20"""

  /** q148: Benford first-digit audit — the data-quality screen that flags
    * fabricated or truncated numeric columns: naturally-occurring amounts
    * follow log10(1 + 1/d) first-digit frequencies, and a column that
    * deviates hard (synthetic uniforms, price floors) shows up immediately.
    * First digit comes from integer/string ops only (floor → BIGINT → first
    * char), never float formatting, so both engines bucket identically; the
    * expected frequency and the chi-square-style deviation are rounded
    * aggregates of transcendentals (module rule). One scan, one 9-bucket
    * aggregation — trivially scale-free.
    */
  private def q148(s: SparkSession, d: String): DataFrame = {
    val total = orders(s, d).agg(count(lit(1)).as("n_total"))
      .withColumn("jk", pmod(col("n_total"), lit(1)))
    orders(s, d)
      .withColumn("digit",
        substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("int"))
      .withColumn("jk", pmod(col("o_orderkey"), lit(1)) * lit(0))
      .join(broadcast(total), Seq("jk"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_orders"),
        round(count(lit(1)) / max(col("n_total")).cast("double"), 6)
          .as("observed_freq"),
        round(log10(lit(1.0) + lit(1.0) / max(col("digit"))), 6)
          .as("benford_freq"))
      .orderBy(col("digit"))
  }

  private val o148 = """
    WITH tot AS (SELECT count(*) AS n_total FROM orders),
    digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
               1, 1) AS INT) AS digit
      FROM orders)
    SELECT digit, count(*) AS n_orders,
           round(count(*) / CAST(max(n_total) AS DOUBLE), 6) AS observed_freq,
           round(log10(1.0 + 1.0 / max(digit)), 6) AS benford_freq
    FROM digits, tot
    GROUP BY digit ORDER BY digit"""

  /** q265: OUTER generator semantics — the null-row-retention edge every
    * flattening pipeline hits: `explode` DROPS a parent row whose array
    * is empty, `explode_outer` keeps it with a NULL element, and an
    * aggregation over the flattened frame must count the two cases
    * differently. Exercised on a genuinely data-dependent empty array
    * (each document's words longer than 8 chars — empty for short-word
    * docs), with per-doc row counts under both generators and the
    * corpus-level tallies. DuckDB mirrors the outer form with LEFT JOIN
    * LATERAL unnest; exact integers end-to-end.
    */
  private def q265(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"),
        filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 8).as("lw"))
    val inner = docs.select(col("doc_id"), explode(col("lw")).as("w"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_inner"))
    val outer = docs.select(col("doc_id"), explode_outer(col("lw")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rows"), count(col("w")).as("n_words"))
    outer.join(inner, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_rows"), col("n_words"),
        coalesce(col("n_inner"), lit(0L)).as("n_inner"),
        (col("n_words") === 0).cast("int").as("empty_kept"))
      .orderBy(col("doc_id"))
  }

  private val o265 = """
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               w -> length(w) > 8) AS lw
      FROM documents),
    inner_g AS (
      SELECT d.doc_id, count(*) AS n_inner
      FROM docs d, unnest(d.lw) AS u(w)
      GROUP BY d.doc_id),
    outer_g AS (
      SELECT d.doc_id, count(*) AS n_rows, count(u.w) AS n_words
      FROM docs d LEFT JOIN LATERAL (SELECT unnest(d.lw) AS w) u ON true
      GROUP BY d.doc_id)
    SELECT o.doc_id, o.n_rows, o.n_words,
           coalesce(i.n_inner, 0) AS n_inner,
           CAST(o.n_words = 0 AS INT) AS empty_kept
    FROM outer_g o LEFT JOIN inner_g i ON i.doc_id = o.doc_id
    ORDER BY o.doc_id"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q265_outer_generators", q265, Some(o265)),
    QueryDef("q178_not_in_semantics", q178, Some(o178)),
    QueryDef("q148_benford_digits", q148, Some(o148)),
    QueryDef("q114_pagination", q114, Some(o114)),
    QueryDef("q100_recursive_cte", q100, Some(recursiveSql("nation"))),
    QueryDef("q90_bitwise_agg", q90, Some(o90)),
    QueryDef("q91_edit_distance", q91, Some(o91)),
    QueryDef("q92_window_ignore_nulls", q92, Some(o92)),
    QueryDef("q89_generator_variety", q89, Some(o89)),
    QueryDef("q76_map_ops", q76, Some(o76)),
    QueryDef("q78_range_frames", q78, Some(o78)),
    QueryDef("q79_lateral_topk", q79, Some(o79)),
    QueryDef("q80_string_agg", q80, Some(o80)),
    QueryDef("q68_date_arith", q68, Some(o68)),
    QueryDef("q64_null_semantics", q64, Some(o64)),
    QueryDef("q62_array_variety", q62, Some(o62)),
    QueryDef("q63_regexp_variety", q63, Some(o63)),
    QueryDef("q55_window_variety", q55, Some(o55)),
    QueryDef("q56_string_variety", q56, Some(o56)),
    QueryDef("q57_transcendental_agg", q57, Some(o57)),
    QueryDef("q59_grouping_sets", q59, Some(o59)),
    QueryDef("q60_intersect_all", q60, Some(o60)),
    QueryDef("q61_except_all", q61, Some(o61)))
}
