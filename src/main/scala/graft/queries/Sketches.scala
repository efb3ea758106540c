package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.functions.HeavyHitters

/** Sketch-backed aggregations: the custom typed Aggregator surface plus
  * exact percentile built-ins.
  */
object Sketches {
  import Tables._

  /** q53: corpus-wide top-20 tokens via the space-saving heavy-hitters
    * Aggregator (capacity 1024 >> distinct tokens here, so the sketch is
    * exact and DuckDB-comparable; at real scale the same plan holds the
    * memory bound instead of exactness).
    *
    * PRECONDITION for the oracle pairing: every merged partial must stay
    * under capacity — the oracle hardcodes `evicted_bound = 0`, so a richer
    * corpus (or larger sf) that overflows the sketch flips the query to
    * approximate mode and the driver compare fails on this column BY DESIGN
    * (the bound makes the failure attributable, not a generic hash
    * mismatch). Size capacity above the corpus's distinct-token count when
    * re-targeting the verify scale.
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    implicit val seqEnc = ExpressionEncoder[Seq[String]]()
    val words = parallelize(s, documents(s, d))
      .select(split(trim(col("text")), "\\s+").as("ws"))
      .as[Seq[String]](seqEnc)
    val hh = new HeavyHitters.TopK(1024).toColumn
    // the tuple-typed aggregate column flattens to (_1 = counters,
    // _2 = summed evicted bound); surfacing the bound makes the exact-regime
    // precondition oracle-checked (expected 0), not assumed
    words.select(hh.name("hh"))
      .select(col("_2").as("evicted_bound"), explode(col("_1")))
      .select(col("key").as("token"), col("value").as("cnt"),
        col("evicted_bound"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)
  }

  private val o53 = """
    SELECT w AS token, count(*) AS cnt, CAST(0 AS BIGINT) AS evicted_bound
    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
          FROM documents)
    GROUP BY w ORDER BY cnt DESC, token LIMIT 20"""

  /** q54: exact interpolated percentiles per group (Spark `percentile` =
    * DuckDB `quantile_cont`, both linear-interpolation on the sorted set).
    */
  private def q54(s: SparkSession, d: String): DataFrame =
    // exact percentiles buffer per-group value maps in the partial agg; a
    // single-row-group scan would run that on one core (9.6 s at sf0.1) —
    // spread the partials across the executor count first, and ask for both
    // price fractions from ONE percentile buffer instead of two
    parallelize(s, lineitem(s, d))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("pp"),
        round(expr("percentile(l_quantity, 0.25D)"), 4).as("p25_qty"))
      .select(
        col("l_returnflag"),
        round(element_at(col("pp"), 1), 4).as("p50_price"),
        round(element_at(col("pp"), 2), 4).as("p90_price"),
        col("p25_qty"))
      .orderBy(col("l_returnflag"))

  private val o54 = """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q85: statistical aggregates (stddev/variance/correlation/covariance +
    * linear-regression slope and r²). Rounding widths are chosen per column
    * scale so the engines' different accumulation algorithms (Welford-style
    * vs naive) can't flip a printed digit: bounded quantities round at 4,
    * bounded-by-1 correlations at 6, tiny covariances at 8, large slopes
    * at 2.
    */
  private def q85(s: SparkSession, d: String): DataFrame =
    parallelize(s, lineitem(s, d))
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_discount"), col("l_tax")), 8)
          .as("cov_disc_tax"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 2)
          .as("slope_price_qty"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6)
          .as("r2_price_qty"))
      .orderBy(col("l_returnflag"))

  private val o85 = """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_discount, l_tax), 8) AS cov_disc_tax,
           round(regr_slope(l_extendedprice, l_quantity), 2)
             AS slope_price_qty,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2_price_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q111: bounded-memory quantile sketch per group
    * ([[graft.functions.QuantileSketch]], k = 256) over l_extendedprice —
    * the one-pass alternative to q54's exact `percentile`, whose final
    * aggregation must buffer every group value. Rows-only at the driver:
    * Spark's partial-merge order varies run to run, so results are only
    * reproducible within the sketch's rank-error bound (asserted at the derived
    * n*log2(n/k)/k bound by `QuantileSketchSpec`) — same treatment as the HLL query q15.
    */
  private def q111(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = parallelize(s, lineitem(s, d))
      .select(col("l_returnflag"), col("l_extendedprice"))
      .as[(String, Double)]
    val qs = new graft.functions.QuantileSketch.Quantiles(
      256, Seq(0.25, 0.5, 0.75, 0.9)).toColumn
    ds.groupByKey(_._1).mapValues(_._2).agg(qs.name("qq"))
      .toDF("l_returnflag", "qq")
      .select(col("l_returnflag"),
        element_at(col("qq"), 1).as("p25"),
        element_at(col("qq"), 2).as("p50"),
        element_at(col("qq"), 3).as("p75"),
        element_at(col("qq"), 4).as("p90"))
      .orderBy(col("l_returnflag"))
  }

  /** q125: IQR outlier detection — flag documents whose n_chars falls
    * outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] of their language's length
    * distribution. One per-group quantile aggregation broadcast back onto
    * the corpus (group count = languages, always tiny) — the standard
    * robust-statistics data-quality gate. The interpolated quartiles of
    * INTEGER data are exact binary fractions (.0/.25/.5/.75), so both
    * engines compute bit-identical bounds and the comparison can't flip on
    * a boundary ulp.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val q = documents(s, d).groupBy(col("lang"))
      .agg(expr("percentile(n_chars, array(0.25D, 0.75D))").as("qq"))
      .select(col("lang"), element_at(col("qq"), 1).as("q1"),
        element_at(col("qq"), 2).as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
    documents(s, d)
      .join(broadcast(q), Seq("lang"))
      .filter(col("n_chars") < col("lo") || col("n_chars") > col("hi"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
      .orderBy(col("doc_id"))
  }

  private val o125 = """
    WITH q AS (
      SELECT lang,
             quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents GROUP BY lang),
    b AS (
      SELECT lang, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
      FROM q)
    SELECT d.doc_id, d.lang, d.n_chars,
           round(b.lo, 4) AS lo, round(b.hi, 4) AS hi
    FROM documents d JOIN b ON d.lang = b.lang
    WHERE d.n_chars < b.lo OR d.n_chars > b.hi
    ORDER BY d.doc_id"""

  /** q127: equi-depth histogram of l_extendedprice — decile cut points from
    * ONE percentile aggregation, then every row bucketed by counting the
    * broadcast cut array it exceeds (a 9-element fold per row, codegen'd
    * comparisons). This is the scalable shape: the naive `ntile(10) OVER ()`
    * funnels the whole table through a single-partition global sort, while
    * here the only non-map work is the cut-point aggregation and the final
    * 10-group rollup. Interpolated cut points are identical IEEE doubles in
    * both engines; rows never sit ON a cut (prices have 2 decimals, cuts
    * interpolate between them), so bucketing can't flip on an ulp.
    */
  private def q127(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15 (r14 VERDICT "next round" #5): the built-in `percentile` buffers
    // every (value, count) pair into ONE final merge task — the single
    // giant task the plan used to carry. The exact cut points now come
    // from distinct-VALUE-grain cumulative counts (2-decimal prices: the
    // value vocabulary is bounded by the price domain, not the row count;
    // the rank window runs over the aggregate, the q152-safe shape) and
    // reproduce Percentile.getPercentile bit-for-bit:
    //   position = p * (n-1);  lower = floor, higher = ceil;
    //   cut = (higher-position)*v[lower] + (position-lower)*v[higher],
    // with the same lower==higher and v[lower]==v[higher] shortcuts
    // (k/10.0 is the correctly-rounded double == the 0.k literal).
    val vc = parallelize(s, lineitem(s, d))
      .groupBy(col("l_extendedprice").as("p"))
      .agg(count(lit(1)).as("c"))
    val cum = vc
      .withColumn("cumul", sum(col("c")).over(Window.orderBy(col("p"))))
      .select(col("p"), (col("cumul") - col("c")).as("lo_idx"),
        (col("cumul") - 1).as("hi_idx"))
    val tot = vc.agg(sum(col("c")).as("n"))
      .withColumn("jk", pmod(col("n"), lit(1)))
    val cutRows = cum
      .withColumn("jk", pmod(col("lo_idx"), lit(1)) * lit(0))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("k", explode(array((1 to 9).map(lit): _*)))
      .withColumn("pos",
        col("k").cast("double") / lit(10.0) * (col("n") - 1).cast("double"))
      .withColumn("lower", floor(col("pos")))
      .withColumn("higher", ceil(col("pos")))
      .filter(col("lower").between(col("lo_idx"), col("hi_idx")) ||
        col("higher").between(col("lo_idx"), col("hi_idx")))
      .groupBy(col("k"))
      .agg(
        min(when(col("lower").between(col("lo_idx"), col("hi_idx")),
          col("p"))).as("lowerKey"),
        min(when(col("higher").between(col("lo_idx"), col("hi_idx")),
          col("p"))).as("higherKey"),
        max(col("pos")).as("pos"),
        max(col("lower")).as("lower"),
        max(col("higher")).as("higher"))
      .select(col("k"),
        when(col("higher") === col("lower"), col("lowerKey"))
          .when(col("higherKey") === col("lowerKey"), col("lowerKey"))
          .otherwise(
            (col("higher").cast("double") - col("pos")) * col("lowerKey") +
              (col("pos") - col("lower").cast("double")) * col("higherKey"))
          .as("cut"))
    val cuts = cutRows
      .agg(transform(array_sort(collect_list(struct(col("k"), col("cut")))),
        x => x.getField("cut")).as("cuts"),
        pmod(count(lit(1)), lit(1)).as("jk")) // column-derived broadcast key
    lineitem(s, d)
      .select(col("l_extendedprice").as("p"),
        pmod(col("l_orderkey"), lit(1)).as("jk"))
      .join(broadcast(cuts), Seq("jk"))
      .select(col("p"),
        // 9 unrolled codegen'd comparisons, not an interpreted lambda fold
        (1 to 9).map(i =>
          when(col("p") > element_at(col("cuts"), i), 1).otherwise(0))
          .reduce(_ + _).as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("p")), 2).as("lo"),
        round(max(col("p")), 2).as("hi"),
        round(avg(col("p")), 4).as("mean"))
      .orderBy(col("decile"))
  }

  private val o127 = """
    WITH c AS (
      SELECT quantile_cont(l_extendedprice,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
      FROM lineitem),
    b AS (
      SELECT l_extendedprice AS p,
             CAST(list_sum(list_transform((SELECT cuts FROM c),
               x -> CASE WHEN l_extendedprice > x THEN 1 ELSE 0 END))
               AS INT) AS decile
      FROM lineitem)
    SELECT decile, count(*) AS n,
           round(min(p), 2) AS lo, round(max(p), 2) AS hi,
           round(avg(p), 4) AS mean
    FROM b GROUP BY decile ORDER BY decile"""

  /** q149: per-group top-k WITHOUT a window sort — q10/q66's "top orders per
    * priority" shape re-expressed through [[graft.functions.GroupedTopK]]:
    * a k-bounded mergeable heap Aggregator that runs as partial+final hash
    * aggregation. The windowed `row_number() <= 3` oracle shuffles and sorts
    * every order row per priority; this plan's map-side partials cut each
    * partition to <= 3 rows per priority BEFORE the shuffle, so the exchange
    * carries O(k * groups) rows at any corpus size. Determinism comes from
    * the aggregator's total (score DESC, key ASC) order.
    */
  private def q149(s: SparkSession, d: String): DataFrame = {
    parallelize(s, orders(s, d))
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.NativeTopK.topkEntries(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(col("o_orderpriority"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("col.key").as("o_orderkey"),
        col("col.score").as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  private val o149 = """
    SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3 ORDER BY o_orderpriority, rnk"""

  /** q152: Spearman rank correlation between l_quantity and l_discount —
    * the robust (monotone-invariant) companion to q85's Pearson `corr`.
    * Average ranks (proper tie handling) are computed the SCALABLE way: one
    * hash aggregation to per-distinct-value counts, a cumulative window over
    * the DISTINCT VALUES ONLY (both columns here have tiny value vocabularies;
    * the corpus never passes through a global sort — the same stance as
    * q127's no-ntile histogram), then a broadcast join back onto the rows.
    * avg_rank = (#rows below) + (ties+1)/2 is exact in halves, so the only
    * fp divergence is `corr`'s accumulation — rounded at 6 like q85.
    */
  private def q152(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranks(colName: String): DataFrame =
      lineitem(s, d).groupBy(col(colName).as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("below",
          coalesce(sum(col("c")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("v"), (col("below") + (col("c") + lit(1)) / lit(2.0))
          .as("avg_rank"))
    val rq = ranks("l_quantity")
      .select(col("v").as("vq"), col("avg_rank").as("rank_q"))
    val rd = ranks("l_discount")
      .select(col("v").as("vd"), col("avg_rank").as("rank_d"))
    parallelize(s, lineitem(s, d))
      .select(col("l_quantity"), col("l_discount"))
      .join(broadcast(rq), col("l_quantity") === col("vq"))
      .join(broadcast(rd), col("l_discount") === col("vd"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("rank_q"), col("rank_d")), 6).as("spearman_rho"))
  }

  private val o152 = """
    WITH rq AS (
      SELECT v, below + (c + 1) / 2.0 AS rank_q FROM (
        SELECT l_quantity AS v, count(*) AS c,
               coalesce(sum(count(*)) OVER (ORDER BY l_quantity
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS below
        FROM lineitem GROUP BY l_quantity)),
    rd AS (
      SELECT v, below + (c + 1) / 2.0 AS rank_d FROM (
        SELECT l_discount AS v, count(*) AS c,
               coalesce(sum(count(*)) OVER (ORDER BY l_discount
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS below
        FROM lineitem GROUP BY l_discount))
    SELECT count(*) AS n, round(corr(rank_q, rank_d), 6) AS spearman_rho
    FROM lineitem
    JOIN rq ON l_quantity = rq.v
    JOIN rd ON l_discount = rd.v"""

  /** q153: chi-square independence audit of two categoricals (market
    * segment × order priority) — the statistical screen for "is this
    * stratification balanced / is this column informative", run over the
    * orders-to-customer join. Expected cell counts come from the row/column
    * marginals (integer counts; the marginal joins are broadcast dimensions
    * over a constant-key single row for N). Per-cell contributions are
    * bit-identical fp; only their 25-cell SUM is engine-order-sensitive, so
    * the statistic rounds at 6 while cells round at 6 individually.
    */
  private def q153(s: SparkSession, d: String): DataFrame = {
    val joined = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val cells = joined.groupBy(col("seg"), col("pri"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = joined.groupBy(col("seg")).agg(count(lit(1)).as("seg_tot"))
    val colTot = joined.groupBy(col("pri")).agg(count(lit(1)).as("pri_tot"))
    val n = joined.agg(count(lit(1)).as("n_tot"))
      .withColumn("jk", pmod(col("n_tot"), lit(1)))
    cells
      .join(broadcast(rowTot), Seq("seg"))
      .join(broadcast(colTot), Seq("pri"))
      .withColumn("jk", pmod(col("obs"), lit(1)) * lit(0))
      .join(broadcast(n), Seq("jk"))
      .withColumn("exp",
        col("seg_tot") * col("pri_tot") / col("n_tot").cast("double"))
      .select(col("seg"), col("pri"), col("obs"),
        round(col("exp"), 6).as("expected"),
        round((col("obs") - col("exp")) * (col("obs") - col("exp"))
          / col("exp"), 6).as("chi2_contrib"))
      .orderBy(col("seg"), col("pri"))
  }

  private val o153 = """
    WITH j AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri
      FROM orders JOIN customer ON o_custkey = c_custkey),
    cells AS (SELECT seg, pri, count(*) AS obs FROM j GROUP BY seg, pri),
    rt AS (SELECT seg, count(*) AS seg_tot FROM j GROUP BY seg),
    ct AS (SELECT pri, count(*) AS pri_tot FROM j GROUP BY pri),
    n AS (SELECT count(*) AS n_tot FROM j)
    SELECT seg, pri, obs,
           round(seg_tot * pri_tot / CAST(n_tot AS DOUBLE), 6) AS expected,
           round((obs - seg_tot * pri_tot / CAST(n_tot AS DOUBLE))
             * (obs - seg_tot * pri_tot / CAST(n_tot AS DOUBLE))
             / (seg_tot * pri_tot / CAST(n_tot AS DOUBLE)), 6)
             AS chi2_contrib
    FROM cells JOIN rt USING (seg) JOIN ct USING (pri), n
    ORDER BY seg, pri"""

  /** q163: group-wise z-score screen — the parametric sibling of q125's IQR
    * gate: per language, standardize document length against the group's
    * mean/stddev and flag |z| > 2. Same scalable shape (one tiny per-group
    * aggregate broadcast back onto the corpus, no window); the z value
    * itself is rounded at 4 because mean/std accumulate in engine-specific
    * order (q85's discipline), and the FLAG compares the raw z so rounding
    * can't move a document across the gate... the gate threshold comparison
    * uses the same raw doubles both engines computed from identical group
    * sums, so the flag is deterministic too.
    */
  private def q163(s: SparkSession, d: String): DataFrame = {
    val stats = documents(s, d).groupBy(col("lang"))
      .agg(avg(col("n_chars")).as("m"), stddev_samp(col("n_chars")).as("sd"))
    documents(s, d)
      .join(broadcast(stats), Seq("lang"))
      // sd=0 (constant-length stratum): DuckDB /0 -> NULL drops the rows
      // at the |z| gate; Spark-4 ANSI would THROW without the guard
      .withColumn("z",
        when(col("sd") =!= 0.0, (col("n_chars") - col("m")) / col("sd")))
      .filter(abs(col("z")) > 2)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("z"), 4).as("z"))
      .orderBy(col("doc_id"))
  }

  private val o163 = """
    WITH stats AS (
      SELECT lang, avg(n_chars) AS m, stddev_samp(n_chars) AS sd
      FROM documents GROUP BY lang)
    SELECT doc_id, d.lang, n_chars,
           round((n_chars - m) / sd, 4) AS z
    FROM documents d JOIN stats s ON d.lang = s.lang
    WHERE abs((n_chars - m) / sd) > 2
    ORDER BY doc_id"""

  /** q280: KMV (k-minimum-values) distinct sketch with mergeable union +
    * Jaccard — the ORACLE-CHECKABLE distinct-count sketch (Bar-Yossef et
    * al. 2002; Beyer et al. SIGMOD'07 unbiased estimator): where q15's
    * HLL stays rows-only because the two engines' HLL internals differ,
    * KMV over the shared md5 hash is deterministic, so the sketch rows,
    * the (k−1)·H/h_k estimates, the sketch-UNION estimate, and the
    * top-k-signature Jaccard are all bit-identical cross-engine and
    * hash-compared, per source pair of the documents corpus.
    *
    * Construction both sides: word → h = first 15 md5 hex chars as a
    * 60-bit integer; per source the k=64 smallest distinct h ARE the
    * sketch (row_number ≤ k over the distinct (source,h) grain — plans as
    * WindowGroupLimit, per-partition partial top-k); distinct estimate
    * = (k−1)·2^60/h_k, exact when the source holds < k hashes. Sketches
    * MERGE: the k smallest of two sketches' union equal the k smallest of
    * the underlying set union (each sketch contains its set's k minima),
    * so the union estimate needs only the two k-row sketches; Jaccard is
    * the both-sources fraction of the merged top-k. Exact hash-grain
    * distinct/intersection counts ride along as the accuracy readout.
    *
    * Scale shape: the corpus is touched once (tokenize + hash into the
    * distinct (source,h) rollup — vocabulary-bounded, the q117/q131
    * stance); sketching is a WindowGroupLimit top-k, never a global sort;
    * the pair tier operates on 20 k-row sketches (sources² pairs × ≤2k
    * rows) and the exact-intersection audit joins the vocabulary-bounded
    * hash frame with ≤|sources| fanout per hash. At 100 TB the audit
    * columns would be dropped and ONLY the k-row sketches shipped — that
    * is the point of a mergeable sketch.
    */
  private val KmvK = 64

  /** q280: KMV distinct-count sketch per source, with mergeable unions and
    * Jaccard estimates between sources. */
  private def q280(s: SparkSession, d: String): DataFrame = {
    val toks = parallelize(s, documents(s, d))
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("source"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val estC = (c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      round(when(n < KmvK, n.cast("double"))
        .otherwise(lit((KmvK - 1).toDouble * math.pow(2.0, 60)) /
          c.cast("double")), 2)
    val sk = toks
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("r") <= KmvK)
      .localCheckpoint(true)
    val perSrc = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"))
      .join(sk.groupBy(col("source")).agg(max(col("h")).as("hk")),
        Seq("source"))
    // column-derived constant key keeps the bounded triangle join a hash
    // join (a bare inequality condition would plan BNLJ — CLAUDE.md rule)
    val srcs = perSrc.select(col("source"), col("n_exact"), col("hk"),
      pmod(col("n_exact"), lit(1L)).as("jk"))
    val pairs = broadcast(srcs.select(col("source").as("src_a"),
        col("n_exact").as("n_a"), col("hk").as("hk_a"), col("jk")))
      .join(broadcast(srcs.select(col("source").as("src_b"),
        col("n_exact").as("n_b"), col("hk").as("hk_b"), col("jk"))),
        Seq("jk"))
      .filter(col("src_a") < col("src_b"))
      .drop("jk")
    // exact hash-grain intersection (audit tier; ≤|sources| fanout per h)
    val inter = toks.as("x").join(toks.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    // merged sketch per pair: the two k-row sketches unioned at the hash
    // grain, re-topped at k; membership flags survive the rollup
    val tagged = pairs.select(col("src_a"), col("src_b")).as("p")
      .join(sk.as("s1"), col("p.src_a") === col("s1.source"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
        col("s1.h").as("h"), lit(1).as("ia"), lit(0).as("ib"))
      .union(pairs.select(col("src_a"), col("src_b")).as("p")
        .join(sk.as("s2"), col("p.src_b") === col("s2.source"))
        .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"),
          col("s2.h").as("h"), lit(0).as("ia"), lit(1).as("ib")))
    val merged = tagged
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("ia")).as("in_a"), max(col("ib")).as("in_b"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))))
      .filter(col("r") <= KmvK)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_eff"), max(col("h")).as("hk_u"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("n_both"))
    pairs
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(merged, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"),
        col("n_a"), estC(col("hk_a"), col("n_a")).as("est_a"),
        col("n_b"), estC(col("hk_b"), col("n_b")).as("est_b"),
        (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        estC(col("hk_u"), col("k_eff")).as("est_union"),
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L)))
            .cast("double"), 6).as("jacc"),
        round(col("n_both").cast("double") / col("k_eff").cast("double"), 6)
          .as("est_jacc"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val o280 = s"""
    WITH toks AS (
      SELECT DISTINCT source,
             CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
      FROM (SELECT source,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE length(w) > 0),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS r
        FROM toks)
      WHERE r <= $KmvK),
    persrc AS (
      SELECT n.source, n.n_exact, k.hk
      FROM (SELECT source, count(*) AS n_exact FROM toks GROUP BY source) n
      JOIN (SELECT source, max(h) AS hk FROM sk GROUP BY source) k
        ON k.source = n.source),
    pairs AS (
      SELECT a.source AS src_a, a.n_exact AS n_a, a.hk AS hk_a,
             b.source AS src_b, b.n_exact AS n_b, b.hk AS hk_b
      FROM persrc a JOIN persrc b ON a.source < b.source),
    inter AS (
      SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_inter
      FROM toks x JOIN toks y
        ON x.h = y.h AND x.source < y.source
      GROUP BY 1, 2),
    tagged AS (
      SELECT p.src_a, p.src_b, s.h, 1 AS ia, 0 AS ib
      FROM pairs p JOIN sk s ON s.source = p.src_a
      UNION ALL
      SELECT p.src_a, p.src_b, s.h, 0 AS ia, 1 AS ib
      FROM pairs p JOIN sk s ON s.source = p.src_b),
    mrows AS (
      SELECT src_a, src_b, h, max(ia) AS in_a, max(ib) AS in_b
      FROM tagged GROUP BY 1, 2, 3),
    mtop AS (
      SELECT * FROM (
        SELECT src_a, src_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY src_a, src_b
                                  ORDER BY h) AS r
        FROM mrows)
      WHERE r <= $KmvK),
    merged AS (
      SELECT src_a, src_b, count(*) AS k_eff, max(h) AS hk_u,
             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_both
      FROM mtop GROUP BY 1, 2)
    SELECT p.src_a, p.src_b,
           p.n_a,
           round(CASE WHEN p.n_a < $KmvK THEN CAST(p.n_a AS DOUBLE)
                 ELSE ${KmvK - 1} * pow(2, 60) / CAST(p.hk_a AS DOUBLE)
                 END, 2) AS est_a,
           p.n_b,
           round(CASE WHEN p.n_b < $KmvK THEN CAST(p.n_b AS DOUBLE)
                 ELSE ${KmvK - 1} * pow(2, 60) / CAST(p.hk_b AS DOUBLE)
                 END, 2) AS est_b,
           p.n_a + p.n_b - COALESCE(i.n_inter, 0) AS n_union,
           round(CASE WHEN m.k_eff < $KmvK THEN CAST(m.k_eff AS DOUBLE)
                 ELSE ${KmvK - 1} * pow(2, 60) / CAST(m.hk_u AS DOUBLE)
                 END, 2) AS est_union,
           round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
                 CAST(p.n_a + p.n_b - COALESCE(i.n_inter, 0) AS DOUBLE), 6)
             AS jacc,
           round(CAST(m.n_both AS DOUBLE) / CAST(m.k_eff AS DOUBLE), 6)
             AS est_jacc
    FROM pairs p
    LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
    JOIN merged m ON m.src_a = p.src_a AND m.src_b = p.src_b
    ORDER BY p.src_a, p.src_b"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q280_kmv_sketch", q280, Some(o280)),
    QueryDef("q163_zscore_screen", q163, Some(o163)),
    QueryDef("q152_spearman_rank", q152, Some(o152)),
    QueryDef("q153_chi2_independence", q153, Some(o153)),
    QueryDef("q149_grouped_topk", q149, Some(o149)),
    QueryDef("q127_equidepth_hist", q127, Some(o127)),
    QueryDef("q125_outlier_iqr", q125, Some(o125)),
    QueryDef("q53_heavy_hitters", q53, Some(o53)),
    QueryDef("q54_percentiles", q54, Some(o54)),
    QueryDef("q85_stats_agg", q85, Some(o85)),
    QueryDef("q111_quantile_sketch", q111, None))
}
