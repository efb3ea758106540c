package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics beyond the basic windows in `Rel`: semi-structured
  * JSON extraction, gap-based sessionization, and an as-of ("latest prior
  * event") lookup — the standard clickstream toolkit, all window-function
  * shaped (one shuffle on user_id, no self-joins).
  *
  * `ts` is the raw nanosecond long (see `Tables`); ordering keys use
  * microsecond truncation (`ts DIV 1000`) to match DuckDB's read of the same
  * column, with event_id as the total tie-break.
  */
object Events {
  import Tables._

  private def tsUs = expr("ts DIV 1000")

  /** q49: JSON property extraction + aggregation over the props column. */
  private def q49(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  private val o49 = """
    SELECT event_type, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
          FROM events)
    GROUP BY event_type ORDER BY event_type"""

  /** q50: gap-based sessionization — a new session starts when >30 minutes
    * pass since the user's previous event. Classic lag + running-sum shape:
    * one shuffle, no self-join, state O(1) per row.
    */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val gapUs = 1800000000L // 30 min in microseconds
    events(s, d)
      .withColumn("prev_us", lag(tsUs, 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          tsUs - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy(col("user_id"))
      .agg(
        max(col("sess_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        round(count(lit(1)) / max(col("sess_id")).cast("double"), 6)
          .as("events_per_session"))
      .orderBy(col("user_id"))
  }

  private val o50 = """
    SELECT user_id, max(sess_id) AS n_sessions, count(*) AS n_events,
           round(count(*) / CAST(max(sess_id) AS DOUBLE), 6)
             AS events_per_session
    FROM (
      SELECT user_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS sess_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                         > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events))
    GROUP BY user_id ORDER BY user_id"""

  /** q51: as-of lookup — for every purchase, the microsecond timestamp of the
    * same user's latest strictly-earlier 'view' event (NULL if none).
    * Expressed as a running max over the ordered partition, which at scale
    * beats any self-join formulation outright.
    */
  private def q51(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("prior_view_us",
        max(when(col("event_type") === "view", tsUs)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"),
        col("prior_view_us"))
      .orderBy(col("event_id"))
  }

  private val o51 = """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, prior_view_us
    FROM (
      SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_view_us
      FROM events)
    WHERE event_type = 'purchase' ORDER BY event_id"""

  /** q52: pivot — order counts per market segment x order status (the
    * DataFrame `pivot` operator; oracle spells the same thing as conditional
    * aggregation).
    */
  private def q52(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("c_mktsegment"))

  private val o52 = """
    SELECT c_mktsegment,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** q107: conversion funnel — first view, first click strictly after it,
    * first purchase strictly after that, per user; one summary row with
    * per-stage user counts and mean view→purchase latency. Three
    * min-aggregations keyed by user_id (partial map-side, one shuffle each,
    * all co-partitioned on user_id so AQE reuses the exchange) and two
    * left joins on the same key — no window over the full event stream,
    * no self-join on time ranges.
    */
  private def q107(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(tsUs).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(tsUs > col("t_view"))
      .groupBy(col("user_id")).agg(min(tsUs).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(tsUs > col("t_click"))
      .groupBy(col("user_id")).agg(min(tsUs).as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .agg(
        count(col("t_view")).as("view_users"),
        count(col("t_click")).as("click_users"),
        count(col("t_purchase")).as("purchase_users"),
        round(avg((col("t_purchase") - col("t_view")) / lit(60000000.0)), 4)
          .as("avg_min_to_purchase"))
  }

  private val o107 = """
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
          GROUP BY e.user_id)
    SELECT count(v.t_view) AS view_users, count(c.t_click) AS click_users,
           count(p.t_purchase) AS purchase_users,
           round(avg((p.t_purchase - v.t_view) / 60000000.0), 4)
             AS avg_min_to_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id"""

  /** q108: event debounce — drop repeats of the same (user, event_type)
    * arriving within 5 minutes of that key's previous event (lag-based, one
    * pass), the bot/retry-squashing filter an ingest pipeline applies
    * before counting anything. Same lag + window shape as sessionization:
    * one shuffle on the key, O(1) state per row, no self-join.
    */
  private def q108(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(tsUs, col("event_id"))
    val gapUs = 300000000L // 5 min
    events(s, d)
      .withColumn("prev_us", lag(tsUs, 1).over(w))
      .withColumn("kept",
        when(col("prev_us").isNull || tsUs - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept")).cast("long").as("n_kept"))
      .orderBy(col("event_type"))
  }

  private val o108 = """
    SELECT event_type, count(*) AS n_total,
           CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 300000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM (SELECT event_type, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                   ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events)
    GROUP BY event_type ORDER BY event_type"""

  /** q113: NATIVE session windows — `session_window(event_time, gap)` as a
    * groupBy key, Spark's built-in merging-session aggregation (one shuffle
    * on user_id, sessions merged inside the aggregation operator — no lag
    * window, no cumsum pass). Complements q50, which builds the same
    * sessions manually via lag + running sum: the oracle reconstructs
    * sessions with that lag formulation and must produce identical
    * boundaries — `end = last event + gap`, a new session at gap >=
    * 30 minutes (session ranges are half-open, so an event exactly at the
    * previous end does not overlap it).
    */
  private def q113(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("event_time", timestamp_micros(tsUs))
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start_us"),
        unix_micros(col("session_window.end")).as("sess_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("sess_start_us"))

  private val o113 = """
    WITH marks AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, us, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marks)
    SELECT user_id, min(us) AS sess_start_us,
           max(us) + 1800000000 AS sess_end_us,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, sess_start_us"""

  /** q121: SCD-type-2 dimension build from the event stream — collapse each
    * user's event-type history to CHANGE rows and emit validity intervals
    * [valid_from, valid_to), NULL-open for the current row. Two window
    * passes over one shuffle on user_id (lag to detect changes, lead for
    * the closing timestamp) — the standard warehouse history-table build,
    * with O(1) state per row and no self-join. Restricted to user_id < 40
    * so the driver compares full interval rows, not a lossy rollup.
    */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val changes = events(s, d)
      .filter(col("user_id") < 40)
      .withColumn("us", tsUs)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    changes
      .withColumn("valid_to_us", lead(col("us"), 1).over(w2))
      .withColumn("version",
        row_number().over(w2))
      .select(col("user_id"), col("event_type"), col("version"),
        col("us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  private val o121 = """
    WITH ordered AS (
      SELECT user_id, event_type, event_id,
             epoch_us(ts) AS us,
             lag(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id < 40),
    changes AS (
      SELECT user_id, event_type, event_id, us FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type),
    v AS (
      SELECT user_id, event_type,
             CAST(row_number() OVER w AS INT) AS version,
             us AS valid_from_us,
             lead(us) OVER w AS valid_to_us
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
    SELECT user_id, event_type, version, valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM v ORDER BY user_id, version"""

  /** q123: time-series gap filling — build each user's dense hourly
    * calendar spine between their first and last event (per-user min/max +
    * `sequence` explode, no global calendar table), left-join the sparse
    * hourly aggregates back onto it and zero-fill the holes. The spine
    * generation is one aggregation + a generator (rows ∝ output, not
    * input²); the fill join is co-partitioned on (user, bucket). Restricted
    * to user_id < 6 so the driver compares the full dense series.
    */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = events(s, d).filter(col("user_id") < 6)
      .withColumn("h", expr(s"ts DIV 1000 DIV $hourUs"))
    val actual = ev.groupBy(col("user_id"), col("h"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    val spine = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("h"))
    spine.join(actual, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour_bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"),
        col("n_events").isNull.as("filled"))
      .orderBy(col("user_id"), col("hour_bucket"))
  }

  private val o123 = """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS h, value
      FROM events WHERE user_id < 6),
    actual AS (
      SELECT user_id, h, count(*) AS n_events,
             round(sum(value), 4) AS sum_value
      FROM ev GROUP BY user_id, h),
    spine AS (
      SELECT user_id, unnest(range(min(h), max(h) + 1)) AS h
      FROM ev GROUP BY user_id)
    SELECT s.user_id, s.h AS hour_bucket,
           coalesce(a.n_events, 0) AS n_events,
           coalesce(a.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value,
           a.n_events IS NULL AS filled
    FROM spine s LEFT JOIN actual a
      ON s.user_id = a.user_id AND s.h = a.h
    ORDER BY s.user_id, hour_bucket"""

  /** q128: cohort retention — users grouped by first-activity week, then
    * the distinct-user count per (cohort, week-offset) cell: the standard
    * product-analytics retention matrix. Shapes: one aggregation for the
    * cohort assignment, a co-partitioned join back on user_id (same key as
    * the aggregation that produced it), and one distinct-count rollup —
    * every shuffle is on a natural key, nothing global.
    */
  private def q128(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val act = events(s, d)
      .select(col("user_id"), expr(s"ts DIV 1000 DIV $weekUs").as("w"))
      .distinct()
    val cohort = act.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
    act.join(cohort, Seq("user_id"))
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("offset"))
  }

  private val o128 = """
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
      FROM events),
    cohort AS (SELECT user_id, min(w) AS w0 FROM act GROUP BY user_id)
    SELECT c.w0 AS cohort_week, a.w - c.w0 AS "offset",
           count(DISTINCT a.user_id) AS n_users
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2 ORDER BY cohort_week, "offset""""

  /** q144: moving median — per-user rolling median of `value` over the last
    * 5 events, the robust-trendline twin of q09's moving average (a median
    * shrugs off the outlier spikes that drag a mean). Same shape as q09: ONE
    * shuffle on user_id, a bounded 5-row frame, state O(frame) per row —
    * no self-join, nothing global. NULL values are excluded up front (a
    * median over nulls is undefined, and null sort order differs between
    * engines).
    *
    * The even-count interpolation is spelled with the SAME explicit
    * (lower + upper) / 2 arithmetic on both sides — DuckDB's quantile_cont
    * may associate the midpoint differently in the last ulp, so the oracle
    * sorts the frame's list and indexes it identically rather than calling
    * `median()`.
    */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
      .rowsBetween(-4, 0)
    events(s, d)
      .filter(col("value").isNotNull)
      .withColumn("sorted", array_sort(collect_list(col("value")).over(w)))
      .withColumn("n", size(col("sorted")))
      .select(col("event_id"), col("user_id"),
        round((element_at(col("sorted"),
            ((col("n") + 1) / 2).cast("int")) +
          element_at(col("sorted"), (col("n") / 2).cast("int") + 1))
          / 2.0, 6).as("moving_median"))
      .orderBy(col("event_id"))
  }

  private val o144 = """
    SELECT event_id, user_id,
           round((l[(n + 1) // 2] + l[n // 2 + 1]) / 2.0, 6) AS moving_median
    FROM (
      SELECT event_id, user_id,
             list_sort(list(value) OVER w) AS l,
             CAST(count(*) OVER w AS INT) AS n
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    ORDER BY event_id"""

  /** q145: interval union — each event projects a 5-minute activity interval
    * [ts, ts+300s); per user, merge overlapping intervals into islands and
    * report total COVERED time (the de-overlapped sum every "active minutes"
    * metric needs — naive sum double-counts overlap). Classic running-max
    * island detection: a new island starts when this interval's start clears
    * every previous end. One shuffle on user_id, two window passes over the
    * same sort, one aggregation — exact integer microsecond arithmetic
    * end-to-end, no self-join (the join-based overlap formulation is
    * quadratic per user at scale; this is O(n log n) and AQE-friendly).
    */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val spanUs = 300000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"), tsUs.as("st"),
        (tsUs + spanUs).as("en"))
      .withColumn("prev_max_en",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L)
          .otherwise(0L))
      .withColumn("isl",
        sum(col("new_isl")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("isl"))
      .agg(min(col("st")).as("isl_st"), max(col("en")).as("isl_en"),
        count(lit(1)).as("n_ev"))
      .groupBy(col("user_id"))
      .agg(sum(col("n_ev")).cast("long").as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("isl_en") - col("isl_st")).cast("long").as("covered_us"))
      .orderBy(col("user_id"))
  }

  private val o145 = """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS st,
             epoch_us(ts) + 300000000 AS en
      FROM events),
    marked AS (
      SELECT user_id, st, en,
             CASE WHEN max(en) OVER (PARTITION BY user_id
                    ORDER BY st, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                   OR st > max(en) OVER (PARTITION BY user_id
                    ORDER BY st, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_isl,
             event_id
      FROM ev),
    isl AS (
      SELECT user_id, st, en,
             sum(new_isl) OVER (PARTITION BY user_id ORDER BY st, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM marked),
    grp AS (
      SELECT user_id, isl, min(st) AS isl_st, max(en) AS isl_en,
             count(*) AS n_ev
      FROM isl GROUP BY user_id, isl)
    SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
           count(*) AS n_islands,
           CAST(sum(isl_en - isl_st) AS BIGINT) AS covered_us
    FROM grp GROUP BY user_id ORDER BY user_id"""

  /** q147: exponential recency decay — per event type, the half-life-weighted
    * value sum (`weight = 0.5^(age_days / 7)`) that recency-sensitive
    * sampling and trending-content scores use: yesterday counts ~0.9, last
    * month ~0.05. The reference instant is the corpus max timestamp, computed
    * once and broadcast (single-row join on a constant key derived FROM a
    * column — `pmod(n, 1)` — since a literal=literal key would fold into a
    * nested-loop join). One scan, one broadcast, one aggregation.
    *
    * Age stays exact integer microseconds until the one pow() per row;
    * per-element transcendentals differ in last ulps across engines, so only
    * the ROUNDED aggregate is compared (the module-wide rule), with the sum
    * over ~thousands of O(1e2) terms rounded at 3 decimals.
    */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val ref = events(s, d)
      .agg(max(tsUs).as("ref_us"))
      .withColumn("jk", pmod(col("ref_us"), lit(1)))
    events(s, d)
      .filter(col("value").isNotNull)
      .withColumn("jk", pmod(tsUs, lit(1)) * lit(0))
      .join(broadcast(ref), Seq("jk"))
      .withColumn("w",
        pow(lit(0.5), (col("ref_us") - tsUs).cast("double")
          / lit(7.0 * 86400 * 1000000)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("w") * col("value")), 3).as("decayed_sum"),
        round(sum(col("w")), 3).as("effective_n"))
      .orderBy(col("event_type"))
  }

  private val o147 = """
    WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events)
    SELECT event_type, count(*) AS n,
           round(sum(pow(0.5, (ref_us - epoch_us(ts))
             / (7.0 * 86400 * 1000000)) * value), 3) AS decayed_sum,
           round(sum(pow(0.5, (ref_us - epoch_us(ts))
             / (7.0 * 86400 * 1000000))), 3) AS effective_n
    FROM events, ref WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type"""

  /** q158: the NATIVE as-of join — q51's "latest prior view per purchase"
    * computed by the custom physical operator [[graft.plans.AsOfJoin]]
    * (logical node + planner strategy + merge-pass exec with declared
    * hash-distribution and (key, time) sort requirements) instead of the
    * windowed union. Same answer, different machinery — the oracle is the
    * SAME SQL as q51's, so the driver hash-compare proves the custom
    * operator end-to-end. Scale shape: two co-partitioned exchanges + two
    * sorts (what a shuffled join costs), then O(1)-state merge — no window
    * buffering, no row expansion.
    */
  private def q158(s: SparkSession, d: String): DataFrame = {
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val views = events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), tsUs.as("ts_us"),
        tsUs.as("view_us"))
    graft.plans.AsOfJoin
      .joinPrior(purchases, views, "user_id", "ts_us", "view_us",
        as = "prior_view_us")
      .orderBy(col("event_id"))
  }

  /** q158's oracle spells the operator's exact contract (largest view time
    * strictly BEFORE the purchase time, per user) as a correlated scalar
    * subquery — deliberately not o51's windowed form, whose row-order frame
    * would count a view in the SAME truncated microsecond as prior.
    */
  private val o158 = """
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           (SELECT max(epoch_us(v.ts)) FROM events v
            WHERE v.user_id = e.user_id AND v.event_type = 'view'
              AND epoch_us(v.ts) < epoch_us(e.ts)) AS prior_view_us
    FROM events e WHERE e.event_type = 'purchase'
    ORDER BY e.event_id"""

  /** q162: the native as-of join's staleness-tolerance path, driver-checked
    * — same lookup as q158 but views older than 30 minutes are too stale to
    * count (the "no quotes older than X" production knob). The oracle adds
    * the same bound to its correlated subquery, so BOTH code paths of
    * [[graft.plans.AsOfJoin]]'s merge loop are hash-compared end-to-end.
    */
  private def q162(s: SparkSession, d: String): DataFrame = {
    val tolUs = 1800000000L
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val views = events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), tsUs.as("ts_us"), tsUs.as("view_us"))
    graft.plans.AsOfJoin
      .joinPrior(purchases, views, "user_id", "ts_us", "view_us",
        as = "prior_view_us", toleranceUs = Some(tolUs))
      .orderBy(col("event_id"))
  }

  private val o162 = """
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           (SELECT max(epoch_us(v.ts)) FROM events v
            WHERE v.user_id = e.user_id AND v.event_type = 'view'
              AND epoch_us(v.ts) < epoch_us(e.ts)
              AND epoch_us(e.ts) - epoch_us(v.ts) <= 1800000000)
             AS prior_view_us
    FROM events e WHERE e.event_type = 'purchase'
    ORDER BY e.event_id"""

  /** q182: point-in-time feature enrichment + leakage audit — the
    * feature-store join: every purchase is enriched with the profile value
    * (the user's latest 'signup' event) AS OF the purchase time, via the
    * native [[graft.plans.AsOfJoin]] operator carrying a NON-TIME payload
    * (q158/q162 carry the prior timestamp; this is the operator's general
    * form). Beside it, the NAIVE enrichment every leaky pipeline ships —
    * join the user's latest profile OVERALL — and a `leaked` flag marking
    * purchases where the two differ: exactly the rows whose training
    * features would contain information from the future (train-serve skew).
    *
    * Scale shape: the as-of side is the operator's two co-partitioned
    * exchanges + sorts and an O(1)-state merge; the naive side is one
    * argmax aggregation (tie-free struct max) on the profile stream and an
    * equi-join — both corpus-linear, no windows over the fact stream.
    */
  private def q182(s: SparkSession, d: String): DataFrame = {
    val purchases = events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"))
    val profiles = events(s, d)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), tsUs.as("ts_us"),
        col("value").as("profile_value"))
    // naive "current profile" per user: argmax by (time, value) — the same
    // (time asc, value asc) tie order the as-of merge keeps, so the leak
    // flag can never fire on a tie-ordering artifact
    val latest = profiles
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("profile_value")))
        .getField("profile_value").as("latest_profile"))
    graft.plans.AsOfJoin
      .joinPrior(purchases, profiles, "user_id", "ts_us", "profile_value",
        as = "profile_at_purchase")
      .join(latest, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("profile_at_purchase"), col("latest_profile"),
        (!(col("profile_at_purchase") <=> col("latest_profile")))
          .as("leaked"))
      .orderBy(col("event_id"))
  }

  private val o182 = """
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           (SELECT max(s.value) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND epoch_us(s.ts) < epoch_us(e.ts)
              AND epoch_us(s.ts) =
                (SELECT max(epoch_us(s2.ts)) FROM events s2
                 WHERE s2.user_id = e.user_id AND s2.event_type = 'signup'
                   AND epoch_us(s2.ts) < epoch_us(e.ts)))
             AS profile_at_purchase,
           (SELECT max(s.value) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND epoch_us(s.ts) =
                (SELECT max(epoch_us(s2.ts)) FROM events s2
                 WHERE s2.user_id = e.user_id AND s2.event_type = 'signup'))
             AS latest_profile,
           (SELECT max(s.value) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND epoch_us(s.ts) < epoch_us(e.ts)
              AND epoch_us(s.ts) =
                (SELECT max(epoch_us(s2.ts)) FROM events s2
                 WHERE s2.user_id = e.user_id AND s2.event_type = 'signup'
                   AND epoch_us(s2.ts) < epoch_us(e.ts)))
             IS DISTINCT FROM
           (SELECT max(s.value) FROM events s
            WHERE s.user_id = e.user_id AND s.event_type = 'signup'
              AND epoch_us(s.ts) =
                (SELECT max(epoch_us(s2.ts)) FROM events s2
                 WHERE s2.user_id = e.user_id AND s2.event_type = 'signup'))
             AS leaked
    FROM events e WHERE e.event_type = 'purchase'
    ORDER BY e.event_id"""

  /** q184: temporal split with embargo — the TIME-dimension leakage-safe
    * split (q165 handles the similarity-graph dimension): train = events in
    * the first 70% of the observed time span, test = after a 5%-of-span
    * embargo gap, and everything inside the gap is QUARANTINED — the
    * financial-ML purging discipline that stops a model trained through
    * time T from being evaluated on samples whose features overlap
    * [T, T+gap). Cut points derive from the observed min/max by integer
    * arithmetic (DIV), so both engines compute identical boundaries.
    *
    * Scale shape: one min/max aggregation, broadcast of the single bounds
    * row on a column-derived key, then a map-side bucketing and a 3-group
    * rollup — corpus-linear, no sort, no window.
    */
  private def q184(s: SparkSession, d: String): DataFrame = {
    val bounds = events(s, d)
      .agg(min(tsUs).as("lo"), max(tsUs).as("hi"))
      .withColumn("jk", pmod(col("lo"), lit(1)))
    val cut = col("lo") + expr("(hi - lo) * 7 DIV 10")
    val gapEnd = cut + expr("(hi - lo) DIV 20")
    events(s, d)
      .withColumn("jk", pmod(col("event_id"), lit(1)))
      .join(broadcast(bounds), Seq("jk"))
      .select(tsUs.as("us"), cut.as("cut"), gapEnd.as("gap_end"))
      .select(
        when(col("us") <= col("cut"), "train")
          .when(col("us") <= col("gap_end"), "embargo")
          .otherwise("test").as("split"),
        col("us"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("lo_us"), max(col("us")).as("hi_us"))
      .orderBy(col("split"))
  }

  private val o184 = """
    WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
               FROM events),
    marks AS (SELECT lo + (hi - lo) * 7 // 10 AS cut,
                     lo + (hi - lo) * 7 // 10 + (hi - lo) // 20 AS gap_end
              FROM b)
    SELECT CASE WHEN epoch_us(ts) <= cut THEN 'train'
                WHEN epoch_us(ts) <= gap_end THEN 'embargo'
                ELSE 'test' END AS split,
           count(*) AS n_events,
           min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
    FROM events, marks
    GROUP BY split ORDER BY split"""

  /** q187: A/B experiment readout — users assigned to arms by a
    * content-hash coin (first md5 hex digit, the q75 split convention),
    * conversion = "has a purchase event above the value cutoff" (a
    * selective metric — near-universal conversion would zero the pooled
    * variance), and the two-proportion
    * pooled z-statistic between the arms. The experimentation primitive on
    * top of the event stream; the z is what a launch decision actually
    * reads.
    *
    * Shape: one user-grain aggregation (corpus-scale), then ONE
    * conditional-aggregation pass producing every count, rate, and the
    * statistic — no joins at all. Cross-engine exactness: every double
    * derives from integer counts by identical arithmetic, sqrt is
    * IEEE-exact (unlike ln/exp), so round(z, 6) is safe.
    */
  /** Replicate count for q326 — fixed, so permutation work is a constant
    * ×(B+1) expansion of the user frame at any corpus size. */
  private val PermB = 64

  /** q326: derandomized permutation test of the A/B conversion difference —
    * the assumption-free significance readout beside q187's normal-theory z
    * (exact under the sharp null with NO variance model, valid at any n)
    * and the inferential twin of q257's derandomized bootstrap: replicate
    * b re-assigns every user by the md5(user:b) coin, the null
    * distribution is the [[PermB]] re-assigned conversion differences, and
    * p = (1 + #{|diff_b| ≥ |diff_obs|}) / (B+1) (the add-one
    * Phipson–Smyth estimator — never exactly zero, unbiased under the
    * null). md5-derandomization makes the "random" permutations
    * deterministic, auditable, and ORACLE-CHECKABLE — the same stance as
    * q257/q187/q105.
    *
    * Cross-engine: all counts exact int64; each replicate's diff is the
    * identical two-division IEEE dag of exact ints, so the |diff_b| ≥
    * |diff_obs| comparisons are bit-deterministic (no transcendentals
    * anywhere); p is one exact-int division rounded at 6. Scale shape: one
    * corpus-linear user rollup, a constant ×(B+1) explode, one hash
    * aggregation to the (B+1)-row replicate frame — everything after is
    * frame-bounded. No windows.
    */
  private def q326(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
        1).otherwise(0)).as("converted"))
    val reps = users
      .select(col("user_id"), col("converted"),
        explode(sequence(lit(0), lit(PermB))).as("b"))
      .withColumn("coin", when(col("b") === 0,
        substring(md5(col("user_id").cast("string")), 1, 1))
        .otherwise(substring(md5(concat(col("user_id").cast("string"),
          lit(":"), col("b").cast("string"))), 1, 1)))
      .withColumn("arm", when(col("coin") < "8", "A").otherwise("B"))
      .groupBy(col("b"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).cast("long")
          .as("n_b"),
        sum(when(col("arm") === "A", col("converted")).otherwise(0L))
          .cast("long").as("conv_a"),
        sum(when(col("arm") === "B", col("converted")).otherwise(0L))
          .cast("long").as("conv_b"))
      .withColumn("diff", when(col("n_a") > 0 && col("n_b") > 0,
        col("conv_a").cast("double") / col("n_a").cast("double")
          - col("conv_b").cast("double") / col("n_b").cast("double")))
    val obs = reps.filter(col("b") === 0)
      .select(abs(col("diff")).as("adiff_obs"),
        pmod(col("n_a"), lit(1L)).as("jk"))
    val flagged = reps.withColumn("jk", pmod(col("n_a"), lit(1L)))
      .join(broadcast(obs), Seq("jk"))
      .withColumn("exceeds", when(col("b") === 0, lit(null).cast("int"))
        .otherwise((abs(col("diff")) >= col("adiff_obs")).cast("int")))
    val p = flagged.filter(col("b") >= 1)
      .agg(sum(col("exceeds")).cast("long").as("n_exceed"))
      .select(col("n_exceed"),
        round((lit(1L) + col("n_exceed")).cast("double")
          / lit((PermB + 1).toDouble), 6).as("p_perm"),
        // n_exceed is NULL on the all-degenerate corpus (every replicate's
        // diff NULL) — the broadcast-back key must not be (q300's coalesce
        // stance), or the join drops rows DuckDB's cross join keeps
        pmod(coalesce(col("n_exceed"), lit(0L)), lit(1L)).as("jk"))
    flagged.join(broadcast(p), Seq("jk"))
      .select(col("b"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        round(col("diff"), 8).as("diff"), col("exceeds"),
        col("n_exceed"), col("p_perm"))
      .orderBy(col("b"))
  }

  private val o326 = s"""
    WITH users AS MATERIALIZED (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    reps AS MATERIALIZED (
      SELECT b,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
               AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
               AS BIGINT) AS conv_b
      FROM (
        SELECT converted, b,
               CASE WHEN (CASE WHEN b = 0
                   THEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   ELSE substr(md5(CAST(user_id AS VARCHAR) || ':'
                     || CAST(b AS VARCHAR)), 1, 1) END) < '8'
                 THEN 'A' ELSE 'B' END AS arm
        FROM (SELECT user_id, converted,
                unnest(generate_series(0, $PermB)) AS b
              FROM users))
      GROUP BY b),
    diffs AS MATERIALIZED (
      SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN
               CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS diff
      FROM reps),
    obs AS (SELECT abs(diff) AS adiff_obs FROM diffs WHERE b = 0),
    flagged AS MATERIALIZED (
      SELECT d.*, CASE WHEN d.b = 0 THEN NULL
               ELSE CAST(abs(d.diff) >= o.adiff_obs AS INT) END AS exceeds
      FROM diffs d, obs o),
    p AS (
      SELECT CAST(sum(exceeds) AS BIGINT) AS n_exceed,
             round(CAST(1 + sum(exceeds) AS DOUBLE)
               / ${(PermB + 1).toDouble}, 6) AS p_perm
      FROM flagged WHERE b >= 1)
    SELECT f.b, f.n_a, f.n_b, f.conv_a, f.conv_b,
           round(f.diff, 8) AS diff, f.exceeds, p.n_exceed, p.p_perm
    FROM flagged f, p ORDER BY f.b"""

  /** q187: A/B experiment readout, each arm's conversion rate and the pooled
    * two-proportion z-statistic between the arms. */
  private def q187(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
        1).otherwise(0)).as("converted"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val agg = users.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).cast("long").as("n_b"),
      sum(when(col("arm") === "A", col("converted")).otherwise(0L))
        .cast("long").as("conv_a"),
      sum(when(col("arm") === "B", col("converted")).otherwise(0L))
        .cast("long").as("conv_b"))
    // degenerate arms: an empty arm (n=0) or a pooled rate of exactly 0
    // or 1 zeroes the z denominator — DuckDB's /0 yields NULL, Spark-4
    // ANSI throws, so both rates and z carry explicit guards
    val crA = when(col("n_a") > 0, col("conv_a") / col("n_a").cast("double"))
    val crB = when(col("n_b") > 0, col("conv_b") / col("n_b").cast("double"))
    val pool = when(col("n_a") + col("n_b") > 0,
      (col("conv_a") + col("conv_b")) /
        (col("n_a") + col("n_b")).cast("double"))
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(crA, 6).as("cr_a"), round(crB, 6).as("cr_b"),
      round(when(col("n_a") > 0 && col("n_b") > 0
          && pool > 0.0 && pool < 1.0,
        (crA - crB) /
          sqrt(pool * (lit(1.0) - pool) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))), 6).as("z"))
  }

  private val o187 = """
    WITH u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted,
             CASE WHEN substr(md5(CAST(max(user_id) AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY user_id),
    a AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
               AS BIGINT) AS conv_a,
             CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
               AS BIGINT) AS conv_b
      FROM u)
    SELECT n_a, n_b, conv_a, conv_b,
           round(conv_a / CAST(n_a AS DOUBLE), 6) AS cr_a,
           round(conv_b / CAST(n_b AS DOUBLE), 6) AS cr_b,
           round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                 / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z
    FROM a"""

  /** q194: RFM segmentation — per-user recency / frequency / monetary
    * quintile scores and the resulting segment histogram (the classic
    * customer-value grid). Scale stance: scores come from COMPARING each
    * user against four interpolated quintile cut points per metric (one
    * percentile aggregation over the user-grain frame, q127's shape) —
    * never `ntile() OVER ()`, whose global sort of the user dimension is
    * the scale hazard. Cut points interpolate over integers/2-decimal
    * sums, identically IEEE in both engines, and identical comparisons
    * bucket identically.
    *
    * Percentile state (r11): all three metrics feed `percentile` with
    * BOUNDED distinct-value domains — recency is quantized to DAY grain
    * (RFM recency is day-grain by definition; raw-µs recency is
    * near-unique per user, the exact-percentile state-growth hazard
    * q238/q191 already closed), frequency is a small per-user count, and
    * monetary is a 2-decimal rounded sum (domain-bounded like q225's
    * note). At 100 TB the exact percentile's distinct-value state stays
    * O(domain); swap to `QuantileSketch` only if the domains widen.
    */
  private def q194(s: SparkSession, d: String): DataFrame = {
    val u = events(s, d)
      .groupBy(col("user_id"))
      .agg(expr("max(ts DIV 1000) DIV 86400000000").as("rec"),
        count(lit(1)).as("freq"),
        round(sum(col("value")), 2).as("mon"))
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    val cuts = u.agg(
        expr(s"percentile(rec, $qs)").as("rc"),
        expr(s"percentile(freq, $qs)").as("fc"),
        expr(s"percentile(mon, $qs)").as("mc"))
      .withColumn("jk", pmod(size(col("rc")), size(col("rc"))).cast("long"))
    def score(metric: Column, cutsCol: String): Column =
      (1 to 4).map(j =>
        when(metric > element_at(col(cutsCol), j), 1).otherwise(0))
        .reduce(_ + _) + lit(1)
    u.withColumn("jk", pmod(col("freq"), col("freq")))
      .join(broadcast(cuts), Seq("jk"))
      .select(score(col("rec"), "rc").as("r_score"),
        score(col("freq"), "fc").as("f_score"),
        score(col("mon"), "mc").as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  private val o194 = """
    WITH u AS (
      SELECT user_id, max(epoch_us(ts)) // 86400000000 AS rec,
             count(*) AS freq,
             round(sum(value), 2) AS mon
      FROM events GROUP BY user_id),
    c AS (SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS rc,
                 quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
                 quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS mc
          FROM u),
    s AS (
      SELECT 1 + (CASE WHEN rec > rc[1] THEN 1 ELSE 0 END)
               + (CASE WHEN rec > rc[2] THEN 1 ELSE 0 END)
               + (CASE WHEN rec > rc[3] THEN 1 ELSE 0 END)
               + (CASE WHEN rec > rc[4] THEN 1 ELSE 0 END) AS r_score,
             1 + (CASE WHEN freq > fc[1] THEN 1 ELSE 0 END)
               + (CASE WHEN freq > fc[2] THEN 1 ELSE 0 END)
               + (CASE WHEN freq > fc[3] THEN 1 ELSE 0 END)
               + (CASE WHEN freq > fc[4] THEN 1 ELSE 0 END) AS f_score,
             1 + (CASE WHEN mon > mc[1] THEN 1 ELSE 0 END)
               + (CASE WHEN mon > mc[2] THEN 1 ELSE 0 END)
               + (CASE WHEN mon > mc[3] THEN 1 ELSE 0 END)
               + (CASE WHEN mon > mc[4] THEN 1 ELSE 0 END) AS m_score
      FROM u, c)
    SELECT r_score, f_score, m_score, count(*) AS n_users
    FROM s GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score"""

  /** q201: session conversion by entry type — q50's gap sessions, each
    * labeled by its ENTRY event (which landing event type starts sessions
    * that convert?), with per-entry-type session counts and purchase
    * conversion rate. The entry event needs no extra window: the row that
    * OPENS a session is exactly the `new_sess = 1` row the sessionizer
    * already marks, so the label is a conditional max inside the session
    * rollup. Same one-shuffle-per-user shape as q50.
    */
  private def q201(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val gapUs = 1800000000L
    events(s, d)
      .withColumn("prev_us", lag(tsUs, 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          tsUs - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(max(when(col("new_sess") === 1, col("event_type")))
          .as("entry_type"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("converted"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).cast("long").as("n_converted"),
        round(avg(col("converted")), 6).as("conversion_rate"))
      .orderBy(col("entry_type"))
  }

  private val o201 = """
    WITH marked AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, event_type, new_sess,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS sess_id
      FROM marked),
    rolled AS (
      SELECT user_id, sess_id,
             max(CASE WHEN new_sess = 1 THEN event_type END) AS entry_type,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM sess GROUP BY user_id, sess_id)
    SELECT entry_type, count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(avg(converted), 6) AS conversion_rate
    FROM rolled GROUP BY entry_type ORDER BY entry_type"""

  /** q192: calendar intensity heatmap — events per (ISO weekday, hour)
    * cell with the share of total traffic: the load-shaping rollup behind
    * capacity planning and anomaly baselines. Calendar parts come from
    * the µs-truncated timestamp in the UTC session; Spark's `weekday`
    * (0 = Monday) equals DuckDB's `isodow - 1`, pinned here so the cell
    * keys agree across engines.
    */
  private def q192(s: SparkSession, d: String): DataFrame = {
    val t = timestamp_micros(expr("ts DIV 1000"))
    val cells = events(s, d)
      .groupBy(expr("weekday(timestamp_micros(ts DIV 1000))")
        .cast("int").as("dow"),
        hour(t).cast("int").as("hr"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).cast("long").as("n_total"))
      .withColumn("jk", pmod(col("n_total"), col("n_total")))
    cells.withColumn("jk", pmod(col("n"), col("n")))
      .join(broadcast(tot), Seq("jk"))
      .select(col("dow"), col("hr"), col("n"),
        round(col("n") / col("n_total").cast("double"), 6).as("share"))
      .orderBy(col("dow"), col("hr"))
  }

  private val o192 = """
    WITH cells AS (
      SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hr, count(*) AS n
      FROM events GROUP BY dow, hr),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells)
    SELECT dow, hr, n, round(n / CAST(n_total AS DOUBLE), 6) AS share
    FROM cells, tot ORDER BY dow, hr"""

  /** q191: funnel latency percentiles — the distribution behind q107's
    * single mean: per converting user, the view→purchase latency,
    * summarized as p50/p90/p99 minutes (exact interpolated percentiles,
    * q127's aggregation — the mean alone hides the slow-tail conversions
    * a re-engagement flow targets). One extra aggregation over q107's
    * user-grain frame.
    *
    * 100 TB stance: Spark's exact `percentile` partial-aggregates a
    * value→count map, so its state is bounded by DISTINCT input values,
    * not rows. Raw fractional-minute latencies are near-unique per user —
    * linear state. We therefore QUANTIZE the input to integer
    * centi-minutes (`DIV 600_000` µs) before the percentile and divide
    * the interpolated cut point back by 100: state is now bounded by the
    * latency span (a month of latency = 4.3 M distinct centi-minutes,
    * constant in row count), and the reported percentile is exact to
    * ±0.005 min. The oracle applies the identical quantization, so the
    * hash gate stays exact. For un-quantizable domains use the
    * [[graft.functions.QuantileSketch]] tier (q111) instead.
    */
  private def q191(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(tsUs).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(tsUs > col("t_view"))
      .groupBy(col("user_id")).agg(min(tsUs).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(tsUs > col("t_click"))
      .groupBy(col("user_id")).agg(min(tsUs).as("t_purchase"))
    v.join(p, Seq("user_id"))
      .select(expr("(t_purchase - t_view) DIV 600000L").as("lat_cmin"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lat_cmin, 0.5D)") / lit(100.0), 4)
          .as("p50_min"),
        round(expr("percentile(lat_cmin, 0.9D)") / lit(100.0), 4)
          .as("p90_min"),
        round(expr("percentile(lat_cmin, 0.99D)") / lit(100.0), 4)
          .as("p99_min"))
  }

  private val o191 = """
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
          GROUP BY e.user_id),
    lat AS (SELECT (p.t_purchase - v.t_view) // 600000 AS lat_cmin
            FROM v JOIN p ON p.user_id = v.user_id)
    SELECT count(*) AS n_converted,
           round(quantile_cont(lat_cmin, 0.5) / 100, 4) AS p50_min,
           round(quantile_cont(lat_cmin, 0.9) / 100, 4) AS p90_min,
           round(quantile_cont(lat_cmin, 0.99) / 100, 4) AS p99_min
    FROM lat"""

  /** q190: the NATIVE interval join — q07's "events within 5 minutes"
    * pairing computed by the custom physical operator
    * [[graft.plans.IntervalJoin]] (logical node + strategy + sweep exec
    * with a density-bounded sliding buffer) instead of q07's
    * bucket-explosion reformulation. Same oracle SQL as q07's, so the
    * driver hash-compare proves the custom operator end-to-end — the same
    * q51/q158 relationship, now for the interval-join shape. Scale: two
    * co-partitioned exchanges + sorts (what the equi-join part costs
    * anyway), then one forward sweep; no 2x row expansion, no duplicate
    * candidate work, state = per-window event density.
    */
  private def q190(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val bucketNs = 300000000000L // 5 minutes in ns
    graft.plans.IntervalJoin.joinWithin(
        e.select(col("user_id").as("u"), col("ts").as("ts_a")),
        e.select(col("user_id").as("u2"), col("ts").as("ts_b")),
        "u", "u2", "ts_a", "ts_b", bucketNs)
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("u").as("user_id"), col("n_pairs"))
      .orderBy(col("user_id"))
  }

  private val o190 = """
    SELECT a.user_id AS user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id ORDER BY user_id"""

  /** q189: first-order Markov transition matrix over each user's event
    * sequence — P(next = b | current = a) with counts, the behavioral
    * sequence-model estimate (and the input to next-event prediction,
    * anomaly scoring of impossible transitions, and simulation). One lag
    * window per user partition (the q50 sessionize shuffle) feeding a
    * states² rollup; the probability normalization joins the row totals
    * back broadcast — states² is tiny at any corpus scale.
    */
  private def q189(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val pairs = events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("cur")).agg(sum(col("n")).cast("long")
      .as("n_cur"))
    pairs.join(broadcast(totals), Seq("cur"))
      .select(col("cur"), col("nxt"), col("n"),
        round(col("n") / col("n_cur").cast("double"), 6).as("p"))
      .orderBy(col("cur"), col("nxt"))
  }

  private val o189 = """
    WITH pairs AS (
      SELECT event_type AS cur, next_type AS nxt, count(*) AS n
      FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS next_type
        FROM events)
      WHERE next_type IS NOT NULL
      GROUP BY cur, nxt),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur FROM pairs
            GROUP BY cur)
    SELECT p.cur, p.nxt, p.n,
           round(p.n / CAST(t.n_cur AS DOUBLE), 6) AS p
    FROM pairs p JOIN tot t ON t.cur = p.cur
    ORDER BY p.cur, p.nxt"""

  /** q169: week-over-week growth — aggregate the event stream to a weekly
    * (event_type, week) series, then lag within each type for the percent
    * change: the standard KPI-trend query. The window runs over the
    * AGGREGATED series (weeks × types — tiny at any corpus scale), never
    * the raw stream; exact integer counts and value sums rounded at 2
    * before the ratio so the printed growth can't wobble. First week per
    * type has NULL growth (nothing to compare) — both engines agree on
    * NULL propagation through the lag.
    */
  private def q169(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    events(s, d)
      .groupBy(col("event_type"),
        expr(s"ts DIV 1000 DIV $weekUs").as("week"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .withColumn("prev_n", lag(col("n_events"), 1).over(w))
      .select(col("event_type"), col("week"), col("n_events"),
        col("sum_value"),
        round((col("n_events") - col("prev_n"))
          / col("prev_n").cast("double") * 100, 4).as("wow_pct"))
      .orderBy(col("event_type"), col("week"))
  }

  private val o169 = """
    WITH weekly AS (
      SELECT event_type, epoch_us(ts) // 604800000000 AS week,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY event_type, week)
    SELECT event_type, week, n_events, sum_value,
           round((n_events - lag(n_events) OVER w)
             / CAST(lag(n_events) OVER w AS DOUBLE) * 100, 4) AS wow_pct
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY week)
    ORDER BY event_type, week"""

  /** Value-iteration depth for q206: conversion probability within
    * [[AttribK]] steps — the truncation IS the spec (both engines unroll
    * the same K, so the number is exact, not a convergence approximation).
    * Journeys in the testdata are far shorter than 16 hops. */
  private val AttribK = 16

  /** q206: Markov removal-effect attribution — the multi-touch attribution
    * model over q189's first-order chain (Anderl et al., "Mapping the
    * customer journey", IJRM 2016). Each user's pre-purchase event sequence
    * becomes a START -> channels -> CONV/DROP journey (cut at the first
    * purchase; purchase = absorption into CONV, journey end without one =
    * DROP); transition probabilities are rounded at 6; the base chain and
    * one REMOVAL VARIANT per channel (all transitions into the channel
    * redirected to DROP — the walker that would visit it is lost) run
    * [[AttribK]] steps of value iteration simultaneously, keyed by a
    * variant column. A channel's removal effect is the relative drop in
    * START's conversion probability; attribution shares normalize the
    * effects. This is the one attribution scheme that credits synergy
    * (positions and repeats) instead of heuristic splits — and it composes
    * two things the catalog already proves separately: q189's transition
    * matrix and q179's composed-iteration chains.
    *
    * Scale stance: the corpus is touched ONCE (the per-user window that
    * builds transitions — q189's exchange); everything after operates on
    * the aggregated (variant x state x state) matrix, ~150 rows regardless
    * of corpus size, persisted so the 16 iteration steps never re-scan
    * events. Every iteration's per-state sum folds in (nxt, p) order on
    * both engines, so all AttribK x |S| doubles are bit-identical and only
    * final outputs need rounding.
    */
  private def q206(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    val rows = events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        tsUs.as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("prn", min(when(col("event_type") === "purchase",
        col("rn"))).over(wAll))
    val kw = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val kept = rows
      .filter(col("prn").isNull || col("rn") < col("prn"))
      .withColumn("prev", lag(col("event_type"), 1).over(kw))
      .withColumn("maxrn", max(col("rn")).over(Window.partitionBy(col("user_id"))))
    val transRaw = kept
      .select(coalesce(col("prev"), lit("START")).as("cur"),
        col("event_type").as("nxt"))
      .unionAll(kept.filter(col("rn") === col("maxrn"))
        .select(col("event_type").as("cur"),
          when(col("prn").isNotNull, lit("CONV")).otherwise(lit("DROP"))
            .as("nxt")))
      .unionAll(rows.filter(col("rn") === 1 && col("prn") === 1)
        .select(lit("START").as("cur"), lit("CONV").as("nxt")))
    val cnt = transRaw.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("cur")).agg(sum(col("n")).cast("long").as("nt"))
    val base = cnt.join(broadcast(tot), Seq("cur"))
      .select(col("cur"), col("nxt"),
        round(col("n") / col("nt").cast("double"), 6).as("p"))
    val variants = base.filter(col("cur") =!= "START")
      .select(col("cur").as("variant")).distinct()
      .unionAll(base.select(lit("base").as("variant")).limit(1))
    // variant x transition matrix (~150 rows at 4 channels).
    // localCheckpoint, not persist: the 16 iteration steps (and the three
    // consumers of the final vector) each embed this frame's LOGICAL plan —
    // with lineage intact the window-heavy events subtree appears ~50x in
    // the final plan and the optimizer alone took ~55 s at sf0.1; the
    // eager checkpoint truncates the subtree to a leaf (q97's pattern).
    val trans = base
      .withColumn("jk", pmod(length(col("cur")), lit(1)))
      .join(broadcast(variants.withColumn("jk",
        pmod(length(col("variant")), lit(1)))), Seq("jk"))
      .select(col("variant"), col("cur"),
        when(col("nxt") === col("variant"), lit("DROP")).otherwise(col("nxt"))
          .as("nxt"),
        col("p"))
      // one partition: every iteration stage over the ~150-row matrix is a
      // single task instead of 32 near-empty ones (constant-size data — at
      // any corpus scale this frame is |variants| x |S|^2)
      .coalesce(1)
      .localCheckpoint()
    // ---- r14: the 16-step value iteration as ONE-ROW array folds ----
    // The r13 form ran each step as a broadcast-join + shuffle aggregation
    // over the ~150-row matrix: 16 sequential tiny jobs whose cost was
    // pure orchestration (guide §1.2 step 1 — the matrix is CONSTANT-SIZE
    // at any corpus scale, |variants| x |S|^2, so iterating it through
    // cluster machinery buys nothing). Here the matrix is collected into
    // ONE row (array of transition structs, sorted once) and all AttribK
    // steps chain as nested higher-order-function projections over that
    // row — zero exchanges, zero broadcasts, one job after the corpus
    // pass. Fold-order parity: the r13 step folded each group's terms in
    // array_sort(struct(nxt, p, contrib)) order; `t` is sorted ONCE by
    // (variant, cur, nxt, p) and `filter` preserves element order, so the
    // per-(variant, cur) fold adds the same doubles in the same order
    // ((nxt, p) determines the group order — nxt repeats only as DROP,
    // whose contribs are all 0.0 and sort by p exactly like the struct's
    // (nxt, p, contrib) key). A missing next-state lookup folds over an
    // empty array to the 0.0 init — the r13 left-join-miss coalesce(0.0).
    val one = trans.agg(array_sort(collect_list(struct(
      col("variant"), col("cur"), col("nxt"), col("p")))).as("t"))
    def fld(x: Column, f: String): Column = x.getField(f)
    val statesCol = array_sort(array_distinct(transform(col("t"),
      x => struct(fld(x, "variant").as("variant"),
        fld(x, "cur").as("state")))))
    val v0 = transform(col("states"), st =>
      struct(fld(st, "variant").as("variant"),
        fld(st, "state").as("state"), lit(0.0).as("v")))
    def step(prev: Column): Column = transform(col("states"), st =>
      struct(fld(st, "variant").as("variant"),
        fld(st, "state").as("state"),
        aggregate(
          filter(col("t"), x =>
            fld(x, "variant") === fld(st, "variant") &&
              fld(x, "cur") === fld(st, "state")),
          lit(0.0),
          (acc, x) => acc + fld(x, "p") * (
            when(fld(x, "nxt") === "CONV", lit(1.0))
              .when(fld(x, "nxt") === "DROP", lit(0.0))
              .otherwise(aggregate(
                filter(prev, e =>
                  fld(e, "variant") === fld(x, "variant") &&
                    fld(e, "state") === fld(x, "nxt")),
                lit(0.0), (a2, e) => a2 + fld(e, "v")))))
          .as("v")))
    // The K steps ride ONE outer `aggregate(sequence(1, K), v0, step)`:
    // the accumulator is a BOUND VALUE in the HOF evaluator, so each step
    // evaluates once and the chain is linear. (Chaining step(step(...))
    // as nested column expressions instead is exponential: an expression
    // referenced inside a lambda is RE-EVALUATED per outer element, so
    // depth-K nesting re-evaluates the whole prefix per state per
    // transition — the first cut of this rewrite ran minutes at sf0.001.)
    val vK = aggregate(sequence(lit(1), lit(AttribK)), v0,
      (acc, _) => step(acc))
    // START-state values; pb/te lookups are order-preserving folds over
    // the variant-sorted array — te adds the ROUNDED removal effects in
    // channel order, exactly the r13 array_sort(struct(channel,
    // removal_effect)) fold (channel is unique, so the first key decides)
    val svCol = filter(col("vk"), e => fld(e, "state") === "START")
    val pbCol = aggregate(
      filter(col("sv"), e => fld(e, "variant") === "base"),
      lit(0.0), (a, e) => a + fld(e, "v"))
    val chansCol = array_sort(
      filter(col("sv"), e => fld(e, "variant") =!= "base"))
    def reOf(e: Column, pb: Column): Column = round(
      when(pb > 0, greatest(lit(0.0), (pb - fld(e, "v")) / pb))
        .otherwise(lit(0.0)), 6)
    val teCol = aggregate(col("chans"), lit(0.0),
      (a, e) => a + reOf(e, col("pb")))
    one
      .withColumn("states", statesCol)
      .withColumn("vk", vK)
      .withColumn("sv", svCol)
      .withColumn("pb", pbCol)
      .withColumn("chans", chansCol)
      .withColumn("te", teCol)
      .select(explode(col("chans")).as("e"), col("pb"), col("te"))
      .select(fld(col("e"), "variant").as("channel"),
        round(col("pb"), 6).as("p_base"),
        round(fld(col("e"), "v"), 6).as("p_removed"),
        reOf(col("e"), col("pb")).as("removal_effect"),
        round(when(col("te") > 0,
            reOf(col("e"), col("pb")) / col("te"))
          .otherwise(lit(0.0)), 6).as("attribution"))
      .orderBy(col("channel"))
  }

  /** One oracle value-iteration CTE per step — q179's oLloydCtes pattern. */
  private def oAttribSteps(k: Int): String = (1 to k).map { i =>
    s"""
    v$i AS (
      SELECT t.variant, t.cur AS state,
             list_sum(list(t.p * CASE WHEN t.nxt = 'CONV' THEN 1.0
                                      WHEN t.nxt = 'DROP' THEN 0.0
                                      ELSE coalesce(pv.v, 0.0) END
                           ORDER BY t.nxt, t.p)) AS v
      FROM trans t LEFT JOIN v${i - 1} pv
        ON pv.variant = t.variant AND pv.state = t.nxt
      GROUP BY t.variant, t.cur)"""
  }.mkString(",")

  private def o206: String = s"""
    WITH r0 AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
      FROM events),
    r AS MATERIALIZED (
      SELECT user_id, event_type, event_id, rn,
             min(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id) AS prn
      FROM r0),
    kept AS MATERIALIZED (
      SELECT user_id, event_type, rn, prn,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS prev,
             max(rn) OVER (PARTITION BY user_id) AS maxrn
      FROM r WHERE prn IS NULL OR rn < prn),
    tr AS (
      SELECT coalesce(prev, 'START') AS cur, event_type AS nxt FROM kept
      UNION ALL
      SELECT event_type,
             CASE WHEN prn IS NOT NULL THEN 'CONV' ELSE 'DROP' END
      FROM kept WHERE rn = maxrn
      UNION ALL
      SELECT 'START', 'CONV' FROM r WHERE rn = 1 AND prn = 1),
    cnt AS MATERIALIZED (SELECT cur, nxt, count(*) AS n FROM tr GROUP BY cur, nxt),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY cur),
    base AS MATERIALIZED (
      SELECT c.cur, c.nxt,
             round(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS p
      FROM cnt c JOIN tot t USING (cur)),
    vars AS (SELECT DISTINCT cur AS variant FROM base WHERE cur <> 'START'
             UNION ALL SELECT 'base'),
    trans AS MATERIALIZED (
      SELECT v.variant, b.cur,
             CASE WHEN b.nxt = v.variant THEN 'DROP' ELSE b.nxt END AS nxt,
             b.p
      FROM base b CROSS JOIN vars v),
    v0 AS (SELECT DISTINCT variant, cur AS state, CAST(0.0 AS DOUBLE) AS v
           FROM trans),
    ${oAttribSteps(AttribK)},
    fin AS MATERIALIZED (SELECT variant, v FROM v$AttribK WHERE state = 'START'),
    pb AS MATERIALIZED (SELECT v AS pb FROM fin WHERE variant = 'base'),
    re AS MATERIALIZED (
      SELECT f.variant AS channel,
             round(pb.pb, 6) AS p_base,
             round(f.v, 6) AS p_removed,
             round(CASE WHEN pb.pb > 0
               THEN greatest(0.0, (pb.pb - f.v) / pb.pb) ELSE 0.0 END, 6)
               AS removal_effect
      FROM fin f, pb WHERE f.variant <> 'base'),
    te AS MATERIALIZED (SELECT list_sum(list(removal_effect ORDER BY channel)) AS te
           FROM re)
    SELECT channel, p_base, p_removed, removal_effect,
           round(CASE WHEN te.te > 0 THEN removal_effect / te.te
                 ELSE 0.0 END, 6) AS attribution
    FROM re, te ORDER BY channel"""

  /** q216: OHLC downsampling bars — the canonical time-series compaction
    * (financial candlesticks, metrics rollups): per (event_type, hour
    * bucket), the first value (open), max (high), min (low), last value
    * (close), event count and value volume. Open/close are tie-free
    * composite-key argmin/argmax through [[Keys]] (microsecond timestamp +
    * event_id — the only cross-engine-stable argmax ordering); they carry
    * RAW values (no fp arithmetic), so only the summed volume needs
    * rounding. One hash aggregation over the stream, no window, no
    * self-join — the downsampler that turns 100 TB of raw ticks into a
    * bars table 10^4-10^5x smaller, and the map-side partial aggregation
    * does most of that reduction before the shuffle.
    */
  private def q216(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val k = Keys.key(Keys.asc("ts DIV 1000", 16), Keys.asc("event_id", 10))
    events(s, d)
      .groupBy(col("event_type"), expr(s"ts DIV 1000 DIV $hourUs").as("hour"))
      .agg(
        expr(s"min_by(value, $k)").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr(s"max_by(value, $k)").as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("volume"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val o216 = {
    val k = Keys.oKey(Keys.oAsc("epoch_us(ts)", 16), Keys.oAsc("event_id", 10))
    s"""SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
              arg_min(value, $k) AS open,
              max(value) AS high, min(value) AS low,
              arg_max(value, $k) AS close,
              count(*) AS n_events, round(sum(value), 2) AS volume
       FROM events GROUP BY event_type, hour ORDER BY event_type, hour"""
  }

  /** q222: population-stability-index drift monitor — the standard
    * production gate for "has this feature's distribution moved since the
    * reference window" (PSI > 0.2 = investigate). The stream splits at its
    * temporal midpoint into reference/current slices; 10 equal-width bins
    * over the REFERENCE value range (boundary values clamp into the edge
    * bins, exactly what a frozen production binning does to outliers);
    * per-bin Laplace-smoothed shares, contribution `(p_cur - p_ref) *
    * ln(p_cur / p_ref)`, and the summed PSI repeated per row. Bin edges and
    * shares are exact IEEE arithmetic (identical cross-engine); only the
    * ln-based contributions are transcendental and they are compared
    * ROUNDED (CLAUDE.md rule). Scale shape: one min/max pass + one binning
    * pass, both all-map-side until 10-group rollups; at 100 TB the
    * reference histogram persists and only the current slice is scanned —
    * this query models that with the reference stats as one-row broadcasts
    * (column-derived join keys, never literal=literal).
    */
  private def q222(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(expr("ts DIV 1000").as("us"), col("value"))
    val mid = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      .select(expr("t0 + (t1 - t0) DIV 2").as("mid"),
        pmod(col("t0"), lit(1)).as("jk"))
    val tagged = ev.withColumn("jk", pmod(col("us"), lit(1)))
      .join(broadcast(mid), Seq("jk"))
      .withColumn("cur", (col("us") >= col("mid")).cast("int"))
    val refRange = tagged.filter(col("cur") === 0)
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .withColumn("jk2", pmod(floor(col("vmin")), lit(1)).cast("int"))
    val counts = tagged.withColumn("jk2", pmod(col("us"), lit(1)).cast("int"))
      .join(broadcast(refRange), Seq("jk2"))
      // denominator guarded: a constant-valued reference slice would make
      // the bin 0/0 = NaN (Spark's null-skipping greatest would clamp it,
      // DuckDB would crash on CAST(NaN)). greatest(span, 1e-9) sends the
      // degenerate case to bin 0 identically in both engines; for any
      // non-degenerate 2-decimal measure the span is >= 0.01, so behavior
      // is unchanged.
      .withColumn("bin", least(lit(9), greatest(lit(0),
        floor((col("value") - col("vmin")) * lit(10.0)
          / greatest(col("vmax") - col("vmin"), lit(1e-9))).cast("int"))))
      .groupBy(col("bin"))
      .agg(sum(lit(1) - col("cur")).cast("long").as("n_ref"),
        sum(col("cur")).cast("long").as("n_cur"))
    val tot = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      .withColumn("jk3", pmod(col("tr"), lit(1)).cast("int"))
    val pr = (col("n_ref") + lit(1.0)) / (col("tr") + lit(10.0))
    val pc = (col("n_cur") + lit(1.0)) / (col("tc") + lit(10.0))
    val shares = counts.withColumn("jk3", pmod(col("n_ref"), lit(1)).cast("int"))
      .join(broadcast(tot), Seq("jk3"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
        ((pc - pr) * log(pc / pr)).as("contrib_raw"))
    val psi = shares.agg(sum(col("contrib_raw")).as("psi_raw"))
      .withColumn("jk4", pmod(ceil(col("psi_raw")), lit(1)).cast("int"))
    shares.withColumn("jk4", pmod(col("n_ref"), lit(1)).cast("int"))
      .join(broadcast(psi), Seq("jk4"))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("p_ref"),
        col("p_cur"), round(col("contrib_raw"), 6).as("contrib"),
        round(col("psi_raw"), 6).as("psi_total"))
      .orderBy(col("bin"))
  }

  private val o222 = """
    WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
    mid AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev),
    tagged AS (SELECT value,
                      CASE WHEN us >= mid.mid THEN 1 ELSE 0 END AS cur
               FROM ev, mid),
    rr AS (SELECT min(value) AS vmin, max(value) AS vmax
           FROM tagged WHERE cur = 0),
    counts AS (
      SELECT least(9, greatest(0, CAST(floor((value - vmin) * 10.0
               / greatest(vmax - vmin, 1e-9)) AS INT))) AS bin,
             CAST(sum(1 - cur) AS BIGINT) AS n_ref,
             CAST(sum(cur) AS BIGINT) AS n_cur
      FROM tagged, rr GROUP BY bin),
    tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
                   CAST(sum(n_cur) AS BIGINT) AS tc FROM counts),
    shares AS (
      SELECT bin, n_ref, n_cur,
             round((n_ref + 1.0) / (tr + 10.0), 6) AS p_ref,
             round((n_cur + 1.0) / (tc + 10.0), 6) AS p_cur,
             ((n_cur + 1.0) / (tc + 10.0) - (n_ref + 1.0) / (tr + 10.0))
               * ln(((n_cur + 1.0) / (tc + 10.0))
                    / ((n_ref + 1.0) / (tr + 10.0))) AS contrib_raw
      FROM counts, tot),
    psi AS (SELECT sum(contrib_raw) AS psi_raw FROM shares)
    SELECT bin, n_ref, n_cur, p_ref, p_cur,
           round(contrib_raw, 6) AS contrib,
           round(psi.psi_raw, 6) AS psi_total
    FROM shares, psi ORDER BY bin"""

  /** q224: event sequence-pattern matching — the relational form of CEP /
    * MATCH_RECOGNIZE: per user, the time-ordered event-type sequence is
    * materialized ONCE as a space-joined string, and patterns become
    * ordinary string predicates over it: the ordered-subsequence funnel
    * `view … click … purchase` is a `LIKE '%view%click%purchase%'`, and
    * "purchased with no prior error" compares first-occurrence positions.
    * Per (funnel, clean) cell: user count and share. Type names are
    * substring-free of each other, so the string encoding is unambiguous.
    *
    * Scale shape: ONE shuffle (the per-user collect), sequence order made
    * deterministic by sorting `(ts, event_id, type)` structs inside the
    * aggregation buffer — no window pass; the pattern predicates are
    * per-row map work; final rollup is 4 cells. A user's event count
    * bounds the string, not the corpus. LIKE/instr (not regex) keeps the
    * matching engine-agnostic AND codegen-friendly.
    */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val seqs = events(s, d)
      .groupBy(col("user_id"))
      .agg(concat_ws(" ", transform(
        // microsecond sort key (`ts DIV 1000`, the Tables convention) so
        // ordering matches DuckDB's microsecond read under both physical
        // timestamp types; event_id is the total tie-break
        array_sort(collect_list(struct(expr("ts DIV 1000").as("us"),
          col("event_id"), col("event_type")))),
        x => x.getField("event_type"))).as("seq"))
      .withColumn("funnel", col("seq").like("%view%click%purchase%"))
      .withColumn("pp", instr(col("seq"), "purchase"))
      .withColumn("pe", instr(col("seq"), "error"))
      .withColumn("clean_purchase",
        col("pp") > 0 && (col("pe") === 0 || col("pe") > col("pp")))
    val cells = seqs.groupBy(col("funnel"), col("clean_purchase"))
      .agg(count(lit(1)).as("n_users"))
    val tot = cells.agg(sum(col("n_users")).as("nt"))
      .withColumn("jk", pmod(col("nt"), lit(1)).cast("int"))
    cells.withColumn("jk", pmod(col("n_users"), lit(1)).cast("int"))
      .join(broadcast(tot), Seq("jk"))
      .select(col("funnel"), col("clean_purchase"), col("n_users"),
        round(col("n_users") / col("nt").cast("double"), 6).as("share"))
      .orderBy(col("funnel"), col("clean_purchase"))
  }

  private val o224 = """
    WITH seqs AS (
      SELECT user_id,
             array_to_string(list(event_type
               ORDER BY epoch_us(ts), event_id, event_type), ' ') AS seq
      FROM events GROUP BY user_id),
    flags AS (
      SELECT seq LIKE '%view%click%purchase%' AS funnel,
             strpos(seq, 'purchase') > 0
               AND (strpos(seq, 'error') = 0
                    OR strpos(seq, 'error') > strpos(seq, 'purchase'))
               AS clean_purchase
      FROM seqs),
    cells AS (
      SELECT funnel, clean_purchase, count(*) AS n_users
      FROM flags GROUP BY funnel, clean_purchase),
    tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS nt FROM cells)
    SELECT funnel, clean_purchase, n_users,
           round(n_users / CAST(tot.nt AS DOUBLE), 6) AS share
    FROM cells, tot ORDER BY funnel, clean_purchase"""

  /** q225: median-absolute-deviation outlier gate — the robust companion
    * to q125's IQR and q163's z-score: MAD survives up to 50% outlier
    * contamination, where mean/stddev (z-score) break down at one gross
    * outlier and IQR at 25% — the right gate for feeds with corrupted
    * tails. Per event type: median, MAD, and the count/fraction beyond the
    * standard `3 * 1.4826 * MAD` band (1.4826 = the normal-consistency
    * constant). MAD is inherently two-pass (median, then median of
    * deviations); both passes are group-wise exact percentiles with the
    * group medians broadcast back — never a global sort. The band
    * comparison runs on ROUNDED medians/deviations so the outlier COUNT is
    * bit-stable cross-engine (the two engines' percentile interpolation
    * may differ in last ulps; q54 proves rounded-percentile parity).
    *
    * 100 TB stance: exact `percentile` state is bounded by DISTINCT input
    * values. `value` is a 2-decimal measure, so distinct values are
    * bounded by domain span × 100 (constant in row count), and `adev` per
    * group is |value − constant| → the same bound. Both passes are
    * bounded-state; no quantization needed (contrast q191/q238, whose raw
    * µs inputs WERE near-unique and are quantized). For a genuinely
    * continuous measure, swap in the q111 [[graft.functions.QuantileSketch]]
    * tier.
    */
  private def q225(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", round(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy(col("event_type"), col("med"))
      .agg(round(expr("percentile(adev, 0.5D)"), 6).as("mad"),
        count(lit(1)).as("n"))
    dev.join(broadcast(mad.select(col("event_type"), col("mad"))),
        Seq("event_type"))
      .withColumn("out", (col("adev") > lit(3.0) * lit(1.4826) * col("mad"))
        .cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("out")).cast("long").as("n_outliers"))
      .join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("med"), col("mad"), col("n"),
        col("n_outliers"),
        round(col("n_outliers") / col("n").cast("double"), 6)
          .as("outlier_frac"))
      .orderBy(col("event_type"))
  }

  private val o225 = """
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, m.med,
             round(abs(e.value - m.med), 6) AS adev
      FROM events e JOIN med m ON m.event_type = e.event_type),
    mad AS (
      SELECT event_type, med, round(quantile_cont(adev, 0.5), 6) AS mad,
             count(*) AS n
      FROM dev GROUP BY event_type, med),
    outs AS (
      SELECT d.event_type,
             CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad m ON m.event_type = d.event_type
      GROUP BY d.event_type)
    SELECT m.event_type, m.med, m.mad, m.n, o.n_outliers,
           round(o.n_outliers / CAST(m.n AS DOUBLE), 6) AS outlier_frac
    FROM mad m JOIN outs o ON o.event_type = m.event_type
    ORDER BY m.event_type"""

  /** q232: seasonality-adjusted traffic anomalies — q192's calendar
    * heatmap turned into a DETECTOR: traffic is bucketed into
    * (weekday, hour, week) cells, each (weekday, hour) cell's per-week
    * counts form its own seasonal baseline (mean, stddev over weeks), and
    * cells beyond |z| > 2 are flagged — "unusual for a Tuesday 3 pm", not
    * "unusual overall", which is what raw-threshold alerting gets wrong
    * about weekly-periodic traffic. Baseline frame is ≤ 168 rows at any
    * corpus scale (broadcast); the corpus pays one rollup. Degenerate
    * cells (constant across weeks) are excluded on the ROUNDED stddev —
    * integer counts make true-zero vs ≥0.3 cleanly separable at round-6 —
    * and the flag compares the ROUNDED z, so the flagged set is bit-stable
    * cross-engine.
    */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val cells = events(s, d)
      .groupBy(
        expr("weekday(timestamp_micros(ts DIV 1000))").cast("int").as("dow"),
        hour(timestamp_micros(expr("ts DIV 1000"))).cast("int").as("hr"),
        expr(s"ts DIV 1000 DIV $weekUs").as("week"))
      .agg(count(lit(1)).as("n"))
    val base = cells.groupBy(col("dow"), col("hr"))
      .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
      .filter(round(col("sd"), 6) > 0)
    cells.join(broadcast(base), Seq("dow", "hr"))
      .withColumn("z", round((col("n") - col("mu")) / col("sd"), 4))
      .filter(abs(col("z")) > 2.0)
      .select(col("dow"), col("hr"), col("week"), col("n"),
        round(col("mu"), 4).as("mean_n"), round(col("sd"), 4).as("sd_n"),
        col("z"))
      .orderBy(col("dow"), col("hr"), col("week"))
  }

  private val o232 = """
    WITH cells AS (
      SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hr,
             epoch_us(ts) // 604800000000 AS week, count(*) AS n
      FROM events GROUP BY dow, hr, week),
    base AS (
      SELECT dow, hr, avg(n) AS mu, stddev_samp(n) AS sd
      FROM cells GROUP BY dow, hr
      HAVING round(stddev_samp(n), 6) > 0),
    z AS (
      SELECT c.dow, c.hr, c.week, c.n, b.mu, b.sd,
             round((c.n - b.mu) / b.sd, 4) AS z
      FROM cells c JOIN base b ON b.dow = c.dow AND b.hr = c.hr)
    SELECT dow, hr, week, n, round(mu, 4) AS mean_n, round(sd, 4) AS sd_n, z
    FROM z WHERE abs(z) > 2.0
    ORDER BY dow, hr, week"""

  /** q237: DAU/WAU stickiness — the engagement-ratio KPI: per day, the
    * distinct daily actives over the distinct 7-day-window actives ending
    * that day. The windowed distinct is NOT a sliding `count(distinct)
    * OVER` (not supported, and a per-day rescan at scale): each distinct
    * (user, day) row is exploded into the ≤7 window-END days it
    * contributes to and deduplicated — one bounded ×7 expansion of the
    * user-day frame, then plain counting; exact integers throughout. Days
    * without traffic simply have no row (and absent days inside others'
    * windows contribute nothing), matching the DAU frame's days by inner
    * join.
    */
  private def q237(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400L * 1000000
    val ud = events(s, d)
      .select(col("user_id"), expr(s"ts DIV 1000 DIV $dayUs").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  private val o237 = """
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    expl AS (
      SELECT DISTINCT user_id, day + t.o AS day
      FROM ud CROSS JOIN generate_series(0, 6) AS t(o)),
    wau AS (SELECT day, count(*) AS wau FROM expl GROUP BY day)
    SELECT d.day, d.dau, w.wau,
           round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day ORDER BY d.day"""

  /** q238: watermark-lateness audit — the measurement that SIZES the
    * `withWatermark` delay every stateful stream in `graft.streaming`
    * asks for: replay the stream in arrival order (event_id = generation
    * order, the arrival proxy) and measure each event's lateness behind
    * the running event-time high-watermark of its user partition; report
    * per event type the p50/p95/p99 lateness and the fraction of events a
    * 1/5/15-minute watermark would drop. Per-key (user) running max is one
    * partitioned window — the same per-key arrival model a partitioned
    * ingest has; a global watermark at scale is the min of per-partition
    * watermarks, which this bounds. Integer microseconds end-to-end;
    * drop fractions exact rationals.
    *
    * 100 TB stance: exact `percentile` state is bounded by DISTINCT input
    * values (value→count partial map), and raw-µs lateness is near-unique
    * per row — linear state. The percentile input is therefore QUANTIZED
    * to whole seconds (`DIV 1_000_000`): state is bounded by the lateness
    * span in seconds (a 30-day straggler = 2.6 M distinct values,
    * constant in row count), the watermark-sizing readout loses nothing
    * (watermarks are sized in minutes), and the oracle mirrors the same
    * quantization so the hash gate stays exact. The drop-fraction columns
    * keep the raw-µs comparison — avg of a boolean is O(1) state.
    */
  private def q238(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events(s, d)
      .select(col("event_type"), col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("us"))
      .withColumn("late", greatest(lit(0L), max(col("us")).over(w) - col("us")))
      .withColumn("late_s", expr("late DIV 1000000L"))
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(late_s, 0.5D)"), 4).as("p50_late_s"),
        round(expr("percentile(late_s, 0.95D)"), 4).as("p95_late_s"),
        round(expr("percentile(late_s, 0.99D)"), 4).as("p99_late_s"),
        round(avg((col("late") > 60000000L).cast("double")), 6)
          .as("frac_late_1m"),
        round(avg((col("late") > 300000000L).cast("double")), 6)
          .as("frac_late_5m"),
        round(avg((col("late") > 900000000L).cast("double")), 6)
          .as("frac_late_15m"))
      .orderBy(col("event_type"))
  }

  private val o238 = """
    WITH late AS (
      SELECT event_type,
             greatest(0, max(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY event_id ROWS UNBOUNDED PRECEDING)
               - epoch_us(ts)) AS late
      FROM events)
    SELECT event_type,
           round(quantile_cont(late // 1000000, 0.5), 4) AS p50_late_s,
           round(quantile_cont(late // 1000000, 0.95), 4) AS p95_late_s,
           round(quantile_cont(late // 1000000, 0.99), 4) AS p99_late_s,
           round(avg(CASE WHEN late > 60000000 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_late_1m,
           round(avg(CASE WHEN late > 300000000 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_late_5m,
           round(avg(CASE WHEN late > 900000000 THEN 1.0 ELSE 0.0 END), 6)
             AS frac_late_15m
    FROM late GROUP BY event_type ORDER BY event_type"""

  /** q239: exponentially-weighted moving average — the standard metric
    * smoother, in its bounded-window form: per (user, event order), the
    * EWMA of the last ≤8 values with α = 1/2, i.e. weights 2^-k — chosen
    * EXACTLY representable in binary, so every weight, product and the
    * tiny 8-term sums are bit-identical across engines (a general α would
    * need rounding-tolerance arguments; the dyadic one needs none). The
    * recursive EWMA definition is deliberately traded for the bounded
    * convolution: a window frame over (user, time) is one co-partitioned
    * pass, whereas the recurrence would serialize per key. Tail truncation
    * error vs the infinite EWMA is ≤ 2^-8 of scale. Output: the latest
    * 5 smoothed points per user panel (user_id < 40) — frame-bounded.
    */
  private def q239(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = events(s, d).filter(col("user_id") < 40)
      .select(col("user_id"), col("event_id"),
        expr("ts DIV 1000").as("us"), col("value"))
      .withColumn("rn", row_number().over(wOrd))
    // lag-k view of the last 8 values: weights 2^-k, renormalized by the
    // realized weight mass (first rows have shorter histories)
    val terms = (0 until 8).map { k =>
      val v = lag(col("value"), k).over(wOrd)
      (when(v.isNotNull, v * lit(math.pow(0.5, k))).otherwise(lit(0.0)),
        when(v.isNotNull, lit(math.pow(0.5, k))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    val wMax = Window.partitionBy(col("user_id"))
    ev.withColumn("ewma", num / den)
      .withColumn("nmax", max(col("rn")).over(wMax))
      .filter(col("rn") > col("nmax") - 5)
      .select(col("user_id"), col("rn"), col("value"),
        round(col("ewma"), 6).as("ewma"))
      .orderBy(col("user_id"), col("rn"))
  }

  private val o239 = {
    val num = (0 until 8).map(k =>
      s"coalesce(lag(value, $k) OVER w, 0.0) * ${math.pow(0.5, k)}")
      .mkString(" + ")
    val den = (0 until 8).map(k =>
      s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH ev AS (
         SELECT user_id, event_id, epoch_us(ts) AS us, value
         FROM events WHERE user_id < 40),
       sm AS (
         SELECT user_id,
                row_number() OVER w AS rn,
                value,
                ($num) / ($den) AS ewma
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       mx AS (SELECT user_id, max(rn) AS nmax FROM sm GROUP BY user_id)
       SELECT s.user_id, CAST(s.rn AS INT) AS rn, s.value,
              round(s.ewma, 6) AS ewma
       FROM sm s JOIN mx ON mx.user_id = s.user_id
       WHERE s.rn > mx.nmax - 5
       ORDER BY s.user_id, s.rn"""
  }

  /** q240: user survival / retention curve — the Kaplan-Meier-style
    * longevity readout q128's cohort matrix doesn't collapse to: for each
    * week-age k, the fraction of users whose observed lifetime
    * (last-activity week − first-activity week) reaches at least k. One
    * user-grain rollup (first/last), one bounded explode of each user into
    * the ages they survived, and a broadcast total — the corpus is touched
    * once; all ratios exact rationals.
    */
  private def q240(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val life = events(s, d)
      .groupBy(col("user_id"))
      .agg(expr(s"max(ts DIV 1000) DIV $weekUs" +
        s" - min(ts DIV 1000) DIV $weekUs").as("lifetime_w"))
    val tot = life.agg(count(lit(1)).as("n_users"))
      .withColumn("jk", pmod(col("n_users"), lit(1)).cast("int"))
    life.select(explode(sequence(lit(0L), col("lifetime_w"))).as("age_w"))
      .groupBy(col("age_w")).agg(count(lit(1)).as("n_surviving"))
      .withColumn("jk", pmod(col("n_surviving"), lit(1)).cast("int"))
      .join(broadcast(tot), Seq("jk"))
      .select(col("age_w"), col("n_surviving"), col("n_users"),
        round(col("n_surviving") / col("n_users").cast("double"), 6)
          .as("survival"))
      .orderBy(col("age_w"))
  }

  private val o240 = """
    WITH life AS (
      SELECT user_id,
             max(epoch_us(ts)) // 604800000000
               - min(epoch_us(ts)) // 604800000000 AS lifetime_w
      FROM events GROUP BY user_id),
    tot AS (SELECT count(*) AS n_users FROM life),
    surv AS (
      SELECT age_w, count(*) AS n_surviving
      FROM (SELECT unnest(generate_series(0, lifetime_w)) AS age_w
            FROM life)
      GROUP BY age_w)
    SELECT s.age_w, s.n_surviving, tot.n_users,
           round(s.n_surviving / CAST(tot.n_users AS DOUBLE), 6) AS survival
    FROM surv s, tot ORDER BY s.age_w"""

  /** q325: log-rank test comparing the two md5 arms' survival curves — the
    * SIGNIFICANCE companion to q240's Kaplan–Meier-style curve (Mantel '66;
    * Peto '72): q240 draws retention, the log-rank test says whether two
    * cohorts' retention actually differs, conditioning on the risk set at
    * each event time — the censoring-correct way (a mean-lifetime t-test
    * is biased the moment follow-up windows differ). Users split by the
    * q187 md5 coin; a user "dies" at their observed lifetime week unless
    * their last event falls in the corpus's final week (administratively
    * CENSORED — still at risk through their window, but never an event).
    * Per death-week j: at-risk N_aj, deaths O_aj, hypergeometric
    * E_Aj = O_j·N_Aj/N_j and variance V_j; Z = (ΣO_A − ΣE_A)/√ΣV.
    *
    * Cross-engine: risk/death counts exact int64 (integer week buckets,
    * the q240 recipe); E/V are fixed division dags of exact ints rounded
    * at 12, and the three sums fold in week order on the bounded
    * death-week frame (the q300 sorted-fold recipe); single-at-risk weeks
    * contribute V = 0 via an explicit n_j > 1 guard and an all-censored
    * corpus yields NULL z on both engines (ΣV = 0 guard). Scale shape:
    * one corpus-linear user rollup, a ≤lifetime-weeks bounded explode
    * (q240's), then everything lives on the week frame.
    */
  private def q325(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val base = events(s, d)
      .groupBy(col("user_id"))
      .agg(expr(s"min(ts DIV 1000) DIV $weekUs").as("first_w"),
        expr(s"max(ts DIV 1000) DIV $weekUs").as("last_w"))
      .withColumn("lifetime_w", col("last_w") - col("first_w"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val gm = base.agg(max(col("last_w")).as("gmax_w"))
      .withColumn("jk", pmod(col("gmax_w"), lit(1L)))
    val tagged = base.withColumn("jk", pmod(col("last_w"), lit(1L)))
      .join(broadcast(gm), Seq("jk"))
      .withColumn("died", (col("last_w") < col("gmax_w")).cast("int"))
    val risk = tagged
      .select(col("arm"), explode(sequence(lit(0L), col("lifetime_w")))
        .as("age_w"))
      .groupBy(col("age_w"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).cast("long")
          .as("n_b"))
    val deaths = tagged.filter(col("died") === 1)
      .groupBy(col("lifetime_w").as("age_w"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).cast("long")
          .as("o_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).cast("long")
          .as("o_b"))
    val weeks = deaths.join(risk, Seq("age_w"))
      .withColumn("n_j", col("n_a") + col("n_b"))
      .withColumn("o_j", col("o_a") + col("o_b"))
      .withColumn("e_a", round(
        col("o_j").cast("double") * col("n_a") / col("n_j"), 12))
      .withColumn("v", when(col("n_j") > 1, round(
        (col("o_j").cast("double") * col("n_a") / col("n_j"))
          * (lit(1.0) - col("n_a").cast("double") / col("n_j"))
          * (col("n_j") - col("o_j")) / (col("n_j") - lit(1)), 12))
        .otherwise(lit(0.0)))
    val totals = weeks.agg(
      sum(col("o_a")).cast("long").as("so_a"),
      expr("""aggregate(array_sort(collect_list(struct(age_w, e_a))),
             cast(0.0 as double), (a, x) -> a + x.e_a)""").as("se_a"),
      expr("""aggregate(array_sort(collect_list(struct(age_w, v))),
             cast(0.0 as double), (a, x) -> a + x.v)""").as("sv"))
      .withColumn("z_raw", when(col("sv") > 0,
        (col("so_a").cast("double") - col("se_a")) / sqrt(col("sv"))))
      .select(col("so_a"), round(col("se_a"), 6).as("sum_e_a"),
        round(col("sv"), 6).as("sum_v"),
        round(col("z_raw"), 6).as("z"),
        round(col("z_raw") * col("z_raw"), 6).as("chi2"),
        pmod(col("so_a"), lit(1L)).as("jk"))
    weeks.withColumn("jk", pmod(col("o_j"), lit(1L)))
      .join(broadcast(totals), Seq("jk"))
      .select(col("age_w"), col("n_a"), col("n_b"), col("o_a"), col("o_b"),
        round(col("e_a"), 8).as("e_a"), round(col("v"), 8).as("v"),
        col("so_a").as("sum_o_a"), col("sum_e_a"), col("sum_v"),
        col("z"), col("chi2"))
      .orderBy(col("age_w"))
  }

  private val o325 = """
    WITH base AS MATERIALIZED (
      SELECT user_id,
             min(epoch_us(ts)) // 604800000000 AS first_w,
             max(epoch_us(ts)) // 604800000000 AS last_w
      FROM events GROUP BY user_id),
    armed AS (
      SELECT user_id, first_w, last_w, last_w - first_w AS lifetime_w,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN last_w < (SELECT max(last_w) FROM base)
                  THEN 1 ELSE 0 END AS died
      FROM base),
    risk AS (
      SELECT age_w,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM (SELECT arm, unnest(generate_series(0, lifetime_w)) AS age_w
            FROM armed)
      GROUP BY age_w),
    deaths AS (
      SELECT lifetime_w AS age_w,
             CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS o_a,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS o_b
      FROM armed WHERE died = 1 GROUP BY lifetime_w),
    weeks AS (
      SELECT d.age_w, r.n_a, r.n_b, d.o_a, d.o_b,
             r.n_a + r.n_b AS n_j, d.o_a + d.o_b AS o_j
      FROM deaths d JOIN risk r USING (age_w)),
    ev AS MATERIALIZED (
      SELECT *,
             round(CAST(o_j AS DOUBLE) * n_a / n_j, 12) AS e_a,
             CASE WHEN n_j > 1 THEN round(
               (CAST(o_j AS DOUBLE) * n_a / n_j)
                 * (1.0 - CAST(n_a AS DOUBLE) / n_j)
                 * (n_j - o_j) / (n_j - 1), 12)
             ELSE 0.0 END AS v
      FROM weeks),
    tot AS (
      SELECT CAST(sum(o_a) AS BIGINT) AS so_a,
             list_sum(list(e_a ORDER BY age_w)) AS se_a,
             list_sum(list(v ORDER BY age_w)) AS sv
      FROM ev),
    fin AS (
      SELECT so_a, round(se_a, 6) AS sum_e_a, round(sv, 6) AS sum_v,
             round(CASE WHEN sv > 0
               THEN (CAST(so_a AS DOUBLE) - se_a) / sqrt(sv) END, 6) AS z,
             round(CASE WHEN sv > 0
               THEN ((CAST(so_a AS DOUBLE) - se_a) / sqrt(sv))
                  * ((CAST(so_a AS DOUBLE) - se_a) / sqrt(sv)) END, 6)
               AS chi2
      FROM tot)
    SELECT ev.age_w, ev.n_a, ev.n_b, ev.o_a, ev.o_b,
           round(ev.e_a, 8) AS e_a, round(ev.v, 8) AS v,
           fin.so_a AS sum_o_a, fin.sum_e_a, fin.sum_v, fin.z, fin.chi2
    FROM ev, fin ORDER BY ev.age_w"""

  /** q329: Cronbach's alpha over the per-user event-type engagement items —
    * the internal-consistency reliability coefficient (Cronbach '51): do
    * the event-type counts measure ONE underlying engagement trait (α near
    * 1: types co-vary across users — a composite "activity score" is
    * meaningful) or unrelated behaviors (α near 0)? The metric-design
    * gate before anyone ships a summed engagement index.
    *
    * Exactness design: with population variances, α = k/(k−1)·(1 −
    * Σᵢvarᵢ/var_tot) and every variance shares the same n² denominator —
    * so the ratio reduces to Σᵢ(n·Σx²ᵢ −(Σxᵢ)²) / (n·Σt² −(Σt)²), a ratio
    * of EXACT integer numerators. r13 (ADVICE): those numerators carry
    * (Σt)² = (total event count)², which passes 2⁶³ near ~3e9 events —
    * int64 would make Spark 4 ANSI throw right where "any corpus size"
    * matters — so the moment products run in DECIMAL(38,0) on the Spark
    * side and native HUGEINT on the DuckDB side (exact to 1.7e38 ≈
    * (1.3e19 events)²): one double division at the very end, bit-stable
    * with no rounding argument. `var_num`/`tot_num` are EMITTED as DOUBLE
    * (a single deterministic nearest-rounding of the identical exact
    * integer on both engines) so the output schema stays
    * pandas/hash-comparable. Zero-count user-item cells contribute
    * nothing to either moment, so the sparse (user, type) rollup IS the
    * dense-matrix computation. Constant total scores (var_tot = 0) and a
    * single item (k = 1) yield NULL α on both engines. Scale shape: one
    * corpus-linear (user, type) aggregation, then everything on the
    * |types|-bounded item frame.
    */
  private def q329(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cell = events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val nUsers = cell.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n"))
      .withColumn("jk", pmod(col("n"), lit(1L)))
    val items = cell.groupBy(col("event_type"))
      .agg(sum(col("x")).cast("long").as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .withColumn("jk", pmod(col("sx"), lit(1L)))
      .join(broadcast(nUsers), Seq("jk"))
      .withColumn("var_num",
        dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
    val totals = cell.groupBy(col("user_id"))
      .agg(sum(col("x")).as("t"))
      .agg(sum(col("t")).cast("long").as("st"),
        sum(dec(col("t")) * dec(col("t"))).as("stt"),
        count(lit(1)).cast("long").as("n"))
      .select((dec(col("n")) * col("stt") - dec(col("st")) * dec(col("st")))
          .as("tot_num"),
        pmod(col("n"), lit(1L)).as("jk"))
    val alpha = items
      .groupBy(col("jk"))
      .agg(count(lit(1)).cast("long").as("k"),
        sum(col("var_num")).as("sum_num"))
      .join(broadcast(totals), Seq("jk"))
      .withColumn("alpha", when(col("k") > 1 && col("tot_num") > 0,
        round((col("k").cast("double") / (col("k") - 1).cast("double"))
          * (lit(1.0) - col("sum_num").cast("double")
            / col("tot_num").cast("double")), 6)))
    items.join(broadcast(alpha.select(col("jk"), col("k"), col("tot_num"),
        col("alpha"))), Seq("jk"))
      .select(col("event_type"), col("n").cast("long").as("n_users"),
        col("sx").as("sum_x"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean_x"),
        col("var_num").cast("double").as("var_num"), col("k"),
        col("tot_num").cast("double").as("tot_num"), col("alpha"))
      .orderBy(col("event_type"))
  }

  private val o329 = """
    WITH cell AS MATERIALIZED (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY user_id, event_type),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM cell),
    items AS MATERIALIZED (
      SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             nu.n, nu.n * sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
               - CAST(sum(x) AS HUGEINT) * CAST(sum(x) AS HUGEINT)
               AS var_num
      FROM cell, nu GROUP BY event_type, nu.n),
    tots AS (
      SELECT CAST(count(*) AS HUGEINT)
                 * sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT))
               - CAST(sum(t) AS HUGEINT) * CAST(sum(t) AS HUGEINT)
               AS tot_num
      FROM (SELECT user_id, CAST(sum(x) AS BIGINT) AS t
            FROM cell GROUP BY user_id)),
    al AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(var_num) AS sum_num,
             tot_num,
             CASE WHEN count(*) > 1 AND tot_num > 0 THEN
               round((CAST(count(*) AS DOUBLE)
                   / CAST(count(*) - 1 AS DOUBLE))
                 * (1.0 - CAST(sum(var_num) AS DOUBLE)
                   / CAST(tot_num AS DOUBLE)), 6) END AS alpha
      FROM items, tots GROUP BY tot_num)
    SELECT i.event_type, i.n AS n_users, i.sx AS sum_x,
           round(CAST(i.sx AS DOUBLE) / CAST(i.n AS DOUBLE), 6) AS mean_x,
           CAST(i.var_num AS DOUBLE) AS var_num, al.k,
           CAST(al.tot_num AS DOUBLE) AS tot_num, al.alpha
    FROM items i, al ORDER BY i.event_type"""

  /** q330: Nelson–Aalen cumulative hazard per arm — the nonparametric
    * hazard-accumulation view of the q240/q325 survival tier (Nelson '72;
    * Aalen '78): Ĥ_a(t) = Σ_{j≤t} O_aj/N_aj over the arm's death weeks,
    * preferred over −ln(KM) at small risk sets and the standard input to
    * proportional-hazards eyeballing (parallel curves ⇒ proportional).
    * Same md5 arms and administrative censoring as q325.
    *
    * Cross-engine: risk/death counts exact int64; each week's hazard
    * increment is ONE division of exact ints rounded at 12; the cumulative
    * sum is an ascending-week window frame over the AGGREGATED (arm, week)
    * frame — both engines fold the identical rounded doubles in the
    * identical (frame-defined) order, so no summation-order question.
    * Scale: q325's shapes — one user rollup, bounded explode, everything
    * after on the (arm, week) frame; the window partitions by arm over
    * that aggregated frame (spec-safe shape).
    */
  private def q330(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400 * 1000000
    val base = events(s, d)
      .groupBy(col("user_id"))
      .agg(expr(s"min(ts DIV 1000) DIV $weekUs").as("first_w"),
        expr(s"max(ts DIV 1000) DIV $weekUs").as("last_w"))
      .withColumn("lifetime_w", col("last_w") - col("first_w"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val gm = base.agg(max(col("last_w")).as("gmax_w"))
      .withColumn("jk", pmod(col("gmax_w"), lit(1L)))
    val tagged = base.withColumn("jk", pmod(col("last_w"), lit(1L)))
      .join(broadcast(gm), Seq("jk"))
      .withColumn("died", (col("last_w") < col("gmax_w")).cast("int"))
    val risk = tagged
      .select(col("arm"), explode(sequence(lit(0L), col("lifetime_w")))
        .as("age_w"))
      .groupBy(col("arm"), col("age_w"))
      .agg(count(lit(1)).cast("long").as("n_risk"))
    val deaths = tagged.filter(col("died") === 1)
      .groupBy(col("arm"), col("lifetime_w").as("age_w"))
      .agg(count(lit(1)).cast("long").as("deaths"))
    val wk = deaths.join(risk, Seq("arm", "age_w"))
      .withColumn("hazard", round(
        col("deaths").cast("double") / col("n_risk").cast("double"), 12))
    wk.withColumn("cum_hazard", round(
        sum(col("hazard")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("arm")).orderBy(col("age_w"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)), 6))
      .select(col("arm"), col("age_w"), col("n_risk"), col("deaths"),
        round(col("hazard"), 8).as("hazard"), col("cum_hazard"))
      .orderBy(col("arm"), col("age_w"))
  }

  private val o330 = """
    WITH base AS MATERIALIZED (
      SELECT user_id,
             min(epoch_us(ts)) // 604800000000 AS first_w,
             max(epoch_us(ts)) // 604800000000 AS last_w
      FROM events GROUP BY user_id),
    armed AS (
      SELECT last_w - first_w AS lifetime_w,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN last_w < (SELECT max(last_w) FROM base)
                  THEN 1 ELSE 0 END AS died
      FROM base),
    risk AS (
      SELECT arm, age_w, CAST(count(*) AS BIGINT) AS n_risk
      FROM (SELECT arm, unnest(generate_series(0, lifetime_w)) AS age_w
            FROM armed)
      GROUP BY arm, age_w),
    deaths AS (
      SELECT arm, lifetime_w AS age_w, CAST(count(*) AS BIGINT) AS deaths
      FROM armed WHERE died = 1 GROUP BY arm, lifetime_w),
    wk AS (
      SELECT d.arm, d.age_w, r.n_risk, d.deaths,
             round(CAST(d.deaths AS DOUBLE) / CAST(r.n_risk AS DOUBLE), 12)
               AS hazard
      FROM deaths d JOIN risk r USING (arm, age_w))
    SELECT arm, age_w, n_risk, deaths,
           round(hazard, 8) AS hazard,
           round(sum(hazard) OVER (PARTITION BY arm ORDER BY age_w
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS cum_hazard
    FROM wk ORDER BY arm, age_w"""

  /** q333: Gini concentration of user activity — per event type and
    * overall, how unevenly the event volume concentrates over users (the
    * Lorenz/Gini readout every traffic-shape dashboard carries: G near 0 =
    * uniform engagement, near 1 = a whale-dominated type whose metrics one
    * power user can move). Uses the exact grouped-data identity
    * G = 2·Σⱼ j·x₍ⱼ₎ / (n·Σx) − (n+1)/n, with the rank sum folded PER
    * DISTINCT ACTIVITY VALUE: a run of w users at value c starting at
    * rank s contributes c·(w·s + w(w−1)/2).
    *
    * Scale shape (the q152 value-grain discipline): users NEVER get
    * globally ranked — one corpus-linear (type, user) rollup, then a
    * second rollup to the (type, activity-value) frame whose size is the
    * VALUE DOMAIN, not the user count; the rank-cumulative window runs
    * over that aggregated frame (Aggregate-beneath, spec-safe). Exactness:
    * counts and rank sums are exact integers — the run contribution
    * multiplies into DECIMAL(38,0) ↔ HUGEINT (c·n² passes 2⁶³ near 1e9
    * users, the q329 stance) — and Gini is a fixed dag of two divisions
    * on identical doubles, rounded at 6.
    */
  private def q333(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    def gini(cnt: DataFrame): DataFrame = {
      val g = cnt.groupBy(col("scope"), col("c"))
        .agg(count(lit(1)).as("w"))
      val win = Window.partitionBy(col("scope")).orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("wprev", coalesce(sum(col("w")).over(win), lit(0L)))
        // w(w-1)/2 formed IN the wide type (ADVICE r13 #1): the r13 form
        // computed w*(w-1) in int64 first, which overflows (ANSI throw)
        // once a single activity-value run passes ~3.04e9 users —
        // contradicting the documented "exact past 2^63" stance. Halving
        // the even factor BEFORE the decimal product keeps every
        // intermediate an exact decimal(38,0) integer; value-identical
        // wherever the old form didn't overflow.
        .withColumn("mrun",
          dec(col("c")) * (dec(col("w")) * (dec(col("wprev")) + lit(1))
            + when(pmod(col("w"), lit(2)) === 0,
                dec(expr("w DIV 2")) * (dec(col("w")) - lit(1)))
              .otherwise(dec(col("w")) * dec(expr("(w - 1) DIV 2")))))
        .groupBy(col("scope"))
        .agg(sum(col("mrun")).as("m"),
          sum(col("c") * col("w")).cast("long").as("t"),
          sum(col("w")).cast("long").as("n"),
          max(col("c")).cast("long").as("cmax"))
        .select(col("scope"),
          col("n").as("n_users"), col("t").as("n_events"),
          round(lit(2.0) * col("m").cast("double")
            / (col("n").cast("double") * col("t").cast("double"))
            - (col("n") + lit(1)).cast("double") / col("n").cast("double"),
            6).as("gini"),
          round(col("cmax").cast("double") / col("t").cast("double"), 6)
            .as("top_share"))
    }
    val perType = events(s, d)
      .groupBy(col("event_type").as("scope"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val overall = events(s, d)
      .groupBy(lit("zz_all").as("scope"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    gini(perType).union(gini(overall)).orderBy(col("scope"))
  }

  private val o333 = """
    WITH pt AS (
      SELECT event_type AS scope, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, user_id
      UNION ALL
      SELECT 'zz_all' AS scope, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id),
    g AS (SELECT scope, c, CAST(count(*) AS BIGINT) AS w
          FROM pt GROUP BY scope, c),
    runs AS (
      SELECT scope, c, w,
             coalesce(sum(w) OVER (PARTITION BY scope ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS wprev
      FROM g),
    mo AS (
      SELECT scope,
             sum(CAST(c AS HUGEINT)
                 * (CAST(w AS HUGEINT) * (CAST(wprev AS HUGEINT) + 1)
                    + (CAST(w AS HUGEINT) * (w - 1)) // 2)) AS m,
             CAST(sum(c * w) AS BIGINT) AS t,
             CAST(sum(w) AS BIGINT) AS n,
             CAST(max(c) AS BIGINT) AS cmax
      FROM runs GROUP BY scope)
    SELECT scope, n AS n_users, t AS n_events,
           round(2.0 * CAST(m AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini,
           round(CAST(cmax AS DOUBLE) / CAST(t AS DOUBLE), 6) AS top_share
    FROM mo ORDER BY scope"""

  /** q334: weekly seasonality profile — per event type, the hour-of-week
    * histogram's peak cell and a χ² statistic against the uniform profile
    * (the "does this metric breathe with the week?" screen that decides
    * whether q232's seasonal-anomaly deseasonalization applies to a type
    * at all: χ²/n near 0 = flat traffic, large = strong weekly rhythm
    * that would otherwise masquerade as drift).
    *
    * Exactness: cell counts exact int64; χ² against uniform reduces
    * algebraically to (168·Σo² − n²)/n — an exact-integer numerator (in
    * DECIMAL(38,0) ↔ HUGEINT, since 168·n² passes 2⁶³ near 2.3e8 events
    * per type) over one double division; the peak cell is a Keys-composite
    * argmax (largest count, then earliest hour — tie-free cross-engine).
    * Scale shape: one corpus-linear rollup to the ≤ types×168 cell frame,
    * everything after on that bounded frame; no window anywhere.
    */
  private def q334(s: SparkSession, d: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = events(s, d)
      .withColumn("how", expr("((ts DIV 1000) DIV 3600000000) % 168"))
      .groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("o"))
    val peakKey = Keys.key(Keys.asc("o", 12), Keys.desc("how", 3))
    cells.groupBy(col("event_type"))
      .agg(sum(col("o")).cast("long").as("n"),
        count(lit(1)).as("n_cells"),
        expr(s"max_by(how, $peakKey)").cast("long").as("peak_how"),
        max(col("o")).cast("long").as("peak_o"),
        sum(dec(col("o")) * dec(col("o"))).as("so2"))
      .select(col("event_type"), col("n").as("n_events"), col("n_cells"),
        col("peak_how"),
        round(col("peak_o").cast("double") / col("n").cast("double"), 6)
          .as("peak_share"),
        round((lit(168).cast("decimal(38,0)") * col("so2")
            - dec(col("n")) * dec(col("n"))).cast("double")
          / col("n").cast("double"), 6).as("chi2_uniform"))
      .orderBy(col("event_type"))
  }

  private val o334 = s"""
    WITH cells AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 168 AS how,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(sum(o) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(arg_max(how, ${Keys.oKey(Keys.oAsc("o", 12),
             Keys.oDesc("how", 3))}) AS BIGINT) AS peak_how,
           round(CAST(max(o) AS DOUBLE) / CAST(sum(o) AS DOUBLE), 6)
             AS peak_share,
           round(CAST(168 * sum(CAST(o AS HUGEINT) * CAST(o AS HUGEINT))
                 - CAST(sum(o) AS HUGEINT) * CAST(sum(o) AS HUGEINT)
                 AS DOUBLE) / CAST(sum(o) AS DOUBLE), 6) AS chi2_uniform
    FROM cells GROUP BY event_type ORDER BY event_type"""

  /** q337: first-touch vs last-touch attribution — the two bookend
    * heuristics every marketing stack runs BESIDE q206's Markov removal
    * effects: for each converting user, credit the channel (event type) of
    * the chronologically FIRST touchpoint before the first purchase, and
    * of the LAST touchpoint before it; the per-channel share gap between
    * the two is the standard "upper-funnel vs closer" readout (a channel
    * with high first-touch and low last-touch share opens journeys it
    * never closes — exactly the disagreement q206's removal effect
    * adjudicates).
    *
    * Cross-engine: both touch picks are Keys-composite argmaxes over
    * exact integer (µs, event_id) — first = max of (desc ts, desc id),
    * last = max of (asc ts, asc id) — tie-free and bit-identical; shares
    * are one double division of exact counts. Scale shape: one purchase
    * rollup, one equi-join on the natural user key, two user-grain
    * argmax rollups collapsing map-side, then everything on the bounded
    * channel frame (the only window runs over that aggregated frame).
    */
  private def q337(s: SparkSession, d: String): DataFrame = {
    val conv = events(s, d).filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(tsUs).as("conv_t"))
    val touches = events(s, d)
      .join(conv, Seq("user_id"))
      .withColumn("tus", tsUs)
      .filter(col("tus") < col("conv_t") &&
        col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type"), col("tus"),
        col("event_id"))
    val firstKey = Keys.key(Keys.desc("tus", 16), Keys.desc("event_id", 13))
    val lastKey = Keys.key(Keys.asc("tus", 16), Keys.asc("event_id", 13))
    val ft = touches.groupBy(col("user_id"))
      .agg(expr(s"max_by(event_type, $firstKey)").as("channel"))
      .groupBy(col("channel")).agg(count(lit(1)).as("n_first"))
    val lt = touches.groupBy(col("user_id"))
      .agg(expr(s"max_by(event_type, $lastKey)").as("channel"))
      .groupBy(col("channel")).agg(count(lit(1)).as("n_last"))
    val w = Window.partitionBy()
    ft.join(lt, Seq("channel"), "full_outer")
      .withColumn("n_first", coalesce(col("n_first"), lit(0L)))
      .withColumn("n_last", coalesce(col("n_last"), lit(0L)))
      .withColumn("tot", sum(col("n_first")).over(w))
      .select(col("channel"), col("n_first"), col("n_last"),
        round(col("n_first").cast("double") / col("tot").cast("double"), 6)
          .as("share_first"),
        round(col("n_last").cast("double") / col("tot").cast("double"), 6)
          .as("share_last"))
      .orderBy(col("channel"))
  }

  private val o337 = s"""
    WITH conv AS (
      SELECT user_id, min(epoch_us(ts)) AS conv_t
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    touches AS (
      SELECT e.user_id, e.event_type, epoch_us(e.ts) AS tus, e.event_id
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE epoch_us(e.ts) < c.conv_t AND e.event_type <> 'purchase'),
    ft AS (
      SELECT channel, CAST(count(*) AS BIGINT) AS n_first
      FROM (SELECT user_id,
              arg_max(event_type, ${Keys.oKey(Keys.oDesc("tus", 16),
                Keys.oDesc("event_id", 13))}) AS channel
            FROM touches GROUP BY user_id)
      GROUP BY channel),
    lt AS (
      SELECT channel, CAST(count(*) AS BIGINT) AS n_last
      FROM (SELECT user_id,
              arg_max(event_type, ${Keys.oKey(Keys.oAsc("tus", 16),
                Keys.oAsc("event_id", 13))}) AS channel
            FROM touches GROUP BY user_id)
      GROUP BY channel),
    j AS (
      SELECT coalesce(ft.channel, lt.channel) AS channel,
             coalesce(n_first, 0) AS n_first, coalesce(n_last, 0) AS n_last
      FROM ft FULL OUTER JOIN lt ON lt.channel = ft.channel)
    SELECT channel, n_first, n_last,
           round(CAST(n_first AS DOUBLE)
                 / CAST(sum(n_first) OVER () AS DOUBLE), 6) AS share_first,
           round(CAST(n_last AS DOUBLE)
                 / CAST(sum(n_first) OVER () AS DOUBLE), 6) AS share_last
    FROM j ORDER BY channel"""

  /** Panel size for q246: the Theil–Sen estimator is O(n²) pairs per key,
    * so the trend is fit on each type's first $TsPanel events (a FIXED
    * panel — at 100 TB the panel is a deterministic per-key sample, and
    * pair count stays C($TsPanel, 2) = ${TsPanel * (TsPanel - 1) / 2}
    * regardless of corpus size). */
  private val TsPanel = 40

  /** q246: Theil–Sen robust trend per event type — the median of all
    * pairwise slopes (value change per minute) over a fixed per-type
    * panel. The robust alternative to OLS trend fitting (q243's
    * regression recipe): a single spiked metric value moves the OLS slope
    * arbitrarily but shifts the slope MEDIAN by at most one rank, which
    * is why monitoring pipelines fit Theil–Sen before alerting on drift.
    *
    * Scale shape: the panel bound makes the quadratic explicit and
    * constant — per type, $TsPanel rows self-join into ≤780 slope pairs
    * (equi-join on event_type over a frame already reduced to panel
    * grain; no corpus² anywhere). Slopes are exact IEEE divisions of
    * µs-derived minute deltas; only the MEDIAN (the established
    * interpolated-percentile parity) and the final rounding touch
    * anything engine-sensitive.
    */
  private def q246(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id"))
    val panel = events(s, d)
      .select(col("event_type"), col("event_id"),
        expr("ts DIV 1000 DIV 60000000").as("tmin"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TsPanel)
    val a = panel.select(col("event_type"), col("rn").as("i"),
      col("tmin").as("ti"), col("value").as("vi"))
    val b = panel.select(col("event_type"), col("rn").as("j"),
      col("tmin").as("tj"), col("value").as("vj"))
    a.join(b, Seq("event_type"))
      .filter(col("j") > col("i") && col("tj") =!= col("ti"))
      .select(col("event_type"),
        ((col("vj") - col("vi")) / (col("tj") - col("ti"))).as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5D)"), 6).as("ts_slope"))
      .orderBy(col("event_type"))
  }

  private val o246 = s"""
    WITH panel AS (
      SELECT event_type, event_id,
             epoch_us(ts) // 60000000 AS tmin, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY event_id) AS rn
      FROM events),
    p AS (SELECT * FROM panel WHERE rn <= $TsPanel),
    slopes AS (
      SELECT a.event_type,
             (b.value - a.value) / (b.tmin - a.tmin) AS slope
      FROM p a JOIN p b ON b.event_type = a.event_type AND b.rn > a.rn
      WHERE b.tmin <> a.tmin)
    SELECT event_type, count(*) AS n_pairs,
           round(quantile_cont(slope, 0.5), 6) AS ts_slope
    FROM slopes GROUP BY event_type ORDER BY event_type"""

  /** q247: frequent contiguous event sequences (sequential-pattern mining,
    * the 3-gram tier): per user, order events by time and count every
    * contiguous (type → type → type) trigram across the corpus; report the
    * top 15 with support. The sequence-alphabet analogue of q195's
    * association rules — co-occurrence there, ORDER here — and the
    * input a next-event-prediction or funnel-discovery pipeline mines
    * before it knows which funnels (q107) to define.
    *
    * Scale shape: two `lead()`s over the (user, time) window — the same
    * one-shuffle co-partitioned pass every sessionization query pays, no
    * self-joins — then a count rollup over a domain bounded by
    * |alphabet|³, and a fixed top-k. Integer counts end-to-end; ordering
    * total via (count DESC, sequence).
    */
  private def q247(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val tot = events(s, d).agg(count(lit(1)).as("n_events"))
      .withColumn("jk", pmod(col("n_events"), lit(1)))
    events(s, d)
      .select(col("user_id"), col("event_id"), tsUs.as("us"),
        col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("seq"))
      .groupBy(col("seq")).agg(count(lit(1)).as("n"))
      .withColumn("jk", pmod(col("n"), lit(1)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("seq"), col("n"),
        round(col("n").cast("double") / col("n_events"), 6).as("support"))
      .orderBy(col("n").desc, col("seq"))
      .limit(15)
  }

  private val o247 = """
    WITH seqs AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS seq
      FROM (
        SELECT event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id))
      WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
    tot AS (SELECT count(*) AS n_events FROM events)
    SELECT seq, count(*) AS n,
           round(CAST(count(*) AS DOUBLE) / any_value(tot.n_events), 6)
             AS support
    FROM seqs, tot GROUP BY seq
    ORDER BY n DESC, seq LIMIT 15"""

  /** q248: equal-frequency binning + Weight-of-Evidence / Information
    * Value — the feature-screening transform a credit-risk-style training
    * pipeline applies before model fitting: bin a continuous feature
    * (order total price) into quintiles, and per bin report the good/bad
    * split (label = finalized order status 'F'), WoE = ln(dist_good /
    * dist_bad) and the bin's IV contribution; ΣIV grades the feature's
    * predictive power. Bins come from four INTERPOLATED quintile cut
    * points (one percentile aggregation, q184's recipe) — never
    * `ntile() OVER ()`, whose global sort of the fact table is the
    * scale-killer the RFM query already documents.
    *
    * Cut points are rounded at 6 before the comparisons so bin
    * assignment is bit-stable cross-engine; WoE/IV are scalars of ln over
    * exact integer-count ratios, rounded at 6 (the transcendental-parity
    * recipe). A bin with zero goods or zero bads has no finite WoE — both
    * dialects guard it to NULL explicitly (DuckDB's ln(0) is a hard
    * error, Spark's is NULL; the CASE keeps the engines aligned by
    * construction). Percentile state: x is the 2-decimal o_totalprice,
    * so the exact percentile's distinct-value state is bounded by the
    * price domain, not by rows (q225's stance).
    */
  private def q248(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .select(col("o_totalprice").as("x"),
        (col("o_orderstatus") === "F").cast("int").as("bad"))
    val cuts = o.agg(
      round(expr("percentile(x, 0.2D)"), 6).as("c1"),
      round(expr("percentile(x, 0.4D)"), 6).as("c2"),
      round(expr("percentile(x, 0.6D)"), 6).as("c3"),
      round(expr("percentile(x, 0.8D)"), 6).as("c4"))
      .withColumn("jk", pmod(col("c1").cast("long"), lit(1)))
    val binned = o.withColumn("jk", pmod(col("bad").cast("long") * 0L, lit(1L)))
      .join(broadcast(cuts), Seq("jk"))
      .withColumn("bin",
        when(col("x") <= col("c1"), 0)
          .when(col("x") <= col("c2"), 1)
          .when(col("x") <= col("c3"), 2)
          .when(col("x") <= col("c4"), 3)
          .otherwise(4))
    val tot = o.agg(
      sum(lit(1) - col("bad")).cast("double").as("tg"),
      sum(col("bad")).cast("double").as("tb"))
      .withColumn("jk", pmod(col("tb").cast("long"), lit(1L)))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(lit(1) - col("bad")).cast("long").as("n_good"),
        sum(col("bad")).cast("long").as("n_bad"))
      .withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("bin"), col("n"), col("n_good"), col("n_bad"),
        round(when(col("n_good") > 0 && col("n_bad") > 0, log(
          (col("n_good") / col("tg")) / (col("n_bad") / col("tb")))), 6)
          .as("woe"),
        round(when(col("n_good") > 0 && col("n_bad") > 0,
          (col("n_good") / col("tg") - col("n_bad") / col("tb"))
            * log((col("n_good") / col("tg")) / (col("n_bad") / col("tb")))),
          6).as("iv_term"))
      .orderBy(col("bin"))
  }

  private val o248 = """
    WITH o AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders),
    cuts AS (
      SELECT round(quantile_cont(x, 0.2), 6) AS c1,
             round(quantile_cont(x, 0.4), 6) AS c2,
             round(quantile_cont(x, 0.6), 6) AS c3,
             round(quantile_cont(x, 0.8), 6) AS c4
      FROM o),
    binned AS (
      SELECT CASE WHEN x <= c1 THEN 0 WHEN x <= c2 THEN 1
                  WHEN x <= c3 THEN 2 WHEN x <= c4 THEN 3
                  ELSE 4 END AS bin,
             bad
      FROM o CROSS JOIN cuts),
    tot AS (
      SELECT CAST(sum(1 - bad) AS DOUBLE) AS tg,
             CAST(sum(bad) AS DOUBLE) AS tb
      FROM o)
    SELECT bin, count(*) AS n,
           CAST(sum(1 - bad) AS BIGINT) AS n_good,
           CAST(sum(bad) AS BIGINT) AS n_bad,
           round(CASE WHEN sum(1 - bad) > 0 AND sum(bad) > 0 THEN
                 ln((sum(1 - bad) / any_value(tot.tg))
                  / (sum(bad) / any_value(tot.tb))) END, 6) AS woe,
           round(CASE WHEN sum(1 - bad) > 0 AND sum(bad) > 0 THEN
                 (sum(1 - bad) / any_value(tot.tg)
                  - sum(bad) / any_value(tot.tb))
                 * ln((sum(1 - bad) / any_value(tot.tg))
                    / (sum(bad) / any_value(tot.tb))) END, 6) AS iv_term
    FROM binned, tot GROUP BY bin ORDER BY bin"""

  /** q249: CUPED variance reduction — the standard experimentation
    * adjustment (Deng et al., WSDM 2013) the A/B tier (q187's z-test)
    * feeds at scale: per user, pre-period activity (value sum before the
    * corpus time midpoint) is the covariate x, experiment-period sum is
    * the metric y, arms are user_id parity; θ = cov(x,y)/var(x) (pooled,
    * pre-period only ⇒ unbiased), and the adjusted metric
    * y* = y − θ·(x − mean(x)) keeps each arm's mean estimate unbiased
    * while removing the x-explained variance — the report shows per-arm
    * raw vs CUPED means plus the realized variance-reduction ratio.
    *
    * Cross-engine: θ and mean(x) are ROUNDED at 6 before the adjustment
    * is applied, so both engines adjust with bit-identical coefficients
    * (per-user sums differ only in addend order — ulp-level — and every
    * reported aggregate re-rounds at 6). One user-grain rollup, two
    * single-row broadcasts; no shuffle beyond the user aggregation.
    */
  private def q249(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), tsUs.as("us"), col("value"))
    val mid = ev.agg((((min(col("us")) + max(col("us"))))).as("mm"))
      .select(expr("mm DIV 2").as("mid"))
      .withColumn("jk", pmod(col("mid"), lit(1L)))
    val users = ev.withColumn("jk", pmod(col("user_id"), lit(1L)))
      .join(broadcast(mid), Seq("jk"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") < col("mid"), col("value")).otherwise(0.0))
          .as("x"),
        sum(when(col("us") >= col("mid"), col("value")).otherwise(0.0))
          .as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    // var_pop(x)=0 degenerate: DuckDB's /0 yields NULL but Spark-4 ANSI
    // division THROWS, so θ needs an explicit NULL guard; and jk must stay
    // non-NULL even when θ is NULL (the oracle's CROSS JOIN keeps every
    // row — a NULL join key here would drop them all)
    val coef = users.agg(
      round(when(var_pop(col("x")) =!= 0.0,
        covar_pop(col("x"), col("y")) / var_pop(col("x"))), 6)
        .as("theta"),
      round(avg(col("x")), 6).as("mx"))
      .withColumn("jk",
        pmod(coalesce(col("theta").cast("long"), lit(0L)), lit(1L)))
    val adj = users.withColumn("jk", pmod(col("user_id"), lit(1L)))
      .join(broadcast(coef), Seq("jk"))
      .withColumn("ystar",
        col("y") - col("theta") * (col("x") - col("mx")))
    val vr = adj.agg(
      round(when(var_pop(col("y")) =!= 0.0,
        lit(1.0) - var_pop(col("ystar")) / var_pop(col("y"))), 6)
        .as("var_reduction"))
      // same degenerate case one stage later: θ NULL propagates through
      // ystar into var_reduction, so this jk needs the identical guard
      .withColumn("jk",
        pmod(coalesce(col("var_reduction").cast("long"), lit(0L)), lit(1L)))
    adj.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("y")), 6).as("mean_y_raw"),
        round(avg(col("ystar")), 6).as("mean_y_cuped"),
        round(first(col("theta")), 6).as("theta"))
      .withColumn("jk", pmod(col("arm"), lit(1L)))
      .join(broadcast(vr), Seq("jk"))
      .select(col("arm"), col("n_users"), col("mean_y_raw"),
        col("mean_y_cuped"), col("theta"), col("var_reduction"))
      .orderBy(col("arm"))
  }

  private val o249 = """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
    users AS (
      SELECT user_id,
             sum(CASE WHEN us < mid THEN value ELSE 0.0 END) AS x,
             sum(CASE WHEN us >= mid THEN value ELSE 0.0 END) AS y,
             user_id % 2 AS arm
      FROM ev CROSS JOIN mid GROUP BY user_id),
    coef AS (
      SELECT round(covar_pop(x, y) / var_pop(x), 6) AS theta,
             round(avg(x), 6) AS mx
      FROM users),
    adj AS (
      SELECT u.*, c.theta, u.y - c.theta * (u.x - c.mx) AS ystar
      FROM users u CROSS JOIN coef c),
    vr AS (
      SELECT round(1.0 - var_pop(ystar) / var_pop(y), 6) AS var_reduction
      FROM adj)
    SELECT arm, count(*) AS n_users,
           round(avg(y), 6) AS mean_y_raw,
           round(avg(ystar), 6) AS mean_y_cuped,
           round(any_value(theta), 6) AS theta,
           any_value(vr.var_reduction) AS var_reduction
    FROM adj, vr GROUP BY arm ORDER BY arm"""

  /** q250: trimmed and winsorized means per event type — the robust
    * central-tendency pair between the plain mean and q225's MAD tier:
    * rank values with the (value, event_id) total order, cut k = ⌊n/20⌋
    * from each tail; the trimmed mean averages the middle, the winsorized
    * mean clamps each tail to the surviving boundary values (rank k+1 and
    * n−k) — the heavy-tail-resistant metric aggregation an experimentation
    * pipeline reports alongside the raw mean.
    *
    * Scale shape (rewritten r11, was a per-type row-rank window): a
    * row-grain `row_number` partitioned by the O(1)-cardinality
    * event_type would make each task sort the whole corpus at 100 TB, so
    * the ranks are re-derived on the DISTINCT-VALUE grain — q152's
    * pattern: one hash aggregation to (type, value, count), a cumulative
    * window over the distinct values only (bounded by the value domain,
    * never by rows), and every tail statistic read off the (below, c)
    * span arithmetic: a value's overlap with the kept middle ⟦k, n−k⟧ is
    * `min(below+c, n−k) − max(below, k)` clamped at 0, and the boundary
    * values are the spans containing ranks k+1 / n−k — conditional
    * aggregates, no join-back needed. Tie order never matters (tied rows
    * share the value), so results are identical to the row-rank form;
    * the oracle SQL is UNCHANGED and keeps hash-matching. Only the final
    * averages round (6).
    */
  private def q250(s: SparkSession, d: String): DataFrame = {
    val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wt = Window.partitionBy(col("event_type"))
    val vals = events(s, d)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"), sum(col("value")).as("vsum"))
      .withColumn("below",
        coalesce(sum(col("c")).over(
          wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("c")).over(wt))
      .withColumn("k", expr("n DIV 20"))
      .withColumn("ov",
        greatest(least(col("below") + col("c"), col("n") - col("k"))
          - greatest(col("below"), col("k")), lit(0L)))
    vals.groupBy(col("event_type"))
      .agg(
        max(col("n")).cast("long").as("n"),
        max(col("k")).cast("long").as("k_trim"),
        round(sum(col("vsum")) / max(col("n")), 6).as("mean_raw"),
        round(sum(col("value") * col("ov"))
          / (max(col("n")) - lit(2) * max(col("k"))), 6).as("mean_trimmed"),
        max(when(col("below") <= col("k")
          && col("k") < col("below") + col("c"), col("value"))).as("lo"),
        max(when(col("below") < col("n") - col("k")
          && col("n") - col("k") <= col("below") + col("c"), col("value")))
          .as("hi"),
        sum(col("value") * col("ov")).as("mid_sum"))
      .select(col("event_type"), col("n"), col("k_trim"), col("mean_raw"),
        col("mean_trimmed"),
        round((col("mid_sum") + col("k_trim") * (col("lo") + col("hi")))
          / col("n"), 6).as("mean_winsorized"))
      .orderBy(col("event_type"))
  }

  private val o250 = """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    k AS (SELECT *, n // 20 AS k FROM ranked)
    SELECT event_type,
           CAST(any_value(n) AS BIGINT) AS n,
           CAST(any_value(k) AS BIGINT) AS k_trim,
           round(avg(value), 6) AS mean_raw,
           round(avg(CASE WHEN rn > k AND rn <= n - k THEN value END), 6)
             AS mean_trimmed,
           round((sum(CASE WHEN rn > k AND rn <= n - k THEN value
                      ELSE 0.0 END)
                  + any_value(k) * (max(CASE WHEN rn = k + 1 THEN value END)
                                  + max(CASE WHEN rn = n - k THEN value END)))
                 / any_value(n), 6) AS mean_winsorized
    FROM k GROUP BY event_type ORDER BY event_type"""

  /** q251: difference-in-differences — the 2×2 causal readout (treat ×
    * pre/post at the corpus time midpoint, arms = user_id parity standing
    * in for a rollout flag): four cell means of the metric and
    * DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre), the estimator a
    * rollout-analysis pipeline reports when assignment wasn't randomized
    * per event. One pass: a single conditional rollup over the event
    * grain (no user grain needed for cell means), one broadcast midpoint.
    * Cell means round at 6; DiD is re-derived from the ROUNDED cell means
    * (one subtraction chain of identical doubles — bit-stable).
    */
  private def q251(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), tsUs.as("us"), col("value"))
    val mid = ev.agg((min(col("us")) + max(col("us"))).as("mm"))
      .select(expr("mm DIV 2").as("mid"))
      .withColumn("jk", pmod(col("mid"), lit(1L)))
    def cell(t: Int, post: Boolean) = round(avg(when(
      pmod(col("user_id"), lit(2L)) === t &&
        (if (post) col("us") >= col("mid") else col("us") < col("mid")),
      col("value"))), 6)
    ev.withColumn("jk", pmod(col("user_id"), lit(1L)))
      .join(broadcast(mid), Seq("jk"))
      .agg(
        cell(1, post = false).as("treat_pre"),
        cell(1, post = true).as("treat_post"),
        cell(0, post = false).as("ctrl_pre"),
        cell(0, post = true).as("ctrl_post"))
      .select(col("treat_pre"), col("treat_post"), col("ctrl_pre"),
        col("ctrl_post"),
        round((col("treat_post") - col("treat_pre"))
          - (col("ctrl_post") - col("ctrl_pre")), 6).as("did"))
  }

  private val o251 = """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
    cells AS (
      SELECT
        round(avg(CASE WHEN user_id % 2 = 1 AND us < mid
                  THEN value END), 6) AS treat_pre,
        round(avg(CASE WHEN user_id % 2 = 1 AND us >= mid
                  THEN value END), 6) AS treat_post,
        round(avg(CASE WHEN user_id % 2 = 0 AND us < mid
                  THEN value END), 6) AS ctrl_pre,
        round(avg(CASE WHEN user_id % 2 = 0 AND us >= mid
                  THEN value END), 6) AS ctrl_post
      FROM ev CROSS JOIN mid)
    SELECT treat_pre, treat_post, ctrl_pre, ctrl_post,
           round((treat_post - treat_pre) - (ctrl_post - ctrl_pre), 6)
             AS did
    FROM cells"""

  /** q256: CUSUM changepoint detection — per event type, the cumulative
    * sum of deviations from the series mean over the (time, event_id)
    * order; the index where |S| peaks is the classic single-changepoint
    * estimate (a mean shift at t makes S a tent with its apex at t), and
    * the peak magnitude is the shift evidence a monitoring pipeline
    * thresholds. Complements q232 (which flags cells against a seasonal
    * baseline) by LOCATING a level change in time.
    *
    * Cross-engine: the per-type mean is ROUNDED at 6 before the
    * subtraction, so both engines accumulate the identical addend set;
    * |S| is rounded at 6 before the argmax, whose (rounded |S| desc, rn)
    * order is a tie-free [[Keys]] composite.
    *
    * Scale shape (rewritten r11, was a per-type row window — a single
    * task sorting the whole corpus slice at 100 TB): the prefix sum is
    * TWO-PHASE, the q271 range-cut recipe applied to running sums —
    * day-grain bucket partials (one hash aggregation), cumulative bucket
    * offsets over the bounded (type, day) frame, and a within-(type, day)
    * running pass whose partition count GROWS with types×days. Bucket
    * order refines time order and same-µs ties share a bucket, so
    * rn = bucket_offset + in-bucket row_number is integer-identical to
    * the global row order; S accumulates in EXACT 1e-6-unit longs (r12)
    * so the two-phase re-association is bit-identical to the oracle's
    * sequential sum by algebra, not by rounding margin. The argmax
    * itself is a `max_by` AGGREGATION (map-side combining), not a
    * second window.
    */
  private def q256(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = events(s, d)
      .select(col("event_type"), col("event_id"), tsUs.as("us"),
        col("value"))
    val mu = ev.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 6).as("mu"), count(lit(1)).as("n"))
    // deviations quantized to EXACT 1e-6-unit longs (r12, ADVICE): the
    // two-phase prefix sum re-associates addends relative to DuckDB's
    // sequential window sum, so a double S within ulp noise of a 0.5e-6
    // rounding boundary could round differently across engines and flip
    // the argmax — integer accumulation is order-independent by algebra,
    // and the single final /1e6 is the only float op on the S path
    val dev = ev.join(broadcast(mu), Seq("event_type"))
      .withColumn("devu",
        round((col("value") - col("mu")) * lit(1000000.0), 0).cast("long"))
      .withColumn("bucket", expr(s"us DIV $dayUs"))
    val wb = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val boffs = dev.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("devu")).as("bsum"), count(lit(1)).as("bcnt"))
      .withColumn("boff", coalesce(sum(col("bsum")).over(
        wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("brn", coalesce(sum(col("bcnt")).over(
        wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("bucket"), col("boff"), col("brn"))
    val wIn = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("us"), col("event_id"))
    val cum = dev
      .withColumn("rnIn", row_number().over(wIn))
      .withColumn("sIn", sum(col("devu")).over(
        wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(boffs), Seq("event_type", "bucket"))
      .withColumn("rn", (col("brn") + col("rnIn")).cast("int"))
      .withColumn("abs_su", abs(col("boff") + col("sIn")))
      .withColumn("abs_s", round(col("abs_su") / lit(1000000.0), 6))
    val k = Keys.key(Keys.asc("abs_su", 16), Keys.desc("rn", 10))
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        expr(s"max_by(rn, $k)").as("cp_index"),
        expr(s"max_by(us, $k)").as("cp_us"),
        expr(s"max_by(abs_s, $k)").as("max_abs_cusum"))
      .orderBy(col("event_type"))
  }

  private val o256 = """
    WITH ev AS (SELECT event_type, event_id, epoch_us(ts) AS us, value
                FROM events),
    mu AS (SELECT event_type, round(avg(value), 6) AS mu,
                  count(*) AS n
           FROM ev GROUP BY event_type),
    cum AS (
      SELECT e.event_type, m.n,
             row_number() OVER w AS rn, e.us,
             round(abs(sum(CAST(round((e.value - m.mu) * 1000000)
                                AS BIGINT)) OVER (
               PARTITION BY e.event_type ORDER BY e.us, e.event_id
               ROWS UNBOUNDED PRECEDING)) / 1000000.0, 6) AS abs_s
      FROM ev e JOIN mu m ON m.event_type = e.event_type
      WINDOW w AS (PARTITION BY e.event_type ORDER BY e.us, e.event_id))
    SELECT event_type, n, CAST(rn AS INT) AS cp_index, us AS cp_us,
           abs_s AS max_abs_cusum
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs_s DESC, rn) AS pick
          FROM cum)
    WHERE pick = 1 ORDER BY event_type"""

  /** Bootstrap replicate count for q257. */
  private val BootReps = 50

  /** q257: deterministic Poisson bootstrap confidence intervals — the
    * scale-out bootstrap (each row's weight in replicate r is an
    * independent Poisson(1) draw, so no replicate ever needs a full
    * resample pass): per event type, $BootReps replicate means of
    * `value`, with the 2.5%/97.5% quantiles of the replicate
    * distribution as the CI. The draw is DERANDOMIZED the q105/q219 way —
    * the md5 of (replicate, event_id) yields a uniform, inverted through
    * the Poisson(1) CDF as fixed literal thresholds — so both engines
    * (and any re-run) materialize the identical resample universe; this
    * is what makes a bootstrap auditable in a pipeline.
    *
    * Scale shape: one broadcast of the $BootReps-row replicate frame
    * (equi-join on a column-derived key — the row expansion is a hash
    * join, never nested-loop), one (type, rep) rollup with map-side
    * partials, one percentile over $BootReps values per type. Weighted
    * sums are FP but ulp-bounded; all reported stats round at 5.
    */
  private def q257(s: SparkSession, d: String): DataFrame = {
    val repFrame = s.range(BootReps).select(col("id").as("rep"))
      .withColumn("jk", pmod(col("rep"), lit(1L)))
    val u = (conv(substring(md5(concat(col("rep").cast("string"), lit(":"),
      col("event_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    // Poisson(1) inverse CDF as fixed thresholds: P(<=k) for k = 0..4
    val wgt = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .otherwise(5L)
    // parallelize: the $BootReps-fold expansion and its two md5+conv per
    // expanded row all sit in the SCAN stage (before any exchange), and a
    // single-row-group parquet file plans as ONE partition — unspread,
    // the whole resample universe ran on one core (profiled 4.0 s serial
    // at sf0.1/32 cores; the q221/Tables.parallelize lesson)
    val repMeans = parallelize(s, events(s, d)
      .select(col("event_type"), col("event_id"), col("value")))
      .withColumn("jk", pmod(col("event_id"), lit(1L)))
      .join(broadcast(repFrame), Seq("jk"))
      .withColumn("w", wgt)
      .groupBy(col("event_type"), col("rep"))
      // a replicate whose Poisson weights all landed on 0 has no mass:
      // NULL replicate mean on both engines (the quantile step skips it)
      .agg(when(sum(col("w")) > 0,
        sum(col("w") * col("value")) / sum(col("w"))).as("rm"))
    repMeans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        round(avg(col("rm")), 5).as("boot_mean"),
        round(expr("percentile(rm, 0.025D)"), 5).as("ci_lo"),
        round(expr("percentile(rm, 0.975D)"), 5).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  private val o257 = s"""
    WITH reps AS (
      SELECT CAST(unnest(range(0, $BootReps)) AS BIGINT) AS rep),
    weighted AS (
      SELECT event_type, rep,
             CASE
               WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               ELSE 5 END AS w,
             value
      FROM (
        SELECT e.event_type, e.value, r.rep,
               ((('0x' || substr(md5(CAST(r.rep AS VARCHAR) || ':'
                   || CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE
                 + 0.5) / 4294967296.0 AS u
        FROM events e CROSS JOIN reps r)),
    rm AS (
      SELECT event_type, rep, sum(w * value) / sum(w) AS rm
      FROM weighted GROUP BY event_type, rep)
    SELECT event_type, count(*) AS n_reps,
           round(avg(rm), 5) AS boot_mean,
           round(quantile_cont(rm, 0.025), 5) AS ci_lo,
           round(quantile_cont(rm, 0.975), 5) AS ci_hi
    FROM rm GROUP BY event_type ORDER BY event_type"""

  /** q258: weekly additive decomposition — value ~ global level +
    * day-of-week effect + residual, the two-pass seasonal decomposition
    * (the moving parts of STL without loess) that turns q192's calendar
    * heatmap into MODEL components: per event type, the overall mean,
    * each weekday's additive offset, and how much variance the weekday
    * component explains (1 − var(resid)/var(value)). A pipeline subtracts
    * the seasonal component before anomaly thresholds (q232's motivation)
    * or drift fits (q246). Two mean rollups + one variance rollup; the
    * level and effects are ROUNDED at 6 before the residual pass so both
    * engines subtract identical components.
    */
  private def q258(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("weekday(timestamp_micros(ts DIV 1000))").cast("int").as("dow"),
      col("value"))
    val lvl = ev.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 6).as("level"))
    val eff = ev.join(broadcast(lvl), Seq("event_type"))
      .groupBy(col("event_type"), col("dow"), col("level"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value") - col("level")), 6).as("dow_effect"))
    val resid = ev.join(broadcast(lvl), Seq("event_type"))
      .join(broadcast(eff.select(col("event_type"), col("dow"),
        col("dow_effect"))), Seq("event_type", "dow"))
      .groupBy(col("event_type"))
      // var_pop(value)=0 (constant-value type): NULL R² on both engines —
      // DuckDB via /0 -> NULL, Spark via the guard (ANSI /0 throws)
      .agg(round(when(var_pop(col("value")) =!= 0.0, lit(1.0) -
        var_pop(col("value") - col("level") - col("dow_effect"))
          / var_pop(col("value"))), 6).as("seasonal_r2"))
    eff.join(broadcast(resid), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n"), col("level"),
        col("dow_effect"), col("seasonal_r2"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val o258 = """
    WITH ev AS (
      SELECT event_type, CAST(isodow(ts) - 1 AS INT) AS dow, value
      FROM events),
    lvl AS (SELECT event_type, round(avg(value), 6) AS level
            FROM ev GROUP BY event_type),
    eff AS (
      SELECT e.event_type, e.dow, any_value(l.level) AS level,
             count(*) AS n,
             round(avg(e.value - l.level), 6) AS dow_effect
      FROM ev e JOIN lvl l ON l.event_type = e.event_type
      GROUP BY e.event_type, e.dow),
    resid AS (
      SELECT e.event_type,
             round(1.0 - var_pop(e.value - l.level - f.dow_effect)
                         / var_pop(e.value), 6) AS seasonal_r2
      FROM ev e
      JOIN lvl l ON l.event_type = e.event_type
      JOIN eff f ON f.event_type = e.event_type AND f.dow = e.dow
      GROUP BY e.event_type)
    SELECT f.event_type, f.dow, f.n, f.level, f.dow_effect, r.seasonal_r2
    FROM eff f JOIN resid r ON r.event_type = f.event_type
    ORDER BY f.event_type, f.dow"""

  /** q259: two-sample Kolmogorov–Smirnov drift statistic — each event
    * type's `value` distribution against the pooled REST of the corpus:
    * D = max |F_type(v) − F_rest(v)| over the merged support. The
    * distribution-free sibling of q222's PSI (no binning choice to
    * defend) and the screen a feature-monitoring pipeline runs per
    * feature per slice. Both empirical CDFs are EXACT rationals
    * (RANGE-framed cumulative counts over the (type-membership, value)
    * merge — the range frame folds ties in on both engines identically),
    * so D is a max over differences of two exact divisions; one rounded
    * column at the end.
    *
    * Scale shape (rewritten r11, was an explode of the corpus into every
    * contrast partition): the fact rows collapse FIRST to the
    * distinct-(type, value) grain (one hash aggregation, bounded by
    * |types| × the value domain — never by rows), the bounded support is
    * replicated |types|× (distinct values only, not the corpus), and the
    * CDFs are cumulative counts over that bounded frame. Each window
    * partition holds ≤ |value domain| rows regardless of corpus size —
    * the q152 distinct-value-grain stance. Values are distinct within a
    * partition, so a ROWS cumulative reproduces the old RANGE
    * (tie-folding) frame exactly; the same integer counts divide into
    * the same doubles, and the oracle SQL's guarded max hash-matches
    * unchanged. The `nb > 0` guard (both dialects) pins the single-type
    * degenerate corpus to NULL instead of engine-specific ∞.
    */
  private def q259(s: SparkSession, d: String): DataFrame = {
    val types = events(s, d).select(col("event_type")).distinct()
      .select(collect_list(col("event_type")).as("ts"))
      .withColumn("jk", pmod(size(col("ts")).cast("long"), lit(1L)))
    val ptv = events(s, d)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("ct"))
    val support = ptv.groupBy(col("value")).agg(sum(col("ct")).as("cv"))
      .withColumn("jk", pmod(col("cv"), col("cv")))
      .join(broadcast(types), Seq("jk"))
      .select(explode(col("ts")).as("t"), col("value"), col("cv"))
    val contrast = support
      .join(ptv.select(col("event_type").as("t"), col("value"),
          col("ct")), Seq("t", "value"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val w = Window.partitionBy(col("t")).orderBy(col("value"))
    val wt = Window.partitionBy(col("t"))
    contrast
      .withColumn("ca", sum(col("ct")).over(w))
      .withColumn("call", sum(col("cv")).over(w))
      .withColumn("na", sum(col("ct")).over(wt))
      .withColumn("ntot", sum(col("cv")).over(wt))
      .withColumn("cb", col("call") - col("ca"))
      .withColumn("nb", col("ntot") - col("na"))
      .groupBy(col("t").as("event_type"))
      .agg(max(col("na")).cast("long").as("n_type"),
        max(col("nb")).cast("long").as("n_rest"),
        round(max(when(col("nb") > 0,
          abs(col("ca") / col("na").cast("double")
            - col("cb") / col("nb").cast("double")))), 6).as("ks_d"))
      .orderBy(col("event_type"))
  }

  private val o259 = """
    WITH types AS (SELECT DISTINCT event_type AS t FROM events),
    contrast AS (
      SELECT ty.t, e.event_type, e.value,
             CASE WHEN e.event_type = ty.t THEN 1 ELSE 0 END AS m
      FROM events e CROSS JOIN types ty),
    cum AS (
      SELECT t,
             sum(m) OVER (PARTITION BY t ORDER BY value
               RANGE UNBOUNDED PRECEDING) AS ca,
             sum(1 - m) OVER (PARTITION BY t ORDER BY value
               RANGE UNBOUNDED PRECEDING) AS cb,
             sum(m) OVER (PARTITION BY t) AS na,
             sum(1 - m) OVER (PARTITION BY t) AS nb
      FROM contrast)
    SELECT t AS event_type,
           CAST(max(na) AS BIGINT) AS n_type,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(max(CASE WHEN nb > 0 THEN abs(ca / CAST(na AS DOUBLE)
             - cb / CAST(nb AS DOUBLE)) END), 6) AS ks_d
    FROM cum GROUP BY t ORDER BY t"""

  /** q260: ROC-AUC per segment via the Mann–Whitney U rank statistic —
    * the model-evaluation readout the calibration tier (q220's ECE)
    * doesn't provide: does the SCORE rank positives above negatives at
    * all? AUC = (Σ ranks_pos − n⁺(n⁺+1)/2) / (n⁺·n⁻) with midrank tie
    * handling, computed per o_orderpriority segment (order total price
    * "scoring" finalized status — the stand-in for model-score vs
    * label). Midranks are count(<v) + (count(=v)+1)/2 off two window
    * frames (a RANGE cumulative and a value-partition count), so every
    * rank is a multiple of 0.5 — sums of halves are EXACT in doubles at
    * any realistic eval-set size and in any addend order, making the
    * statistic bit-stable with no rounding tricks; only final divisions
    * round.
    *
    * Scale shape (rewritten r11, was a per-row rank window partitioned
    * by the 5-value segment — a single task sorting the whole slice at
    * 100 TB): scores collapse first to the distinct-(segment, score)
    * grain — one hash aggregation carrying (count, positive count) — and
    * the midrank of EVERY row tied at a score is read off that grain:
    * cle = cumulative count over the bounded distinct-score frame,
    * midrank = (cle − c) + (c+1)/2, and the positive rank sum is
    * Σ c_pos · midrank. Window partitions hold ≤ |score domain| rows
    * (o_totalprice is 2-decimal ⇒ domain-bounded) regardless of corpus
    * size. Midranks are halves and c_pos is an integer, so every product
    * and sum is exact in doubles — bit-identical to the row-rank form;
    * the oracle SQL is UNCHANGED and keeps hash-matching.
    */
  private def q260(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderpriority").as("seg"),
      col("o_totalprice").as("score"),
      (col("o_orderstatus") === "F").cast("long").as("pos"))
    val wle = Window.partitionBy(col("seg")).orderBy(col("score"))
    val ranked = o
      .groupBy(col("seg"), col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("cpos"))
      .withColumn("cle", sum(col("c")).over(wle))
      .withColumn("midrank",
        (col("cle") - col("c")).cast("double")
          + (col("c").cast("double") + 1.0) / 2.0)
    ranked.groupBy(col("seg"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("cpos")).cast("long").as("n_pos"),
        sum(col("cpos").cast("double") * col("midrank"))
          .as("rank_sum_pos"))
      .select(col("seg"), col("n"), col("n_pos"),
        (col("n") - col("n_pos")).as("n_neg"),
        // all-positive / all-negative segment: U's denominator is 0 —
        // NULL AUC on both engines (DuckDB /0 -> NULL; ANSI would throw)
        round(when(col("n_pos") > 0 && col("n_pos") < col("n"),
          (col("rank_sum_pos")
            - col("n_pos").cast("double") * (col("n_pos") + 1) / 2.0)
          / (col("n_pos").cast("double") * (col("n") - col("n_pos")))), 6)
          .as("auc"))
      .orderBy(col("seg"))
  }

  private val o260 = """
    WITH o AS (
      SELECT o_orderpriority AS seg, o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders),
    ranked AS (
      SELECT seg, pos,
             CAST(cle - ceq AS DOUBLE)
               + (CAST(ceq AS DOUBLE) + 1.0) / 2.0 AS midrank
      FROM (SELECT seg, pos,
              count(*) OVER (PARTITION BY seg ORDER BY score
                RANGE UNBOUNDED PRECEDING) AS cle,
              count(*) OVER (PARTITION BY seg, score) AS ceq
            FROM o))
    SELECT seg, count(*) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(count(*) - sum(pos) AS BIGINT) AS n_neg,
           round((sum(CASE WHEN pos = 1 THEN midrank ELSE 0.0 END)
               - CAST(sum(pos) AS DOUBLE) * (sum(pos) + 1) / 2.0)
             / (CAST(sum(pos) AS DOUBLE) * (count(*) - sum(pos))), 6)
             AS auc
    FROM ranked GROUP BY seg ORDER BY seg"""

  /** q284: average precision (area under the precision-recall curve) per
    * segment — the ranking-quality eval that matters when positives are
    * rare: q260's ROC-AUC is dominated by the huge negative class, while
    * AP weights every point of the curve by the recall it adds. Computed
    * as the standard step-wise estimator over descending score
    * thresholds, AP = Σ_s (ΔR_s)·P_s = Σ_s (c⁺_s/n⁺)·(C⁺_{≥s}/C_{≥s}),
    * one term per DISTINCT score with ties entering together (the
    * sklearn `average_precision_score` definition). The prevalence
    * column n⁺/n is the random-ranker baseline AP — the number AP must
    * be read against, exactly as 0.5 anchors ROC-AUC.
    *
    * Scale shape (q260's discipline): scores collapse first to the
    * distinct-(segment, score) grain — one hash aggregation carrying
    * (count, positive count) — and both cumulative-≥ sums run over that
    * bounded frame (o_totalprice is 2-decimal ⇒ domain-bounded); window
    * partitions never hold corpus-sized row sets. Per-threshold
    * precisions are exact-integer ratios in doubles; only the final
    * order-dependent Σ rounds, at 6.
    */
  private def q284(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderpriority").as("seg"),
      col("o_totalprice").as("score"),
      (col("o_orderstatus") === "F").cast("long").as("pos"))
    val wge = Window.partitionBy(col("seg")).orderBy(col("score").desc)
    val g = o.groupBy(col("seg"), col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("cpos"))
      .withColumn("cge", sum(col("c")).over(wge))
      .withColumn("cgepos", sum(col("cpos")).over(wge))
    g.groupBy(col("seg"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("cpos")).cast("long").as("n_pos"),
        sum(col("cpos").cast("double")
          * (col("cgepos").cast("double") / col("cge"))).as("apn"))
      .select(col("seg"), col("n"), col("n_pos"),
        round(when(col("n_pos") > 0,
          col("n_pos").cast("double") / col("n")), 6).as("prevalence"),
        round(when(col("n_pos") > 0, col("apn") / col("n_pos")), 6)
          .as("avg_precision"))
      .orderBy(col("seg"))
  }

  private val o284 = """
    WITH o AS (
      SELECT o_orderpriority AS seg, o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders),
    g AS (
      SELECT seg, score, count(*) AS c, sum(pos) AS cpos
      FROM o GROUP BY seg, score),
    r AS (
      SELECT seg, c, cpos,
             sum(c) OVER (PARTITION BY seg ORDER BY score DESC
               RANGE UNBOUNDED PRECEDING) AS cge,
             sum(cpos) OVER (PARTITION BY seg ORDER BY score DESC
               RANGE UNBOUNDED PRECEDING) AS cgepos
      FROM g)
    SELECT seg, CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(cpos) AS BIGINT) AS n_pos,
           round(CASE WHEN sum(cpos) > 0 THEN
             CAST(sum(cpos) AS DOUBLE) / sum(c) END, 6) AS prevalence,
           round(CASE WHEN sum(cpos) > 0 THEN
             sum(cpos * (CAST(cgepos AS DOUBLE) / cge)) / sum(cpos)
           END, 6) AS avg_precision
    FROM r GROUP BY seg ORDER BY seg"""

  /** q287: Kruskal–Wallis H — the k-group generalization that completes
    * the nonparametric tier (q260's Mann–Whitney compares TWO groups,
    * q259's KS compares distributions pairwise; this one asks whether ANY
    * of the k event types' value distributions differ in location). Ranks
    * are global midranks over all values; H = 12/(N(N+1))·Σ n_i·(r̄_i −
    * (N+1)/2)² with the standard tie correction C = 1 − Σ(t³−t)/(N³−N),
    * H' = H/C (Kruskal & Wallis 1952 §5). Output: one row per type with
    * its mean rank, the shared H / H' / df riding along (q258's shape).
    *
    * Exact-arithmetic stance: midranks are kept as INTEGER doubled ranks
    * m2 = 2·below + c + 1, per-type doubled rank sums r2 = Σ c·m2 and the
    * deviation numerators d2 = r2 − n(N+1) are exact int64 (overflow only
    * past ~10⁹ rows — swap to DECIMAL/HUGEINT there, as is Σt³ ≤ N³); each
    * type's variance contribution d2²/(4n) is then one deterministic IEEE
    * square+divide of exact integers, and the k-term Σ folds in sorted
    * type order on both engines (the q206 list-ORDER-BY trick), so H is
    * bit-stable before its single round at 6. All-tied input drives C to
    * 0: H' is NULL on both engines (guarded — ANSI /0 throws).
    *
    * Scale shape: one corpus-linear hash aggregation to the (type, value)
    * grain; the value directory (2-decimal domain-bounded), its cumulative
    * window, and everything after operate on bounded frames — the q152/
    * q260 distinct-value-grain rank discipline, no per-row sort anywhere.
    */
  private def q287(s: SparkSession, d: String): DataFrame = {
    val g = events(s, d).filter(col("value").isNotNull)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("value"))
    val dir = g.groupBy(col("value")).agg(sum(col("c")).as("cv"))
      .withColumn("cle", sum(col("cv")).over(wv))
      .withColumn("m2",
        lit(2L) * (col("cle") - col("cv")) + col("cv") + lit(1L))
    val pt = g.join(dir.select(col("value"), col("m2")), Seq("value"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("c") * col("m2")).cast("long").as("r2"))
    val tot = dir.agg(sum(col("cv")).cast("long").as("nn"),
        sum(col("cv") * col("cv") * col("cv") - col("cv")).cast("long")
          .as("tie"))
      .withColumn("jk", pmod(col("nn"), lit(1L)))
    val terms = pt.withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .withColumn("d2", col("r2") - col("n") * (col("nn") + lit(1L)))
      .withColumn("term",
        col("d2").cast("double") * col("d2").cast("double")
          / (lit(4.0) * col("n")))
    val h = terms.agg(
        expr("""aggregate(array_sort(collect_list(struct(event_type, term))),
          cast(0.0 as double), (a, x) -> a + x.term)""").as("st"),
        max(col("nn")).as("nn"), max(col("tie")).as("tie"),
        count(lit(1)).as("k"))
      .select(
        round(lit(12.0) * col("st")
          / (col("nn").cast("double") * (col("nn") + lit(1L))), 6).as("h"),
        round(when(col("tie") < col("nn") * col("nn") * col("nn") - col("nn"),
          (lit(12.0) * col("st")
            / (col("nn").cast("double") * (col("nn") + lit(1L))))
          / (lit(1.0) - col("tie").cast("double")
            / (col("nn") * col("nn") * col("nn") - col("nn")))), 6)
          .as("h_tie_corrected"),
        (col("k") - lit(1L)).cast("long").as("df"))
      .withColumn("jk", pmod(col("df"), lit(1L)))
    pt.withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(h), Seq("jk"))
      .select(col("event_type"), col("n"),
        round(col("r2").cast("double") / (lit(2.0) * col("n")), 6)
          .as("mean_rank"),
        col("h"), col("h_tie_corrected"), col("df"))
      .orderBy(col("event_type"))
  }

  private val o287 = """
    WITH g AS (
      SELECT event_type, value, count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    dir AS (
      SELECT value, CAST(sum(c) AS BIGINT) AS cv FROM g GROUP BY 1),
    dirw AS (
      SELECT value, cv,
             CAST(sum(cv) OVER (ORDER BY value
               RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cle
      FROM dir),
    m AS (SELECT value, cv, 2 * (cle - cv) + cv + 1 AS m2 FROM dirw),
    pt AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * m2) AS BIGINT) AS r2
      FROM g JOIN m USING (value) GROUP BY 1),
    tot AS (
      SELECT CAST(sum(cv) AS BIGINT) AS nn,
             CAST(sum(cv * cv * cv - cv) AS BIGINT) AS tie
      FROM dir),
    terms AS (
      SELECT event_type, n, r2, nn, tie,
             CAST(r2 - n * (nn + 1) AS DOUBLE)
               * (r2 - n * (nn + 1)) / (4.0 * n) AS term
      FROM pt CROSS JOIN tot),
    h AS (
      SELECT list_sum(list(term ORDER BY event_type)) AS st,
             max(nn) AS nn, max(tie) AS tie, count(*) AS k
      FROM terms)
    SELECT t.event_type, t.n,
           round(CAST(t.r2 AS DOUBLE) / (2.0 * t.n), 6) AS mean_rank,
           round(12.0 * h.st / (CAST(h.nn AS DOUBLE) * (h.nn + 1)), 6) AS h,
           round(CASE WHEN h.tie < h.nn * h.nn * h.nn - h.nn THEN
             (12.0 * h.st / (CAST(h.nn AS DOUBLE) * (h.nn + 1)))
             / (1.0 - CAST(h.tie AS DOUBLE)
                      / (h.nn * h.nn * h.nn - h.nn)) END, 6)
             AS h_tie_corrected,
           CAST(h.k - 1 AS BIGINT) AS df
    FROM pt t CROSS JOIN h ORDER BY event_type"""

  /** q263: split-conformal prediction intervals — the distribution-free
    * uncertainty wrapper (Vovk's split-conformal recipe, the modern
    * ML-ops standard) around the simplest predictor the data admits (the
    * per-type train mean): deterministic thirds by event_id (0 = train,
    * 1 = calibration, 2 = test), q̂ = the 0.9 quantile of calibration
    * absolute residuals, and the TEST-fold coverage of μ ± q̂ — which the
    * conformal guarantee says must land near 0.9 regardless of the value
    * distribution; the coverage column is the empirical check of exactly
    * that promise. μ and q̂ are ROUNDED at 6 before crossing folds, so
    * every comparison both engines make is over identical doubles; the
    * coverage is a count ratio (one exact division).
    *
    * Scale shape: three conditional rollups over one co-partitioned
    * frame — no windows, no joins beyond two broadcast one-row-per-type
    * frames; the fold split is a pure map.
    */
  private def q263(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      pmod(col("event_id"), lit(3L)).as("fold"), col("value"))
    val mu = ev.filter(col("fold") === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"), round(avg(col("value")), 6).as("mu"))
    val qhat = ev.filter(col("fold") === 1)
      .join(broadcast(mu.select(col("event_type"), col("mu"))),
        Seq("event_type"))
      .withColumn("r", abs(col("value") - col("mu")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cal"),
        round(expr("percentile(r, 0.9D)"), 6).as("qhat"))
    ev.filter(col("fold") === 2)
      .join(broadcast(mu), Seq("event_type"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy(col("event_type"), col("n_train"), col("n_cal"),
        col("mu"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum((abs(col("value") - col("mu")) <= col("qhat")).cast("long"))
          .cast("long").as("n_covered"))
      .select(col("event_type"), col("n_train"), col("n_cal"),
        col("n_test"), col("mu"), col("qhat"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy(col("event_type"))
  }

  private val o263 = """
    WITH ev AS (SELECT event_type, event_id % 3 AS fold, value FROM events),
    mu AS (
      SELECT event_type, count(*) AS n_train, round(avg(value), 6) AS mu
      FROM ev WHERE fold = 0 GROUP BY event_type),
    qh AS (
      SELECT e.event_type, count(*) AS n_cal,
             round(quantile_cont(abs(e.value - m.mu), 0.9), 6) AS qhat
      FROM ev e JOIN mu m ON m.event_type = e.event_type
      WHERE e.fold = 1 GROUP BY e.event_type),
    tst AS (
      SELECT e.event_type, count(*) AS n_test,
             CAST(sum(CASE WHEN abs(e.value - m.mu) <= q.qhat
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM ev e
      JOIN mu m ON m.event_type = e.event_type
      JOIN qh q ON q.event_type = e.event_type
      WHERE e.fold = 2 GROUP BY e.event_type)
    SELECT m.event_type, m.n_train, q.n_cal, t.n_test, m.mu, q.qhat,
           round(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage
    FROM mu m JOIN qh q ON q.event_type = m.event_type
    JOIN tst t ON t.event_type = m.event_type
    ORDER BY m.event_type"""

  /** m-estimate smoothing strength for q264. */
  private val TeM = 20

  /** q264: leave-one-out + m-estimate target encoding — the
    * feature-engineering transform beside q248's WoE: encode a
    * categorical (order priority) by its target rate (finalized status),
    * but (a) LEAVE-ONE-OUT per row so a row never sees its own label
    * (the standard target-leakage guard: enc_i = (Σy − y_i)/(n − 1)),
    * and (b) m-estimate smoothed toward the global prior
    * ((Σy + m·p)/(n + m), m = $TeM) so rare categories don't memorize.
    * Reported per category: the raw rate, the smoothed encoding, and the
    * LOO encoding's exact min/max spread (the two values a LOO encoding
    * can take for a binary target — what the downstream model actually
    * sees). Everything is exact integer sums and single divisions off
    * one category rollup + one broadcast prior; LOO needs NO per-row
    * window — the group sums determine both LOO values in closed form.
    */
  private def q264(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderpriority").as("cat"),
      (col("o_orderstatus") === "F").cast("long").as("y"))
    val prior = o.agg((sum(col("y")).cast("double") / count(lit(1)))
        .as("p"))
      .withColumn("jk", pmod(col("p").cast("long"), lit(1L)))
    o.groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"))
      .withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(prior), Seq("jk"))
      .select(col("cat"), col("n"), col("sy"),
        round(col("sy").cast("double") / col("n"), 6).as("raw_rate"),
        round((col("sy").cast("double") + lit(TeM) * col("p"))
          / (col("n") + lit(TeM)), 6).as("smoothed_enc"),
        // LOO for a binary target takes exactly two values per category:
        // the encoding of a positive row and of a negative row; a
        // singleton category has no leave-one-out rows — explicit NULL
        // in both dialects (not an engine-specific /0)
        round(when(col("n") > 1,
          (col("sy") - 1).cast("double") / (col("n") - 1)), 6)
          .as("loo_if_pos"),
        round(when(col("n") > 1,
          col("sy").cast("double") / (col("n") - 1)), 6)
          .as("loo_if_neg"))
      .orderBy(col("cat"))
  }

  private val o264 = s"""
    WITH o AS (
      SELECT o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    prior AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS p FROM o)
    SELECT cat, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS raw_rate,
           round((CAST(sum(y) AS DOUBLE) + $TeM * any_value(pr.p))
                 / (count(*) + $TeM), 6) AS smoothed_enc,
           round(CASE WHEN count(*) > 1 THEN
                 CAST(sum(y) - 1 AS DOUBLE) / (count(*) - 1) END, 6)
             AS loo_if_pos,
           round(CASE WHEN count(*) > 1 THEN
                 CAST(sum(y) AS DOUBLE) / (count(*) - 1) END, 6)
             AS loo_if_neg
    FROM o CROSS JOIN prior pr
    GROUP BY cat ORDER BY cat"""

  /** q268: data-freshness SLA audit — the operational monitor every
    * ingest owner pages on: per event type, the high-watermark timestamp,
    * its lag behind the corpus-wide watermark (a type whose feed stalled
    * lags while the global clock advances), a 1-hour staleness flag, and
    * the share of the type's volume that arrived in the trailing day —
    * the "is this feed alive and at normal volume" pair. Integer
    * microseconds end-to-end (`DIV`-second lags, CLAUDE.md's time-math
    * rule); the one share column is a single exact-count division. One
    * rollup + one broadcast global row.
    */
  private def q268(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"), tsUs.as("us"))
    val glob = ev.agg(max(col("us")).as("gmax"))
      .withColumn("jk", pmod(col("gmax"), lit(1L)))
    ev.withColumn("jk", pmod(col("us"), lit(1L)))
      .join(broadcast(glob), Seq("jk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("us")).as("max_us"),
        first(col("gmax")).as("gmax"),
        sum((col("us") > col("gmax") - 86400000000L).cast("long"))
          .cast("long").as("n_last_day"))
      .select(col("event_type"), col("n"), col("max_us"),
        expr("(gmax - max_us) DIV 1000000").as("lag_s"),
        (expr("(gmax - max_us) DIV 1000000") > 3600L).cast("int")
          .as("stale_1h"),
        round(col("n_last_day").cast("double") / col("n"), 6)
          .as("share_last_day"))
      .orderBy(col("event_type"))
  }

  private val o268 = """
    WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    gw AS (SELECT max(us) AS gmax FROM ev)
    SELECT event_type, count(*) AS n, max(us) AS max_us,
           (g.gmax - max(us)) // 1000000 AS lag_s,
           CAST((g.gmax - max(us)) // 1000000 > 3600 AS INT) AS stale_1h,
           round(CAST(sum(CASE WHEN us > g.gmax - 86400000000
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS share_last_day
    FROM ev CROSS JOIN gw g
    GROUP BY event_type, g.gmax ORDER BY event_type"""

  /** q269: seasonal-naive forecast backtest — the baseline every metric
    * forecasting pipeline must beat before anything fancier ships:
    * predict each (type, day)'s volume-weighted metric with the value
    * seven days earlier, and report per type the backtest MAE, MAPE
    * (zero-actual days excluded), and the naive forecast's hit rate
    * within ±20%. The q258 decomposition MODELS weekly structure; this
    * measures how predictive that structure actually is — low MAPE says
    * "seasonal-naive is fine", high says "bring a real model". One
    * day-grain rollup, one self-join on (type, day−7) (co-partitioned
    * equi-join), one rollup; aggregates of |errors| round at 6.
    */
  private def q269(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts DIV 1000 DIV 86400000000").as("day"))
      .agg(sum(col("value")).as("y"))
    val f = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("y").as("yhat"))
    daily.join(f, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(avg(abs(col("y") - col("yhat"))), 6).as("mae"),
        round(avg(when(col("y") =!= 0.0,
          abs(col("y") - col("yhat")) / abs(col("y")))), 6).as("mape"),
        round(avg((abs(col("y") - col("yhat")) <= lit(0.2) * abs(col("y")))
          .cast("double")), 6).as("hit_rate_20pct"))
      .orderBy(col("event_type"))
  }

  private val o269 = """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             sum(value) AS y
      FROM events GROUP BY event_type, day),
    j AS (
      SELECT a.event_type, a.y, b.y AS yhat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7)
    SELECT event_type, count(*) AS n_days,
           round(avg(abs(y - yhat)), 6) AS mae,
           round(avg(CASE WHEN y <> 0.0
                     THEN abs(y - yhat) / abs(y) END), 6) AS mape,
           round(avg(CASE WHEN abs(y - yhat) <= 0.2 * abs(y)
                     THEN 1.0 ELSE 0.0 END), 6) AS hit_rate_20pct
    FROM j GROUP BY event_type ORDER BY event_type"""

  /** q283's lag horizon (ACF at lags 1..AcfMaxLag). */
  private val AcfMaxLag = 7

  /** q283: autocorrelation function of the daily per-type event series —
    * the diagnostic that sits before every model in the time-series tier
    * (q258 assumes weekly structure, q269 backtests lag-7 persistence,
    * q256 assumes level shifts): r_k for k = 1..7 says which lags carry
    * signal at all, with the lag-7 spike (or its absence) confirming or
    * refuting the weekly hypothesis the other queries build on.
    *
    * Estimator: the standard sample ACF with full-series mean and
    * variance, r_k = Σ_pairs (y_t−ȳ)(y_{t+k}−ȳ) / Σ_t (y_t−ȳ)², where
    * pairs are the (t, t+k) day pairs BOTH present in the series (gaps
    * align by true date arithmetic, not row adjacency). Expanding ȳ = S/n
    * gives the all-integer form computed here:
    * r_k = (n²·P_k − n·S·(A_k+B_k) + m_k·S²) / (n·(n·Q − S²)) with
    * y = per-day counts, S = Σy, Q = Σy², P_k = Σ y_t·y_{t+k},
    * A_k/B_k the pair-side sums and m_k the pair count — every term an
    * exact 64-bit integer at any realistic day count (the n²·P term
    * reaches 2⁶³ only near ~10¹² events/day·~10³ days; past that, swap
    * the longs for DECIMAL(38,0) — DuckDB's HUGEINT already is), so the
    * one final division is the only float op and both engines divide the
    * identical integers. A constant series (zero variance) yields NULL
    * on both sides via an explicit guard.
    *
    * Scale shape: one corpus-linear hash aggregation to the day grain;
    * everything after (the ×7 lag explode, the self-join on
    * (type, day+k), the moment rollups) operates on the bounded
    * types×days frame.
    */
  /** Shared ACF frame for q283/q289: (event_type, lag, n_days, n_pairs,
    * acf) for lags 1..maxLag, the all-integer estimator documented on
    * q283 with the single final division rounded at 6.
    */
  private def acfFrame(s: SparkSession, d: String, maxLag: Int): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts DIV 1000 DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("q"))
    val a = daily
      .select(col("event_type"), col("day"), col("y"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val b = daily.select(col("event_type").as("btype"),
      col("day").as("bday"), col("y").as("by"))
    a.join(b, col("btype") === col("event_type")
        && col("bday") === col("day") + col("lag"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("y") * col("by")).as("p"),
        sum(col("y")).as("asum"), sum(col("by")).as("bsum"))
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n").as("n_days"),
        col("m").as("n_pairs"),
        round(when(col("n") * col("q") - col("s") * col("s") =!= 0L,
          (col("n") * col("n") * col("p")
            - col("n") * col("s") * (col("asum") + col("bsum"))
            + col("m") * col("s") * col("s")).cast("double")
          / (col("n") * (col("n") * col("q") - col("s") * col("s")))
            .cast("double")), 6).as("acf"))
  }

  /** q283: autocorrelation at lags 1-7 of each event type's daily count series. */
  private def q283(s: SparkSession, d: String): DataFrame =
    acfFrame(s, d, AcfMaxLag).orderBy(col("event_type"), col("lag"))

  private val o283 = s"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM daily GROUP BY event_type),
    pairs AS (
      SELECT a.event_type, t.lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(a.y * b.y) AS BIGINT) AS p,
             CAST(sum(a.y) AS BIGINT) AS asum,
             CAST(sum(b.y) AS BIGINT) AS bsum
      FROM daily a
      CROSS JOIN generate_series(1, $AcfMaxLag) AS t(lag)
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + t.lag
      GROUP BY a.event_type, t.lag)
    SELECT pr.event_type, CAST(pr.lag AS INT) AS lag,
           st.n AS n_days, pr.m AS n_pairs,
           round(CASE WHEN st.n * st.q - st.s * st.s <> 0 THEN
             CAST(st.n * st.n * pr.p - st.n * st.s * (pr.asum + pr.bsum)
                  + pr.m * st.s * st.s AS DOUBLE)
             / CAST(st.n * (st.n * st.q - st.s * st.s) AS DOUBLE)
           END, 6) AS acf
    FROM pairs pr JOIN stats st ON st.event_type = pr.event_type
    ORDER BY pr.event_type, lag"""

  /** χ²₇ 95th percentile — q298's rejection threshold at h=7, df=7. */
  private val LbCrit95 = 14.067140

  /** q298: Ljung–Box portmanteau test — the whiteness check that closes
    * the time-series diagnostic tier (q283 reads INDIVIDUAL lags, this
    * tests them JOINTLY): Q = n(n+2)·Σ_{k≤h} r_k²/(n−k) ~ χ²_h under the
    * no-autocorrelation null (Ljung & Box 1978), h = `AcfMaxLag`. A
    * series whose residual diagnostics pass lag-by-lag can still fail
    * jointly — Q is the standard gate before trusting q269's backtest or
    * shipping q258's decomposition. Reported with the χ²₇ 95% critical
    * value and the rejection flag.
    *
    * Parity: r_k are q283's rounded-at-6 ACF values (integer-exact up to
    * that single division), so both engines start from identical doubles;
    * the h-term sum folds in lag order (q206's trick; the DuckDB twin
    * uses list ORDER BY lag), and Q rounds at 6. Degenerates: a missing
    * lag (gappy short series) or n ≤ h yields NULL via an explicit
    * n_lags/n guard on both engines; the in-fold n−k division is guarded
    * so ANSI can't throw on the pathological sparse-day case where a
    * high lag exists with n ≤ k.
    *
    * Scale shape: inherits q283's — one corpus-linear day rollup, then
    * types×lags-bounded column algebra.
    */
  private def q298(s: SparkSession, d: String): DataFrame =
    acfFrame(s, d, AcfMaxLag)
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).cast("long").as("n"),
        count(col("acf")).cast("long").as("n_lags"),
        expr("""aggregate(array_sort(collect_list(struct(lag, acf, n_days))),
          cast(0.0 as double),
          (a, x) -> a + if(x.n_days - x.lag > 0,
            x.acf * x.acf / (x.n_days - x.lag),
            cast(null as double)))""").as("ssum"))
      .select(col("event_type"), col("n").as("n_days"), col("n_lags"),
        round(when(col("n") > AcfMaxLag
            && col("n_lags") === AcfMaxLag,
          col("n").cast("double") * (col("n") + 2) * col("ssum")), 6)
          .as("q_lb"),
        lit(LbCrit95).as("chi2_crit_95"),
        when(col("n") > AcfMaxLag && col("n_lags") === AcfMaxLag,
          round(col("n").cast("double") * (col("n") + 2) * col("ssum"), 6)
            > LbCrit95).as("reject_white_noise"))
      .orderBy(col("event_type"))

  private val o298 = s"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM daily GROUP BY event_type),
    pairs AS (
      SELECT a.event_type, t.lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(a.y * b.y) AS BIGINT) AS p,
             CAST(sum(a.y) AS BIGINT) AS asum,
             CAST(sum(b.y) AS BIGINT) AS bsum
      FROM daily a
      CROSS JOIN generate_series(1, $AcfMaxLag) AS t(lag)
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + t.lag
      GROUP BY a.event_type, t.lag),
    r AS (
      SELECT pr.event_type, pr.lag, st.n,
             round(CASE WHEN st.n * st.q - st.s * st.s <> 0 THEN
               CAST(st.n * st.n * pr.p - st.n * st.s * (pr.asum + pr.bsum)
                    + pr.m * st.s * st.s AS DOUBLE)
               / CAST(st.n * (st.n * st.q - st.s * st.s) AS DOUBLE)
             END, 6) AS acf
      FROM pairs pr JOIN stats st ON st.event_type = pr.event_type),
    g AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(count(acf) AS BIGINT) AS n_lags,
             list_sum(list(CASE WHEN n - lag > 0 THEN
               acf * acf / (n - lag) END ORDER BY lag)) AS ssum
      FROM r GROUP BY event_type)
    SELECT event_type, n AS n_days, n_lags,
           round(CASE WHEN n > $AcfMaxLag AND n_lags = $AcfMaxLag THEN
             CAST(n AS DOUBLE) * (n + 2) * ssum END, 6) AS q_lb,
           CAST($LbCrit95 AS DOUBLE) AS chi2_crit_95,
           CASE WHEN n > $AcfMaxLag AND n_lags = $AcfMaxLag THEN
             round(CAST(n AS DOUBLE) * (n + 2) * ssum, 6) > $LbCrit95
           END AS reject_white_noise
    FROM g ORDER BY event_type"""

  /** CCF lag window for q299 (days; negative = views lag purchases). */
  private val CcfMaxLag = 7

  /** q299: cross-correlation function between the 'view' and 'purchase'
    * daily series at lags −7..+7 — the lead/lag diagnostic beneath
    * funnel/attribution analyses (does view traffic LEAD purchases, and by
    * how many days?) and the cross-series companion to q283's ACF. Sample
    * CCF convention: r(k) = Σ_pairs (x_t − μ_x)(y_{t+k} − μ_y) normalized
    * by the FULL-series moment products, pairs taken gap-aware on true
    * dates (a missing day pairs with nothing — never positional).
    *
    * Cross-engine: the numerator expands to exact int64 —
    * nx·ny·p − nx·sy·xsum − ny·sx·ysum + m·sx·sy — and the denominator
    * is sqrt(nx·ny)·sqrt(varx_int·vary_int) where each var_int = n·q − s²
    * is exact int64 widened to double BEFORE the product (the int product
    * can exceed int64; the double product is identical IEEE on both
    * engines). One division + two correctly-rounded sqrts are the only
    * float ops; zero-variance degenerates NULL via the same guard on both
    * engines. Scale shape: q283's — one corpus-linear day rollup, then a
    * days×lags-bounded pair join and bounded column algebra.
    */
  private def q299(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts DIV 1000 DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val x = daily.filter(col("event_type") === "view")
      .select(col("day").as("xday"), col("y").as("xy"))
      .withColumn("lag", explode(sequence(lit(-CcfMaxLag), lit(CcfMaxLag))))
    val yv = daily.filter(col("event_type") === "purchase")
      .select(col("day").as("yday"), col("y").as("yy"))
    val pairs = x.join(yv, col("yday") === col("xday") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("xy") * col("yy")).as("p"),
        sum(col("xy")).as("xsum"), sum(col("yy")).as("ysum"))
    val stx = daily.filter(col("event_type") === "view")
      .agg(count(lit(1)).as("nx"), sum(col("y")).as("sxv"),
        sum(col("y") * col("y")).as("qx"))
      .withColumn("jk", pmod(col("nx"), lit(1L)))
    val sty = daily.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("ny"), sum(col("y")).as("syv"),
        sum(col("y") * col("y")).as("qy"))
      .withColumn("jk", pmod(col("ny"), lit(1L)))
    pairs.withColumn("jk", pmod(col("m"), lit(1L)))
      .join(broadcast(stx), Seq("jk")).join(broadcast(sty), Seq("jk"))
      .withColumn("varx", col("nx") * col("qx") - col("sxv") * col("sxv"))
      .withColumn("vary", col("ny") * col("qy") - col("syv") * col("syv"))
      .select(col("lag").cast("int").as("lag"), col("m").as("n_pairs"),
        round(when(col("varx") > 0 && col("vary") > 0,
          (col("nx") * col("ny") * col("p")
            - col("nx") * col("syv") * col("xsum")
            - col("ny") * col("sxv") * col("ysum")
            + col("m") * col("sxv") * col("syv")).cast("double")
          / (sqrt((col("nx") * col("ny")).cast("double"))
            * sqrt(col("varx").cast("double") * col("vary").cast("double")))),
          6).as("ccf"))
      .orderBy(col("lag"))
  }

  private val o299 = s"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    stx AS (SELECT CAST(count(*) AS BIGINT) AS nx,
                   CAST(sum(y) AS BIGINT) AS sxv,
                   CAST(sum(y * y) AS BIGINT) AS qx
            FROM daily WHERE event_type = 'view'),
    sty AS (SELECT CAST(count(*) AS BIGINT) AS ny,
                   CAST(sum(y) AS BIGINT) AS syv,
                   CAST(sum(y * y) AS BIGINT) AS qy
            FROM daily WHERE event_type = 'purchase'),
    pairs AS (
      SELECT t.lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x.y * v.y) AS BIGINT) AS p,
             CAST(sum(x.y) AS BIGINT) AS xsum,
             CAST(sum(v.y) AS BIGINT) AS ysum
      FROM (SELECT * FROM daily WHERE event_type = 'view') x
      CROSS JOIN generate_series(-$CcfMaxLag, $CcfMaxLag) AS t(lag)
      JOIN (SELECT * FROM daily WHERE event_type = 'purchase') v
        ON v.day = x.day + t.lag
      GROUP BY t.lag)
    SELECT CAST(pr.lag AS INT) AS lag, pr.m AS n_pairs,
           round(CASE WHEN stx.nx * stx.qx - stx.sxv * stx.sxv > 0
                       AND sty.ny * sty.qy - sty.syv * sty.syv > 0 THEN
             CAST(stx.nx * sty.ny * pr.p - stx.nx * sty.syv * pr.xsum
                  - sty.ny * stx.sxv * pr.ysum
                  + pr.m * stx.sxv * sty.syv AS DOUBLE)
             / (sqrt(CAST(stx.nx * sty.ny AS DOUBLE))
                * sqrt(CAST(stx.nx * stx.qx - stx.sxv * stx.sxv AS DOUBLE)
                       * CAST(sty.ny * sty.qy - sty.syv * sty.syv
                              AS DOUBLE)))
           END, 6) AS ccf
    FROM pairs pr, stx, sty ORDER BY lag"""

  /** q302: index of dispersion (Fano factor) + burstiness coefficient per
    * event type over the daily-count series — the overdispersion
    * diagnostic beneath the anomaly tier: Poisson-like traffic has
    * var/mean ≈ 1; var/mean ≫ 1 marks bursty arrivals that make q232's
    * z-flags fire in clumps, and Goh–Barabási's B = (σ − μ)/(σ + μ)
    * ∈ (−1, 1) is the bounded form (−1 regular, 0 Poisson-ish, → 1
    * bursty).
    *
    * Cross-engine: population variance and mean stay exact-rational —
    * fano = n·(n·q − s²) / (n²·s) folds integer-exactly into one double
    * division; B's σ is one correctly-rounded sqrt of an exact rational.
    * Zero-mean (no events) cannot occur on a grouped row; constant series
    * (σ = 0) gives fano 0 / B −1 exactly on both engines.
    * Scale shape: one corpus-linear day rollup, then a types-bounded
    * aggregation — nothing further touches the corpus.
    */
  private def q302(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts DIV 1000 DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
        sum(col("y") * col("y")).as("q"))
      .withColumn("vnum", col("n") * col("q") - col("s") * col("s"))
      .select(col("event_type"), col("n").as("n_days"),
        round(col("s").cast("double") / col("n"), 6).as("mean_daily"),
        round((col("n") * col("vnum")).cast("double")
          / (col("n") * col("n") * col("s")).cast("double"), 6).as("fano"),
        round((sqrt(col("vnum").cast("double")) / col("n") - col("s")
            .cast("double") / col("n"))
          / (sqrt(col("vnum").cast("double")) / col("n") + col("s")
            .cast("double") / col("n")), 6).as("burstiness"))
      .orderBy(col("event_type"))
  }

  private val o302 = """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM daily GROUP BY event_type)
    SELECT event_type, n AS n_days,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_daily,
           round(CAST(n * (n * q - s * s) AS DOUBLE)
                 / CAST(n * n * s AS DOUBLE), 6) AS fano,
           round((sqrt(CAST(n * q - s * s AS DOUBLE)) / n
                  - CAST(s AS DOUBLE) / n)
                 / (sqrt(CAST(n * q - s * s AS DOUBLE)) / n
                    + CAST(s AS DOUBLE) / n), 6) AS burstiness
    FROM st ORDER BY event_type"""


  /** q289's recursion depth (PACF at lags 1..4). */
  private val PacfMaxLag = 4

  /** q289: partial autocorrelation function via Durbin–Levinson — the
    * companion diagnostic to q283's ACF and the standard AR-order chooser
    * (Box & Jenkins: the PACF of an AR(p) cuts off after lag p, where the
    * ACF only decays): φ_kk measures the lag-k association AFTER removing
    * everything explained by lags 1..k−1. Computed by the Levinson
    * recursion φ_kk = (r_k − Σ φ_{k−1,j}·r_{k−j}) / (1 − Σ φ_{k−1,j}·r_j),
    * φ_kj = φ_{k−1,j} − φ_kk·φ_{k−1,k−j}, unrolled to `PacfMaxLag`.
    *
    * Cross-engine parity: inputs are q283's ACF values (integer-exact up
    * to their single rounded-at-6 division, so both engines start from
    * IDENTICAL doubles); every recursion step re-rounds at 12 before
    * reuse and both dialects spell the same left-to-right arithmetic, so
    * the chain stays bit-stable (q285's iterate-on-rounded-doubles
    * stance). A degenerate denominator (unit-root series) or a missing
    * lag yields NULL that propagates through the remaining lags on both
    * engines — no ANSI /0 throw, no DuckDB divergence.
    *
    * Scale shape: inherits q283's — one corpus-linear day rollup, then
    * types×lags-bounded frames; the recursion itself is pure column
    * algebra on one row per type.
    */
  private def q289(s: SparkSession, d: String): DataFrame = {
    val r = acfFrame(s, d, PacfMaxLag)
    r.groupBy(col("event_type"))
      .agg(max(when(col("lag") === 1, col("acf"))).as("r1"),
        max(when(col("lag") === 2, col("acf"))).as("r2"),
        max(when(col("lag") === 3, col("acf"))).as("r3"),
        max(when(col("lag") === 4, col("acf"))).as("r4"))
      .withColumn("p11", col("r1"))
      .withColumn("den2", lit(1.0) - col("p11") * col("r1"))
      .withColumn("p22", round(when(col("den2") =!= 0.0,
        (col("r2") - col("p11") * col("r1")) / col("den2")), 12))
      .withColumn("p21", round(col("p11") - col("p22") * col("p11"), 12))
      .withColumn("den3", lit(1.0)
        - (col("p21") * col("r1") + col("p22") * col("r2")))
      .withColumn("p33", round(when(col("den3") =!= 0.0,
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1")))
          / col("den3")), 12))
      .withColumn("p31", round(col("p21") - col("p33") * col("p22"), 12))
      .withColumn("p32", round(col("p22") - col("p33") * col("p21"), 12))
      .withColumn("den4", lit(1.0)
        - (col("p31") * col("r1") + col("p32") * col("r2")
          + col("p33") * col("r3")))
      .withColumn("p44", round(when(col("den4") =!= 0.0,
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2")
          + col("p33") * col("r1"))) / col("den4")), 12))
      .select(col("event_type"),
        round(col("p11"), 6).as("pacf_1"),
        round(col("p22"), 6).as("pacf_2"),
        round(col("p33"), 6).as("pacf_3"),
        round(col("p44"), 6).as("pacf_4"))
      .orderBy(col("event_type"))
  }

  private val o289 = s"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS q
      FROM daily GROUP BY event_type),
    pairs AS (
      SELECT a.event_type, t.lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(a.y * b.y) AS BIGINT) AS p,
             CAST(sum(a.y) AS BIGINT) AS asum,
             CAST(sum(b.y) AS BIGINT) AS bsum
      FROM daily a
      CROSS JOIN generate_series(1, $PacfMaxLag) AS t(lag)
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + t.lag
      GROUP BY a.event_type, t.lag),
    r AS (
      SELECT pr.event_type, pr.lag,
             round(CASE WHEN st.n * st.q - st.s * st.s <> 0 THEN
               CAST(st.n * st.n * pr.p - st.n * st.s * (pr.asum + pr.bsum)
                    + pr.m * st.s * st.s AS DOUBLE)
               / CAST(st.n * (st.n * st.q - st.s * st.s) AS DOUBLE)
             END, 6) AS acf
      FROM pairs pr JOIN stats st ON st.event_type = pr.event_type),
    wide AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN acf END) AS r1,
             max(CASE WHEN lag = 2 THEN acf END) AS r2,
             max(CASE WHEN lag = 3 THEN acf END) AS r3,
             max(CASE WHEN lag = 4 THEN acf END) AS r4
      FROM r GROUP BY event_type),
    s1 AS (SELECT *, r1 AS p11 FROM wide),
    s2 AS (SELECT *, round(CASE WHEN 1.0 - p11 * r1 <> 0 THEN
             (r2 - p11 * r1) / (1.0 - p11 * r1) END, 12) AS p22 FROM s1),
    s2b AS (SELECT *, round(p11 - p22 * p11, 12) AS p21 FROM s2),
    s3 AS (SELECT *, round(CASE WHEN 1.0 - (p21 * r1 + p22 * r2) <> 0 THEN
             (r3 - (p21 * r2 + p22 * r1))
             / (1.0 - (p21 * r1 + p22 * r2)) END, 12) AS p33 FROM s2b),
    s3b AS (SELECT *, round(p21 - p33 * p22, 12) AS p31,
                      round(p22 - p33 * p21, 12) AS p32 FROM s3),
    s4 AS (SELECT *, round(CASE
             WHEN 1.0 - (p31 * r1 + p32 * r2 + p33 * r3) <> 0 THEN
             (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
             / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3)) END, 12) AS p44
           FROM s3b)
    SELECT event_type, round(p11, 6) AS pacf_1, round(p22, 6) AS pacf_2,
           round(p33, 6) AS pacf_3, round(p44, 6) AS pacf_4
    FROM s4 ORDER BY event_type"""

  /** q291: stratified ATE / inverse-propensity estimate — the third leg
    * of the observational-causal tier (q249 CUPED reduces variance, q251
    * DiD removes time trends; THIS removes confounding by a measured
    * covariate): treatment = the user signed up, outcome = purchase value,
    * confounder = activity level (active users both sign up AND buy more,
    * so the naive treated-vs-control gap overstates the effect). Within
    * each activity stratum the treated/control contrast is clean
    * (propensity e_h constant by construction), and the ATE is the
    * n_h-weighted mean of per-stratum contrasts over the ON-SUPPORT
    * strata (both arms present) — Horvitz–Thompson with stratum
    * propensities ≡ direct standardization (Lunceford & Davidian 2004).
    * Off-support strata are EXCLUDED and reported via support_share —
    * the positivity-violation readout a real analysis must surface.
    *
    * Parity: outcomes enter as exact integer cents (q156's micro-unit
    * stance), so every stratum sum is an exact long; per-stratum means
    * and diffs round at 6; the ≤|strata|-term ATE sum folds in sorted
    * stratum order (q206's trick). Empty-arm strata yield NULL means via
    * explicit guards (ANSI /0 throws; DuckDB's /0 is NULL).
    *
    * Scale shape: one corpus-linear hash aggregation to the user grain,
    * one to the bounded stratum grain; everything after is column algebra
    * on ≤|strata| rows.
    */
  private def q291(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max((col("event_type") === "signup").cast("int")).as("t"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("yc"))
      .withColumn("stratum", least(expr("n_ev DIV 5"), lit(4L)))
    val st = users.groupBy(col("stratum"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("t")).cast("long").as("n_treated"),
        sum(when(col("t") === 1, col("yc")).otherwise(0L)).cast("long")
          .as("s1"),
        sum(when(col("t") === 0, col("yc")).otherwise(0L)).cast("long")
          .as("s0"))
      .withColumn("n_control", col("n") - col("n_treated"))
      .withColumn("e_hat",
        round(col("n_treated").cast("double") / col("n"), 6))
      .withColumn("y1_mean", round(when(col("n_treated") > 0,
        col("s1").cast("double") / (lit(100.0) * col("n_treated"))), 6))
      .withColumn("y0_mean", round(when(col("n_control") > 0,
        col("s0").cast("double") / (lit(100.0) * col("n_control"))), 6))
      .withColumn("diff",
        round(when(col("n_treated") > 0 && col("n_control") > 0,
          col("s1").cast("double") / (lit(100.0) * col("n_treated"))
            - col("s0").cast("double") / (lit(100.0) * col("n_control"))),
          6))
      .withColumn("wdiff", when(col("diff").isNotNull,
        col("n").cast("double") * col("diff")).otherwise(lit(0.0)))
      .withColumn("nv", when(col("diff").isNotNull, col("n"))
        .otherwise(lit(0L)))
    val tot = st.agg(
        expr("""aggregate(array_sort(collect_list(struct(stratum, wdiff))),
          cast(0.0 as double), (a, x) -> a + x.wdiff)""").as("sw"),
        sum(col("nv")).cast("long").as("n_valid"),
        sum(col("n")).cast("long").as("n_all"))
      .select(
        round(when(col("n_valid") > 0, col("sw") / col("n_valid")), 6)
          .as("ate"),
        round(col("n_valid").cast("double") / col("n_all"), 6)
          .as("support_share"),
        pmod(coalesce(col("n_valid"), lit(0L)), lit(1L)).as("jk"))
    st.withColumn("jk", pmod(col("n"), lit(1L)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("stratum"), col("n"), col("n_treated"), col("n_control"),
        col("e_hat"), col("y1_mean"), col("y0_mean"), col("diff"),
        col("ate"), col("support_share"))
      .orderBy(col("stratum"))
  }

  private val o291 = """
    WITH users AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS yc
      FROM events GROUP BY user_id),
    u2 AS (SELECT *, least(n_ev // 5, 4) AS stratum FROM users),
    st AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS n_treated,
             CAST(sum(CASE WHEN t = 1 THEN yc ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN t = 0 THEN yc ELSE 0 END) AS BIGINT) AS s0
      FROM u2 GROUP BY stratum),
    st2 AS (
      SELECT stratum, n, n_treated, n - n_treated AS n_control, s1, s0,
             round(CAST(n_treated AS DOUBLE) / n, 6) AS e_hat,
             round(CASE WHEN n_treated > 0 THEN
               CAST(s1 AS DOUBLE) / (100.0 * n_treated) END, 6) AS y1_mean,
             round(CASE WHEN n - n_treated > 0 THEN
               CAST(s0 AS DOUBLE) / (100.0 * (n - n_treated)) END, 6)
               AS y0_mean,
             round(CASE WHEN n_treated > 0 AND n - n_treated > 0 THEN
               CAST(s1 AS DOUBLE) / (100.0 * n_treated)
               - CAST(s0 AS DOUBLE) / (100.0 * (n - n_treated)) END, 6)
               AS diff
      FROM st),
    tot AS (
      SELECT list_sum(list(CASE WHEN diff IS NOT NULL
               THEN CAST(n AS DOUBLE) * diff ELSE 0.0 END
               ORDER BY stratum)) AS sw,
             CAST(sum(CASE WHEN diff IS NOT NULL THEN n ELSE 0 END)
               AS BIGINT) AS n_valid,
             CAST(sum(n) AS BIGINT) AS n_all
      FROM st2)
    SELECT s.stratum, s.n, s.n_treated, s.n_control, s.e_hat,
           s.y1_mean, s.y0_mean, s.diff,
           round(CASE WHEN t.n_valid > 0 THEN t.sw / t.n_valid END, 6)
             AS ate,
           round(CAST(t.n_valid AS DOUBLE) / t.n_all, 6) AS support_share
    FROM st2 s CROSS JOIN tot t ORDER BY s.stratum"""

  /** q292: McNemar's paired test — did the SAME users' conversion status
    * change between the first and second half of the window? The unpaired
    * z-test (q187) compares two different groups; McNemar conditions on
    * the discordant pairs only (the concordant n11/n00 carry no
    * information about change), with Edwards' continuity correction:
    * χ² = (|b−c|−1)²/(b+c), b = converted→lapsed, c = lapsed→converted.
    * The standard before/after readout for a product or policy change.
    *
    * Exact arithmetic: the split point is the integer-µs midpoint
    * (q249's window-halving trick, broadcast as a one-row scalar), all
    * four cells are exact counts, and the statistic is one guarded
    * division of exact integers rounded at 6 (b+c=0 — no discordant
    * users — is NULL on both engines; ANSI /0 throws unguarded).
    *
    * Scale shape: one corpus-linear hash aggregation to the user grain,
    * one count rollup; the scalar join keys derive from columns so both
    * stay hash joins.
    */
  private def q292(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), tsUs.as("us"),
      col("event_type"), col("value"))
    val mid = ev.agg((min(col("us")) + max(col("us"))).as("mm"))
      .select(expr("mm DIV 2").as("mid"))
      .withColumn("jk", pmod(col("mid"), lit(1L)))
    val conv = (col("event_type") === "purchase" && col("value") > 150)
      .cast("int")
    ev.withColumn("jk", pmod(col("user_id"), lit(1L)))
      .join(broadcast(mid), Seq("jk"))
      .groupBy(col("user_id"))
      .agg(max(when(col("us") < col("mid"), conv).otherwise(0)).as("x1"),
        max(when(col("us") >= col("mid"), conv).otherwise(0)).as("x2"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(when(col("x1") === 1 && col("x2") === 1, 1L).otherwise(0L))
          .cast("long").as("n11"),
        sum(when(col("x1") === 0 && col("x2") === 0, 1L).otherwise(0L))
          .cast("long").as("n00"),
        sum(when(col("x1") === 1 && col("x2") === 0, 1L).otherwise(0L))
          .cast("long").as("b"),
        sum(when(col("x1") === 0 && col("x2") === 1, 1L).otherwise(0L))
          .cast("long").as("c"))
      .select(col("n_users"), col("n11"), col("n00"), col("b"), col("c"),
        round(when(col("b") + col("c") > 0,
          (abs(col("b") - col("c")) - lit(1L))
            * (abs(col("b") - col("c")) - lit(1L))
            / (col("b") + col("c")).cast("double")), 6).as("mcnemar_chi2"))
  }

  private val o292 = """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END AS conv
      FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
    u AS (
      SELECT user_id,
             max(CASE WHEN us < mid THEN conv ELSE 0 END) AS x1,
             max(CASE WHEN us >= mid THEN conv ELSE 0 END) AS x2
      FROM ev CROSS JOIN mid GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n11,
           CAST(sum(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n00,
           CAST(sum(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
           CAST(sum(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
           round(CASE WHEN b + c > 0 THEN
             (abs(b - c) - 1) * (abs(b - c) - 1)
             / CAST(b + c AS DOUBLE) END, 6) AS mcnemar_chi2
    FROM u"""

  /** q297: cumulative gains / lift curve at deciles — the
    * campaign-targeting eval beside ROC-AUC (q260) and AP (q284): "if I
    * act on the top k/10 of the population by score, what fraction of
    * the positives do I capture (gain), and how much better than random
    * is that (lift)?" Thresholds are the exact top-⌈k·N/10⌉ row-count
    * cuts read off the descending cumulative counts; because ties share
    * a score, the realized scanned count is the smallest
    * distinct-score prefix covering the target — reported explicitly as
    * n_scanned so the curve is honest about tie granularity.
    *
    * Exact arithmetic: cumulative pair (cge, cgepos) on the DISTINCT-
    * score grain (q260's discipline — o_totalprice is 2-decimal, domain-
    * bounded); targets ⌈k·N/10⌉ in integer math; cge is strictly
    * increasing so each decile's cut row is unique (min_by needs no
    * tie-break); gains/lifts are single divisions of exact integers
    * rounded at 6, with the no-positives degenerate NULL on both engines.
    *
    * Scale shape: one corpus-linear aggregation to the score directory;
    * the ×10 decile expansion and the argmin run on the bounded grain.
    */
  private def q297(s: SparkSession, d: String): DataFrame = {
    val wge = Window.orderBy(col("score").desc)
    val g = orders(s, d).select(col("o_totalprice").as("score"),
        (col("o_orderstatus") === "F").cast("long").as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("cpos"))
      .withColumn("cge", sum(col("c")).over(wge))
      .withColumn("cgepos", sum(col("cpos")).over(wge))
    val tot = g.agg(sum(col("c")).cast("long").as("nn"),
        sum(col("cpos")).cast("long").as("npos"))
      .withColumn("jk", pmod(col("nn"), lit(1L)))
    g.withColumn("jk", pmod(col("cge"), lit(1L)) * lit(0L))
      .join(broadcast(tot), Seq("jk"))
      .select(col("cge"), col("cgepos"), col("nn"), col("npos"),
        explode(sequence(lit(1), lit(10))).as("decile"))
      .filter(col("cge") * 10 >= col("decile") * col("nn"))
      .groupBy(col("decile"))
      .agg(min_by(struct(col("cge"), col("cgepos"), col("nn"),
        col("npos")), col("cge")).as("cut"))
      .select(col("decile"), col("cut.cge").cast("long").as("n_scanned"),
        col("cut.cgepos").cast("long").as("n_pos_captured"),
        round(when(col("cut.npos") > 0,
          col("cut.cgepos").cast("double") / col("cut.npos")), 6)
          .as("gain"),
        round(when(col("cut.npos") > 0,
          (col("cut.cgepos").cast("double") / col("cut.npos"))
            / (col("cut.cge").cast("double") / col("cut.nn"))), 6)
          .as("lift"))
      .orderBy(col("decile"))
  }

  private val o297 = """
    WITH g AS (
      SELECT o_totalprice AS score,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS cpos
      FROM orders GROUP BY 1),
    r AS (
      SELECT score, c, cpos,
             CAST(sum(c) OVER (ORDER BY score DESC
               RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cge,
             CAST(sum(cpos) OVER (ORDER BY score DESC
               RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cgepos
      FROM g),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS nn,
             CAST(sum(cpos) AS BIGINT) AS npos
      FROM g),
    x AS (
      SELECT k.decile, r.cge, r.cgepos, t.nn, t.npos
      FROM r CROSS JOIN tot t
      CROSS JOIN generate_series(1, 10) AS k(decile)
      WHERE r.cge * 10 >= k.decile * t.nn),
    cut AS (
      SELECT decile, min(cge) AS n_scanned FROM x GROUP BY decile)
    SELECT CAST(c.decile AS INT) AS decile, c.n_scanned,
           x.cgepos AS n_pos_captured,
           round(CASE WHEN x.npos > 0 THEN
             CAST(x.cgepos AS DOUBLE) / x.npos END, 6) AS gain,
           round(CASE WHEN x.npos > 0 THEN
             (CAST(x.cgepos AS DOUBLE) / x.npos)
             / (CAST(x.cge AS DOUBLE) / x.nn) END, 6) AS lift
    FROM cut c JOIN x ON x.decile = c.decile AND x.cge = c.n_scanned
    ORDER BY decile"""

  /** q296: Cohen's d / Hedges' g effect size — the MAGNITUDE readout the
    * q187 z-test doesn't give (at corpus scale everything is
    * "significant"; the decision-relevant number is how many pooled
    * standard deviations the arms differ by, with Hedges' small-sample
    * correction g = d·(1 − 3/(4n−9))): per-user purchase totals under the
    * same md5 arm split as q187, pooled-variance standardization.
    *
    * Exact arithmetic: outcomes are integer cents (q156's micro-unit
    * stance), so per-arm Σy and Σy² are exact int64 and each arm's sample
    * variance (n·ss − s²)/(n(n−1)) is a single division of exact integers
    * (the sums overflow int64 only past ~10⁹ users·$10⁶ totals — swap to
    * DECIMAL/HUGEINT there); the pooled variance and d/g are fixed-order
    * double algebra on those exact inputs, rounded at 6. Guards: an arm
    * with n<2 has no variance, pooled sd 0 (all outcomes equal) makes d
    * undefined — NULL on both engines (ANSI /0 throws unguarded).
    *
    * Scale shape: one corpus-linear hash aggregation to the user grain,
    * one to the two arms; the effect-size algebra runs on a 2-row frame.
    */
  private def q296(s: SparkSession, d: String): DataFrame = {
    val users = events(s, d).groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("yc"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
          "A").otherwise("B"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("yc")).cast("long").as("s"),
        sum(col("yc") * col("yc")).cast("long").as("ss"))
      .withColumn("v", when(col("n") > 1,
        (col("n") * col("ss") - col("s") * col("s")).cast("double")
          / (col("n") * (col("n") - 1)).cast("double")))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("s").as("s_a"), col("v").as("v_a"),
        pmod(col("n"), lit(1L)).as("jk"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("n_b"), col("s").as("s_b"), col("v").as("v_b"),
        pmod(col("n"), lit(1L)).as("jk"))
    a.join(broadcast(b), Seq("jk"))
      .withColumn("vp", when(col("n_a") + col("n_b") > 2,
        ((col("n_a") - 1).cast("double") * col("v_a")
          + (col("n_b") - 1).cast("double") * col("v_b"))
          / (col("n_a") + col("n_b") - 2).cast("double")))
      .withColumn("dd", when(col("vp") > 0.0,
        (col("s_a").cast("double") / col("n_a")
          - col("s_b").cast("double") / col("n_b")) / sqrt(col("vp"))))
      .select(col("n_a"), col("n_b"),
        round(col("s_a").cast("double") / (lit(100.0) * col("n_a")), 6)
          .as("mean_a"),
        round(col("s_b").cast("double") / (lit(100.0) * col("n_b")), 6)
          .as("mean_b"),
        round(sqrt(col("vp")) / 100.0, 6).as("sd_pooled"),
        round(col("dd"), 6).as("cohens_d"),
        round(col("dd") * (lit(1.0) - lit(3.0)
          / (lit(4.0) * (col("n_a") + col("n_b")) - 9)), 6).as("hedges_g"))
  }

  private val o296 = """
    WITH users AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS yc,
             CASE WHEN substr(md5(CAST(max(user_id) AS VARCHAR)), 1, 1)
                  < '8' THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY user_id),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yc) AS BIGINT) AS s,
             CAST(sum(yc * yc) AS BIGINT) AS ss
      FROM users GROUP BY arm),
    v AS (
      SELECT arm, n, s,
             CASE WHEN n > 1 THEN
               CAST(n * ss - s * s AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE) END AS v
      FROM arms),
    j AS (
      SELECT a.n AS n_a, a.s AS s_a, a.v AS v_a,
             b.n AS n_b, b.s AS s_b, b.v AS v_b
      FROM v a CROSS JOIN v b
      WHERE a.arm = 'A' AND b.arm = 'B'),
    e AS (
      SELECT *,
             CASE WHEN n_a + n_b > 2 THEN
               (CAST(n_a - 1 AS DOUBLE) * v_a
                + CAST(n_b - 1 AS DOUBLE) * v_b)
               / CAST(n_a + n_b - 2 AS DOUBLE) END AS vp
      FROM j),
    f AS (
      SELECT *,
             CASE WHEN vp > 0.0 THEN
               (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
               / sqrt(vp) END AS dd
      FROM e)
    SELECT n_a, n_b,
           round(CAST(s_a AS DOUBLE) / (100.0 * n_a), 6) AS mean_a,
           round(CAST(s_b AS DOUBLE) / (100.0 * n_b), 6) AS mean_b,
           round(sqrt(vp) / 100.0, 6) AS sd_pooled,
           round(dd, 6) AS cohens_d,
           round(dd * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9)), 6) AS hedges_g
    FROM f"""

  /** q293: Mann–Kendall trend test + Kendall τ-b on the daily per-type
    * series — the nonparametric "is this metric trending?" significance
    * readout that pairs with q246's Theil–Sen slope (MK is the test,
    * Theil–Sen the estimator — the standard combination in environmental
    * and ops monitoring): S = Σ_{i<j} sign(y_j − y_i) over day pairs,
    * Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 with the tie
    * correction, z continuity-corrected toward 0, and τ-b = S/√((n₀−n₁)n₀)
    * (time ties impossible at the day grain, so n₂=0).
    *
    * Exact arithmetic: S, both variance polynomials, n₀ and n₁ are exact
    * int64 (days per type are bounded — thousands at most — so cubes
    * can't overflow); z and τ-b are single divisions of exact integers,
    * rounded at 6, with the all-tied degenerate (VarS=0) NULL on both
    * engines. The day-pair self-join is |days|²-bounded per type — time
    * span, not data volume, so it does NOT grow with corpus size.
    */
  private def q293(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("ts DIV 1000 DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val b = daily.select(col("event_type").as("btype"),
      col("day").as("bday"), col("y").as("by"))
    val sstat = daily.join(b, col("btype") === col("event_type")
        && col("bday") > col("day"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("by") > col("y"), 1L)
        .when(col("by") < col("y"), -1L).otherwise(0L)).cast("long")
        .as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t")).cast("long").as("n"),
        sum(expr("t * (t - 1) DIV 2")).cast("long").as("n1"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .cast("long").as("vt"))
    sstat.join(ties, Seq("event_type"))
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .withColumn("vs18",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("vt"))
      .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
        round(col("vs18").cast("double") / 18.0, 4).as("var_s"),
        round(when(col("vs18") > 0,
          (col("s_stat").cast("double")
            - signum(col("s_stat").cast("double")))
          / sqrt(col("vs18").cast("double") / 18.0)), 6).as("z"),
        round(when(col("n0") > col("n1"),
          col("s_stat").cast("double")
            / sqrt((col("n0") - col("n1")).cast("double")
              * col("n0").cast("double"))), 6).as("tau_b"),
        when(col("s_stat") > 0, "increasing")
          .when(col("s_stat") < 0, "decreasing").otherwise("none")
          .as("trend"))
      .orderBy(col("event_type"))
  }

  private val o293 = """
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, day),
    sstat AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON b.event_type = a.event_type
                               AND b.day > a.day
      GROUP BY a.event_type),
    tg AS (
      SELECT event_type, y, CAST(count(*) AS BIGINT) AS t
      FROM daily GROUP BY event_type, y),
    ties AS (
      SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vt
      FROM tg GROUP BY event_type),
    j AS (
      SELECT s.event_type, s.s_stat, t.n, t.n1,
             t.n * (t.n - 1) // 2 AS n0,
             t.n * (t.n - 1) * (2 * t.n + 5) - t.vt AS vs18
      FROM sstat s JOIN ties t ON t.event_type = s.event_type)
    SELECT event_type, n AS n_days, s_stat,
           round(CAST(vs18 AS DOUBLE) / 18.0, 4) AS var_s,
           round(CASE WHEN vs18 > 0 THEN
             (CAST(s_stat AS DOUBLE) - sign(CAST(s_stat AS DOUBLE)))
             / sqrt(CAST(vs18 AS DOUBLE) / 18.0) END, 6) AS z,
           round(CASE WHEN n0 > n1 THEN
             CAST(s_stat AS DOUBLE)
             / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) END, 6)
             AS tau_b,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM j ORDER BY event_type"""

  /** q309: Cochran–Armitage test for trend (Cochran 1954; Armitage 1955)
    * — does purchase propensity rise MONOTONICALLY with view exposure?
    * The dose-response upgrade over q187's two-arm z test: user-days are
    * binned by that day's view count (scores w_t = t, capped at 4+), the
    * response is "purchased that day", and the statistic weighs the
    * per-tier conversion rates by the ordered scores — a significant z
    * with rising rates is the engagement→conversion dose curve a
    * recommender team gates releases on.
    *
    * Scale shape: one hash aggregation to the (user, day) grain
    * (unbounded, partitioned by user — the corpus-linear pass), then the
    * 5-row tier frame carries everything; the trend algebra runs on the
    * tiny frame. Cross-engine: all tier sums are exact int64; z is a
    * fixed dag of double ops on those exact ints (every +,−,×,÷,sqrt
    * IEEE-identical on identical inputs — no cross-row float summation
    * anywhere), rounded at 6 for presentation only; the degenerate
    * variance (all one tier, or conversion rate exactly 0 or 1) yields
    * NULL on both engines (Spark ANSI guard ↔ DuckDB CASE).
    */
  private def q309(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ud = events(s, d)
      .select(col("user_id"), expr(s"(ts DIV 1000) DIV $dayUs").as("day"),
        col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("views"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val tiers = ud.select(least(col("views"), lit(4L)).as("tier"),
      col("conv"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_t"), sum(col("conv")).cast("long").as("r_t"))
    val tot = tiers.groupBy(pmod(col("tier"), lit(1)).as("jk"))
      .agg(sum(col("n_t")).cast("long").as("n"),
        sum(col("r_t")).cast("long").as("r"),
        sum(col("tier") * col("n_t")).cast("long").as("snw"),
        sum(col("tier") * col("r_t")).cast("long").as("srw"),
        sum(col("tier") * col("tier") * col("n_t")).cast("long").as("snw2"))
      .withColumn("pbar", col("r").cast("double") / col("n"))
      .withColumn("num",
        col("srw").cast("double") - col("pbar") * col("snw"))
      .withColumn("vart", col("pbar") * (lit(1.0) - col("pbar"))
        * (col("snw2").cast("double")
          - col("snw").cast("double") * col("snw") / col("n")))
      .select(col("jk"), col("n"), col("r"),
        round(when(col("vart") > 0.0, col("num") / sqrt(col("vart"))), 6)
          .as("z_trend"))
    tiers.withColumn("jk", pmod(col("tier"), lit(1)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("tier"), col("n_t"), col("r_t"),
        round(when(col("n_t") > 0,
          col("r_t").cast("double") / col("n_t")), 6).as("rate"),
        col("n").as("n_total"), col("r").as("r_total"), col("z_trend"))
      .orderBy(col("tier"))
  }

  private val o309 = """
    WITH ud AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS views,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS conv
      FROM events GROUP BY user_id, epoch_us(ts) // 86400000000),
    tiers AS (
      SELECT least(views, 4) AS tier, CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(conv) AS BIGINT) AS r_t
      FROM ud GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_t) AS BIGINT) AS n, CAST(sum(r_t) AS BIGINT) AS r,
             CAST(sum(tier * n_t) AS BIGINT) AS snw,
             CAST(sum(tier * r_t) AS BIGINT) AS srw,
             CAST(sum(tier * tier * n_t) AS BIGINT) AS snw2
      FROM tiers),
    z AS (
      SELECT n, r,
             round(CASE WHEN (CAST(r AS DOUBLE) / n)
                          * (1.0 - CAST(r AS DOUBLE) / n)
                          * (CAST(snw2 AS DOUBLE)
                             - CAST(snw AS DOUBLE) * snw / n) > 0 THEN
               (CAST(srw AS DOUBLE) - (CAST(r AS DOUBLE) / n) * snw)
               / sqrt((CAST(r AS DOUBLE) / n)
                      * (1.0 - CAST(r AS DOUBLE) / n)
                      * (CAST(snw2 AS DOUBLE)
                         - CAST(snw AS DOUBLE) * snw / n)) END, 6)
               AS z_trend
      FROM tot)
    SELECT t.tier, t.n_t, t.r_t,
           round(CASE WHEN t.n_t > 0 THEN
             CAST(t.r_t AS DOUBLE) / t.n_t END, 6) AS rate,
           z.n AS n_total, z.r AS r_total, z.z_trend
    FROM tiers t, z ORDER BY t.tier"""

  /** q318: SPRT — Wald's sequential probability ratio test (Wald 1945)
    * as a per-arm daily monitoring walk: cumulative log-likelihood ratio
    * of H1: p=[[SprtP1]] vs H0: p=[[SprtP0]] over user-day conversion
    * trials, with accept/continue decisions at the α=β=0.05 boundaries
    * ±ln(19). The "peeking-safe" sequential companion to q187's
    * fixed-horizon z test: the day a release gate may legitimately stop
    * the experiment is the first boundary crossing, and the walk shows
    * it.
    *
    * Exactness design: the LLR increments are counts × CONSTANTS —
    * both ln-ratios and the boundaries are snapped to integer
    * micro-units at COMPILE time and embedded as the same int64
    * literals in both engines, so the cumulative walk
    * conv·la + (n−conv)·lb is an exact integer prefix sum and every
    * decision is an exact-int comparison. The display llr divides by
    * 1e6 and rounds at 6 for presentation only.
    *
    * Scale shape: one corpus-linear hash aggregation to the (user, day)
    * trial grain, a second to the (arm, day) frame (bounded: 2 arms ×
    * observed days); the prefix-sum window runs on that AGGREGATED
    * day-grain frame (the spec-sanctioned q152 shape), never over raw
    * events.
    */
  private[graft] val SprtP0 = 0.02
  private[graft] val SprtP1 = 0.04
  private[graft] val SprtLa = math.round(math.log(SprtP1 / SprtP0) * 1e6)
  private[graft] val SprtLb =
    math.round(math.log((1.0 - SprtP1) / (1.0 - SprtP0)) * 1e6)
  private[graft] val SprtUp = math.round(math.log(19.0) * 1e6)

  /** q318: SPRT monitoring walk, each arm's cumulative daily log-likelihood
    * ratio with its accept or continue decision. */
  private def q318(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ud = events(s, d)
      .select(col("user_id"), expr(s"(ts DIV 1000) DIV $dayUs").as("day"),
        col("event_type"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val dayAgg = ud.groupBy(col("arm"), col("day"))
      .agg(count(lit(1)).as("trials"), sum(col("conv")).as("convs"))
    val w = Window.partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dayAgg
      .withColumn("n_cum", sum(col("trials")).over(w))
      .withColumn("conv_cum", sum(col("convs")).over(w))
      .withColumn("llr_li", col("conv_cum") * lit(SprtLa)
        + (col("n_cum") - col("conv_cum")) * lit(SprtLb))
      .select(col("arm"), col("day"), col("n_cum"), col("conv_cum"),
        round(col("llr_li").cast("double") / lit(1e6), 6).as("llr"),
        when(col("llr_li") >= SprtUp, "accept_h1")
          .when(col("llr_li") <= -SprtUp, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy(col("arm"), col("day"))
  }

  private val o318 = s"""
    WITH ud AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 150
               THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY user_id, epoch_us(ts) // 86400000000),
    armed AS (
      SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
               THEN 'A' ELSE 'B' END AS arm,
             day, conv
      FROM ud),
    dayagg AS (
      SELECT arm, day, CAST(count(*) AS BIGINT) AS trials,
             CAST(sum(conv) AS BIGINT) AS convs
      FROM armed GROUP BY arm, day),
    cum AS (
      SELECT arm, day, trials, convs,
             CAST(sum(trials) OVER (PARTITION BY arm ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
             CAST(sum(convs) OVER (PARTITION BY arm ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conv_cum
      FROM dayagg)
    SELECT arm, day, n_cum, conv_cum,
           round(CAST(conv_cum * $SprtLa
             + (n_cum - conv_cum) * $SprtLb AS DOUBLE) / 1e6, 6) AS llr,
           CASE WHEN conv_cum * $SprtLa + (n_cum - conv_cum) * $SprtLb
                  >= $SprtUp THEN 'accept_h1'
                WHEN conv_cum * $SprtLa + (n_cum - conv_cum) * $SprtLb
                  <= -$SprtUp THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum ORDER BY arm, day"""

  /** q319: entropy rate of the empirical event-type Markov chain
    * (Shannon 1948, ch. 7) — per-state conditional entropies
    * H_i = −Σ_j P_ij ln P_ij weighted by the empirical state
    * distribution π, beside the zeroth-order entropy H0 = −Σ π ln π.
    * H0 − H_rate is the predictability the first-order structure buys:
    * the one-number answer to "do sessions have sequential structure
    * worth modeling?" — the information-theoretic summary of q189's
    * transition matrix (and the companion to q302's burstiness).
    *
    * Scale shape: the per-user lead() window (unbounded key — q189's
    * sanctioned shape) collapses map-side to the types×types cell frame;
    * every entropy sum runs over that bounded frame. r13: every entropy
    * term is SNAPPED to int64 pico-units (`round(term·1e12)::long`)
    * before its sum — exact integer folds, no order-sensitive float
    * aggregate over transcendentals (CatalogSpec discipline); final
    * display rounding at 6 unchanged.
    */
  private def q319(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(tsUs, col("event_id"))
    val pairs = events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("cur")).agg(sum(col("n")).as("n_cur"))
    val nn = totals.groupBy(pmod(col("n_cur"), lit(1L)).as("jk"))
      .agg(sum(col("n_cur")).as("nn"))
    val hcond = pairs.join(broadcast(totals), Seq("cur"))
      .groupBy(col("cur"))
      .agg(sum(round((col("n").cast("double") / col("n_cur"))
        * log(col("n").cast("double") / col("n_cur")) * lit(1e12))
        .cast("long")).as("hc_n"))
      .select(col("cur"),
        (-(col("hc_n").cast("double")) / lit(1e12)).as("hc"))
    val states = totals.join(broadcast(hcond), Seq("cur"))
      .withColumn("jk", pmod(col("n_cur"), lit(1L)))
      .join(broadcast(nn), Seq("jk"))
    val perState = states.select(col("cur").as("state"),
      round(col("n_cur").cast("double") / col("nn"), 6).as("pi"),
      round(col("hc"), 6).as("h_cond"))
    val summary = states.groupBy(col("jk"))
      .agg(sum(round((col("n_cur").cast("double") / col("nn")) * col("hc")
          * lit(1e12)).cast("long")).as("hr_n"),
        sum(round((col("n_cur").cast("double") / col("nn"))
          * log(col("n_cur").cast("double") / col("nn")) * lit(1e12))
          .cast("long")).as("h0_n"))
      .select((col("hr_n").cast("double") / lit(1e12)).as("hr"),
        (-(col("h0_n").cast("double")) / lit(1e12)).as("h0"))
    perState
      .union(summary.select(lit("zz_order0").as("state"),
        lit(1.0).as("pi"), round(col("h0"), 6).as("h_cond")))
      .union(summary.select(lit("zz_rate").as("state"),
        lit(1.0).as("pi"), round(col("hr"), 6).as("h_cond")))
      .orderBy(col("state"))
  }

  private val o319 = """
    WITH pairs AS (
      SELECT event_type AS cur, next_type AS nxt,
             CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS next_type
        FROM events)
      WHERE next_type IS NOT NULL
      GROUP BY cur, nxt),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur FROM pairs
            GROUP BY cur),
    nn AS (SELECT CAST(sum(n_cur) AS BIGINT) AS nn FROM tot),
    hcond AS (
      SELECT cur,
             -(CAST(sum(CAST(round((CAST(n AS DOUBLE) / n_cur)
                  * ln(CAST(n AS DOUBLE) / n_cur) * 1e12) AS BIGINT))
               AS DOUBLE)) / 1e12 AS hc
      FROM pairs JOIN tot USING (cur) GROUP BY cur),
    states AS (
      SELECT cur, n_cur, hc, nn
      FROM tot JOIN hcond USING (cur), nn),
    summary AS (
      SELECT CAST(sum(CAST(round((CAST(n_cur AS DOUBLE) / nn) * hc * 1e12)
               AS BIGINT)) AS DOUBLE) / 1e12 AS hr,
             -(CAST(sum(CAST(round((CAST(n_cur AS DOUBLE) / nn)
                  * ln(CAST(n_cur AS DOUBLE) / nn) * 1e12) AS BIGINT))
               AS DOUBLE)) / 1e12 AS h0
      FROM states)
    SELECT cur AS state,
           round(CAST(n_cur AS DOUBLE) / nn, 6) AS pi,
           round(hc, 6) AS h_cond
    FROM states
    UNION ALL
    SELECT 'zz_order0' AS state, 1.0 AS pi, round(h0, 6) AS h_cond
    FROM summary
    UNION ALL
    SELECT 'zz_rate' AS state, 1.0 AS pi, round(hr, 6) AS h_cond
    FROM summary
    ORDER BY state"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q318_sprt_monitor", q318, Some(o318)),
    QueryDef("q319_markov_entropy", q319, Some(o319)),
    QueryDef("q309_cochran_armitage", q309, Some(o309)),
    QueryDef("q283_acf", q283, Some(o283)),
    QueryDef("q289_pacf", q289, Some(o289)),
    QueryDef("q291_stratified_ate", q291, Some(o291)),
    QueryDef("q292_mcnemar", q292, Some(o292)),
    QueryDef("q293_mann_kendall", q293, Some(o293)),
    QueryDef("q296_effect_size", q296, Some(o296)),
    QueryDef("q297_gains_lift", q297, Some(o297)),
    QueryDef("q298_ljung_box", q298, Some(o298)),
    QueryDef("q299_ccf_lead_lag", q299, Some(o299)),
    QueryDef("q302_fano_burstiness", q302, Some(o302)),
    QueryDef("q284_avg_precision", q284, Some(o284)),
    QueryDef("q287_kruskal_wallis", q287, Some(o287)),
    QueryDef("q268_freshness_sla", q268, Some(o268)),
    QueryDef("q269_seasonal_naive_backtest", q269, Some(o269)),
    QueryDef("q264_target_encoding", q264, Some(o264)),
    QueryDef("q263_conformal_interval", q263, Some(o263)),
    QueryDef("q259_ks_drift", q259, Some(o259)),
    QueryDef("q260_roc_auc", q260, Some(o260)),
    QueryDef("q256_cusum_changepoint", q256, Some(o256)),
    QueryDef("q257_bootstrap_ci", q257, Some(o257)),
    QueryDef("q326_permutation_test", q326, Some(o326)),
    QueryDef("q258_weekly_decomposition", q258, Some(o258)),
    QueryDef("q249_cuped", q249, Some(o249)),
    QueryDef("q250_robust_means", q250, Some(o250)),
    QueryDef("q251_diff_in_diff", q251, Some(o251)),
    QueryDef("q246_theilsen_trend", q246, Some(o246)),
    QueryDef("q247_frequent_sequences", q247, Some(o247)),
    QueryDef("q248_woe_binning", q248, Some(o248)),
    QueryDef("q239_ewma_smoothing", q239, Some(o239)),
    QueryDef("q240_survival_curve", q240, Some(o240)),
    QueryDef("q325_logrank_test", q325, Some(o325)),
    QueryDef("q329_cronbach_alpha", q329, Some(o329)),
    QueryDef("q330_nelson_aalen", q330, Some(o330)),
    QueryDef("q333_gini_activity", q333, Some(o333)),
    QueryDef("q334_weekly_seasonality", q334, Some(o334)),
    QueryDef("q337_touch_attribution", q337, Some(o337)),
    QueryDef("q237_dau_wau_stickiness", q237, Some(o237)),
    QueryDef("q238_watermark_audit", q238, Some(o238)),
    QueryDef("q232_seasonal_anomaly", q232, Some(o232)),
    QueryDef("q224_event_patterns", q224, Some(o224)),
    QueryDef("q225_mad_outliers", q225, Some(o225)),
    QueryDef("q216_ohlc_bars", q216, Some(o216)),
    QueryDef("q222_psi_drift", q222, Some(o222)),
    QueryDef("q206_markov_attribution", q206, Some(o206)),
    QueryDef("q169_wow_growth", q169, Some(o169)),
    QueryDef("q158_asof_native", q158, Some(o158)),
    QueryDef("q182_pit_enrich", q182, Some(o182)),
    QueryDef("q184_temporal_split", q184, Some(o184)),
    QueryDef("q187_ab_test", q187, Some(o187)),
    QueryDef("q189_markov_transitions", q189, Some(o189)),
    QueryDef("q190_interval_native", q190, Some(o190)),
    QueryDef("q191_funnel_latency", q191, Some(o191)),
    QueryDef("q192_calendar_heatmap", q192, Some(o192)),
    QueryDef("q194_rfm_segments", q194, Some(o194)),
    QueryDef("q201_entry_conversion", q201, Some(o201)),
    QueryDef("q162_asof_tolerance", q162, Some(o162)),
    QueryDef("q147_decay_score", q147, Some(o147)),
    QueryDef("q144_moving_median", q144, Some(o144)),
    QueryDef("q145_interval_union", q145, Some(o145)),
    QueryDef("q128_cohort_retention", q128, Some(o128)),
    QueryDef("q123_gap_fill", q123, Some(o123)),
    QueryDef("q121_scd2_history", q121, Some(o121)),
    QueryDef("q113_session_window", q113, Some(o113)),
    QueryDef("q107_funnel", q107, Some(o107)),
    QueryDef("q108_debounce", q108, Some(o108)),
    QueryDef("q49_json_extract", q49, Some(o49)),
    QueryDef("q50_sessionize", q50, Some(o50)),
    QueryDef("q51_asof_prior_view", q51, Some(o51)),
    QueryDef("q52_pivot_status", q52, Some(o52)))
}
