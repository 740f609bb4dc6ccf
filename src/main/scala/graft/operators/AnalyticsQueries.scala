package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.TimeSeries
import graft.sources.Sources

/** Round-5 coverage widening: the relational shapes the parity surface
  * didn't exercise yet (full-outer join, correlated EXISTS / scalar
  * subqueries, sliding window frames) plus two staple corpus-analytics
  * queries (cohort retention, bigram collocations). Every query here is
  * DuckDB-oracle-anchored.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** FULL OUTER join — both-sides-preserved merge of two aggregates. The
    * only join family missing from the J-series (left/inner/semi/anti/
    * star/salted). At scale this is one shuffle per side on the join key;
    * the aggregates shrink the inputs first (agg-before-join discipline),
    * so the outer join sees |users| rows, not |events|. */
  val fullOuter = Q(
    "q_j6_full_outer",
    "FULL OUTER join of first-half vs second-half monthly user activity",
    (s, dir) => {
      val e = t(s, dir, "events")
      val first = e.filter(dayofmonth(col("ts")) <= 15)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_first"))
      val second = e.filter(dayofmonth(col("ts")) > 15)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_second"))
      first.join(second, Seq("user_id"), "full_outer")
    },
    Some("""WITH f AS (SELECT user_id, count(*) AS n_first FROM events
           |   WHERE extract(day FROM ts) <= 15 GROUP BY user_id),
           | s AS (SELECT user_id, count(*) AS n_second FROM events
           |   WHERE extract(day FROM ts) > 15 GROUP BY user_id)
           | SELECT user_id, n_first, n_second FROM f FULL JOIN s USING (user_id)"""
      .stripMargin.replace("\n", "")))

  /** Correlated EXISTS / NOT EXISTS — Catalyst rewrites both into
    * semi/anti joins (RewritePredicateSubquery), so the 100 TB plan is
    * two hash joins, never a per-row subquery loop. Expressed through
    * spark.sql over temp views: predicate subqueries are a SQL-surface
    * feature, and this pins that the SQL front door supports them. */
  val existsSubquery = Q(
    "q_q3_exists",
    "Correlated EXISTS + NOT EXISTS (rewritten to semi/anti joins)",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g5_customer")
      t(s, dir, "orders").createOrReplaceTempView("g5_orders")
      s.sql("""SELECT c_custkey, c_name, c_mktsegment
              | FROM g5_customer c
              | WHERE EXISTS (SELECT 1 FROM g5_orders o
              |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
              |   AND NOT EXISTS (SELECT 1 FROM g5_orders o
              |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""
        .stripMargin)
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
           | WHERE EXISTS (SELECT 1 FROM orders o
           |   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
           |   AND NOT EXISTS (SELECT 1 FROM orders o
           |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""
      .stripMargin.replace("\n", "")))

  /** Scalar subqueries — uncorrelated (global average, computed once and
    * broadcast as a literal) and correlated (per-customer order count,
    * rewritten to a left outer join + aggregate). */
  val scalarSubquery = Q(
    "q_q4_scalar_subquery",
    "Scalar subqueries: global-avg filter + correlated per-row count",
    (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g5_customer")
      t(s, dir, "orders").createOrReplaceTempView("g5_orders")
      s.sql("""SELECT c_custkey,
              |   (SELECT count(*) FROM g5_orders o
              |    WHERE o.o_custkey = c.c_custkey) AS n_orders
              | FROM g5_customer c
              | WHERE c_acctbal > (SELECT avg(c_acctbal) FROM g5_customer)"""
        .stripMargin)
    },
    Some("""SELECT c_custkey,
           |   (SELECT count(*) FROM orders o
           |    WHERE o.o_custkey = c.c_custkey) AS n_orders
           | FROM customer c
           | WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)"""
      .stripMargin.replace("\n", "")))

  /** Sliding window frames — ROWS BETWEEN k PRECEDING moving aggregate
    * plus first/last_value with explicit frames (the frame-spec family
    * beyond the unbounded running sums already covered). One (user_id;
    * ts, event_id) shuffle+sort serves all four frames. The moving sum
    * runs over integer milli-units: engines implement sliding frames
    * differently (DuckDB incrementally via segment trees, Spark by frame
    * re-scan), so float accumulation inside a frame is NOT bit-stable —
    * integers are. first/last_value are selections, no accumulation. */
  val movingAvg = Q(
    "q_w_moving_avg",
    "Window frames: 4-row moving sum + count, first/last_value",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val sliding = order.rowsBetween(-3, Window.currentRow)
      val whole = order.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        sum(floor(col("value") * 1000).cast("long")).over(sliding)
          .as("moving_milli"),
        count(lit(1)).over(sliding).as("frame_n"),
        round(first_value(col("value")).over(order), 2).as("first_val"),
        round(last_value(col("value")).over(whole), 2).as("last_val"))
    },
    Some("""SELECT event_id, user_id,
           | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_milli,
           | CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS frame_n,
           | round(first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS first_val,
           | round(last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_val
           | FROM events""".stripMargin.replace("\n", "")))

  /** Cohort retention — the canonical product-analytics matrix: users
    * grouped by first-activity week, counted per subsequent week. Two
    * aggregations over one events scan; the per-user cohort frame is tiny
    * (|users| rows) and rides a shuffle it shares with the activity
    * distinct. Week starts are Monday-aligned in both engines, so the
    * day-difference is exactly divisible by 7. */
  val cohortRetention = Q(
    "q_x_cohort_retention",
    "Cohort retention: users by first-activity week × week offset",
    (s, dir) => {
      val e = t(s, dir, "events")
      val cohort = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = e.select(col("user_id"),
        date_trunc("week", col("ts")).as("week")).distinct()
      active.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (datediff(to_date(col("week")), to_date(col("cohort_week"))) / 7)
            .cast("long").as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    },
    Some("""WITH cohort AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
           |   FROM events GROUP BY user_id),
           | active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
           | SELECT cohort_week,
           |   CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
           |   count(DISTINCT user_id) AS n_users
           | FROM active JOIN cohort USING (user_id)
           | GROUP BY 1, 2""".stripMargin.replace("\n", "")))

  /** Bigram collocations — adjacent-token pair counts, the first step of
    * phrase mining / collocation scoring. Tokens materialize as a column
    * BEFORE the zip_with (no expensive expression re-evaluated inside the
    * HOF lambda), pairs explode map-side and partially aggregate before
    * the exchange; top-20 via TakeOrderedAndProject. Deterministic total
    * order (n DESC, w1, w2). */
  val collocations = Q(
    "q_x_collocations",
    "Bigram collocations: top-20 adjacent token pairs",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(filter(split(col("text"), " ", -1), x => x =!= "").as("toks"))
        .filter(size(col("toks")) >= 2)
      toks
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |   FROM documents),
           | b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2)
           | SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2
           | ORDER BY n DESC, w1, w2 LIMIT 20"""
      .stripMargin.replace("\n", "")))

  /** RANGE window frame over event time — "trailing 1 hour per user",
    * the time-based sibling of q_w_moving_avg's ROWS frame. The frame is
    * defined by ORDER-KEY VALUE, not row position, so equal-ts peers and
    * gaps behave identically in both engines (Spark takes the key range
    * on unix micros; DuckDB on the timestamp interval — same set). Sum
    * runs over integer milli-units: frame re-scan vs segment-tree
    * accumulation makes float sums not bit-stable (q_w_moving_avg note).
    * One shuffle + sort per user — the frame scan is the semantics. */
  val rangeFrame = Q(
    "q_w_range_frame",
    "RANGE frame: trailing-1h per-user event count and milli-value sum",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, Window.currentRow)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("trailing_n"),
        sum(floor(col("value") * 1000).cast("long")).over(w)
          .as("trailing_milli"))
    },
    Some("""SELECT event_id, user_id,
           | CAST(count(*) OVER w AS BIGINT) AS trailing_n,
           | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS trailing_milli
           | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts
           |   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"""
      .stripMargin.replace("\n", "")))

  /** UNPIVOT (Dataset.unpivot / melt) — wide→long reshaping, the inverse
    * of q_p9_pivot. Map-only after the feeding aggregate (each input row
    * fans to one row per value column, no shuffle); oracle is the
    * portable UNION ALL expansion. */
  val unpivotMetrics = Q(
    "q_p10_unpivot",
    "UNPIVOT per-returnflag lineitem metrics into (metric, value) rows",
    (s, dir) => {
      val agg = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice")).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
      agg.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("n_items")),
          "metric", "value")
        .select(col("l_returnflag"), col("metric"),
          round(col("value"), 2).as("value"))
    },
    Some("""WITH a AS (SELECT l_returnflag, sum(l_quantity) AS sum_qty,
           |   sum(l_extendedprice) AS sum_price, count(*)::DOUBLE AS n_items
           |   FROM lineitem GROUP BY 1)
           | SELECT l_returnflag, 'sum_qty' AS metric, round(sum_qty, 2) AS value FROM a
           | UNION ALL SELECT l_returnflag, 'sum_price', round(sum_price, 2) FROM a
           | UNION ALL SELECT l_returnflag, 'n_items', round(n_items, 2) FROM a"""
      .stripMargin.replace("\n", "")))

  /** session_window — Spark's built-in gap-session operator (the same
    * one Structured Streaming uses for streaming sessions), pinned
    * against a gaps-and-islands oracle. Boundary semantics: a gap of
    * EXACTLY the 30-min window starts a NEW session (the event falls on
    * the half-open window end), hence `>=` in the oracle — one place
    * this differs from q_w_sessionize's strict-`>` islands. */
  val sessionWindowAgg = Q(
    "q_w_session_window",
    "session_window(30 min): per-user session start + event count",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("n")),
    Some("""WITH g AS (SELECT user_id, ts,
           | CASE WHEN lag(ts) OVER w IS NULL
           |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS ns
           | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           | s AS (SELECT user_id, ts, sum(ns) OVER
           |   (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g)
           | SELECT user_id, date_trunc('microseconds', min(ts)) AS session_start,
           |   count(*) AS n FROM s GROUP BY user_id, sid"""
      .stripMargin.replace("\n", "")))

  /** ROLLUP — the hierarchical subtotal flavor of the grouping-set family
    * (CUBE and raw GROUPING SETS are `q_a8_cube` / `q_a3_grouping_sets`):
    * (status, priority) → (status) → (). Same single-pass expand+agg
    * physical shape as CUBE with fewer grouping combinations. */
  val rollupAgg = Q(
    "q_a8b_rollup",
    "ROLLUP over (orderstatus, orderpriority): hierarchical subtotals",
    (s, dir) => t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        ExactMoney.fixedSum(col("o_totalprice")).as("revenue")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           | sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) / 100.0e0 AS revenue
           | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
      .stripMargin.replace("\n", "")))

  /** Arg-extremum aggregates — min_by/max_by (DuckDB arg_min/arg_max):
    * "which row attains the extreme", without a join-back or a window.
    * Ordered by the UNIQUE event_id so ties can't make the winner
    * engine-dependent; one hash-agg, map-side partial. */
  val argExtremum = Q(
    "q_a11_argmax",
    "min_by/max_by per event_type: first/last user by event_id + value max",
    (s, dir) => t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        min_by(col("user_id"), col("event_id")).as("first_user"),
        max_by(col("user_id"), col("event_id")).as("last_user"),
        round(max(col("value")), 2).as("max_value")),
    Some("""SELECT event_type,
           | arg_min(user_id, event_id) AS first_user,
           | arg_max(user_id, event_id) AS last_user,
           | round(max(value), 2) AS max_value
           | FROM events GROUP BY event_type""".stripMargin.replace("\n", "")))

  /** Event-type transition matrix — per-user Markov bigram counts, the
    * session-flow companion to q_a9_funnel (which checks one fixed path;
    * this emits ALL observed type→type steps). One (user_id; ts, event_id)
    * shuffle+sort feeds the lag; the aggregate collapses to
    * |event_types|² rows, so the output is tiny at any scale and the
    * window sort is the cost — the same exchange q_w_lag_lead already
    * pays. Deterministic: the order key includes the unique event_id. */
  val eventTransitions = Q(
    "q_x_event_transitions",
    "Markov transitions: per-user ordered event_type bigram counts",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH s AS (SELECT user_id, event_type,
           |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           |   FROM events)
           | SELECT prev_type, event_type, count(*) AS n FROM s
           | WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type"""
      .stripMargin.replace("\n", "")))

  /** Hourly anomaly detection — the volume-monitoring pass a streaming
    * ingest runs in batch form: flag (event_type, hour) cells whose count
    * deviates from the type's mean by more than 2 population standard
    * deviations. The z² test is evaluated in INTEGER arithmetic —
    * (c·n − S)² > 4·(S2·n − S²), i.e. n²·(c−μ)² > 4·n²·σ² — so the
    * comparison is exact in any engine (a float z-score straddles the
    * threshold differently per sum order). Shape: one corpus shuffle into
    * the (type, hour) hash-agg; the stats window runs over the
    * |types|×|hours| AGGREGATE frame (bounded at any corpus size —
    * hours×types, not rows), so there is no second corpus pass. Sizing:
    * dev² and S2·n leave 64-bit range once the per-cell deviation c·n − S
    * passes ~3.0e9 — reachable at 100 TB — and ANSI-off Spark would wrap
    * silently where DuckDB raises on BIGINT overflow, so the test runs in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): identical exact integer
    * results, with dev² < 10^38 headroom covering any realistic corpus. */
  val eventAnomaly = Q(
    "q_x_event_anomaly",
    "Hourly volume anomalies: |z| > 2 cells per event_type, integer-exact",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("event_type"))
      // decimal(38,0) keeps dev² / S2·n exact past the ~3.0e9-deviation
      // point where long arithmetic would wrap (see Scaladoc)
      val dev = col("n_events").cast("decimal(38,0)") * col("n") - col("s")
      hourly
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(col("n_events")).over(w))
        .withColumn("s2", sum(col("n_events").cast("decimal(38,0)") *
          col("n_events")).over(w))
        .filter(dev * dev > lit(4L) * (col("s2").cast("decimal(38,0)") *
          col("n") - col("s").cast("decimal(38,0)") * col("s")))
        .select(col("event_type"), col("hour"), col("n_events"),
          floor(col("s") * 1000.0 / col("n")).cast("long").as("mean_milli"))
    },
    Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
           |   count(*) AS n_events FROM events GROUP BY 1, 2),
           | st AS (SELECT event_type, hour, n_events,
           |   count(*) OVER (PARTITION BY event_type) AS n,
           |   sum(n_events) OVER (PARTITION BY event_type) AS s,
           |   sum(CAST(n_events AS HUGEINT) * n_events) OVER (PARTITION BY event_type) AS s2
           |   FROM hourly)
           | SELECT event_type, hour, n_events,
           |   CAST(floor(s * 1000.0 / n) AS BIGINT) AS mean_milli
           | FROM st
           | WHERE (CAST(n_events AS HUGEINT) * n - s) * (CAST(n_events AS HUGEINT) * n - s)
           |   > 4 * (CAST(s2 AS HUGEINT) * n - CAST(s AS HUGEINT) * s)"""
      .stripMargin.replace("\n", "")))

  /** SCD Type-2 history build ([[graft.ext.Scd2.buildHistory]]): customer
    * tier (gold = purchase value ≥ 50) as a versioned dimension with
    * half-open `[valid_from_us, valid_to_us)` intervals. The reference
    * warehouse overwrites `users.level` in place
    * (create_tables.py:15 — current-state only); this is the standard
    * SCD2 answer. One exchange on user_id, window-only. */
  val scd2Build = Q(
    "q_x_scd2_build",
    "SCD2 dimension history: tier versions with validity intervals",
    (s, dir) => graft.ext.Scd2.buildHistory(
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .withColumn("tier",
          when(col("value") >= 50, "gold").otherwise("basic")),
      "user_id", "ts", "event_id", "tier"),
    Some("""WITH p AS (SELECT user_id, ts, event_id,
           |   CASE WHEN value >= 50 THEN 'gold' ELSE 'basic' END AS tier
           | FROM events WHERE event_type = 'purchase'),
           | c AS (SELECT *, lag(tier) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM p),
           | ch AS (SELECT user_id, ts, event_id, tier FROM c
           |   WHERE prev IS NULL OR prev <> tier)
           | SELECT user_id, tier, epoch_us(ts) AS valid_from_us,
           |   lead(epoch_us(ts)) OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
           |   CAST(row_number() OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           |     AS version
           | FROM ch""".stripMargin.replace("\n", "")))

  /** Point-in-time dimension lookup ([[graft.ext.Scd2.pointInTime]]):
    * every click is attributed to the tier ACTIVE AT ITS TIMESTAMP, not
    * the user's current tier. Engine side is one backward as-of merge
    * (O(facts+versions) per user, whale-safe); the oracle independently
    * implements the textbook interval LEFT JOIN, so the two formulations
    * verify each other. Clicks before the first purchase get 'unknown'. */
  val scd2Lookup = Q(
    "q_x_scd2_lookup",
    "SCD2 point-in-time lookup: tier active at each click's timestamp",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val obs = ev.filter(col("event_type") === "purchase")
        .withColumn("tier",
          when(col("value") >= 50, "gold").otherwise("basic"))
      graft.ext.Scd2.pointInTime(
        ev.filter(col("event_type") === "click"), obs,
        "user_id", "ts", "event_id", "tier", Seq("event_id", "user_id"))
        .select(col("event_id"), col("user_id"),
          coalesce(col("tier"), lit("unknown")).as("tier"))
    },
    Some("""WITH p AS (SELECT user_id, ts, event_id,
           |   CASE WHEN value >= 50 THEN 'gold' ELSE 'basic' END AS tier
           | FROM events WHERE event_type = 'purchase'),
           | c AS (SELECT *, lag(tier) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM p),
           | dim AS (SELECT user_id, tier, epoch_us(ts) AS vf,
           |     lead(epoch_us(ts)) OVER
           |       (PARTITION BY user_id ORDER BY ts, event_id) AS vt
           |   FROM c WHERE prev IS NULL OR prev <> tier),
           | f AS (SELECT event_id, user_id, epoch_us(ts) AS fts
           |   FROM events WHERE event_type = 'click')
           | SELECT f.event_id, f.user_id,
           |   coalesce(d.tier, 'unknown') AS tier
           | FROM f LEFT JOIN dim d ON f.user_id = d.user_id
           |   AND f.fts >= d.vf AND (d.vt IS NULL OR f.fts < d.vt)"""
      .stripMargin.replace("\n", "")))

  /** TextRank keywords ([[graft.ext.TextRank]]): damped PageRank over the
    * word co-occurrence graph, 3 fixed power iterations — the repo's
    * iterative-graph operator beyond connected components. The oracle
    * unrolls the same three iterations as DuckDB CTEs; both sides rank on
    * the ppm-rounded score (word tie-break) so cross-engine float-sum
    * jitter cannot flip the k-th place. */
  val textrank = Q(
    "q_x_textrank",
    "TextRank keywords: top-20 words by 3-iteration damped PageRank",
    (s, dir) => graft.ext.TextRank.topKeywords(
      t(s, dir, "documents"), "text", 20),
    Some("""WITH t AS (SELECT list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2),
           | e0 AS (SELECT w1, w2, count(*) AS n FROM b
           |   WHERE w1 <> w2 GROUP BY w1, w2),
           | e AS (SELECT u, v, sum(n) AS n FROM (
           |     SELECT w1 AS u, w2 AS v, n FROM e0
           |     UNION ALL SELECT w2 AS u, w1 AS v, n FROM e0)
           |   GROUP BY u, v),
           | deg AS (SELECT u, sum(n) AS outw FROM e GROUP BY u),
           | en AS (SELECT e.u, e.v, CAST(e.n AS DOUBLE) / deg.outw AS wn
           |   FROM e JOIN deg USING (u)),
           | nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
           | r0 AS (SELECT u AS word, 1.0 / nv.n AS rank FROM deg, nv),
           | r1 AS (SELECT en.v AS word,
           |     0.15 / nv.n + 0.85 * sum(r0.rank * en.wn) AS rank
           |   FROM en JOIN r0 ON en.u = r0.word, nv GROUP BY en.v, nv.n),
           | r2 AS (SELECT en.v AS word,
           |     0.15 / nv.n + 0.85 * sum(r1.rank * en.wn) AS rank
           |   FROM en JOIN r1 ON en.u = r1.word, nv GROUP BY en.v, nv.n),
           | r3 AS (SELECT en.v AS word,
           |     0.15 / nv.n + 0.85 * sum(r2.rank * en.wn) AS rank
           |   FROM en JOIN r2 ON en.u = r2.word, nv GROUP BY en.v, nv.n)
           | SELECT word, round(rank * 1000000, 2) AS score_ppm FROM r3
           | ORDER BY score_ppm DESC, word LIMIT 20"""
      .stripMargin.replace("\n", "")))

  /** Triangle census ([[graft.ext.TextRank.triangleCounts]]): exact
    * per-node triangle counts over the co-occurrence graph via ordered
    * wedge enumeration — integer-exact, hash-green oracle. */
  val triangles = Q(
    "q_x_triangles",
    "Per-word triangle counts over the co-occurrence graph, top-20",
    (s, dir) => graft.ext.TextRank.triangleCounts(
      t(s, dir, "documents"), "text", 20),
    Some("""WITH t AS (SELECT list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2),
           | ef AS (SELECT DISTINCT least(w1, w2) AS u, greatest(w1, w2) AS v
           |   FROM b WHERE w1 <> w2),
           | tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |   FROM ef e1 JOIN ef e2 ON e1.v = e2.u
           |   JOIN ef e3 ON e3.u = e1.u AND e3.v = e2.v),
           | n AS (SELECT a AS word FROM tri UNION ALL
           |   SELECT b FROM tri UNION ALL SELECT c FROM tri)
           | SELECT word, count(*) AS n_triangles FROM n GROUP BY word
           | ORDER BY n_triangles DESC, word LIMIT 20"""
      .stripMargin.replace("\n", "")))

  /** Incremental SCD2 maintenance ([[graft.ext.Scd2.applyBatch]]): the
    * nightly dimension update — history built on purchases before
    * Jan 25, then the Jan 25+ batch folded in incrementally. THE ORACLE
    * IS THE FULL REBUILD (`q_x_scd2_build`'s SQL verbatim), so the
    * incremental path's row-identity to a from-scratch build is what the
    * driver hash-checks. */
  val scd2Incremental = Q(
    "q_x_scd2_incremental",
    "Incremental SCD2 batch apply == full history rebuild",
    (s, dir) => {
      val obs = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("tier",
          when(col("value") >= 50, "gold").otherwise("basic"))
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val hist = graft.ext.Scd2.buildHistory(
        obs.filter(col("ts") < cutoff), "user_id", "ts", "event_id", "tier")
      graft.ext.Scd2.applyBatch(hist,
        obs.filter(col("ts") >= cutoff)
          .select(col("user_id"), col("ts"), col("event_id"), col("tier")),
        "user_id", "ts", "event_id", "tier")
    },
    Some("""WITH p AS (SELECT user_id, ts, event_id,
           |   CASE WHEN value >= 50 THEN 'gold' ELSE 'basic' END AS tier
           | FROM events WHERE event_type = 'purchase'),
           | c AS (SELECT *, lag(tier) OVER
           |   (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM p),
           | ch AS (SELECT user_id, ts, event_id, tier FROM c
           |   WHERE prev IS NULL OR prev <> tier)
           | SELECT user_id, tier, epoch_us(ts) AS valid_from_us,
           |   lead(epoch_us(ts)) OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
           |   CAST(row_number() OVER
           |     (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           |     AS version
           | FROM ch""".stripMargin.replace("\n", "")))

  /** Time-weighted average ([[graft.ext.Resample.twap]]): step-function
    * mean of `value` per user — exact integer Σ v·Δt and Σ Δt, one final
    * division of identical operands in both engines. */
  val twapQ = Q(
    "q_x_twap",
    "Per-user time-weighted average of value (step-function TWAP)",
    (s, dir) => graft.ext.Resample.twap(
      t(s, dir, "events"), "user_id", "ts", "event_id", "value"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_s,
           |     event_id, CAST(round(value * 100) AS BIGINT) AS vc
           |   FROM events),
           | d AS (SELECT user_id, vc, lead(ts_s) OVER
           |     (PARTITION BY user_id ORDER BY ts_s, event_id) - ts_s AS dt
           |   FROM e)
           | SELECT user_id, CAST(sum(dt) AS BIGINT) AS span_s,
           |   round(CAST(sum(vc * dt) AS DOUBLE)
           |     / CAST(sum(dt) AS DOUBLE), 2) AS twap_centi
           | FROM d GROUP BY user_id"""
      .stripMargin.replace("\n", "")))

  /** RFM segmentation ([[graft.ext.Rfm.segments]]): the canonical
    * warehouse marketing grid. Quartile cutoffs are exact interpolated
    * percentiles over integer metrics (days/counts/cents), so DuckDB's
    * quantile_cont reproduces them bit-for-bit; monetary totals are
    * exact centi-unit sums (ExactMoney). No ntile: its bucket bounds
    * depend on arbitrary tie order AND force a global sort. */
  val rfmQ = Q(
    "q_x_rfm",
    "RFM segmentation: quartile-scored grid with counts + exact revenue",
    (s, dir) => graft.ext.Rfm.segments(
      t(s, dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice"),
    Some("""WITH cust AS (SELECT o_custkey,
           |     date_diff('day', CAST(max(o_orderdate) AS DATE),
           |       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS rec,
           |     count(*) AS freq,
           |     sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS mon_c
           |   FROM orders GROUP BY 1),
           | cuts AS (SELECT
           |     quantile_cont(rec, [0.25, 0.5, 0.75]) AS rq,
           |     quantile_cont(freq, [0.25, 0.5, 0.75]) AS fq,
           |     quantile_cont(mon_c, [0.25, 0.5, 0.75]) AS mq FROM cust)
           | SELECT CAST(1 + CAST(rec > rq[1] AS INTEGER)
           |     + CAST(rec > rq[2] AS INTEGER)
           |     + CAST(rec > rq[3] AS INTEGER) AS BIGINT) AS r_score,
           |   CAST(1 + CAST(freq > fq[1] AS INTEGER)
           |     + CAST(freq > fq[2] AS INTEGER)
           |     + CAST(freq > fq[3] AS INTEGER) AS BIGINT) AS f_score,
           |   CAST(1 + CAST(mon_c > mq[1] AS INTEGER)
           |     + CAST(mon_c > mq[2] AS INTEGER)
           |     + CAST(mon_c > mq[3] AS INTEGER) AS BIGINT) AS m_score,
           |   count(*) AS n_customers,
           |   round(sum(mon_c) / 100.0, 2) AS monetary_total
           | FROM cust CROSS JOIN cuts GROUP BY 1, 2, 3"""
      .stripMargin.replace("\n", "")))

  /** Exact OLS trend per event_type ([[graft.ext.TimeSeries.trend]]):
    * slope and Pearson r of value vs epoch-hour from DECIMAL(38,0)
    * moments — n*sxx crosses 2^63 already at sf0.1, so longs are not an
    * option; both engines divide the same exact integers. */
  val trendQ = Q(
    "q_x_trend",
    "Exact per-type OLS trend: slope + Pearson r from decimal moments",
    (s, dir) => TimeSeries.trend(
      t(s, dir, "events"), "event_type", "ts", "value"),
    Some("""WITH e AS (SELECT event_type,
           |     epoch_us(ts) // 3600000000 AS xh,
           |     CAST(round(value * 100.0) AS BIGINT) AS vc FROM events),
           | s AS (SELECT event_type, count(*) AS n,
           |     sum(CAST(xh AS HUGEINT)) AS sx, sum(CAST(vc AS HUGEINT)) AS sy,
           |     sum(CAST(xh AS HUGEINT) * vc) AS sxy,
           |     sum(CAST(xh AS HUGEINT) * xh) AS sxx,
           |     sum(CAST(vc AS HUGEINT) * vc) AS syy
           |   FROM e GROUP BY 1)
           | SELECT event_type, CAST(n AS BIGINT) AS n,
           |   round(CAST(n * sxy - sx * sy AS DOUBLE)
           |     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_centi_per_hour,
           |   round(CAST(n * sxy - sx * sy AS DOUBLE)
           |     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
           |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS pearson_r
           | FROM s"""
      .stripMargin.replace("\n", "")))

  /** CUSUM change-point ([[graft.ext.TimeSeries.changePoint]]): the
    * mean-shift hour per event_type via the denominator-cleared exact
    * deviation D_h = N*csum - ccnt*T in DECIMAL(38,0)/HUGEINT — argmax
    * and tie order are integer-exact, pre/post means one final division
    * of identical operands. Windows run over the AGGREGATED hourly
    * table (calendar-bounded partitions). */
  val changePointQ = Q(
    "q_x_change_point",
    "CUSUM change-point: the exact mean-shift hour per event_type",
    (s, dir) => TimeSeries.changePoint(
      t(s, dir, "events"), "event_type", "ts", "value"),
    Some("""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
           |     count(*) AS cnt, sum(CAST(round(value * 100.0) AS BIGINT)) AS s
           |   FROM events GROUP BY 1, 2),
           | c AS (SELECT event_type, hour, cnt, s,
           |     sum(cnt) OVER w AS ccnt, sum(s) OVER w AS csum,
           |     sum(cnt) OVER p AS n, sum(s) OVER p AS t
           |   FROM h
           |   WINDOW w AS (PARTITION BY event_type ORDER BY hour),
           |          p AS (PARTITION BY event_type)),
           | d AS (SELECT *,
           |     CAST(n AS HUGEINT) * csum - CAST(ccnt AS HUGEINT) * t AS dev
           |   FROM c WHERE ccnt < n),
           | r AS (SELECT *, row_number() OVER
           |     (PARTITION BY event_type ORDER BY abs(dev) DESC, hour) AS rn
           |   FROM d)
           | SELECT event_type, hour AS change_hour,
           |   CAST(ccnt AS BIGINT) AS n_before,
           |   CAST(n - ccnt AS BIGINT) AS n_after,
           |   round(CAST(csum AS DOUBLE) / ccnt / 100.0, 4) AS mean_before,
           |   round(CAST(t - csum AS DOUBLE) / (n - ccnt) / 100.0, 4)
           |     AS mean_after
           | FROM r WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** Market-basket association rules
    * ([[graft.ext.MarketBasket.associationRules]]): co-purchase pairs
    * over lineitem baskets with exact support/confidence/lift — every
    * statistic a ratio of integer counts divided once. The basket-keyed
    * pair join fans out ≤ maxBasket² per key (gate max basket = 13);
    * the whale-basket guardrail is the maxBucket idiom. */
  val assocRulesQ = Q(
    "q_x_assoc_rules",
    "Association rules: exact support/confidence/lift over order baskets",
    (s, dir) => graft.ext.MarketBasket.associationRules(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      minPairCount = 2L, maxBasket = 64),
    Some("""WITH b0 AS (SELECT DISTINCT l_orderkey AS basket,
           |     l_partkey AS item FROM lineitem),
           | kept AS (SELECT basket, count(*) AS sz FROM b0
           |   GROUP BY 1 HAVING count(*) <= 64),
           | b AS (SELECT b0.basket, b0.item FROM b0 JOIN kept USING (basket)),
           | n AS (SELECT count(*) AS n_baskets FROM kept),
           | ic AS (SELECT item, count(*) AS c FROM b GROUP BY 1),
           | pr AS (SELECT x.item AS item_a, y.item AS item_b,
           |     count(*) AS n_pair
           |   FROM b x JOIN b y ON x.basket = y.basket AND x.item < y.item
           |   GROUP BY 1, 2 HAVING count(*) >= 2)
           | SELECT item_a, item_b, n_pair, ca.c AS n_a, cb.c AS n_b,
           |   round(CAST(n_pair AS DOUBLE) / n_baskets, 6) AS support,
           |   round(CAST(n_pair AS DOUBLE) / ca.c, 6) AS conf_a_b,
           |   round(CAST(n_pair AS DOUBLE) / cb.c, 6) AS conf_b_a,
           |   round(CAST(CAST(n_pair AS HUGEINT) * n_baskets AS DOUBLE)
           |     / CAST(CAST(ca.c AS HUGEINT) * cb.c AS DOUBLE), 6) AS lift
           | FROM pr JOIN ic ca ON ca.item = item_a
           |   JOIN ic cb ON cb.item = item_b CROSS JOIN n"""
      .stripMargin.replace("\n", "")))

  /** Robust statistics per group: exact median, MAD (median absolute
    * deviation), and the 3-MAD outlier census — the heavy-tail-proof
    * complement of q_x_event_anomaly's z-scores (one extreme value
    * shifts a mean arbitrarily; it moves a median by at most one rank).
    * Centi-unit integers in, exact interpolated medians (the same
    * definition DuckDB's quantile_cont implements), deviations compared
    * in doubles derived from identical exact operands. Two passes +
    * two broadcast-joined 5-row frames; the exact per-group median
    * buffers group values on a reducer — the documented
    * histogram-cutoff swap (q_x_ppl_buckets idiom) applies past ~10⁹
    * rows per group. */
  val robustStatsQ = Q(
    "q_x_robust_stats",
    "Robust stats: exact median, MAD, 3-MAD outlier census per type",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      val m = e.groupBy(col("event_type"))
        .agg(median(col("vc")).as("med"))
      val d = e.join(broadcast(m), "event_type")
        .withColumn("dev", abs(col("vc") - col("med")))
      val md = d.groupBy(col("event_type"))
        .agg(median(col("dev")).as("mad"))
      d.join(broadcast(md), "event_type")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(max(col("med")) / 100.0, 4).as("median_value"),
          round(max(col("mad")) / 100.0, 4).as("mad_value"),
          sum((col("dev") > col("mad") * 3).cast("int")).cast("long")
            .as("n_outliers"))
    },
    Some("""WITH e AS (SELECT event_type,
           |     CAST(round(value * 100.0) AS BIGINT) AS vc FROM events),
           | m AS (SELECT event_type, quantile_cont(vc, 0.5) AS med
           |   FROM e GROUP BY 1),
           | d AS (SELECT e.event_type, e.vc, abs(e.vc - m.med) AS dev
           |   FROM e JOIN m USING (event_type)),
           | s AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
           |   FROM d GROUP BY 1)
           | SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
           |   round(max(m.med) / 100.0, 4) AS median_value,
           |   round(max(s.mad) / 100.0, 4) AS mad_value,
           |   CAST(sum(CAST(d.dev > 3 * s.mad AS INTEGER)) AS BIGINT)
           |     AS n_outliers
           | FROM d JOIN s USING (event_type) JOIN m USING (event_type)
           | GROUP BY 1""".stripMargin.replace("\n", "")))

  /** Declarative data-quality audit ([[graft.ext.Profile]]): referential
    * integrity, key uniqueness, and range/domain membership across the
    * warehouse tables, reported as violation counts — the Deequ-style
    * scorecard a 100 TB ingest runs as its admission gate. Every row is
    * exact integer counting (anti-join aggregates, grouped-count sums),
    * so the report is engine- and layout-independent; the audit costs
    * one column-pruned scan per constraint, each map-side partial. The
    * gate corpus is clean by construction — the DETECTION logic is
    * spec-verified on planted violations (ProfileSpec). */
  val qualityChecksQ = Q(
    "q_x_quality_checks",
    "Data-quality audit: FK / uniqueness / range checks as violation counts",
    (s, dir) => {
      import graft.ext.Profile
      // r14 scan sharing (guide §2.1), same audit rows:
      //  - per table, ONE groupBy(key).count feeds BOTH the uniqueness
      //    check and the same-key FK parent side (identical exchange
      //    subtrees → ReuseExchange computes them once inside the one
      //    union query; before, customer and orders were each scanned
      //    twice);
      //  - the two lineitem value checks fold into one scan+aggregate
      //    (predicateChecks; before, two full-column scans).
      // 10 table scans → 7; plan diff in plans/r14/q_x_quality_checks_*.
      val custKeys = Profile.keyCounts(t(s, dir, "customer"),
        Seq("c_custkey"))
      val ordKeys = Profile.keyCounts(t(s, dir, "orders"),
        Seq("o_orderkey"))
      Seq(
        Profile.fkCheckKeys("orders_custkey_fk",
          t(s, dir, "orders"), "o_custkey", custKeys, "c_custkey"),
        Profile.fkCheckKeys("lineitem_orderkey_fk",
          t(s, dir, "lineitem"), "l_orderkey", ordKeys, "o_orderkey"),
        Profile.uniqueCheckFromCounts("customer_key_unique", custKeys),
        Profile.uniqueCheckFromCounts("orders_key_unique", ordKeys),
        Profile.predicateChecks(t(s, dir, "lineitem"), Seq(
          "lineitem_qty_range" -> col("l_quantity").between(1, 50),
          "lineitem_price_positive" -> (col("l_extendedprice") > 0))),
        Profile.predicateCheck("events_type_domain", t(s, dir, "events"),
          col("event_type").isin("view", "click", "purchase", "signup",
            "error")),
        Profile.predicateCheck("documents_nonempty", t(s, dir, "documents"),
          col("text").isNotNull && col("n_chars") > 0)
      ).reduce(_ unionByName _)
    },
    Some("""SELECT 'orders_custkey_fk' AS check_name,
           |   CAST(count(*) AS BIGINT) AS n_checked,
           |   CAST(coalesce(sum(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END), 0)
           |     AS BIGINT) AS n_violations
           | FROM orders LEFT JOIN
           |   (SELECT DISTINCT c_custkey AS __pk FROM customer) p
           |   ON o_custkey = p.__pk
           | UNION ALL
           | SELECT 'lineitem_orderkey_fk',
           |   CAST(count(*) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END), 0)
           |     AS BIGINT)
           | FROM lineitem LEFT JOIN
           |   (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
           |   ON l_orderkey = p.__pk
           | UNION ALL
           | SELECT 'customer_key_unique', CAST(coalesce(sum(k), 0) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN k > 1 THEN k ELSE 0 END), 0) AS BIGINT)
           | FROM (SELECT count(*) AS k FROM customer GROUP BY c_custkey)
           | UNION ALL
           | SELECT 'orders_key_unique', CAST(coalesce(sum(k), 0) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN k > 1 THEN k ELSE 0 END), 0) AS BIGINT)
           | FROM (SELECT count(*) AS k FROM orders GROUP BY o_orderkey)
           | UNION ALL
           | SELECT 'lineitem_qty_range', CAST(count(*) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN NOT coalesce(
           |     l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END), 0)
           |     AS BIGINT)
           | FROM lineitem
           | UNION ALL
           | SELECT 'lineitem_price_positive', CAST(count(*) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN NOT coalesce(
           |     l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END), 0) AS BIGINT)
           | FROM lineitem
           | UNION ALL
           | SELECT 'events_type_domain', CAST(count(*) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN NOT coalesce(event_type IN
           |     ('view','click','purchase','signup','error'), FALSE)
           |     THEN 1 ELSE 0 END), 0) AS BIGINT)
           | FROM events
           | UNION ALL
           | SELECT 'documents_nonempty', CAST(count(*) AS BIGINT),
           |   CAST(coalesce(sum(CASE WHEN NOT coalesce(
           |     text IS NOT NULL AND n_chars > 0, FALSE) THEN 1 ELSE 0 END), 0)
           |     AS BIGINT)
           | FROM documents""".stripMargin.replace("\n", "")))

  /** Exact Pearson correlation matrix ([[graft.ext.Stats.corrMatrixCenti]])
    * over the lineitem numerics: every moment is an exact DECIMAL(38,0)
    * centi-unit sum, so — unlike the built-in `corr()`, whose double
    * accumulation is partition-order-dependent — the matrix is
    * bit-stable across engines and layouts. One scan, one 1-row frame
    * of 15 exact moments, 6 output rows. */
  val corrMatrixQ = Q(
    "q_x_corr_matrix",
    "Exact-moment Pearson correlation matrix over lineitem numerics",
    (s, dir) => graft.ext.Stats.corrMatrixCenti(
      t(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val short = Map("l_quantity" -> "q", "l_extendedprice" -> "e",
        "l_discount" -> "d", "l_tax" -> "t")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val centiSel = cols.map(c =>
        s"CAST(round($c * 100) AS HUGEINT) AS ${short(c)}").mkString(", ")
      val moments =
        (Seq("CAST(count(*) AS HUGEINT) AS n") ++
          cols.map(c => s"sum(${short(c)}) AS s_${short(c)}") ++
          cols.map(c =>
            s"sum(${short(c)} * ${short(c)}) AS ss_${short(c)}") ++
          pairs.map { case (a, b) =>
            s"sum(${short(a)} * ${short(b)}) AS sp_${short(a)}${short(b)}"
          }).mkString(", ")
      val rows = pairs.map { case (a, b) =>
        val (x, y) = (short(a), short(b))
        // zero-variance guard mirrors corrMatrixCenti: NULL (not the
        // engine-specific 0/0) when either column is constant
        s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
           | CASE WHEN sqrt(CAST(n * ss_$x - s_$x * s_$x AS DOUBLE) *
           |        CAST(n * ss_$y - s_$y * s_$y AS DOUBLE)) <> 0 THEN
           | round(CAST(n * sp_$x$y - s_$x * s_$y AS DOUBLE) /
           |   sqrt(CAST(n * ss_$x - s_$x * s_$x AS DOUBLE) *
           |        CAST(n * ss_$y - s_$y * s_$y AS DOUBLE)), 6)
           | END AS corr
           | FROM m""".stripMargin.replace("\n", "")
      }.mkString(" UNION ALL ")
      s"WITH c AS (SELECT $centiSel FROM lineitem), " +
        s"m AS (SELECT $moments FROM c) $rows"
    })

  /** Mutual information between market segment and nation
    * ([[graft.ext.Stats.mutualInfoCells]]): one row per joint cell with
    * exact counts and per-cell PMI / MI contribution — per-cell emission
    * keeps every double derived from four exact longs (a cross-cell sum
    * would be layout-ordered). The joint distribution is one grouped
    * count; marginals and total are window sums over its cells. */
  val mutualInfoQ = Q(
    "q_x_mutual_info",
    "Mutual information cells: segment x nation PMI from exact counts",
    (s, dir) => graft.ext.Stats.mutualInfoCells(
      t(s, dir, "customer").join(
        broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey")),
      "c_mktsegment", "n_name"),
    Some("""WITH base AS (SELECT c_mktsegment AS a, n_name AS b
           |   FROM customer JOIN nation ON c_nationkey = n_nationkey),
           | j AS (SELECT a, b, count(*) AS n_ab FROM base GROUP BY 1, 2),
           | ma AS (SELECT a, count(*) AS n_a FROM base GROUP BY 1),
           | mb AS (SELECT b, count(*) AS n_b FROM base GROUP BY 1),
           | t AS (SELECT count(*) AS n_total FROM base)
           | SELECT a, b, n_ab,
           |   round(ln(CAST(CAST(n_ab AS HUGEINT) * n_total AS DOUBLE) /
           |     CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)) / ln(2.0), 6)
           |     AS pmi,
           |   round((CAST(n_ab AS DOUBLE) / n_total) *
           |     (ln(CAST(CAST(n_ab AS HUGEINT) * n_total AS DOUBLE) /
           |       CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)) / ln(2.0)), 6)
           |     AS mi_contrib
           | FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t"""
      .stripMargin.replace("\n", "")))

  /** Benford first-digit audit ([[graft.ext.Stats.benford]]) over
    * lineitem prices: leading digit taken from the exact centi-unit
    * integer's string form (immune to the log10 power-of-ten ulp
    * boundary), with observed share, Benford expectation, and chi-square
    * terms per digit. 9 output rows from one partial-aggregated scan. */
  val benfordQ = Q(
    "q_x_benford",
    "Benford first-digit audit of lineitem extendedprice",
    (s, dir) => graft.ext.Stats.benford(
      t(s, dir, "lineitem"), "l_extendedprice"),
    Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(round(
           |     l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
           |     AS BIGINT) AS digit
           |   FROM lineitem WHERE l_extendedprice > 0),
           | g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
           | t AS (SELECT sum(n) AS n_total FROM g)
           | SELECT digit, n,
           |   round(CAST(n AS DOUBLE) / n_total, 6) AS share,
           |   round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p,
           |   round(pow(CAST(n AS DOUBLE) -
           |       n_total * (ln(1.0 + 1.0 / digit) / ln(10.0)), 2) /
           |     (n_total * (ln(1.0 + 1.0 / digit) / ln(10.0))), 4)
           |     AS chi2_term
           | FROM g CROSS JOIN t""".stripMargin.replace("\n", "")))

  /** Key-skew audit ([[graft.ext.Profile.keySkew]]): the hot-key report
    * the repo's own mitigations (salted join, sharded sessionize,
    * maxBucket caps) are sized by — n_rows / n_keys / hottest-key count
    * / share / hot-key multiplier per audited (table, key), all exact.
    * One two-level hash aggregate per key column, nothing collected. */
  val skewReportQ = Q(
    "q_x_skew_report",
    "Key-skew audit: exact hot-key share and multiplier per join key",
    (s, dir) => {
      import graft.ext.Profile
      Seq(
        Profile.keySkew("events.user_id", t(s, dir, "events"), "user_id"),
        Profile.keySkew("events.event_type", t(s, dir, "events"),
          "event_type"),
        Profile.keySkew("lineitem.l_orderkey", t(s, dir, "lineitem"),
          "l_orderkey"),
        Profile.keySkew("lineitem.l_partkey", t(s, dir, "lineitem"),
          "l_partkey"),
        Profile.keySkew("orders.o_custkey", t(s, dir, "orders"),
          "o_custkey"),
        Profile.keySkew("documents.source", t(s, dir, "documents"),
          "source")
      ).reduce(_ unionByName _)
    },
    Some {
      def leg(label: String, table: String, key: String): String =
        s"""SELECT '$label' AS keyed,
           | CAST(sum(k) AS BIGINT) AS n_rows,
           | CAST(count(*) AS BIGINT) AS n_keys,
           | CAST(max(k) AS BIGINT) AS max_key_n,
           | round(CAST(max(k) AS DOUBLE) / sum(k), 6) AS top_share,
           | round(CAST(max(k) AS DOUBLE) * count(*) / sum(k), 4)
           |   AS skew_ratio
           | FROM (SELECT count(*) AS k FROM $table GROUP BY $key)"""
          .stripMargin.replace("\n", "")
      Seq(
        leg("events.user_id", "events", "user_id"),
        leg("events.event_type", "events", "event_type"),
        leg("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        leg("lineitem.l_partkey", "lineitem", "l_partkey"),
        leg("orders.o_custkey", "orders", "o_custkey"),
        leg("documents.source", "documents", "source")
      ).mkString(" UNION ALL ")
    })

  /** Exact autocorrelation ([[graft.ext.TimeSeries.acf]]) of the hourly
    * event-count series per type at lags 1–3 — the seasonality probe,
    * denominator-cleared to DECIMAL(38,0) like trend/changePoint so the
    * single final division is of identical exact operands in both
    * engines. Self-joins run over the AGGREGATED hourly grid
    * (calendar-bounded), one per lag. */
  val acfQ = Q(
    "q_x_acf",
    "Exact hourly-count autocorrelation per event type, lags 1-3",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / 3600000000L).cast("long").as("t"))
        .agg(count(lit(1)).as("x"))
      graft.ext.TimeSeries.acf(hourly, "event_type", "t", "x", Seq(1, 2, 3))
    },
    Some("""WITH h AS (SELECT event_type,
           |     epoch_us(ts) // 3600000000 AS t,
           |     CAST(count(*) AS HUGEINT) AS x
           |   FROM events GROUP BY 1, 2),
           | st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
           |     sum(x) AS s, sum(x * x) AS q
           |   FROM h GROUP BY 1),
           | l AS (SELECT a.event_type, k.lag,
           |     CAST(count(*) AS HUGEINT) AS m,
           |     sum(a.x * b.x) AS p, sum(a.x) AS aa, sum(b.x) AS bb
           |   FROM h a
           |   JOIN h b ON a.event_type = b.event_type
           |   JOIN (VALUES (1), (2), (3)) k(lag) ON b.t = a.t + k.lag
           |   GROUP BY 1, 2)
           | SELECT l.event_type, CAST(l.lag AS BIGINT) AS lag,
           |   CAST(st.n AS BIGINT) AS n_obs,
           |   CAST(l.m AS BIGINT) AS n_pairs,
           |   CASE WHEN CAST(st.n * st.n * st.q - st.n * st.s * st.s
           |       AS DOUBLE) = 0 THEN NULL
           |     ELSE round(CAST(st.n * st.n * l.p
           |         - st.n * st.s * (l.aa + l.bb)
           |         + l.m * st.s * st.s AS DOUBLE)
           |       / CAST(st.n * st.n * st.q - st.n * st.s * st.s
           |         AS DOUBLE), 6) END AS acf
           | FROM l JOIN st USING (event_type)"""
      .stripMargin.replace("\n", "")))

  /** Hopping (sliding) event-time windows — `window(ts, 1h, 15m)`: each
    * event lands in exactly 4 overlapping hour windows. The one window
    * flavor the surface didn't yet pin (tumbling = q_s_stream_window,
    * session = q_w_session_window, frames = q_w_*). Counts are exact;
    * the value sum uses the ExactMoney fixed-point discipline. The
    * oracle reconstructs Spark's epoch-aligned window set explicitly:
    * slot = floor(us / 15min), window starts at slot−k·15min for
    * k = 0..3 (every one satisfies ws ≤ ts < ws+1h by construction). */
  val hoppingWindowAgg = Q(
    "q_w_hopping_window",
    "Sliding window(1h, 15min): exact counts + value sums per overlap",
    (s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        ExactMoney.fixedSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value")),
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us,
           |     CAST(round(value * 100.0) AS BIGINT) AS vc FROM events)
           | SELECT make_timestamp((us // 900000000) * 900000000
           |     - CAST(k.i AS BIGINT) * 900000000) AS window_start,
           |   event_type, count(*) AS n,
           |   sum(vc) / 100.0e0 AS sum_value
           | FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) k(i)
           | GROUP BY 1, 2""".stripMargin.replace("\n", "")))

  /** Functional-dependency audit ([[graft.ext.Profile.fdCheck]]): does
    * det → dep hold, reported as implicated-row counts — two FDs that
    * HOLD in the warehouse (nationkey → name, orderkey → custkey) and
    * two that genuinely DON'T (an order has many suppliers, a user many
    * event types), so the gate pins nonzero detection on real data, not
    * only on planted fixtures. One two-level aggregate per rule. */
  val fdAuditQ = Q(
    "q_x_fd_audit",
    "Functional-dependency audit: held and violated FDs, exact row counts",
    (s, dir) => {
      import graft.ext.Profile
      Seq(
        Profile.fdCheck("nation_key_name", t(s, dir, "nation"),
          "n_nationkey", "n_name"),
        Profile.fdCheck("order_custkey", t(s, dir, "orders"),
          "o_orderkey", "o_custkey"),
        Profile.fdCheck("order_single_supplier", t(s, dir, "lineitem"),
          "l_orderkey", "l_suppkey"),
        Profile.fdCheck("user_single_event_type", t(s, dir, "events"),
          "user_id", "event_type")
      ).reduce(_ unionByName _)
    },
    Some {
      def leg(label: String, table: String, det: String, dep: String) =
        s"""SELECT '$label' AS check_name,
           | CAST(coalesce(sum(k), 0) AS BIGINT) AS n_checked,
           | CAST(coalesce(sum(CASE WHEN d > 1 THEN k ELSE 0 END), 0)
           |   AS BIGINT) AS n_violations
           | FROM (SELECT count(*) AS k, count(DISTINCT $dep) AS d
           |   FROM $table GROUP BY $det)""".stripMargin.replace("\n", "")
      Seq(
        leg("nation_key_name", "nation", "n_nationkey", "n_name"),
        leg("order_custkey", "orders", "o_orderkey", "o_custkey"),
        leg("order_single_supplier", "lineitem", "l_orderkey", "l_suppkey"),
        leg("user_single_event_type", "events", "user_id", "event_type")
      ).mkString(" UNION ALL ")
    })

  /** The ranking-function family in one row — rank / dense_rank /
    * percent_rank / cume_dist over centi-exact order totals per
    * priority class. Every output is a pure function of the ORDER-KEY
    * VALUE (not of tie placement), so ties cannot make the row set
    * engine- or layout-dependent. Note the scale shape: a window
    * partitioned by a LOW-CARDINALITY column is a per-partition sort —
    * the hazard class the sharded sessionize escapes; this row is the
    * reference-parity form, sized by |orders|/|priorities| per task. */
  val rankFamilyQ = Q(
    "q_w_rank_family",
    "rank / dense_rank / percent_rank / cume_dist per priority class",
    (s, dir) => {
      val pc = round(col("o_totalprice") * 100, 0).cast("long")
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("pc"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), pc.as("pc"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("pc"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
    },
    Some("""SELECT o_orderkey, o_orderpriority,
           |   CAST(round(o_totalprice * 100.0) AS BIGINT) AS pc,
           |   CAST(rank() OVER w AS BIGINT) AS rnk,
           |   CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           |   round(percent_rank() OVER w, 6) AS prank,
           |   round(cume_dist() OVER w, 6) AS cdist
           | FROM orders
           | WINDOW w AS (PARTITION BY o_orderpriority
           |   ORDER BY CAST(round(o_totalprice * 100.0) AS BIGINT))"""
      .stripMargin.replace("\n", "")))

  /** INTERSECT ALL / EXCEPT ALL — the multiset forms (the distinct
    * forms are q_q2_set_ops): bag semantics preserve multiplicity, the
    * SQL surface Spark plans as aggregate+generate rather than the
    * distinct forms' semi/anti joins. Tagged union so one row pins
    * both. */
  val setOpsAllQ = Q(
    "q_q2b_set_ops_all",
    "INTERSECT ALL / EXCEPT ALL multiset semantics over customer keys",
    (s, dir) => {
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_custkey"))
      f.intersectAll(urgent).select(lit("intersect_all").as("op"),
          col("o_custkey"))
        .unionByName(f.exceptAll(urgent)
          .select(lit("except_all").as("op"), col("o_custkey")))
    },
    Some("""SELECT 'intersect_all' AS op, o_custkey FROM
           | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           |  INTERSECT ALL
           |  SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')
           | UNION ALL
           | SELECT 'except_all' AS op, o_custkey FROM
           | (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           |  EXCEPT ALL
           |  SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')"""
      .stripMargin.replace("\n", "")))

  val all: Seq[Q] = Seq(fullOuter, existsSubquery, scalarSubquery,
    movingAvg, cohortRetention, collocations, rangeFrame, unpivotMetrics,
    sessionWindowAgg, rollupAgg, argExtremum, eventTransitions, eventAnomaly,
    scd2Build, scd2Lookup, scd2Incremental, textrank, triangles, twapQ,
    rfmQ, trendQ, changePointQ, assocRulesQ, robustStatsQ, qualityChecksQ,
    corrMatrixQ, mutualInfoQ, benfordQ, skewReportQ, acfQ,
    hoppingWindowAgg, fdAuditQ, rankFamilyQ, setOpsAllQ)
}
