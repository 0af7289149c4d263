package graft.queries

import graft.SparkEntry._
import graft.ops._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational and OLAP operators over the TPC-H tables and `events`:
  * aggregation, joins, windows, set ops, sessionization and funnels,
  * rollup/pivot, skew handling, profiling and outlier detection. */
object EventQueries {

  val defs: Seq[QueryDef] = Seq(
    // ---- aggregation (partial+final hash agg)
    QueryDef("q1_agg", (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // ---- join: broadcast dim (nation) + shuffle fact join
    QueryDef("q_join_agg", (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      val n = table(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
    },
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // ---- window functions (row_number + lag)
    QueryDef("q_window", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag("value", 1).over(w).as("prev_value"))
    },
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events""".stripMargin),

    // ---- top-k (global sort + limit)
    QueryDef("q_topk", (s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- set operations (intersect / except)
    QueryDef("q_setops", (s, dir) => {
      val custNations = table(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val suppNations = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      custNations.intersect(suppNations)
        .exceptAll(table(s, dir, "nation").where(col("n_regionkey") === 0)
          .select(col("n_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },
      """SELECT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  INTERSECT
        |  SELECT CAST(s_nationkey AS INT) FROM supplier
        |) EXCEPT ALL
        |SELECT CAST(n_nationkey AS INT) FROM nation WHERE n_regionkey = 0
        |ORDER BY nationkey""".stripMargin),

    // ---- scalar string functions
    QueryDef("q_scalar_str", (s, dir) =>
      table(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).cast("long").as("name_len"),
        concat_ws("#", col("c_mktsegment"), col("c_nationkey")).as("seg_key")),
      """SELECT c_custkey, upper(c_name) AS upper_name,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  c_mktsegment || '#' || CAST(c_nationkey AS VARCHAR) AS seg_key
        |FROM customer""".stripMargin),

    // ---- time-window aggregation (the batch twin of the streaming path)
    QueryDef("q_stream_window", (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // ---- sliding (hopping) windows: 1 h window every 15 min — each event
    // lands in 4 overlapping windows (Structured Streaming's sliding
    // window semantics, exercised in batch; epoch-exact starts)
    QueryDef("q_sliding_window", (s, dir) =>
      table(s, dir, "events")
        .groupBy(
          window(col("ts"), "1 hour", "15 minutes").getField("start")
            .as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          expr("unix_micros(cast(window_start as timestamp))").as("window_start_us"),
          col("event_type"), col("n_events")),
      """SELECT ((epoch_us(ts) // 900000000) - i) * 900000000 AS window_start_us,
        |  event_type, count(*) AS n_events
        |FROM events, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)
        |GROUP BY 1, 2""".stripMargin),

    // ---- event sessionization (30-min inactivity gap, one keyed shuffle)
    QueryDef("q_sessionize", (s, dir) =>
      Sessionize.sessions(table(s, dir, "events")),
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events),
        |flagged AS (
        |  SELECT user_id, tus, event_id, value,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |              OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |sess AS (
        |  SELECT user_id, tus, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx::BIGINT AS session_idx,
        |  count(*)::BIGINT AS n_events,
        |  min(tus)::BIGINT AS session_start_us,
        |  (max(tus) - min(tus))::BIGINT AS duration_us,
        |  max(value) AS max_value
        |FROM sess GROUP BY user_id, session_idx""".stripMargin),

    // ---- funnel conversion (signup -> purchase within 24h attribution)
    QueryDef("q_funnel", (s, dir) =>
      Sessionize.funnel(table(s, dir, "events")),
      """WITH f1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_step1_us
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, count(*) AS n_step2_in_window
        |  FROM events e JOIN f1 USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) > f1.first_step1_us
        |    AND epoch_us(e.ts) <= f1.first_step1_us + 86400000000
        |  GROUP BY e.user_id)
        |SELECT u.user_id,
        |  coalesce(f1.first_step1_us, 0)::BIGINT AS first_step1_us,
        |  coalesce(conv.n_step2_in_window, 0)::BIGINT AS n_step2_in_window,
        |  coalesce(conv.n_step2_in_window, 0) > 0 AS converted
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN f1 USING (user_id) LEFT JOIN conv USING (user_id)""".stripMargin),

    // ---- retention cohorts (first-active-week x week-offset activity grid)
    QueryDef("q_retention", (s, dir) =>
      Sessionize.retentionCohorts(table(s, dir, "events")),
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |coh AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS n_cohort FROM coh GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
        |    count(*) AS n_active
        |  FROM uw u JOIN coh c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week::BIGINT AS cohort_week,
        |  a.week_offset::BIGINT AS week_offset,
        |  a.n_active::BIGINT AS n_active, s.n_cohort::BIGINT AS n_cohort,
        |  round(a.n_active::DOUBLE / s.n_cohort::DOUBLE, 6) AS retention_rate
        |FROM act a JOIN sizes s USING (cohort_week)""".stripMargin),

    // ---- first-order Markov event-type transitions (the same single
    // user_id shuffle sessionization pays; per-src totals ride a broadcast)
    QueryDef("q_transitions", (s, dir) =>
      Sessionize.transitions(table(s, dir, "events")),
      // identical (tus, event_id) total order per user on both sides;
      // integer counts, one exactly-rounded division for the probability
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type FROM events),
        |seq AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS dst_type
        |  FROM e),
        |cnt AS (SELECT src_type, dst_type, count(*) AS n FROM seq
        |  WHERE dst_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src_type, sum(n) AS n_src FROM cnt GROUP BY 1)
        |SELECT c.src_type, c.dst_type, c.n::BIGINT AS n,
        |  round(c.n::DOUBLE / t.n_src::DOUBLE, 6) AS p
        |FROM cnt c JOIN tot t USING (src_type)""".stripMargin),

    // ---- JSON props field rollup (schema-on-read promotion pass;
    // codegen'd get_json_object keeps the parse in WholeStageCodegen)
    QueryDef("q_props_rollup", (s, dir) =>
      Sessionize.propsRollup(table(s, dir, "events")),
      // get_json_object('$.k') == json_extract_string('$.k'): both return the
      // raw scalar as text, both cast to NULL-on-garbage BIGINT
      """SELECT event_type,
        |  count(*)::BIGINT AS n_events,
        |  count(v)::BIGINT AS n_with_field,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  min(v)::BIGINT AS min_v,
        |  max(v)::BIGINT AS max_v
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
        |      FROM events)
        |GROUP BY event_type""".stripMargin),

    // ---- moment-based z-score outliers (scaled-integer moments so the
    // cross-row sums are exact and order-free)
    QueryDef("q_zscore", (s, dir) =>
      Sketches.zscoreOutliers(table(s, dir, "events"), "value", "event_type"),
      // identical expression tree over exact integer moments; round(v*100)
      // is integral before the cast, so DuckDB's rounding cast and Spark's
      // truncating cast agree
      """WITH scaled AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS s FROM events),
        |m AS MATERIALIZED (
        |  SELECT event_type, count(*) AS n, sum(s) AS sum_s, sum(s * s) AS sumsq_s
        |  FROM scaled GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, CAST(m.n AS BIGINT) AS n,
        |  round((e.s::DOUBLE - m.sum_s::DOUBLE / m.n::DOUBLE) /
        |    sqrt(m.sumsq_s::DOUBLE / m.n::DOUBLE -
        |         (m.sum_s::DOUBLE / m.n::DOUBLE) * (m.sum_s::DOUBLE / m.n::DOUBLE)),
        |    6) AS zscore
        |FROM scaled e JOIN m USING (event_type)
        |WHERE abs((e.s::DOUBLE - m.sum_s::DOUBLE / m.n::DOUBLE) /
        |    sqrt(m.sumsq_s::DOUBLE / m.n::DOUBLE -
        |         (m.sum_s::DOUBLE / m.n::DOUBLE) * (m.sum_s::DOUBLE / m.n::DOUBLE))) > 2.0""".stripMargin),

    // ---- Z-order (Morton) clustering key: coarse 4-bit-per-dimension
    // cell histogram over (user_id, value) — the clustering key the
    // layout writer range-partitions on, aggregated per cell
    QueryDef("q_zorder", (s, dir) =>
      Layout.withZValue(
        table(s, dir, "events").select("user_id", "value"),
        Seq("user_id", "value"), bits = 4)
        .groupBy(col("_z").as("zcell"))
        .agg(count(lit(1)).as("n_events"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value")),
      {
        def bucket(x: String, mn: String, mx: String) =
          s"""CASE WHEN $mx::DOUBLE - $mn::DOUBLE = 0 THEN 0
             |     ELSE greatest(least(CAST(floor(($x::DOUBLE - $mn::DOUBLE) /
             |            ($mx::DOUBLE - $mn::DOUBLE) * 16) AS BIGINT), 15), 0)
             |END""".stripMargin
        val interleave = (0 until 4).flatMap(i =>
          Seq(s"(((bu >> $i) & 1) << ${2 * i})", s"(((bv >> $i) & 1) << ${2 * i + 1})"))
          .mkString(" | ")
        s"""WITH mm AS (
           |  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
           |         min(value) AS mnv, max(value) AS mxv FROM events),
           |b AS (
           |  SELECT ${bucket("e.user_id", "m.mnu", "m.mxu")} AS bu,
           |         ${bucket("e.value", "m.mnv", "m.mxv")} AS bv,
           |         e.user_id, e.value
           |  FROM events e CROSS JOIN mm m)
           |SELECT ($interleave)::BIGINT AS zcell, count(*) AS n_events,
           |       min(user_id) AS min_user, max(user_id) AS max_user,
           |       min(value) AS min_value, max(value) AS max_value
           |FROM b GROUP BY 1""".stripMargin
      }),

    // ---- quantile-bucketed Z-order cells: the skew-robust bucketizer
    // (equal-frequency buckets from percent_rank) under the same Morton
    // interleave — every cell carries ~equal row weight by construction
    QueryDef("q_zorder_quantile", (s, dir) => {
      val e = table(s, dir, "events").select("user_id", "value")
      val b = Layout.quantileBucket(Layout.quantileBucket(e, "user_id", 4), "value", 4)
      b.withColumn("zcell",
        Layout.zValue(Seq(col("_qb_user_id"), col("_qb_value")), bits = 4))
        .groupBy("zcell")
        .agg(count(lit(1)).as("n_events"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"))
    },
      {
        val interleave = (0 until 4).flatMap(i =>
          Seq(s"(((bu >> $i) & 1) << ${2 * i})", s"(((bv >> $i) & 1) << ${2 * i + 1})"))
          .mkString(" | ")
        s"""WITH b AS (
           |  SELECT user_id,
           |    least(CAST(floor(percent_rank() OVER (ORDER BY user_id) * 16) AS BIGINT), 15) AS bu,
           |    least(CAST(floor(percent_rank() OVER (ORDER BY value) * 16) AS BIGINT), 15) AS bv
           |  FROM events)
           |SELECT ($interleave)::BIGINT AS zcell, count(*) AS n_events,
           |       min(user_id) AS min_user, max(user_id) AS max_user
           |FROM b GROUP BY 1""".stripMargin
      }),

    // ---- binned interval self-join: cross-user event pairs within 60 s,
    // bucket equi-join + exact re-check (never a nested-loop cartesian)
    QueryDef("q_range_join", (s, dir) =>
      RangeJoin.selfJoinWithin(
        table(s, dir, "events").select("event_id", "user_id", "event_type", "ts"),
        "ts", 60L * 1000000,
        (a, b) => a("user_id") < b("user_id"))
        .groupBy(col("event_type_a"), col("event_type_b"))
        .agg(count(lit(1)).as("n_pairs")),
      """SELECT a.event_type AS event_type_a, b.event_type AS event_type_b,
        |  count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
        |  AND a.user_id < b.user_id
        |GROUP BY 1, 2""".stripMargin),

    // ---- OLAP ROLLUP (grouping sets): (type, week) / (type) / () totals
    // in one pass, grouping id derived from the rollup nulls
    QueryDef("q_rollup", (s, dir) => {
      val e = table(s, dir, "events").select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("week"),
        round(col("value") * 100).cast("long").as("sv"))
      e.rollup("event_type", "week")
        .agg(count(lit(1)).as("n_events"), sum("sv").as("sum_sv"))
        .select(
          // rollup NULLs -> sentinels: the grouping id stays derivable and
          // the result rows stay totally orderable for the hash compare
          coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("week"), lit(-1L)).as("week"),
          (when(col("event_type").isNull, 2L).otherwise(0L) +
            when(col("week").isNull, 1L).otherwise(0L)).as("gid"),
          col("n_events"),
          // DuckDB sum(BIGINT) is HUGEINT -> arrow decimal128(38,0); the
          // oracle compare's hash is type-sensitive, so the Spark side must carry
          // the same type (values are identical, the cast is lossless)
          col("sum_sv").cast("decimal(38,0)").as("sum_sv"))
    },
      """WITH scaled AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |    CAST(round(value * 100) AS BIGINT) AS sv FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |  coalesce(week, -1)::BIGINT AS week,
        |  (CASE WHEN event_type IS NULL THEN 2 ELSE 0 END +
        |   CASE WHEN week IS NULL THEN 1 ELSE 0 END)::BIGINT AS gid,
        |  count(*) AS n_events, sum(sv) AS sum_sv
        |FROM scaled GROUP BY ROLLUP (event_type, week)""".stripMargin),

    // ---- pivot: event types to columns (explicit value list so the
    // output schema is static), weekly integer-exact value sums
    QueryDef("q_pivot", (s, dir) =>
      table(s, dir, "events").select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("week"),
        round(col("value") * 100).cast("long").as("sv"))
        .groupBy("week")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(col("sv")))
        // oracle sum(CASE ...) is DuckDB HUGEINT = decimal128(38,0):
        // match its type exactly for the type-sensitive oracle hash
        .select(col("week") +: Seq("click", "error", "purchase", "signup", "view")
          .map(c => col(c).cast("decimal(38,0)").as(c)): _*),
      """WITH scaled AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |    CAST(round(value * 100) AS BIGINT) AS sv FROM events)
        |SELECT week::BIGINT AS week,
        |  sum(CASE WHEN event_type = 'click' THEN sv END) AS click,
        |  sum(CASE WHEN event_type = 'error' THEN sv END) AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN sv END) AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN sv END) AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN sv END) AS view
        |FROM scaled GROUP BY 1""".stripMargin),

    // ---- salted two-phase aggregate over a hot key: bit-identical to
    // the direct groupBy (integer sums re-associate exactly), which is
    // precisely what the oracle checks — the salt never leaks
    QueryDef("q_salted_agg", (s, dir) =>
      Skew.saltedAgg(
        table(s, dir, "events")
          .withColumn("sv", round(col("value") * 100).cast("long")),
        keys = Seq("event_type"), distributor = col("event_id"),
        sumCols = Seq("sv"))
        // oracle sum(...) is DuckDB HUGEINT = decimal128(38,0): match it
        .select(col("event_type"), col("n_rows"),
          col("sum_sv").cast("decimal(38,0)").as("sum_sv")),
      """SELECT event_type, count(*) AS n_rows,
        |  sum(CAST(round(value * 100) AS BIGINT)) AS sum_sv
        |FROM events GROUP BY 1""".stripMargin),

    // ---- ANALYZE-style per-column table profile (one aggregation pass;
    // exact NDV here for the oracle, HLL++ mode for the 10^11-row path)
    QueryDef("q_profile", (s, dir) =>
      Profile.profile(table(s, dir, "events"),
        Seq("event_id", "user_id", "event_type", "value")),
      {
        def row(c: String, numeric: Boolean) = {
          val (mn, mx, ms, xs) =
            if (numeric) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
             |  $mn AS min_num, $mx AS max_num, $ms AS min_str, $xs AS max_str
             |FROM events""".stripMargin
        }
        Seq(row("event_id", numeric = true), row("user_id", numeric = true),
          row("event_type", numeric = false), row("value", numeric = true))
          .mkString("\nUNION ALL\n")
      }),

    // ---- per-source weekly distribution-drift monitor (scaled-integer
    // moments, standard-error z per week, no second scan of the raw table)
    QueryDef("q_drift", (s, dir) =>
      Profile.driftMonitor(table(s, dir, "events"), "value", "event_type"),
      """WITH scaled AS (
        |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
        |    CAST(round(value * 100) AS BIGINT) AS sv FROM events),
        |weekly AS (
        |  SELECT event_type, week, count(*) AS n_week, sum(sv) AS sum_week,
        |    sum(sv * sv) AS sumsq_week
        |  FROM scaled GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, sum(n_week) AS n, sum(sum_week) AS sum_s,
        |    sum(sumsq_week) AS sumsq_s
        |  FROM weekly GROUP BY 1),
        |z AS (
        |  SELECT w.event_type, w.week, w.n_week, w.sum_week,
        |    CASE WHEN t.n = w.n_week THEN NULL ELSE
        |      (w.sum_week::DOUBLE / w.n_week::DOUBLE -
        |       (t.sum_s - w.sum_week)::DOUBLE / (t.n - w.n_week)::DOUBLE) /
        |      sqrt(((t.sumsq_s - w.sumsq_week)::DOUBLE / (t.n - w.n_week)::DOUBLE -
        |            ((t.sum_s - w.sum_week)::DOUBLE / (t.n - w.n_week)::DOUBLE) *
        |            ((t.sum_s - w.sum_week)::DOUBLE / (t.n - w.n_week)::DOUBLE)) /
        |           w.n_week::DOUBLE)
        |    END AS zv
        |  FROM weekly w JOIN tot t USING (event_type))
        |SELECT event_type, week::BIGINT AS week, n_week::BIGINT AS n_week,
        |  round((sum_week::DOUBLE / n_week::DOUBLE) / 100, 6) AS weekly_mean,
        |  round(zv, 6) AS drift_z,
        |  COALESCE(abs(zv) > 2.0, FALSE) AS drifted
        |FROM z""".stripMargin),

    // ---- robust median/MAD outliers (order-statistic selection; the
    // heavy-tail-safe sibling of q_zscore)
    QueryDef("q_mad_outliers", (s, dir) =>
      Sketches.madOutliers(table(s, dir, "events"), "value", "event_type"),
      // both medians are SELECTED scaled integers (the q_quantiles rank
      // trick twice); robust z derives per-row from the same integer pair
      """WITH scaled AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS s FROM events),
        |r1 AS (SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM scaled),
        |med AS MATERIALIZED (SELECT event_type, s AS med_s FROM r1
        |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |dev AS MATERIALIZED (
        |  SELECT e.event_id, e.event_type, e.value, e.s, m.med_s,
        |    abs(e.s - m.med_s) AS d
        |  FROM scaled e JOIN med m USING (event_type)),
        |r2 AS (SELECT event_type, d,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS MATERIALIZED (SELECT event_type, d AS mad_s FROM r2
        |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
        |SELECT v.event_id, v.event_type, v.value, v.med_s, a.mad_s,
        |  round((v.s::DOUBLE - v.med_s::DOUBLE) / (1.4826 * a.mad_s::DOUBLE), 6)
        |    AS robust_z
        |FROM dev v JOIN mad a USING (event_type)
        |WHERE a.mad_s > 0
        |  AND abs((v.s::DOUBLE - v.med_s::DOUBLE) / (1.4826 * a.mad_s::DOUBLE)) > 3.5""".stripMargin),

    // ---- SCD-1 / CDC last-write-wins compaction (latest row per
    // (user_id, event_type); one keyed shuffle, selection only)
    QueryDef("q_upsert_latest", (s, dir) =>
      Sessionize.latestByKey(table(s, dir, "events")),
      // selection over the identical (tus DESC, event_id DESC) total order —
      // event_id is unique, so rank 1 is the same row in both engines
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus, value
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY tus DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, event_type, event_id, tus, value FROM r WHERE rn = 1""".stripMargin),

    // ---- exact per-group quantiles by rank selection (percentile_disc
    // semantics; order statistics, no interpolation arithmetic)
    QueryDef("q_quantiles", (s, dir) =>
      Sketches.exactQuantiles(table(s, dir, "events"), "value", "event_type"),
      // rank selection (percentile_disc): ceil(q*n) over the same doubles,
      // the picked value is an order statistic — no interpolation to drift
      """WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events),
        |r AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |q AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]::DOUBLE[]) AS q)
        |SELECT event_type, q, n::BIGINT AS n, rn::BIGINT AS rank, v AS value
        |FROM r, q
        |WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))""".stripMargin),

    // ---- as-of join: each purchase joined to the latest at-or-before
    // click of the same user — union-merge + ONE keyed window sweep, no
    // range join (see AsOf scaladoc)
    QueryDef("q_asof_join", (s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"),
          col("value"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase").drop("event_type")
      val clicks = ev.where(col("event_type") === "click").drop("event_type")
      AsOf.asofJoin(purchases, clicks, "user_id", "tus", "event_id", Seq("tus", "value"))
        .select(col("user_id"), col("event_id"), col("tus").as("purchase_us"),
          col("value").as("purchase_value"),
          coalesce(col("asof.tus"), lit(0L)).as("last_click_us"),
          coalesce(col("asof.value"), lit(0.0)).as("click_value"),
          coalesce(col("tus") - col("asof.tus"), lit(-1L)).as("gap_us"))
    },
      // the operator's union-merge window sweep vs the oracle's
      // last_value(... IGNORE NULLS) over the identical total order
      // (tus, side, event_id) — inclusive `<=` as-of semantics on both sides
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, value,
        |         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT user_id, event_id, tus, value, kind,
        |    last_value(CASE WHEN kind = 0
        |        THEN struct_pack(tus := tus, v := value) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, kind, event_id
        |            ROWS UNBOUNDED PRECEDING) AS lc
        |  FROM ev)
        |SELECT user_id, event_id, tus AS purchase_us, value AS purchase_value,
        |  COALESCE(lc.tus, 0)::BIGINT AS last_click_us,
        |  COALESCE(lc.v, 0.0) AS click_value,
        |  COALESCE(tus - lc.tus, -1)::BIGINT AS gap_us
        |FROM w WHERE kind = 1""".stripMargin),

    // ---- 20-bucket equal-width histogram of events.value (distribution
    // profiling; map-side combine collapses to <=20 rows per partition)
    QueryDef("q_value_hist", (s, dir) =>
      Sketches.valueHistogram(table(s, dir, "events"), "value"),
      // equal-width histogram: identical IEEE width/bucket arithmetic (the
      // min/max doubles, the /20 width, floor of the same quotient); the max
      // value clamps into the last bin via least(19, ...) on both sides
      """WITH mm AS (SELECT CAST(min(value) AS DOUBLE) AS mn,
        |                  CAST(max(value) AS DOUBLE) AS mx FROM events)
        |SELECT bucket, count(*) AS n,
        |  round(mn + bucket * (mx - mn) / 20, 6) AS lo,
        |  round(mn + (bucket + 1) * (mx - mn) / 20, 6) AS hi
        |FROM (
        |  SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(19, CAST(floor((CAST(value AS DOUBLE) - mn) / ((mx - mn) / 20)) AS BIGINT))
        |    END AS bucket, mn, mx
        |  FROM events, mm)
        |GROUP BY bucket, mn, mx""".stripMargin)
  )
}
