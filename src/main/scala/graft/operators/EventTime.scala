package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.functions.Decimals.rsum2

/** Event-time windowing over the events table (SURVEY.md §7.2 step 5).
  *
  * These are the batch formulations — the driver's DuckDB oracle needs
  * plain SQL — and they share window semantics with the streaming
  * variants in graft.streaming (asserted stream≡batch in StreamingSpec):
  * Spark's window() aligns tumbling/sliding windows to the epoch, and
  * session_window merges events closer than the gap.
  *
  * Scale: groupBy(window(...)) is one hash shuffle on (window, key);
  * with a watermark in the streaming form, state is bounded and evicted.
  */
object EventTime {

  private def fmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Funnel analysis view → click → purchase: per user, the earliest
    // view, the earliest click within 1 hour AFTER it, the earliest
    // purchase within 1 hour after that — the ordered-sequence-match
    // product pipelines run constantly. Each stage is one aggregate on
    // user_id plus an equi-join back (3 shuffles, all on the uniform
    // user key); never a per-user sort of full histories.
    "events_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def stage(tpe: String, prev: DataFrame, prevCol: String, outCol: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevCol) &&
            col("ts") <= col(prevCol) + expr("INTERVAL 1 HOUR"))
          .groupBy("user_id").agg(min("ts").as(outCol))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = stage("click", s1, "t1", "t2")
      val s3 = stage("purchase", s2, "t2", "t3")
      s1.agg(count(lit(1)).as("users")).select(lit(1L).as("stage"),
          lit("view").as("step"), col("users"))
        .unionByName(s2.agg(count(lit(1)).as("users"))
          .select(lit(2L).as("stage"), lit("click").as("step"), col("users")))
        .unionByName(s3.agg(count(lit(1)).as("users"))
          .select(lit(3L).as("stage"), lit("purchase").as("step"), col("users")))
        .orderBy("stage")
    }),

    // Cohort retention matrix: users grouped by signup day, counted as
    // active k days later — the other staple of product/event analytics
    // next to the funnel. One aggregate to pin each user's cohort, one
    // distinct + aggregate over (cohort, offset); both shuffles on the
    // uniform user/date keys, output bounded at cohorts × horizon.
    "events_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort_day"))
      ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .join(cohort, "user_id")
        .filter(col("day") >= col("cohort_day"))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("active_users"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("active_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Integer-exact 2σ outlier detection per event_type — the anomaly
    // gate a monitoring pipeline runs, with NO floating point anywhere:
    // value becomes cents, and (v − μ > 2σ) is tested as the equivalent
    // integer inequality (n·v − S)² > 4·(n·Q − S²) where S = Σv,
    // Q = Σv² (both exact decimal sums). Both engines therefore agree
    // bit-for-bit — a double mean/stddev would be partition-order
    // dependent. One stats aggregate per type (broadcast, |types| rows),
    // one narrow flag pass, one count.
    "events_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 0))).as("s"),
        sum((col("v") * col("v")).cast(DecimalType(38, 0))).as("q"))
      ev.join(broadcast(stats), "event_type")
        .withColumn("lhs",
          (col("n").cast(DecimalType(38, 0)) * col("v") - col("s")) *
            (col("n").cast(DecimalType(38, 0)) * col("v") - col("s")))
        .withColumn("rhs",
          lit(4) * (col("n").cast(DecimalType(38, 0)) * col("q") - col("s") * col("s")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("lhs") > col("rhs") &&
            col("v").cast(DecimalType(38, 0)) * col("n") > col("s"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // Tumbling 1-hour windows per event_type.
    "events_tumbling" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), rsum2(col("value")).as("total"))
        .select(fmt(col("w.start")).as("window_start"), col("event_type"), col("n"), col("total"))
        .orderBy("window_start", "event_type")),

    // Sliding 1-hour windows, 30-minute slide: each event lands in 2.
    "events_sliding" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), rsum2(col("value")).as("total"))
        .select(fmt(col("w.start")).as("window_start"), col("n"), col("total"))
        .orderBy("window_start")),

    // Interval LEFT OUTER join: every click, with the purchases the same
    // user made within the following hour (attribution join). The equi
    // key (user_id) keeps this a hash/sort-merge join with the time
    // bounds as a residual filter — never a nested-loop — and unmatched
    // clicks survive with null purchase columns. This is the batch twin
    // of the watermarked stream-stream interval join in graft.streaming:
    // at scale the same bounds that filter rows here bound the join
    // STATE there.
    "join_interval_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"), col("value"))
      clicks
        .join(purchases,
          col("user_id") === col("p_user") &&
            col("pts") > col("cts") &&
            col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy(col("click_id"), col("user_id"), col("cts"))
        .agg(count(col("p_user")).as("n_purchases_1h"),
          fmt(min(col("pts"))).as("first_purchase_ts"),
          rsum2(col("value")).as("purchase_value"))
        .select(col("click_id"), col("user_id"), fmt(col("cts")).as("click_ts"),
          col("n_purchases_1h"), col("first_purchase_ts"), col("purchase_value"))
        .orderBy("click_id")
    }),

    // TIME-SERIES GAP FILL — densify each event type's hourly series so
    // missing hours appear as explicit zero rows (the shape every
    // downstream charting / anomaly / forecasting consumer expects;
    // tumbling windows alone silently skip empty buckets). The spine is
    // generated FROM the aggregate, not the raw events: one bounded
    // per-type (min, max) aggregate fans out to |types| × hours rows via
    // sequence+explode, then left-joins the hourly counts. Both join
    // sides are post-aggregation (bounded by types × hours), so at
    // 100 TB the heavy work remains the single counts shuffle the
    // tumbling query already pays; the spine costs nothing extra.
    "events_gap_fill" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), rsum2(col("value")).as("total"))
      val spine = counts.groupBy("event_type")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
      spine.join(counts, Seq("event_type", "hr"), "left")
        .select(col("event_type"), fmt(col("hr")).as("hour"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("total"), lit(0.0)).as("total"))
        .orderBy("event_type", "hour")
    }),

    // LAST-TOUCH ATTRIBUTION — credit each purchase to the user's most
    // recent PRIOR view/click (the reference's filter-bolt domain,
    // reference `app/data_clean_topology.py:16-23`, extended to the
    // stateful attribution every product pipeline runs). One window per
    // user ordered by (ts, event_id): `last(..., ignoreNulls)` over the
    // unbounded-preceding frame carries the latest touch forward —
    // never a self-join of purchases against full histories. Purchases
    // with no prior touch credit 'none'. Per-user windows partition
    // uniformly at scale; the streaming twin is the sessionizer's
    // mapGroupsWithState shape with last-touch as the carried state.
    "events_attribution" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("src_type",
          last(when(col("event_type").isin("view", "click"), col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("src_type"), lit("none")).as("src_type"))
        .agg(count(lit(1)).as("n_purchases"), rsum2(col("value")).as("revenue"))
        .orderBy("src_type")
    }),

    // LINEAR MULTI-TOUCH ATTRIBUTION — the other canonical credit model
    // next to last-touch: each purchase's value splits equally across
    // the views/clicks in its 24-hour lookback (strictly earlier
    // second). Integer-exact end to end: value becomes cents, credit is
    // apportioned in micro-cents via DIV (per purchase the two
    // truncations lose at most ONE micro-cent total, asserted in spec),
    // so both engines agree bit-for-bit where a double split would be
    // order-dependent. One range-frame window per user (two conditional
    // sums share it) + one bounded aggregation; the 24 h range frame is
    // what bounds per-user state in the streaming twin.
    "events_attribution_linear" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          col("ts").cast("long").as("sec"),
          floor(col("value") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sec").rangeBetween(-86400L, -1L)
      val p = ev
        // sum over an EMPTY frame is NULL, not 0 — a purchase with no
        // events in its lookback must still credit 'none'
        .withColumn("nv", coalesce(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w), lit(0L)))
        .withColumn("nc", coalesce(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w), lit(0L)))
        .filter(col("event_type") === "purchase")
        .withColumn("nt", col("nv") + col("nc"))
      val touched = p.filter(col("nt") > 0)
      val credits =
        touched.select(lit("view").as("src_type"), col("nv").as("n"),
            expr("cents * 1000000 * nv DIV nt").as("credit"))
          .unionByName(touched.select(lit("click").as("src_type"), col("nc").as("n"),
            expr("cents * 1000000 * nc DIV nt").as("credit")))
          .unionByName(p.filter(col("nt") === 0)
            .select(lit("none").as("src_type"), lit(1L).as("n"),
              (col("cents") * lit(1000000L)).as("credit")))
      credits.filter(col("n") > 0)
        .groupBy("src_type")
        .agg(count(lit(1)).as("n_purchases"), sum(col("credit")).as("credit_ucents"))
        .orderBy("src_type")
    }),

    // EVENT TRANSITION MATRIX — the Markov-chain builder under journey
    // mining / next-action prediction: count every (event_type →
    // immediately-next event_type) bigram along each user's timeline.
    // One lead() window per user (tie-broken by event_id like every
    // per-user order here) + one bounded |types|² aggregation; the
    // 100 TB shape is the per-user-partitioned window, never a
    // self-join of the timeline against itself.
    "events_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),

    // Session windows per user, 30-minute inactivity gap.
    "events_session" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), rsum2(col("value")).as("total"))
        .select(col("user_id"), fmt(col("w.start")).as("session_start"),
          col("n_events"), col("total"))
        .orderBy("user_id", "session_start"))
  )

  def oracles: Map[String, String] = Map(
    "events_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(v) AS HUGEINT) AS s,
        |         CAST(sum(v * v) AS HUGEINT) AS q
        |  FROM ev GROUP BY 1)
        |SELECT ev.event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN
        |           CAST(st.n * ev.v - st.s AS HUGEINT) * CAST(st.n * ev.v - st.s AS HUGEINT)
        |             > 4 * (st.n * st.q - st.s * st.s)
        |           AND st.n * ev.v > st.s
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ev JOIN st USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "events_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT c.cohort_day,
        |         date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
        |         e.user_id
        |  FROM events e JOIN cohort c ON e.user_id = c.user_id
        |  WHERE CAST(e.ts AS DATE) >= c.cohort_day)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
        |       count(*) AS active_users
        |FROM act GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,

    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click'
        |    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 1 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 1 HOUR
        |  GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step, count(*) AS users FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3
        |ORDER BY stage""".stripMargin,

    "events_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // Each event belongs to the 30m-aligned window at time_bucket(30m, ts)
    // and the one 30 minutes earlier (1h width / 30m slide).
    "events_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts)
        |             - k * INTERVAL '30 minutes' AS ws, value
        |      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |GROUP BY ws ORDER BY window_start""".stripMargin,

    // Gaps-and-islands: a new session starts when the gap from the
    // previous event of the same user is >= 30 minutes (session_window
    // merges events strictly closer than the gap).
    "events_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   < INTERVAL '30 minutes' THEN 0 ELSE 1 END AS is_new
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "events_gap_fill" ->
      """WITH counts AS (
        |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hr, count(*) AS n,
        |         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |         unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
        |  FROM counts GROUP BY event_type)
        |SELECT s.event_type, strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |       coalesce(n, 0) AS n, coalesce(total, CAST(0 AS DOUBLE)) AS total
        |FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.hr = c.hr
        |ORDER BY s.event_type, hour""".stripMargin,

    "events_attribution" ->
      """WITH att AS (
        |  SELECT event_type, value,
        |         last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_type
        |  FROM events)
        |SELECT coalesce(src_type, 'none') AS src_type, count(*) AS n_purchases,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM att WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY src_type""".stripMargin,

    "events_attribution_linear" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         epoch_us(ts) // 1000000 AS sec,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (
        |  SELECT *, nv + nc AS nt FROM (
        |    SELECT event_type, cents,
        |           coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |             OVER w, 0) AS nv,
        |           coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |             OVER w, 0) AS nc
        |    FROM ev
        |    WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |                 RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
        |  WHERE event_type = 'purchase'),
        |credits AS (
        |  SELECT 'view' AS src_type, nv AS n,
        |         cents * 1000000 * nv // nt AS credit FROM p WHERE nt > 0
        |  UNION ALL
        |  SELECT 'click', nc, cents * 1000000 * nc // nt FROM p WHERE nt > 0
        |  UNION ALL
        |  SELECT 'none', 1, cents * 1000000 FROM p WHERE nt = 0)
        |SELECT src_type, count(*) AS n_purchases,
        |       CAST(sum(credit) AS BIGINT) AS credit_ucents
        |FROM credits WHERE n > 0
        |GROUP BY 1 ORDER BY src_type""".stripMargin,

    "events_transitions" ->
      """SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |FROM (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "join_interval_outer" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, ts AS pts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, c.user_id,
        |       strftime(cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |       count(p_user) AS n_purchases_1h,
        |       strftime(min(pts), '%Y-%m-%d %H:%M:%S') AS first_purchase_ts,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS purchase_value
        |FROM clicks c LEFT JOIN p
        |  ON c.user_id = p.p_user
        | AND pts > cts AND pts <= cts + INTERVAL '1 hour'
        |GROUP BY click_id, c.user_id, cts
        |ORDER BY click_id""".stripMargin
  )
}
