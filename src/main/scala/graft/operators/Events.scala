package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics over the `events` fixture (ts, user_id,
  * event_type, value, props JSON) — the batch analogues of streaming
  * windows/sessionization (SURVEY §7.5), plus JSON extraction and top-k.
  *
  * Scale notes: hourly rollup and top-k are partial-agg + single shuffle.
  * Sessionization shuffles once on user_id, then both window functions and
  * the session aggregation reuse that partitioning (Catalyst plans one
  * Exchange; sort by (ts, event_id) within user is executor-local).
  * user_id is the natural skew risk at 100 TB — a bot user with 10^9 events
  * lands on one task; mitigation is AQE skew handling or pre-splitting hot
  * users by (user_id, day) and stitching sessions across the cut.
  */
object Events {

  /** Tumbling 1-hour windows x event_type: count + exact DECIMAL total
    * (batch analogue of a watermarked streaming window agg). */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).cast(DoubleType).as("total_value"))
      .orderBy("hour", "event_type")

  /** Gap-based sessionization (30-min inactivity): lag marks session
    * starts, a running sum assigns session ids, then per-session rollup.
    * Deterministic tiebreak on (ts, event_id). */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    sessionize(Tables.events(spark, dir), gapMinutes)

  /** DataFrame-level form: any (user_id, ts, event_id, value) input. */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $gapMinutes MINUTES"), 1).otherwise(0))
      .withColumn("session_seq",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).cast(DoubleType).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  /** Skew-safe sessionization — identical output to [[sessionize]] (the
    * oracle checks both against the same SQL), different physical shape:
    *
    * Phase 1 windows over (user_id, day), so a bot user with 10^9 events
    * splits across one task per day instead of landing on one executor —
    * the hot key is cut by the calendar. Phase 2 re-windows over the
    * phase-1 SESSIONS (orders of magnitude fewer rows than events) to
    * stitch sessions that straddle a midnight boundary within the gap.
    * Stitching is exact: within-day sessions are maximal except at cut
    * points, and the same gap rule decides each cut, so the composition
    * equals the single-pass result. Money stays DECIMAL through both
    * phases, DOUBLE at the boundary. */
  def sessionizeScalable(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    sessionizeScalable(Tables.events(spark, dir), gapMinutes)

  /** DataFrame-level form: any (user_id, ts, event_id, value) input. */
  def sessionizeScalable(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gap = expr(s"INTERVAL $gapMinutes MINUTES")
    val byUserDay = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    val daySessions = events
      .withColumn("day", to_date(col("ts")))
      .withColumn("prev_ts", lag("ts", 1).over(byUserDay))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + gap, 1).otherwise(0))
      .withColumn("day_seq",
        sum("new_sess").over(byUserDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "day", "day_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        sum(col("value").cast(DecimalType(12, 2))).as("dec_value"))
    val byUser = Window.partitionBy("user_id").orderBy("session_start")
    daySessions
      .withColumn("prev_end", lag("session_end", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_end").isNull || col("session_start") > col("prev_end") + gap, 1).otherwise(0))
      .withColumn("session_seq",
        sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        sum(col("n_events")).as("n_events"),
        min("session_start").as("session_start"),
        max("session_end").as("session_end"),
        sum(col("dec_value")).cast(DecimalType(18, 2)).cast(DoubleType).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  /** JSON property extraction (`props` is a JSON string): real JSON-path
    * parsing on the Spark side; the oracle replays it with a regexp so the
    * check does not depend on DuckDB's json extension. */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** Top-k heavy users by total value — plans as TakeOrderedAndProject
    * (per-partition heaps, k-row driver merge; no global sort at scale). */
  def topUsers(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DecimalType(18, 2)).cast(DoubleType).as("total_value"))
      .orderBy(desc("total_value"), asc("user_id")).limit(k)

  /** Daily active users: exact distinct per calendar day. */
  def dailyActive(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day")

  /** KMV sketch size for [[dailyDistinctKmv]]. */
  val kmvK = 64

  /** Per-GROUP approximate distinct counting: a KMV (k-minimum-values)
    * sketch per day via the native [[graft.functions.MinKAgg]] bounded
    * aggregate — the grouped form of `ext/ApproxStats`' global sketch.
    * Exact per-group COUNT(DISTINCT) pays a full expand+shuffle of
    * (group, value) pairs; the sketch ships ≤k longs per (group, map
    * task) and estimates `(k-1)·2^60 / v_k` from the k-th minimum hash.
    * Everything is exact integer state + one IEEE division, so the
    * DuckDB oracle replays the sketch CONTENT (md5 of the min-k array)
    * and the estimate bit-identically. The exact count rides along for
    * the accuracy contract (spec asserts relative error, and at sf the
    * estimator is genuinely engaged: daily actives exceed k). */
  def dailyDistinctKmv(spark: SparkSession, dir: String, k: Int = kmvK): DataFrame = {
    graft.functions.TopKAggExprs.register(spark)
    val ev = Tables.events(spark, dir)
    ev.select(to_date(col("ts")).as("day"), col("user_id"),
        Dedup.fastHash60(spark,
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .groupBy("day")
      .agg(expr(s"mink_agg(h, $k)").as("ms"),
        countDistinct(col("user_id")).as("n_exact"))
      .select(col("day"), col("n_exact"),
        when(size(col("ms")) < k, size(col("ms")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0)
            / element_at(col("ms"), k).cast("double"))
          .as("kmv_estimate"),
        md5(concat_ws(",", col("ms").cast("array<string>"))).as("sketch_md5"))
      .orderBy("day")
  }

  def dailyKmvOracleSql(eventsCte: String, k: Int = kmvK): String =
    s"""$eventsCte,
       | hashes AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
       |   CAST('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |   FROM ev),
       | ranked AS (SELECT day, h,
       |   row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM hashes),
       | mins AS (SELECT day, list(h ORDER BY h) AS ms
       |   FROM ranked WHERE rn <= $k GROUP BY day),
       | exact AS (SELECT CAST(ts AS DATE) AS day,
       |   COUNT(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1)
       | SELECT day, n_exact,
       |   CASE WHEN len(ms) < $k THEN CAST(len(ms) AS DOUBLE)
       |     ELSE CAST(${k - 1} AS DOUBLE) * 1152921504606846976.0
       |          / CAST(ms[$k] AS DOUBLE) END AS kmv_estimate,
       |   md5(array_to_string(list_transform(ms, v -> CAST(v AS VARCHAR)), ',')) AS sketch_md5
       | FROM mins JOIN exact USING (day)
       | ORDER BY day""".stripMargin

  /** Conversion-window for [[funnelStages]]: the final step must land
    * within this many days of the funnel's first step. */
  val funnelWindowDays = 7

  /** Ordered funnel (view → click → purchase): per user, the earliest
    * chain — first view, first click AFTER that view, first purchase
    * AFTER that click — plus whether the chain completed inside
    * [[funnelWindowDays]]. The product-analytics staple (Amplitude-style
    * ordered funnels) expressed as three keyed min-aggregations chained
    * by joins: every stage shuffles on user_id, so Catalyst plans ONE
    * user partitioning reused across stages; nothing is ordered
    * globally and no per-user array materializes (a bot user with 10^9
    * events costs an agg, not a collect_list).
    *
    * Stage timestamps are exact micros; the window check is integer
    * microsecond arithmetic both engines replay bit-identically. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("ts") > col("view_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    views
      .join(clicks.select("user_id", "click_ts"), Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
      .select(
        col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
        when(col("purchase_ts").isNotNull
            && unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))
               <= lit(funnelWindowDays * 86400L * 1000000L), 1)
          .otherwise(0).cast("int").as("converted"))
      .orderBy("user_id")
  }

  /** DuckDB replay of [[funnelStages]] over a `WITH ev AS (...)` events
    * CTE exposing (user_id, event_type, ts). */
  def funnelOracleSql(eventsCte: String): String =
    s"""$eventsCte,
       | v AS (SELECT user_id, MIN(ts) AS view_ts FROM ev
       |   WHERE event_type = 'view' GROUP BY user_id),
       | c AS (SELECT e.user_id, MIN(e.ts) AS click_ts
       |   FROM ev e JOIN v USING (user_id)
       |   WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY e.user_id),
       | p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
       |   FROM ev e JOIN c USING (user_id)
       |   WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY e.user_id)
       | SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       |   CAST(CASE WHEN p.purchase_ts IS NOT NULL
       |     AND epoch_us(p.purchase_ts) - epoch_us(v.view_ts)
       |         <= ${funnelWindowDays * 86400L * 1000000L}
       |     THEN 1 ELSE 0 END AS INTEGER) AS converted
       | FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       | ORDER BY v.user_id""".stripMargin

  /** Weekly cohort retention: cohort = the user's first active week;
    * cell (cohort_week, offset) = distinct users of that cohort active
    * `offset` weeks later — the growth-analytics triangle. Two keyed
    * aggregations (user grain, then cell grain) and one broadcast-sized
    * join back of the per-user cohort; distinct-per-cell dedups
    * map-side on (cohort, offset, user). */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
    val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, Seq("user_id"))
      .withColumn("offset_weeks",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "offset_weeks")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "offset_weeks")
  }

  /** Top-k purchase values per user via the NATIVE bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]) — the shuffle-light form of grouped
    * top-k: partial heaps combine in the scan stage, the exchange carries
    * at most k doubles per (user, map task) instead of every event row,
    * and no per-group sort of raw data ever happens. The window-rank
    * form ships ALL rows; this ships k per group per partition. */
  def topValuesPerUser(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.TopKAggExprs.register(spark)
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(expr(s"topk_agg(value, $k)").as("top_values"))
      .select(col("user_id"), posexplode(col("top_values")).as(Seq("pos", "value")))
      .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"), col("value"))
      .orderBy("user_id", "rank")
  }

  /** Oracle replays the aggregate with a rank window — ties are equal
    * doubles, so the per-user value SEQUENCE is identical either way. */
  def topValuesOracleSql(eventsCte: String, k: Int = 5): String =
    s"""$eventsCte
       | SELECT user_id, CAST(rn AS INTEGER) AS rank, value FROM (
       |   SELECT user_id, value,
       |     row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS rn
       |   FROM ev WHERE event_type = 'purchase')
       | WHERE rn <= $k ORDER BY user_id, rank""".stripMargin

  def cohortOracleSql(eventsCte: String): String =
    s"""$eventsCte,
       | weeks AS (SELECT DISTINCT user_id,
       |     CAST(date_trunc('week', ts) AS DATE) AS week FROM ev),
       | cohorts AS (SELECT user_id, MIN(week) AS cohort_week
       |   FROM weeks GROUP BY user_id)
       | SELECT cohort_week,
       |   CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER) AS offset_weeks,
       |   COUNT(DISTINCT user_id) AS n_users
       | FROM weeks JOIN cohorts USING (user_id)
       | GROUP BY cohort_week, offset_weeks
       | ORDER BY cohort_week, offset_weeks""".stripMargin
}
