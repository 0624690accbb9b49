package graft.operators

import graft.{GateQuery, Tables}
import graft.Tables.{DayUs, HourUs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window semantics (SURVEY §2.8 T1-T3, §2.5 A10): the reference's
  * quota tumbling windows (`APIKeyStats.reset_if_needed`,
  * youtube_api_handler.py:47-61), TTL-cache expiry (`CacheEntry`,
  * :23-31) and last-24h sliding stats — generalized to event-time
  * window aggregation over `events`.
  *
  * Batch forms here (oracle-checkable); the identical column logic is
  * reused by the Structured Streaming pipeline in
  * `graft.streaming.EventStream` (watermark + window aggs).
  *
  * Window starts are emitted as epoch-µs BIGINTs (not timestamps) so
  * Spark µs and DuckDB ns precision can never diverge. Spark's
  * `window()` is epoch-aligned in UTC, which is exactly the integer
  * arithmetic the oracles use.
  */
object TimeWindows {

  private val SlideUs = 1800L * 1000000

  private[operators] def evs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      Tables.valueCents.as("value_cents"))

  private[operators] val evsSql =
    """WITH evs AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events)
      |""".stripMargin

  /** tw1: tumbling 1-hour aggregation (T2 hourly quota shape): per
    * window — events, exact value sum, distinct users. Spark's
    * `window(ts, "1 hour")` is used on the real TimestampType column;
    * the oracle reproduces its epoch-aligned start arithmetic. */
  private def tw1(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Tables.valueCents).as("value_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("n_events"), col("value_cents"), col("n_users"))

  private val tw1Sql = evsSql +
    s"""SELECT (ts_us // $HourUs) * $HourUs AS window_start_us,
       |  count(*) AS n_events,
       |  CAST(sum(value_cents) AS BIGINT) AS value_cents,
       |  count(DISTINCT user_id) AS n_users
       |FROM evs GROUP BY 1""".stripMargin

  /** tw2: sliding 1-hour window, 30-min slide (T3 last-24h sliding
    * shape): every event lands in 2 windows. Spark's built-in
    * `window(ts, len, slide)` generator; oracle expands via a 2-row
    * range join — identical epoch alignment. */
  private def tw2(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"))

  private val tw2Sql = evsSql +
    s"""SELECT (ts_us // $SlideUs) * $SlideUs - k.k * $SlideUs AS window_start_us,
       |  event_type, count(*) AS n_events
       |FROM evs CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k
       |WHERE ts_us >= (ts_us // $SlideUs) * $SlideUs - k.k * $SlideUs
       |  AND ts_us < (ts_us // $SlideUs) * $SlideUs - k.k * $SlideUs + $HourUs
       |GROUP BY 1, 2""".stripMargin

  /** tw3: sessionization (T1 TTL-expiry shape: a session dies after
    * 30 min of inactivity, like a cache entry): per user, lag-gap
    * detection + running sum → session ids → per-session envelope.
    * Two window passes over one (user_id, ts) exchange, then a hash
    * agg — the classic scalable sessionize; identical SQL on both
    * engines (Spark's native session_window produces the same
    * envelopes — equivalence pinned in LogTimeSpec — but stays out of
    * the oracle path, which wants one portable SQL spelling). */
  private def tw3(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    evs(s, d)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > SlideUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        min(col("ts_us")).as("sess_start_us"),
        max(col("ts_us")).as("sess_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("value_cents"))
      .withColumn("duration_us", col("sess_end_us") - col("sess_start_us"))
  }

  private val tw3Body =
    s"""SELECT user_id, sess_id, min(ts_us) AS sess_start_us,
       |  max(ts_us) AS sess_end_us, count(*) AS n_events,
       |  CAST(sum(value_cents) AS BIGINT) AS value_cents,
       |  max(ts_us) - min(ts_us) AS duration_us
       |FROM (
       |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
       |      ORDER BY ts_us ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
       |  FROM (
       |    SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SlideUs
       |        THEN 1 ELSE 0 END AS new_sess
       |    FROM (
       |      SELECT *, lag(ts_us, 1) OVER (PARTITION BY user_id
       |          ORDER BY ts_us ASC, event_id ASC) AS prev_us
       |      FROM evs) a) b) c
       |GROUP BY user_id, sess_id""".stripMargin

  private val tw3Sql = evsSql + tw3Body

  /** tw4: quota admission windows (T2+A10+F10): per (user "API key",
    * day) — daily volume, peak-hour volume, and the admission flags
    * the reference checks before dispatch (daily < 80, hourly < 20
    * stand in for the 10k/1k quotas). Two-level rollup: hour counts →
    * day aggregate. */
  private def tw4(s: SparkSession, d: String): DataFrame = {
    evs(s, d)
      .withColumn("day_us", expr(s"(ts_us div ${DayUs}L) * ${DayUs}L"))
      .withColumn("hour_us", expr(s"(ts_us div ${HourUs}L) * ${HourUs}L"))
      .groupBy(col("user_id"), col("day_us"), col("hour_us"))
      .agg(count(lit(1)).as("hn"))
      .groupBy(col("user_id"), col("day_us"))
      .agg(sum(col("hn")).as("daily_requests"),
        max(col("hn")).as("peak_hour_requests"))
      .select(col("user_id"), col("day_us"), col("daily_requests"),
        col("peak_hour_requests"),
        (col("daily_requests") < 80 && col("peak_hour_requests") < 20).as("admitted"),
        (col("daily_requests").cast("double") * 100 / 80).as("daily_quota_pct"))
  }

  private val tw4Sql = {
    evsSql +
      s"""SELECT user_id, day_us, CAST(sum(hn) AS BIGINT) AS daily_requests,
         |  max(hn) AS peak_hour_requests,
         |  CAST(sum(hn) AS BIGINT) < 80 AND max(hn) < 20 AS admitted,
         |  CAST(sum(hn) AS DOUBLE) * 100 / 80 AS daily_quota_pct
         |FROM (
         |  SELECT user_id, (ts_us // $DayUs) * $DayUs AS day_us,
         |    (ts_us // $HourUs) * $HourUs AS hour_us, count(*) AS hn
         |  FROM evs GROUP BY 1, 2, 3) h
         |GROUP BY user_id, day_us""".stripMargin
  }

  /** tw5: AS-OF join — for every purchase, the latest click by the
    * same user at-or-before it ("prior" = lexicographically smaller
    * (ts, event_id), so ties are exact). Spark has no asof-join
    * operator; the scalable restatement is the union-and-carry
    * pattern: tag both sides, sort within the user partition, carry
    * the last click forward with `last(_, ignoreNulls)` over
    * rows(-∞, -1). ONE shuffle on user_id, no range/cross join — at
    * 100 TB this is the difference between a sort within partitions
    * and an exploded interval join. The oracle is DuckDB's native
    * correlated top-1 (LEFT JOIN LATERAL ... ORDER BY ... LIMIT 1),
    * i.e. an independent asof implementation. */
  private def tw5(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        lit(null).cast("long").as("click_id"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    clicks.unionAll(purchases)
      .withColumn("asof_click_id",
        last(col("click_id"), ignoreNulls = true).over(byUser))
      .filter(col("click_id").isNull) // keep the purchase rows
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"), col("asof_click_id"))
  }

  private val tw5Sql = evsSql +
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  p.ts_us AS purchase_ts_us, c.click_id AS asof_click_id
      |FROM (SELECT * FROM evs WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT e.event_id AS click_id
      |  FROM evs e
      |  WHERE e.event_type = 'click' AND e.user_id = p.user_id
      |    AND (e.ts_us < p.ts_us
      |         OR (e.ts_us = p.ts_us AND e.event_id < p.event_id))
      |  ORDER BY e.ts_us DESC, e.event_id DESC LIMIT 1) c ON TRUE""".stripMargin

  /** tw6: TTL cache-expiry sweep (F9/T1 — `CacheEntry.is_expired`,
    * youtube_api_handler.py:23-31, with the reference's per-type TTLs,
    * config.py:27-30: channel 1800 s / video 600 s / RSS 300 s /
    * default 3600 s). Each (user, event_type) key is a cache entry
    * whose last write is its `timestamp`; the sweep runs at the
    * deterministic anchor max(ts) (1-row broadcast, the la4 pattern)
    * and rolls up live vs expired per entry type — the batch twin of
    * the streaming TTL state machine in EventStream.ttlCache. */
  private def tw6(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    val entries = e.groupBy(col("user_id"), col("event_type"))
      .agg(max(col("ts_us")).as("set_us"), count(lit(1)).as("n_sets"))
      .withColumn("cache_type",
        when(col("event_type") === "view", "video")
          .when(col("event_type") === "click", "rss")
          .when(col("event_type") === "signup", "channel")
          .otherwise("default"))
      .withColumn("ttl_us",
        when(col("cache_type") === "video", 600L * 1000000)
          .when(col("cache_type") === "rss", 300L * 1000000)
          .when(col("cache_type") === "channel", 1800L * 1000000)
          .otherwise(3600L * 1000000))
    val anchor = e.agg(max(col("ts_us")).as("now_us"))
    entries.crossJoin(broadcast(anchor))
      .withColumn("expired", col("now_us") > col("set_us") + col("ttl_us"))
      .groupBy(col("cache_type"))
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("expired"), 1L).otherwise(0L)).as("n_expired"),
        sum(col("n_sets")).as("n_sets"))
      .withColumn("n_live", col("n_entries") - col("n_expired"))
  }

  private val tw6Sql = evsSql +
    """SELECT cache_type, n_entries, n_expired, n_sets,
      |  n_entries - n_expired AS n_live
      |FROM (
      |  SELECT cache_type, count(*) AS n_entries,
      |    CAST(sum(CASE WHEN now_us > set_us + ttl_us THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
      |    CAST(sum(n_sets) AS BIGINT) AS n_sets
      |  FROM (
      |    SELECT user_id, event_type, max(ts_us) AS set_us, count(*) AS n_sets,
      |      CASE event_type WHEN 'view' THEN 'video' WHEN 'click' THEN 'rss'
      |        WHEN 'signup' THEN 'channel' ELSE 'default' END AS cache_type,
      |      CASE event_type WHEN 'view' THEN 600000000 WHEN 'click' THEN 300000000
      |        WHEN 'signup' THEN 1800000000 ELSE 3600000000 END AS ttl_us
      |    FROM evs GROUP BY user_id, event_type) entries,
      |    (SELECT max(ts_us) AS now_us FROM evs) m
      |  GROUP BY cache_type) t""".stripMargin

  /** tw7: range (interval-containment) join — campaign attribution.
    * The 20 busiest hours per event type become 90-minute "campaign
    * windows" [hour−15 min, hour+75 min), and every event whose
    * timestamp falls inside a window is attributed to it. No equi key
    * relates events to campaigns — this is the join family the
    * reference never needed but any events-at-scale pipeline does, and
    * Spark's only built-in plan for it is a nested-loop join.
    * [[RangeJoin.binned]] restates it as a bin-exploded equi-join
    * (30-min bins ≈ the interval width), so the plan is hash joins all
    * the way down and survives arbitrarily many intervals; the oracle
    * is DuckDB's native inequality join — an independent range-join
    * implementation. Windows of different types overlap, so one event
    * can legitimately attribute to several campaigns (each exactly
    * once; the bin algebra guarantees no double-count). */
  /** The 20 busiest hours per event type as 90-minute "campaign
    * windows" [hour−15 min, hour+75 min) — the shared interval side of
    * tw7/tw8. */
  private def campaignsOf(e: DataFrame): DataFrame =
    e.withColumn("hour_us", expr(s"(ts_us div ${HourUs}L) * ${HourUs}L"))
      .groupBy(col("event_type"), col("hour_us"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("hour_us").asc)))
      .filter(col("rk") <= 20)
      .select(col("event_type").as("campaign_type"),
        col("hour_us").as("campaign_hour_us"),
        (col("hour_us") - 900L * 1000000).as("lo_us"),
        (col("hour_us") + 4500L * 1000000).as("hi_us"))

  private val campaignsSqlCtes =
    s""", hourly AS (
       |  SELECT event_type, (ts_us // $HourUs) * $HourUs AS hour_us,
       |    count(*) AS n
       |  FROM evs GROUP BY 1, 2),
       |campaigns AS (
       |  SELECT event_type AS campaign_type, hour_us AS campaign_hour_us,
       |    hour_us - 900000000 AS lo_us, hour_us + 4500000000 AS hi_us
       |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY n DESC, hour_us ASC) AS rk FROM hourly) r
       |  WHERE rk <= 20)
       |""".stripMargin

  private def tw7(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    RangeJoin.binned(
        e.select(col("ts_us"), col("user_id"), col("value_cents")),
        "ts_us", campaignsOf(e), "lo_us", "hi_us", binWidth = SlideUs)
      .groupBy(col("campaign_type"), col("campaign_hour_us"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value_cents")).as("value_cents"))
  }

  private val tw7Sql = evsSql + campaignsSqlCtes +
    """SELECT t.campaign_type, t.campaign_hour_us, count(*) AS n_events,
      |  count(DISTINCT e.user_id) AS n_users,
      |  CAST(sum(e.value_cents) AS BIGINT) AS value_cents
      |FROM campaigns t JOIN evs e
      |  ON e.ts_us >= t.lo_us AND e.ts_us < t.hi_us
      |GROUP BY 1, 2""".stripMargin

  /** tw8: interval-OVERLAP join — which user sessions (tw3's
    * envelopes) overlap which campaign windows (tw7's intervals).
    * Interval × interval is the other non-equi join family a
    * time-series pipeline needs (attribution, outage blast-radius,
    * A/B exposure); Spark again has only nested-loop plans for it.
    * [[RangeJoin.overlaps]] restates it as the same bin-exploded
    * equi-join, emitting each overlapping pair exactly once via the
    * overlap-start-bin trick (no distinct, no post-join dedup
    * shuffle). Oracle: DuckDB's native inequality overlap join over
    * independently recomputed sessions and campaigns. */
  private def tw8(s: SparkSession, d: String): DataFrame = {
    val sess = tw3(s, d).select(col("user_id"),
      col("sess_start_us").as("s_lo"),
      (col("sess_end_us") + 1).as("s_hi"), col("n_events"))
    RangeJoin.overlaps(sess, "s_lo", "s_hi",
        campaignsOf(evs(s, d)), "lo_us", "hi_us", binWidth = SlideUs)
      .groupBy(col("campaign_type"), col("campaign_hour_us"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("n_events")).as("sess_events"))
  }

  private val tw8Sql = evsSql + campaignsSqlCtes +
    s""", sess AS ($tw3Body)
       |SELECT c.campaign_type, c.campaign_hour_us,
       |  count(*) AS n_sessions, count(DISTINCT s.user_id) AS n_users,
       |  CAST(sum(s.n_events) AS BIGINT) AS sess_events
       |FROM campaigns c JOIN sess s
       |  ON s.sess_start_us < c.hi_us AND c.lo_us < s.sess_end_us + 1
       |GROUP BY 1, 2""".stripMargin

  /** tw9: inter-event gap analysis (lag/lead family, the W-surface
    * member the suite didn't yet exercise): per user, the gap to the
    * previous event (lag over a user-partitioned, uniquely tie-broken
    * order), rolled up to per-user arrival statistics — event count,
    * max gap, floor-div mean gap, and how many gaps exceed the tw3
    * session threshold (30 min), i.e. the user's session count minus
    * one. The user-partitioned window is the scale-safe shape (key
    * cardinality grows with the data; no global sort anywhere), and
    * the rollup is a map-side-combined hash agg on the same key, so
    * the window's shuffle is reused by the groupBy (one Exchange
    * total). Top-200 heaviest users keeps the gate output bounded —
    * TakeOrderedAndProject, never a ranking window. */
  private def tw9(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    evs(s, d)
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("gap_us")).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        expr(s"sum(gap_us) div greatest(count(gap_us), 1)").as("avg_gap_us"),
        sum(when(col("gap_us") > SlideUs, 1L).otherwise(0L)).as("n_session_breaks"))
      .orderBy(col("n_events").desc, col("user_id").asc)
      .limit(200)
  }

  private val tw9Sql = evsSql +
    s""", gaps AS (
       |  SELECT user_id, ts_us - lag(ts_us, 1) OVER (
       |      PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS gap_us
       |  FROM evs)
       |SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
       |  max(gap_us) AS max_gap_us,
       |  CAST(sum(gap_us) AS BIGINT) // greatest(count(gap_us), 1) AS avg_gap_us,
       |  CAST(sum(CASE WHEN gap_us > $SlideUs THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_session_breaks
       |FROM gaps GROUP BY user_id
       |ORDER BY n_events DESC, user_id ASC LIMIT 200""".stripMargin

  /** tw10: week-over-week retention cohorts — the classic activity
    * analysis every events pipeline ships: per week, how many users
    * were active, and how many of them returned the following week
    * (floor-div permille, exact). The active set is a distinct hash
    * agg on (user, week); "returned" is a self left-join of that set
    * against itself shifted one week — hash join on the
    * high-cardinality (user, week) key, no window over users, no
    * global sort. At 100 TB the distinct set is the only state and
    * it's bounded by users × weeks, not events. */
  private def tw10(s: SparkSession, d: String): DataFrame = {
    val WeekUs = 7L * 24 * 3600 * 1000000
    val wk = evs(s, d)
      .select(col("user_id"), expr(s"ts_us div ${WeekUs}L").as("wk"))
      .distinct()
    val nxt = wk.select(col("user_id"), (col("wk") - 1).as("wk"),
      lit(1L).as("returned"))
    wk.join(nxt, Seq("user_id", "wk"), "left")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("returned"), lit(0L))).as("n_retained"))
      .withColumn("retention_permille",
        expr("(n_retained * 1000) div n_active"))
  }

  private val tw10Sql = evsSql +
    s""", wk AS (
       |  SELECT DISTINCT user_id, ts_us // ${7L * 24 * 3600 * 1000000}
       |    AS wk FROM evs)
       |SELECT w.wk, count(*) AS n_active,
       |  CAST(sum(CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_retained,
       |  CAST(sum(CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // count(*) AS retention_permille
       |FROM wk w LEFT JOIN wk n
       |  ON w.user_id = n.user_id AND n.wk = w.wk + 1
       |GROUP BY w.wk""".stripMargin

  /** tw11: API-key ROTATION selection — the last reference behavior
    * with real query semantics (`_get_next_api_key`,
    * youtube_api_handler.py:222-275): availability filtering (a key
    * under its daily/hourly quota — tw4's `admitted` flag), then the
    * two deterministic strategies as data, per day window:
    * `least_used` = the admitted key with the fewest daily requests
    * (key-asc tie-break standing in for the reference's
    * first-in-list-wins scan), and `round_robin` = the admitted key
    * at slot (day-index mod admitted-count) in key order (the
    * stateful rotating index restated as a pure function of the
    * window). NULL selections when every key is over quota — the
    * reference returns None there. The third strategy, `random`, is
    * modeled as SEEDED pseudo-random selection: the admitted key at
    * slot (salted-md5(day window) mod admitted-count) — the repo's
    * salted-md5 convention for every "random" choice, so the pick is
    * uniform-ish across windows yet reproducible in any engine (the
    * reference's true `random.choice` is irreproducible by design;
    * a seeded hash is what a distributed replay needs anyway).
    *
    * Scale shape: builds on tw4's per-(key, day) rollup — the usage
    * table is |keys| × |days| rows regardless of corpus size, so the
    * day-partitioned rank windows and the final per-day fold touch a
    * dimension table, never the event stream; the event-scale work is
    * exactly tw4's one map-side-combinable two-level agg. */
  private def tw11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("day_us"))
    // admitted DESC leads both rank orders, so rank 1 is always an
    // admitted key whenever one exists — no nested min-over-window
    tw4(s, d)
      .withColumn("lu_rk", row_number().over(w.orderBy(
        col("admitted").desc, col("daily_requests").asc, col("user_id").asc)))
      .withColumn("adm_rk", row_number().over(w.orderBy(
        col("admitted").desc, col("user_id").asc)))
      .withColumn("n_keys", count(lit(1)).over(w))
      .withColumn("n_admitted",
        sum(when(col("admitted"), 1L).otherwise(0L)).over(w))
      .groupBy(col("day_us"), col("n_keys"), col("n_admitted"))
      .agg(
        max(when(col("admitted") && col("lu_rk") === 1, col("user_id")))
          .as("least_used_key"),
        min(when(col("admitted"), col("daily_requests")))
          .as("least_used_requests"),
        max(when(col("admitted") && col("adm_rk") ===
            lit(1) + expr(s"(day_us div ${DayUs}L) % greatest(n_admitted, 1)"),
          col("user_id"))).as("round_robin_key"),
        max(when(col("admitted") && col("adm_rk") ===
            expr("1 + cast(conv(substring(md5(concat('rot', cast(day_us as string))),1,15),16,10) as bigint) % greatest(n_admitted, 1)"),
          col("user_id"))).as("seeded_random_key"))
  }

  private val tw11Sql = {
    s"""WITH usage AS ($tw4Sql),
       |sel AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY day_us ORDER BY
       |      admitted DESC, daily_requests ASC, user_id ASC) AS lu_rk,
       |    row_number() OVER (PARTITION BY day_us ORDER BY
       |      admitted DESC, user_id ASC) AS adm_rk,
       |    count(*) OVER (PARTITION BY day_us) AS n_keys,
       |    CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY day_us) AS BIGINT) AS n_admitted
       |  FROM usage)
       |SELECT day_us, n_keys, n_admitted,
       |  max(CASE WHEN admitted AND lu_rk = 1 THEN user_id END)
       |    AS least_used_key,
       |  min(CASE WHEN admitted THEN daily_requests END)
       |    AS least_used_requests,
       |  max(CASE WHEN admitted AND adm_rk =
       |      1 + (day_us // $DayUs) % greatest(n_admitted, 1)
       |    THEN user_id END) AS round_robin_key,
       |  max(CASE WHEN admitted AND adm_rk =
       |      1 + ('0x' || substr(md5('rot' || day_us::VARCHAR), 1, 15))::BIGINT
       |        % greatest(n_admitted, 1)
       |    THEN user_id END) AS seeded_random_key
       |FROM sel GROUP BY day_us, n_keys, n_admitted""".stripMargin
  }

  /** tw12: RATE-LIMIT dispatch schedule — `_rate_limit`
    * (youtube_api_handler.py:361-367): each request sleeps until
    * `min_request_interval` past the previous dispatch, i.e. the
    * sequential recurrence D_i = max(a_i, D_{i-1} + I). That loop
    * looks un-parallelizable; its closed form is not:
    * D_i = i·I + max_{j≤i}(a_j − j·I) — a PREFIX MAX. So the rate
    * limiter becomes one rank window plus one running-max window over
    * the same (key, arrival-order) sort, and the per-key throttle
    * report (requests, throttled count, total/max induced delay)
    * falls out of integer arithmetic both engines reproduce exactly.
    *
    * I = 600 s here: the reference's 100 ms guards a per-HTTP-request
    * cadence; the synthetic feed's per-key arrivals are minutes
    * apart, so the gate scales the constant (env-tunable in the
    * reference too, config.py:33) to actually exercise queueing —
    * the operator is identical for any I.
    *
    * Scale shape: row_number and the running max share ONE exchange +
    * sort on user_id (ca1's reuse pattern, plan-asserted), and the
    * final rollup groups on the same key — no second shuffle of event
    * data; per-key state during the scan is a single running value. */
  private def tw12(s: SparkSession, d: String): DataFrame = {
    val I = 600L * 1000000
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    evs(s, d)
      .withColumn("i", row_number().over(order).cast("long"))
      .withColumn("cm", max(col("ts_us") - col("i") * I).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("delay_us", col("i") * I + col("cm") - col("ts_us"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_requests"),
        sum(when(col("delay_us") > 0, 1L).otherwise(0L)).as("n_throttled"),
        sum(col("delay_us")).as("total_delay_us"),
        max(col("delay_us")).as("max_delay_us"))
  }

  private val tw12Sql = {
    val I = 600L * 1000000
    evsSql +
      s"""SELECT user_id, count(*) AS n_requests,
         |  CAST(sum(CASE WHEN delay_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_throttled,
         |  CAST(sum(delay_us) AS BIGINT) AS total_delay_us,
         |  max(delay_us) AS max_delay_us
         |FROM (
         |  SELECT user_id, i * $I + max(ts_us - i * $I) OVER (
         |      PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
         |      ROWS UNBOUNDED PRECEDING) - ts_us AS delay_us
         |  FROM (
         |    SELECT user_id, event_id, ts_us,
         |      CAST(row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts_us ASC, event_id ASC) AS BIGINT) AS i
         |    FROM evs) r) t
         |GROUP BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- tw13

  /** tw13: RATE-SPIKE detection — the ops-side anomaly question every
    * event pipeline answers ("is this user/key suddenly 3× its own
    * baseline?"): per (user, active hour), the hour's event count vs
    * the user's TRAILING-24-hour baseline, computed with a RANGE
    * window frame over the hour INDEX (value-based `RANGE BETWEEN 24
    * PRECEDING AND 1 PRECEDING`, so calendar gaps are skipped
    * correctly — a ROWS frame would silently reach back days when a
    * user goes quiet; no other gate exercises RANGE frames). Spike =
    * count ≥ 3× the floor-div baseline AND ≥ 5 events (the absolute
    * floor kills cold-start false positives). Exact integer
    * arithmetic throughout.
    *
    * Scale shape: the hourly pre-aggregation collapses events to
    * (user, hour) grain BEFORE the window, map-side-combined — so
    * BOTH exchanges (the agg's and the window's) carry only
    * (users × active hours) rows, never events, and the frame walks
    * at most 24 bounded rows per output row. (Collapsing to one
    * user_id exchange is possible via a pre-agg repartition, but that
    * exchange would carry raw EVENTS — strictly more bytes than two
    * hour-grain exchanges at any realistic events-per-hour density.)
    * Asserted: ≤2 exchanges, partial aggregation present. */
  private def tw13(s: SparkSession, d: String): DataFrame = {
    val hourly = evs(s, d)
      .select(col("user_id"), expr(s"ts_us div $HourUs").as("hour_idx"))
      .groupBy(col("user_id"), col("hour_idx"))
      .agg(count(lit(1)).as("n_events"))
    val trail = Window.partitionBy(col("user_id")).orderBy(col("hour_idx"))
      .rangeBetween(-24, -1)
    hourly
      .withColumn("trail_sum",
        coalesce(sum(col("n_events")).over(trail), lit(0L)))
      .withColumn("trail_hours", count(col("n_events")).over(trail))
      .withColumn("baseline",
        expr("CASE WHEN trail_hours > 0 THEN trail_sum div trail_hours ELSE 0 END"))
      .withColumn("spike",
        col("trail_hours") > 0 && col("n_events") >= col("baseline") * 3 &&
          col("n_events") >= 5)
      .select("user_id", "hour_idx", "n_events", "trail_sum", "trail_hours",
        "baseline", "spike")
  }

  private val tw13Sql = evsSql +
    s""", hourly AS (
       |  SELECT user_id, ts_us // $HourUs AS hour_idx, count(*) AS n_events
       |  FROM evs GROUP BY 1, 2)
       |SELECT user_id, hour_idx, n_events,
       |  coalesce(CAST(sum(n_events) OVER trail AS BIGINT), 0) AS trail_sum,
       |  count(n_events) OVER trail AS trail_hours,
       |  CASE WHEN count(n_events) OVER trail > 0
       |    THEN coalesce(CAST(sum(n_events) OVER trail AS BIGINT), 0)
       |      // count(n_events) OVER trail
       |    ELSE 0 END AS baseline,
       |  count(n_events) OVER trail > 0
       |    AND n_events >= CASE WHEN count(n_events) OVER trail > 0
       |      THEN coalesce(CAST(sum(n_events) OVER trail AS BIGINT), 0)
       |        // count(n_events) OVER trail
       |      ELSE 0 END * 3
       |    AND n_events >= 5 AS spike
       |FROM hourly
       |WINDOW trail AS (PARTITION BY user_id ORDER BY hour_idx
       |  RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)""".stripMargin

  // ---------------------------------------------------------------- tw14

  /** tw14: ORDERED conversion funnel — signup → first click AT OR
    * AFTER it → first purchase AT OR AFTER that, the classic
    * product-analytics question ("how far did each user get, in
    * order?") that a bag-of-events count can't answer: a purchase
    * BEFORE the signup must not convert the funnel. Per user: the
    * three stage timestamps (null once the chain breaks) and the
    * furthest stage reached. Same-microsecond ties count as ordered
    * (≥ — the reference-free choice, pinned identically in both
    * engines).
    *
    * Scale shape: three min-reductions chained by user-keyed hash
    * joins — every frame past the first agg is USER-grain, all
    * exchanges hash on user_id (no windows over event rows, no
    * sorts); the chain is the map-side-combinable restatement of the
    * per-user event-sequence scan. At 100 TB the working set after
    * stage 1 is |users|, not |events|. */
  private def tw14(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    def firstAtOrAfter(etype: String, prev: DataFrame, prevCol: String,
        out: String): DataFrame =
      e.filter(col("event_type") === etype)
        .join(prev, Seq("user_id"))
        .filter(col("ts_us") >= col(prevCol))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as(out))
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("signup_us"))
    val t2 = firstAtOrAfter("click", t1, "signup_us", "click_us")
    val t3 = firstAtOrAfter("purchase", t2, "click_us", "purchase_us")
    // user-grain × user-grain assembly: pinned shuffle-hash (cp7's
    // rule) so not even the AQE initial plan carries a sort-merge join
    e.select(col("user_id")).distinct()
      .join(t1.hint("shuffle_hash"), Seq("user_id"), "left")
      .join(t2.hint("shuffle_hash"), Seq("user_id"), "left")
      .join(t3.hint("shuffle_hash"), Seq("user_id"), "left")
      .withColumn("stage",
        when(col("purchase_us").isNotNull, 3)
          .when(col("click_us").isNotNull, 2)
          .when(col("signup_us").isNotNull, 1).otherwise(0))
  }

  private val tw14Sql = evsSql +
    """, t1 AS (
      |  SELECT user_id, min(ts_us) AS signup_us FROM evs
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, min(e.ts_us) AS click_us
      |  FROM evs e JOIN t1 ON t1.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts_us >= t1.signup_us
      |  GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, min(e.ts_us) AS purchase_us
      |  FROM evs e JOIN t2 ON t2.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_us >= t2.click_us
      |  GROUP BY e.user_id)
      |SELECT u.user_id, signup_us, click_us, purchase_us,
      |  CASE WHEN purchase_us IS NOT NULL THEN 3
      |       WHEN click_us IS NOT NULL THEN 2
      |       WHEN signup_us IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM (SELECT DISTINCT user_id FROM evs) u
      |LEFT JOIN t1 ON t1.user_id = u.user_id
      |LEFT JOIN t2 ON t2.user_id = u.user_id
      |LEFT JOIN t3 ON t3.user_id = u.user_id""".stripMargin

  // ---------------------------------------------------------------- tw15

  /** tw15: SCD-TYPE-2 interval build — an append-only event log turned
    * into the versioned dimension a warehouse serves ("what state was
    * this user in at time T?"): consecutive same-state events collapse,
    * each state CHANGE opens a validity interval `[valid_from,
    * valid_to)` closed by the next change (`lead`), the open interval
    * flagged current. The as-of lookup this table exists for is tw5's
    * join; this gate builds the artifact. Deterministic under
    * same-microsecond ties via the event_id tie-break.
    *
    * Scale shape: one user_id exchange feeds BOTH windows (the
    * change-detection lag and the interval-closing lead share
    * partitioning and ordering — Spark plans one Window operator
    * pair over one sort, no second shuffle), and the output is
    * change-grain, ≤ event-grain. At 100 TB: the dimension build is
    * one shuffle of slim (user, state, ts) rows. */
  private def tw15(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    evs(s, d)
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_us"), col("event_id"))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("state"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .withColumn("version", row_number().over(w))
      .select("user_id", "version", "state", "valid_from_us", "valid_to_us",
        "is_current")
  }

  private val tw15Sql = evsSql +
    """SELECT user_id, version, state, valid_from_us, valid_to_us,
      |  valid_to_us IS NULL AS is_current
      |FROM (
      |  SELECT user_id, state, ts_us AS valid_from_us,
      |    lead(ts_us, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS valid_to_us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS version
      |  FROM (
      |    SELECT user_id, event_type AS state, ts_us, event_id,
      |      lag(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY ts_us ASC, event_id ASC) AS prev_state
      |    FROM evs) c
      |  WHERE prev_state IS NULL OR prev_state <> state) t""".stripMargin

  // ---------------------------------------------------------------- tw16

  /** tw16: HALF-LIFE DECAYED trending score — the recency-weighted
    * ranking every "trending now" surface computes (and the
    * reference's windowed recency metrics A1/W1 generalized from
    * last-N cutoffs to smooth decay): each event's cents HALVE per
    * 24 h of age against the stream's max-ts anchor (the tw6/la4
    * 1-row anchor pattern), summed per user, top-50 by decayed score.
    *
    * Determinism is the design: decay is an INTEGER arithmetic right
    * shift per 24-h bucket (`value >> min(age_days, 62)`) — exact
    * halving, order-free BIGINT sums — where the textbook
    * `value · exp(−λ·age)` would put FP partial-sum order into the
    * hash. The shift cap at 62 keeps the shift defined at any
    * horizon; buckets older than ~2 months contribute 0 exactly —
    * the truncation a production decay would tolerate anyway.
    *
    * Scale shape: one narrow map (age bucket + shift) under a 1-row
    * broadcast anchor, one map-side-combinable user rollup, a
    * TakeOrderedAndProject top-50, and a rank window over the
    * 50-row result (the ob3 bounded-frame class). */
  private def tw16(s: SparkSession, d: String): DataFrame = {
    val anchor = evs(s, d).agg(max(col("ts_us")).as("now_us"))
    evs(s, d).crossJoin(broadcast(anchor))
      .withColumn("decay_steps",
        least(expr(s"(now_us - ts_us) div ${DayUs}L"), lit(62L)).cast("int"))
      .withColumn("decayed", expr("shiftright(value_cents, decay_steps)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("raw_cents"),
        sum(col("decayed")).as("decayed_cents"))
      .orderBy(col("decayed_cents").desc, col("user_id").asc).limit(50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("decayed_cents").desc, col("user_id").asc)))
  }

  private val tw16Sql = evsSql +
    """, a AS (SELECT max(ts_us) AS now_us FROM evs),
      |d AS (
      |  SELECT user_id, value_cents,
      |    value_cents >> LEAST((a.now_us - ts_us) // 86400000000, 62)
      |      AS decayed
      |  FROM evs, a)
      |SELECT user_id, n_events, raw_cents, decayed_cents,
      |  CAST(row_number() OVER (ORDER BY decayed_cents DESC, user_id ASC)
      |    AS INT) AS rank
      |FROM (
      |  SELECT user_id, count(*) AS n_events,
      |    CAST(sum(value_cents) AS BIGINT) AS raw_cents,
      |    CAST(sum(decayed) AS BIGINT) AS decayed_cents
      |  FROM d GROUP BY user_id
      |  ORDER BY decayed_cents DESC, user_id ASC LIMIT 50) t""".stripMargin

  // ---------------------------------------------------------------- tw17

  /** tw17: the RANGE-JOIN BIN REWRITE exercised end-to-end — tw7's
    * campaign-attribution query written the way a USER writes it (the
    * naive `ts >= lo AND ts < hi` containment join), with the
    * injected [[graft.plans.RangeBinRewrite]] optimizer rule
    * (`SparkSessionExtensions.injectOptimizerRule`, the repo's second
    * whole-plan Catalyst extension after q15's SummaryRewrite)
    * supplying the bin-exploded equi-join plan underneath. tw7 gates
    * the bin ALGEBRA through the explicit API; this gates the
    * OPTIMIZER path — same oracle, and the plan law (no nested-loop
    * join, a Generate feeding hash joins, rule off ⇒ NLJ returns) is
    * pinned in `RangeBinRewriteSpec` since the gate materializes
    * inside its conf bracket (the q15 register→materialize→unregister
    * discipline, so the rewrite can never leak into another gate's
    * plan).
    *
    * Scale shape: identical to tw7 once rewritten — the whole point:
    * the user's naive spelling survives any interval count because
    * the equi key lets Catalyst pick hash strategies and AQE re-plan
    * between them. */
  private def tw17(s: SparkSession, d: String): DataFrame = {
    // ISOLATED session (the StreamGates discipline): the conf bracket
    // arms an optimizer rule, and Bench runs gates CONCURRENTLY on the
    // shared session — armed on `s`, any other gate's inner join that
    // happens to match the two-conjunct LongType range shape would be
    // silently rewritten mid-bracket (semantics-preserving but it can
    // flip plan-shape receipts and perf readings). newSession shares
    // the SparkContext and the injected extensions but owns its SQLConf,
    // so the bracket cannot leak.
    val iso = s.newSession()
    val e = evs(iso, d)
    val probe = e.select(col("ts_us"), col("user_id"), col("value_cents"))
    val ivs = campaignsOf(e)
    iso.conf.set("spark.graft.rangeJoin.binWidth", SlideUs.toString)
    try {
      probe.join(ivs,
          col("ts_us") >= col("lo_us") && col("ts_us") < col("hi_us"))
        .groupBy(col("campaign_type"), col("campaign_hour_us"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value_cents")).as("value_cents"))
        .localCheckpoint() // materialize while the rule is armed
    } finally iso.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  private val tw17Sql = tw7Sql

  // ---------------------------------------------------------------- tw18

  /** tw18: tw5's purchase→click attribution re-planned through the
    * NATIVE as-of operator ([[graft.plans.AsOfJoin]] — custom logical
    * node → injected strategy → one-merge-pass physical exec). Same
    * semantics, same oracle as tw5; what this gate adds is the PLAN:
    * no union, no window state — two key exchanges + sorts and a
    * linear zip of co-partitioned iterators (AsOfJoinSpec pins the
    * exec node's presence and the absence of Union/Window). Measured
    * economics (`Diag scale asof` on the 100× replica, 2M×8M rows,
    * two widths):
    * PARITY with union-and-carry on wall clock — the native form's
    * wins are structural: O(1) merge state instead of window carry
    * state, no union materialization, and output that keeps the left
    * side's key partitioning for downstream reuse (the union kills
    * it). Ord tuples end in event_id, so ties are exact and match
    * tw5's "(ts, event_id) lexicographically smaller" law. */
  private def tw18(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user_id"), col("ts_us").as("click_ts_us"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
      leftKeys = Seq("user_id"), rightKeys = Seq("click_user_id"),
      leftOrd = Seq("purchase_ts_us", "purchase_id"),
      rightOrd = Seq("click_ts_us", "click_id"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        col("click_id").as("asof_click_id"))
  }

  private val tw18Sql = tw5Sql

  // ---------------------------------------------------------------- tw19

  /** tw19: as-of with TOLERANCE — tw18's attribution under a 1-hour
    * lookback bound (pandas `merge_asof(tolerance=...)`; st6's
    * "preceding hour" stream-stream window, answered batch-native): a
    * purchase attributes to its latest prior click only if that click
    * is ≤1 h older, else NULL. In the exec this is one extra long
    * comparison on the already-held candidate — the latest prior
    * being out of tolerance proves every prior is (sorted ord), so
    * the merge stays O(L+R) with the same single-lookahead state.
    * Same plan laws as tw18; the oracle adds the range bound to the
    * lateral top-1. */
  private def tw19(s: SparkSession, d: String): DataFrame = {
    val e = evs(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user_id"), col("ts_us").as("click_ts_us"))
    graft.plans.AsOfJoin.asof(purchases, clicks,
      leftKeys = Seq("user_id"), rightKeys = Seq("click_user_id"),
      leftOrd = Seq("purchase_ts_us", "purchase_id"),
      rightOrd = Seq("click_ts_us", "click_id"),
      tolerance = Some(HourUs))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts_us"),
        col("click_id").as("asof_click_id"))
  }

  private val tw19Sql = evsSql +
    s"""SELECT p.event_id AS purchase_id, p.user_id,
       |  p.ts_us AS purchase_ts_us, c.click_id AS asof_click_id
       |FROM (SELECT * FROM evs WHERE event_type = 'purchase') p
       |LEFT JOIN LATERAL (
       |  SELECT e.event_id AS click_id
       |  FROM evs e
       |  WHERE e.event_type = 'click' AND e.user_id = p.user_id
       |    AND (e.ts_us < p.ts_us
       |         OR (e.ts_us = p.ts_us AND e.event_id < p.event_id))
       |    AND p.ts_us - e.ts_us <= $HourUs
       |  ORDER BY e.ts_us DESC, e.event_id DESC LIMIT 1) c ON TRUE""".stripMargin

  /** tw20: RESAMPLE + GAP-FILL (last observation carried forward) —
    * the missing-bucket restatement every time-series consumer needs
    * before charting, rating or joining against a regular clock:
    * per-user hourly cent sums become a DENSE series over each user's
    * own [first, last] active hour (`sequence()` spine + explode, the
    * distributed answer to generate_series), absent hours carry the
    * last observed hour's sum forward (`last(_, ignoreNulls)` over a
    * per-user running frame — the ONE window shape that expresses
    * LOCF without a self-join) and report their staleness in hours
    * (freshness-SLA material). First spine hour is observed by
    * construction, so the fill is never NULL.
    *
    * Scale shape: gaps-and-islands, NOT spine-join-window — each
    * OBSERVED hour emits its own fill-run (`sequence(h, next_h − 1h)`
    * from a `lead` at the observed grain), so the only window runs at
    * the Σ-observed-hours grain and the dense output is born in a
    * narrow explode; a dense-grain spine LEFT JOIN + LOCF window would
    * shuffle and sort the full output cardinality instead (measured
    * 226.6 s vs 6.8 s at the 100×-replica 108M-row output). Still: no
    * unpartitioned ORDER BY, no self-join; skew bound = one user's
    * longest silent gap, streamed inside its task by the generator. */
  private def tw20(s: SparkSession, d: String): DataFrame = {
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("hour_us"))
    evs(s, d)
      .groupBy(col("user_id"),
        expr(s"(ts_us div ${HourUs}L) * ${HourUs}L").as("hour_us"))
      .agg(sum(col("value_cents")).as("cents"))
      .withColumn("run_end",
        coalesce(lead(col("hour_us"), 1).over(wl) - HourUs, col("hour_us")))
      .select(col("user_id"), col("cents"), col("hour_us").as("obs_us"),
        explode(sequence(col("hour_us"), col("run_end"), lit(HourUs)))
          .as("hour_us"))
      .select(col("user_id"), col("hour_us"),
        when(col("hour_us") === col("obs_us"), 1).otherwise(0).as("observed"),
        col("cents").as("cents_filled"),
        (col("hour_us") - col("obs_us")).as("staleness_us"))
  }

  private val tw20Sql = evsSql +
    s""", r AS (
       |  SELECT user_id, (ts_us // $HourUs) * $HourUs AS hour_us,
       |    CAST(sum(value_cents) AS BIGINT) AS cents, count(*) AS n_events
       |  FROM evs GROUP BY 1, 2),
       |b AS (SELECT user_id, min(hour_us) AS lo, max(hour_us) AS hi
       |  FROM r GROUP BY 1),
       |spine AS (
       |  SELECT user_id, unnest(range(lo, hi + 1, $HourUs)) AS hour_us
       |  FROM b)
       |SELECT s.user_id, s.hour_us,
       |  CASE WHEN r.n_events IS NOT NULL THEN 1 ELSE 0 END AS observed,
       |  last_value(r.cents IGNORE NULLS) OVER w AS cents_filled,
       |  s.hour_us - last_value(
       |    CASE WHEN r.n_events IS NOT NULL THEN s.hour_us END IGNORE NULLS)
       |    OVER w AS staleness_us
       |FROM spine s LEFT JOIN r ON s.user_id = r.user_id
       |  AND s.hour_us = r.hour_us
       |WINDOW w AS (PARTITION BY s.user_id ORDER BY s.hour_us
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** tw21: CONCURRENCY PROFILE — the sweep-line interval algebra over
    * tw3's session envelopes: "how much wall time did the system spend
    * with exactly c sessions open?" (the ops question behind capacity
    * sizing and the reference's concurrent-request ceiling). Classic
    * form: ±1 change points at `start` / `end+1` (sessions are
    * µs-inclusive), collapse to distinct timestamps, running sum =
    * live concurrency, and each segment [ts_i, ts_{i+1}) holds its
    * level for `ts_{i+1} − ts_i` µs; rolled up per level over the
    * span [first, last change point).
    *
    * Scale shape: the running sum is a GLOBAL prefix sum — the naive
    * spelling is one unpartitioned window over every change point
    * (single-task at 100 TB). Here it is the two-phase distributed
    * prefix sum (cp16's pattern, applied to time): change points
    * partition by DAY, each day's running sum is a partitioned
    * window, and the day carry-ins are the cumulated day totals — a
    * window over ≤|days| rows (the one bounded unpartitioned window,
    * ob3-class) broadcast back. Zero-delta points injected at each
    * day boundary sample the running level so every segment is
    * day-contained: within-day `lead` plus the closed-form boundary
    * fallback reconstruct segment ends with no cross-day join, and
    * the split is duration-preserving so the per-level totals equal
    * the oracle's global-window restatement exactly. */
  private def tw21(s: SparkSession, d: String): DataFrame = {
    val sess = tw3(s, d).select(col("sess_start_us"), col("sess_end_us"))
    val pts0 = sess.select(col("sess_start_us").as("ts"), lit(1L).as("delta"))
      .unionAll(sess.select((col("sess_end_us") + 1).as("ts"), lit(-1L).as("delta")))
    val b = pts0.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val boundaries = s.range(lo / DayUs + 1, hi / DayUs + 1)
      .select((col("id") * DayUs).as("ts"), lit(0L).as("delta"))
    val pts = pts0.unionAll(boundaries)
      .groupBy(col("ts")).agg(sum(col("delta")).as("delta"))
      .withColumn("day", expr(s"ts div ${DayUs}L"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("ts"))
    val carry = pts.groupBy(col("day")).agg(sum(col("delta")).as("day_total"))
      .withColumn("carry", coalesce(
        sum(col("day_total")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day").as("cday"), col("carry"))
    pts.join(broadcast(carry), col("day") === col("cday"))
      .withColumn("conc", col("carry") + sum(col("delta")).over(
        wDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("seg_end", coalesce(lead(col("ts"), 1).over(wDay),
        least((col("day") + 1) * DayUs, lit(hi))))
      .withColumn("dur_us", col("seg_end") - col("ts"))
      .filter(col("dur_us") > 0)
      .groupBy(col("conc"))
      .agg(sum(col("dur_us")).as("total_us"))
      .select(col("conc").as("concurrency"), col("total_us"))
  }

  private val tw21Sql = evsSql +
    s""", sess AS (
       |${tw3Body}),
       |pts AS (
       |  SELECT ts, CAST(sum(delta) AS BIGINT) AS delta FROM (
       |    SELECT sess_start_us AS ts, 1 AS delta FROM sess
       |    UNION ALL
       |    SELECT sess_end_us + 1 AS ts, -1 AS delta FROM sess) u
       |  GROUP BY ts),
       |run AS (
       |  SELECT ts, CAST(sum(delta) OVER (ORDER BY ts) AS BIGINT) AS conc,
       |    lead(ts) OVER (ORDER BY ts) AS nxt
       |  FROM pts)
       |SELECT conc AS concurrency,
       |  CAST(sum(nxt - ts) AS BIGINT) AS total_us
       |FROM run WHERE nxt IS NOT NULL GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- tw22

  /** tw22: CALENDAR-month rollup — every other window gate is
    * fixed-width epoch arithmetic; billing/reporting windows are
    * calendar months, which are NOT fixed-width (28-31 days, which
    * `window()` cannot express). The law gated: `date_trunc(MONTH)`
    * under the pinned UTC session clock buckets identically to the
    * oracle's calendar truncation, `last_day` prices each month's
    * true length, and the daily-average normalization divides by
    * THAT length (a fixed /30 would misprice February by 7%). Active
    * days per month via distinct UTC dates. All integer: cents,
    * floor-div daily average, µs month starts.
    *
    * Scale shape: one map-side-combined hash agg on the month key
    * (≤ a few rows per year of data); the month-length projection is
    * calendar arithmetic on the |months|-row result, not the corpus. */
  private def tw22(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("MONTH", col("ts")).as("month_start"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Tables.valueCents)
          .as("value_cents"),
        countDistinct(to_date(col("ts"))).as("n_active_days"))
      .withColumn("days_in_month",
        dayofmonth(last_day(col("month_start"))).cast("long"))
      .withColumn("daily_avg_cents", expr("value_cents div days_in_month"))
      .select(unix_micros(col("month_start")).as("month_start_us"),
        col("n_events"), col("value_cents"), col("n_active_days"),
        col("days_in_month"), col("daily_avg_cents"))

  private val tw22Sql =
    """SELECT epoch_us(month_start) AS month_start_us, n_events, value_cents,
      |  n_active_days,
      |  CAST(date_part('day', last_day(CAST(month_start AS DATE))) AS BIGINT)
      |    AS days_in_month,
      |  value_cents
      |    // CAST(date_part('day', last_day(CAST(month_start AS DATE))) AS BIGINT)
      |    AS daily_avg_cents
      |FROM (
      |  SELECT date_trunc('month', ts) AS month_start,
      |    count(*) AS n_events,
      |    CAST(sum((CAST(value AS DECIMAL(18,2)) * 100)::BIGINT) AS BIGINT)
      |      AS value_cents,
      |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
      |  FROM events GROUP BY 1) m""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("tw1_tumbling_hourly", tw1, Some(tw1Sql),
      "tumbling 1h agg: count/sum/distinct users (T2)"),
    GateQuery("tw2_sliding_windows", tw2, Some(tw2Sql),
      "sliding 1h/30m window counts by type (T3)"),
    GateQuery("tw3_sessionize", tw3, Some(tw3Sql),
      "30-min-gap sessionization via lag + running sum (T1)"),
    GateQuery("tw4_quota_windows", tw4, Some(tw4Sql),
      "daily/peak-hour quota admission rollup (T2/A10/F10)"),
    GateQuery("tw5_asof_join", tw5, Some(tw5Sql),
      "as-of join via union-and-carry, one shuffle (vs DuckDB lateral top-1)"),
    GateQuery("tw6_ttl_expiry", tw6, Some(tw6Sql),
      "per-type TTL cache expiry sweep at max-ts anchor (F9/T1, config.py TTLs)"),
    GateQuery("tw7_range_join", tw7, Some(tw7Sql),
      "interval-containment join via bin-exploded equi-join (vs DuckDB inequality join)"),
    GateQuery("tw8_overlap_join", tw8, Some(tw8Sql),
      "session x campaign interval-overlap join, once-per-pair via overlap-start bin"),
    GateQuery("tw9_event_gaps", tw9, Some(tw9Sql),
      "per-user inter-event gap stats via lag window, one Exchange shared with the rollup"),
    GateQuery("tw10_retention_cohort", tw10, Some(tw10Sql),
      "week-over-week retention via distinct activity set self-joined shifted"),
    GateQuery("tw11_key_rotation", tw11, Some(tw11Sql),
      "quota-admitted API-key selection: least_used + round_robin strategies as data"),
    GateQuery("tw12_rate_limit", tw12, Some(tw12Sql),
      "rate-limit dispatch schedule via prefix-max closed form of the throttle recurrence"),
    GateQuery("tw13_rate_spike", tw13, Some(tw13Sql),
      "per-user hourly spike vs trailing-24h baseline via a RANGE window frame"),
    GateQuery("tw14_conversion_funnel", tw14, Some(tw14Sql),
      "ordered signup->click->purchase funnel via chained user-grain min-reductions"),
    GateQuery("tw15_scd2_intervals", tw15, Some(tw15Sql),
      "SCD2 dimension build: change-grain validity intervals via lag/lead, one shuffle"),
    GateQuery("tw16_decay_score", tw16, Some(tw16Sql),
      "half-life decayed trending score: integer shift per 24h bucket, order-free sums, top-50"),
    GateQuery("tw17_range_rewrite", tw17, Some(tw17Sql),
      "the naive containment join auto-rewritten to the binned equi-join by the injected Catalyst rule"),
    GateQuery("tw18_asof_plan", tw18, Some(tw18Sql),
      "native as-of join: custom LogicalPlan + strategy + one-merge-pass exec, vs the lateral top-1 oracle"),
    GateQuery("tw19_asof_tolerance", tw19, Some(tw19Sql),
      "as-of with a 1h tolerance bound: one extra comparison on the held candidate, vs the bounded lateral"),
    GateQuery("tw20_gap_fill", tw20, Some(tw20Sql),
      "hourly resample + LOCF gap-fill with staleness: sequence-spine per user vs generate_series"),
    GateQuery("tw21_concurrency_profile", tw21, Some(tw21Sql),
      "sweep-line concurrency histogram over session intervals via a day-bucketed distributed prefix sum"),
    GateQuery("tw22_calendar_months", tw22, Some(tw22Sql),
      "calendar-month rollup: true month lengths via last_day, floor-div daily average, UTC-pinned truncation"))
}
