package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** The st* gates replay the events table through a real micro-batch
  * file stream (4 time-ordered slices, one per batch). Each stateful
  * pipeline also runs in BATCH mode (flatMapGroupsWithState over a
  * static Dataset = one group pass with empty initial state), so the
  * sharp check is: replayed-stream output ≡ single-pass batch output,
  * row for row. This pins the REPLAY RIG (slice cuts, mod-time
  * ordering, checkpointed sink) — the state machines' split-invariance
  * under arbitrary batch cuts is PropertySpec's job, and the
  * closed-form semantics are the driver oracle's. */
class StreamGatesSpec extends AnyFunSuite {

  private def canon(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().toSeq
      .map(r => (0 until r.length).map(r.get))
      .sortBy(_.mkString("|"))
  }

  private def assertSame(streamed: DataFrame, batch: DataFrame): Unit = {
    assert(streamed.columns.sorted.sameElements(batch.columns.sorted),
      s"schemas differ: ${streamed.columns.toSeq} vs ${batch.columns.toSeq}")
    val (s, b) = (canon(streamed), canon(batch))
    assert(s.nonEmpty, "streamed output is empty")
    assert(s == b,
      s"stream/batch divergence: ${s.diff(b).take(3)} vs ${b.diff(s).take(3)}")
  }

  test("k=v;k2=v2 conf specs parse, and a bad entry fails by name") {
    assert(GraftSession.parseConfs("a.b=1;c==d;;e=", "SRC") ==
      Seq("a.b" -> "1", "c" -> "=d", "e" -> ""))
    assert(GraftSession.parseConfs("", "SRC").isEmpty)
    for (bad <- Seq("a=1;oops", "=v")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseConfs(bad, "SRC"))
      val token = bad.split(";").last
      assert(e.getMessage.contains("SRC") && e.getMessage.contains(s"'$token'"), e.getMessage)
    }
  }

  test("st1 replay equals the batch quota-admission pass") {
    assertSame(
      gate("st1_stream_quota", sf0001),
      graft.streaming.EventStream.quotaAdmission(spark, Tables.events(spark, sf0001)))
  }

  test("st21 late-beyond-watermark events are dropped, not merged or re-emitted") {
    // Hand fixture with one unambiguous late event: id 97 (the gate's
    // %97 late predicate) sits in the same hour bucket as id 1 but
    // arrives LAST (the gate shifts its arrival by 2x the span) after
    // id 3 pushed the watermark ~4h past its window. The drop law
    // says the bucket's emitted count stays 1 — a leak would make it
    // 2 and add the late event's cents. Event 3's own window is still
    // open at the final watermark and must NOT be emitted.
    val B = 1700000000000000L
    val d = fixtureDir("events" -> eventsDf(Seq(
      (1L, B + 1800L * 1000000, 10L, "view", 2.0, 1),
      (97L, B + 2400L * 1000000, 11L, "view", 4.0, 1), // LATE: same bucket as id 1
      (2L, B + 4200L * 1000000, 10L, "click", 1.0, 1),
      (3L, B + 18000L * 1000000, 12L, "view", 8.0, 1))))
    val rows = gate("st21_stream_late_drop", d).collect()
    val hourUs = 3600L * 1000000
    def bucket(us: Long): Long = us / hourUs * hourUs
    val m = rows.map(r => (r.getAs[Long]("window_start_us"),
      r.getAs[String]("event_type")) -> r).toMap
    assert(m.keySet == Set(
      (bucket(B + 1800L * 1000000), "view"),
      (bucket(B + 4200L * 1000000), "click")),
      s"expected exactly the two closed on-time buckets, got ${m.keySet}")
    val h0 = m((bucket(B + 1800L * 1000000), "view"))
    assert(h0.getAs[Long]("n_events") == 1L &&
      h0.getAs[Long]("value_cents") == 200L,
      "late event leaked into its already-closed window")
  }

  test("st23 drop ledger counts exactly the staged late set, in one batch") {
    // st21's fixture, ledger view: one late event (id 97), so
    // numRowsDroppedByWatermark must total exactly 1, confined to the
    // single final batch its shifted arrival lands in, while the two
    // closed on-time windows emit. The gate's own `require` already
    // pins ledger == late count engine-side; this spec pins the whole
    // output row against the hand-derived fixture numbers.
    val B = 1700000000000000L
    val d = fixtureDir("events" -> eventsDf(Seq(
      (1L, B + 1800L * 1000000, 10L, "view", 2.0, 1),
      (97L, B + 2400L * 1000000, 11L, "view", 4.0, 1), // LATE
      (2L, B + 4200L * 1000000, 10L, "click", 1.0, 1),
      (3L, B + 18000L * 1000000, 12L, "view", 8.0, 1))))
    val rows = gate("st23_stream_drop_ledger", d).collect()
    assert(rows.length == 1, s"ledger must be one row: ${rows.toSeq}")
    val r = rows(0)
    assert(r.getAs[Long]("n_late_staged") == 1L &&
      r.getAs[Long]("n_late_groups") == 1L &&
      r.getAs[Long]("n_dropped_wm") == 1L &&
      r.getAs[Long]("n_drop_batches") == 1L &&
      r.getAs[Long]("n_ontime_windows") == 2L, s"ledger: $r")
  }

  test("st22 dim upgrades land exactly one batch late, never the same batch") {
    // 4 events in 4 distinct slices. The publish schedule upgrades
    // bucket k after slice k's batch, so: the slice-0 event (bucket 0)
    // must join 'base' (its own upgrade is published AFTER its batch
    // — same-batch visibility would be a refresh-ordering bug), the
    // slice-1 event (bucket 0) must join 't0', and the bucket-1 events
    // in slices 2/3 must both join 't1' (published after slice 1).
    val B = 1700000000000000L
    val d = fixtureDir("events" -> eventsDf(Seq(
      (1L, B, 4L, "view", 2.0, 1),                     // slice 0, bucket 0
      (2L, B + 1000L * 1000000, 4L, "view", 3.0, 1),   // slice 1, bucket 0
      (3L, B + 2000L * 1000000, 1L, "view", 5.0, 1),   // slice 2, bucket 1
      (4L, B + 3000L * 1000000, 5L, "view", 7.0, 1)))) // slice 3, bucket 1
    val rows = gate("st22_stream_dim_refresh", d).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[String]("tier")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("value_cents"))).toMap
    assert(rows == Map(
      (0L, "base") -> ((1L, 200L)),
      (0L, "t0") -> ((1L, 300L)),
      (1L, "t1") -> ((2L, 1200L))),
      s"refresh schedule broken: $rows")
  }

  test("st16 DSv2 sink replay equals the direct batch rollup") {
    import org.apache.spark.sql.functions._
    assertSame(
      gate("st16_stream_dsv2_sink", sf0001),
      Tables.events(spark, sf0001)
        .select(upper(col("event_type")).as("level"),
          concat(lit("u"), col("user_id")).as("logger_name"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("value_cents"))
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"),
          countDistinct(col("logger_name")).as("n_loggers")))
  }

  test("st17/st18 DSv2 source drain equals the BATCH connector scan's rollup") {
    import org.apache.spark.sql.functions._
    // stream ≡ batch inside the JVM too (the driver's oracle checks it
    // against range()-regenerated synthetics externally): the same id
    // universe read through the BATCH DSv2 path must roll up identically
    def batchScan(maxId: Long) = spark.read
      .format("graft.sources.YtApiSource")
      .option("maxId", maxId).option("batchSize", 50).load()
    assertSame(
      gate("st17_stream_dsv2_source", sf0001),
      batchScan(1000L).groupBy(col("country"))
        .agg(count(lit(1)).as("n_channels"),
          sum(col("subscriber_count")).as("subs"),
          sum(col("view_count")).as("views"),
          max(col("video_count")).as("max_videos")))
    assertSame(
      gate("st18_stream_source_restart", sf0001),
      batchScan(1000L).groupBy(col("country"))
        .agg(count(lit(1)).as("n_channels"),
          countDistinct(col("channel_id")).as("n_distinct"),
          sum(col("subscriber_count")).as("subs"),
          max(col("video_count")).as("max_videos")))
  }

  test("st2 replay equals the batch rate-limit pass") {
    assertSame(
      gate("st2_stream_rate", sf0001),
      graft.streaming.EventStream.rateLimitSchedule(spark, Tables.events(spark, sf0001)))
  }

  test("st3 replay equals the batch SCD2 pass and emits only closed intervals") {
    val streamed = gate("st3_stream_scd2", sf0001)
    assertSame(streamed,
      graft.streaming.EventStream.scd2Stream(spark, Tables.events(spark, sf0001)))
    // every emitted interval is well-formed and CLOSED
    val bad = streamed.where("valid_to_us IS NULL OR valid_to_us < valid_from_us").count()
    assert(bad == 0L)
  }

  test("replay rig: st1 output is invariant to the slice count") {
    // the state machines' split-invariance under arbitrary batch cuts
    // is PropertySpec's job with MemoryStream; this pins the RIG —
    // staging, mod-time ordering, checkpointed sink — to the same
    // invariance: replaying in 2 or 6 slices must equal the 4-slice
    // gate (st4 is excluded by design: its batch-boundary-dependent
    // 'cached' emissions make slice count part of the SEMANTICS, which
    // is why its oracle simulates the 4-slice protocol explicitly).
    val four = gate("st1_stream_quota", sf0001)
    for (n <- Seq(2, 6)) {
      val alt = graft.operators.StreamGates.replayed(spark, sf0001,
        s"st1x$n", slices = n)(
        graft.streaming.EventStream.quotaAdmission(spark, _))
      assertSame(alt, four)
    }
  }

  test("st6 stream-stream join: both emission classes present, no lost matches") {
    // value-level adjudication is the driver oracle's (matches +
    // watermark-evicted unknowns); here pin the structure: both
    // classes occur at sf0.001, every matched row's video_type is a
    // real type, and the matched subset equals the BATCH range join
    // of the same derived sides (no match lost to state eviction —
    // the time-ordered-replay guarantee the gate's scaladoc claims).
    val rows = gate("st6_stream_join", sf0001).collect()
    val (unknown, matched) = rows.partition(_.getAs[String]("video_type") == "unknown")
    assert(matched.nonEmpty && unknown.nonEmpty)
    assert(matched.forall(r => Set("videos", "shorts", "live")(r.getAs[String]("video_type"))))
    val ev = Tables.events(spark, sf0001)
    import org.apache.spark.sql.functions._
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("vid"), unix_micros(col("ts")).as("rts"))
    val dets = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("video_id"), unix_micros(col("ts")).as("detail_ts_us"))
    val batchMatches = dets.join(r, col("vid") === col("video_id") &&
        col("rts") <= col("detail_ts_us") &&
        col("rts") >= col("detail_ts_us") - 3600000000L).count()
    assert(matched.length.toLong == batchMatches,
      s"streamed ${matched.length} matches vs batch $batchMatches")
  }

  test("st4 TTL replay: cache lives are well-formed") {
    // no batch-mode twin exists (timers never fire in a single batch
    // pass), so the value-level adjudication is the driver oracle's
    // micro-batch timer simulation; here we pin the structural
    // invariants of the emitted life cycles: statuses are only
    // cached/expired, each key's expiry count never exceeds its
    // cached-batch count (every life emits >=1 cached before its
    // tombstone), and at sf0.001's sparse per-user activity some
    // entry genuinely expires mid-stream (the path the gate exists
    // to exercise).
    val rows = gate("st4_stream_ttl", sf0001).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("status"), r.getAs[Long]("hits")))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._2 == "cached" || r._2 == "expired"))
    assert(rows.exists(_._2 == "expired"), "no expiry exercised — fixture too dense")
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val cached = rs.count(_._2 == "cached")
      val expired = rs.count(_._2 == "expired")
      assert(expired <= cached, s"key $k: $expired tombstones for $cached cached batches")
    }
  }

  test("ob5 observed batch metrics conserve the corpus, one row per data slice") {
    val rows = gate("ob5_stream_observe", sf0001).collect()
      .map(r => (r.getAs[Long]("slice_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("value_cents")))
    assert(rows.map(_._1).sorted.toSeq == (0L until rows.length).toSeq,
      "slice ids must be dense from 0 in replay order")
    assert(rows.length == 4, s"expected 4 data slices, got ${rows.length}")
    val ev = Tables.events(spark, sf0001)
    assert(rows.map(_._2).sum == ev.count(),
      "observed per-batch counts must conserve the corpus")
    import org.apache.spark.sql.functions._
    val cents = ev.agg(sum((col("value")
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
      .cast("long"))).head.getLong(0)
    assert(rows.map(_._3).sum == cents,
      "observed per-batch cent sums must conserve the corpus")
  }

  test("st13 foreachBatch upsert table equals the single-pass batch closed form") {
    // The gate maintains the keyed CURRENT-STATE table incrementally,
    // one version per micro-batch; the law it must land on is the
    // whole-log closed form. Compute that form directly in Spark
    // (independent of the DuckDB oracle's SQL) and require row-exact
    // equality — this pins the merge algebra (adds for counts/cents,
    // (ts_us, event_id)-argmax for the last-event pair) against a
    // second implementation.
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
    val batch = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long")).as("total_cents"),
      max_by(col("event_type"),
        struct(unix_micros(col("ts")), col("event_id"))).as("last_type"),
      max(unix_micros(col("ts"))).as("last_ts_us"))
    assertSame(gate("st13_stream_upsert", sf0001), batch)
  }

  test("st15 chained dedup→window: re-admitted key lands in its second " +
    "bucket, pending window withheld") {
    // The eviction-law probe's arrival sequence (EventStreamSpec)
    // through the CHAINED pipeline: K@0 emits, K@2940 dedups, K@5100
    // re-admits (expiry 600 < the wm 1080 committed two batches
    // before) and must be COUNTED by the downstream window store in
    // its own hour bucket; the last arrival's bucket ends past the
    // final watermark and never reaches the sink.
    import org.apache.spark.sql.functions._
    import TestSpark.spark.implicits._
    val rows = Seq(("K", 0L), ("F", 1680L), ("K", 2940L), ("F2", 3780L),
      ("K3", 5000L), ("K", 5100L), ("K4", 7560L))
    val df = rows.toDF("key", "sec").select(col("key"),
      timestamp_micros(lit(1700000000000000L) + col("sec") * 1000000L).as("ts"))
    val out = operators.StreamGates.replayedDf(spark, "st15-chain-probe", df,
      "st15-probe") { s =>
      s.withWatermark("ts", "600 seconds")
        .dropDuplicatesWithinWatermark("key")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("n"))
    }
    val got = out.select(
        expr("(unix_micros(ws) - 1700000000000000) div 1000000"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Hour buckets are EPOCH-aligned: 1700000000 % 3600 = 800, so the
    // first bucket starts at rel −800 s. Expected: {K@0, F@1680} → 2;
    // {F2, K3, K@5100} → 3 (the dedup'd K@2940 absent, the re-emitted
    // K@5100 present); K4@7560's bucket ends at rel 10000 > final
    // wm 6960 and stays pending.
    assert(got == Set((-800L, 2L), (2800L, 3L)), s"got $got")
  }

  test("st25 restart spec: MG certificates survive the kill-and-resume") {
    val rows = gate("st25_stream_mg_restart", sf0001).collect()
    assert(rows.nonEmpty, "no emitted windows")
    // every probed (window, top-user) row certifies: never-overcount
    // within err, no heavy hitter lost, err law err*(k+1) <= n
    val broken = rows.filterNot(r =>
      r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6))
    assert(broken.isEmpty,
      s"certificates failed after restart: ${broken.take(3).toSeq}")
    // the restart actually happened (batch numbering continued, the
    // kill point split emission) and the sketch genuinely compacted
    val receipt = Receipts.get("st25_stream_mg_restart").getOrElse("")
    assert(receipt.contains("continued the batch numbering"), receipt)
    assert(receipt.contains("nonempty proper prefix"), receipt)
    assert(receipt.contains("MG compacted (err>0)"), receipt)
  }
}
