package graft.operators

import java.io.File
import java.nio.file.Files

import graft.{GateQuery, Tables}
import graft.Tables.{DayUs, HourUs}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Driver-oracled STRUCTURED STREAMING runs — the streaming runtime as
  * first-class correctness gates, not just spec fixtures.
  *
  * Until these gates, the stateful streams in
  * [[graft.streaming.EventStream]] were proven batch-equivalent only
  * inside ScalaTest (`EventStreamSpec`, `PropertySpec`); the driver's
  * DuckDB oracle never saw a streaming RUN. Each `st*` gate closes that
  * gap end-to-end: the events table is staged as time-range parquet
  * slices with strictly increasing modification times, replayed through
  * a REAL file-source stream (`maxFilesPerTrigger=1` → one micro-batch
  * per slice, oldest-first — the ordered-log contract a production
  * Kafka/WAL source provides), run through the stateful pipeline with a
  * checkpointed parquet sink, and the sink's contents are hash-compared
  * by the driver against an independent SQL restatement of the state
  * machine's closed form. STREAMING ≡ SQL, adjudicated outside the JVM.
  *
  * Scale shape: nothing here is driver-resident — the replay staging is
  * a partitioned write (the same files a log-shipper would land), state
  * per key is one small case class (see each pipeline's scaladoc), and
  * the sink is the DSv2-style append-only parquet layout. The only
  * driver-side values are the 1-row min/max time anchor (the la4/tw6
  * broadcast-anchor pattern) used to cut slice boundaries. Replay
  * tmpdirs are reclaimed at JVM exit (the LogSink staging-root
  * discipline); the gate's read-back DataFrame stays valid for the
  * duration of the Verify/Bench process.
  *
  * Reference semantics gated here: quota admission
  * (`APIKeyStats.can_make_request`/`record_request`,
  * youtube_api_handler.py:47-79 — a denied request consumes no quota),
  * rate-limit dispatch (`_rate_limit`, youtube_api_handler.py:361-367),
  * and the SCD2 CDC build (tw15's dimension as a change feed).
  */
object StreamGates {

  // -------------------------------------------------------- replay rig

  /** A staged replay source: the slice files under `dir`, the staged
    * frame's schema, and the anchor that cut the slices — slice `i`
    * holds the rows with `(unix_micros(ts) − lo) / span == i`. */
  private final case class Staged(dir: File, schema: StructType,
      lo: Long, span: Long) {
    /** The slice a micro-batch whose minimum event time is `minUs`
      * replays: the same algebra that cut the slices, not a dense
      * renumber, so an empty middle slice (no staged file, no batch)
      * leaves the gap an oracle's slice algebra also leaves. */
    def sliceOf(minUs: Long): Long = (minUs - lo) / span
  }

  /** Staged replay sources, ONE per (sfDir, slices) and shared by all
    * st* gates and ob5 in the JVM — the slice-replaying gates replay
    * the identical event log, so staging it once (Verify/Bench run them
    * all) pays the staging write once per source instead of once per
    * gate. `computeIfAbsent` makes the first caller stage while
    * concurrent gates wait. */
  private val stagedSrc =
    new java.util.concurrent.ConcurrentHashMap[String, Staged]()

  /** Pin slice `i`'s mod-time strictly increasing, so the file source's
    * oldest-first listing replays the slices in event-time order. A
    * silent pin failure (restrictive mounts) would surface later as an
    * opaque oracle hash mismatch, so fail the staging loudly instead. */
  private def pinSliceTime(f: File, i: Int): Unit =
    require(f.setLastModified(1700000000000L + i * 60000L),
      s"cannot pin mod-time of $f — replay order would be undefined")

  /** Stage a time-stamped DataFrame as `slices` disjoint time-range
    * parquet files (mod-times pinned strictly increasing). ONE
    * partitioned write stages every slice — `partitionBy(slice)` with a
    * slice-keyed repartition yields exactly one file per slice dir from
    * a single scan (vs one filtered scan per slice). The frame must
    * carry a timestamp column `ts`; `key` identifies the staged source
    * for JVM-wide reuse across gates. */
  private def stageAny(key: String, slices: Int)(mk: => DataFrame): Staged =
    stagedSrc.computeIfAbsent(key, _ => {
      val ev = mk
      val root = TmpDirs.exitScopedDir("graft-st-src-")
      val src = new File(root, "src"); src.mkdirs()
      // 1-row time anchor (the tw6/la4 broadcast-anchor pattern) to cut
      // slice boundaries — the only driver-side data in the rig.
      val bounds = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val span = (hi - lo) / slices + 1
      val staged = new File(root, "staged")
      ev.withColumn("slice",
          ((unix_micros(col("ts")) - lo) / span).cast("int"))
        .repartition(slices, col("slice"))
        .write.partitionBy("slice").mode("overwrite").parquet(staged.getPath)
      for (i <- 0 until slices) {
        val dir = new File(staged, s"slice=$i")
        Option(dir.listFiles()).toSeq.flatten
          .find(_.getName.endsWith(".parquet")).foreach { part =>
            val dst = new File(src, f"slice-$i%02d.parquet")
            Files.move(part.toPath, dst.toPath)
            pinSliceTime(dst, i)
          }
      }
      TmpDirs.deleteRec(staged)
      Staged(src, ev.schema, lo, span)
    })

  /** The events-table staging every st1-st7 gate shares. */
  private def stageSlices(s: SparkSession, d: String, slices: Int): Staged =
    stageAny(s"$d|$slices", slices)(Tables.events(s, d))

  /** The one place a streaming gate starts a query. A rig is an
    * isolated session (`newSession` at `streamParts`, plus the gate's
    * `extraConfs`) and a fresh root reclaimed at JVM exit, holding the
    * sink dir `out`, the checkpoint `chk` and whatever else the gate
    * stages there. A gate reads its source through the rig's session
    * (`slices` for a staged replay) and drains it with `run`; a restart
    * gate calls `run` again on the same checkpoint. */
  private final class Rig(val iso: SparkSession, val root: File) {
    val out = new File(root, "out")
    val chk = new File(root, "chk")

    /** The slice replay of `src`: one file per micro-batch
      * (`maxFilesPerTrigger=1`), oldest mod-time first. */
    def slices(src: Staged): DataFrame =
      iso.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.dir.getPath)

    /** Set the checkpoint, start, drain every available input, stop;
      * the stopped query keeps its `recentProgress`. */
    def run(w: DataStreamWriter[Row]): StreamingQuery = {
      val q = w.option("checkpointLocation", chk.getPath).start()
      try q.processAllAvailable() finally q.stop()
      q
    }

    @volatile private var outSchema: StructType = _
    /** `run` into the append-mode parquet sink at `out`. */
    def toParquet(df: DataFrame): StreamingQuery = {
      outSchema = df.schema
      run(df.writeStream.format("parquet").option("path", out.getPath)
        .outputMode("append"))
    }

    /** `out` read through `s` with the schema written: no inference job. */
    def sunk(s: SparkSession): DataFrame = s.read.schema(outSchema).parquet(out.getPath)
  }

  private def rig(s: SparkSession, gate: String,
      extraConfs: Map[String, String] = Map.empty): Rig = {
    val iso = s.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", streamParts)
    extraConfs.foreach { case (k, v) => iso.conf.set(k, v) }
    new Rig(iso, TmpDirs.exitScopedDir(s"graft-$gate-"))
  }

  /** The batch files of a checkpoint or sink log dir (`offsets`,
    * `commits`, `_spark_metadata`): each digit-named file's batch id and
    * lines, in batch order. */
  private def logBatches(dir: File): Seq[(Long, Seq[String])] =
    dir.listFiles().toSeq.filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong)
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try f.getName.toLong -> src.getLines().toVector finally src.close()
      }

  /** Run `pipe` over the staged slice replay as a micro-batch stream
    * into a checkpointed parquet sink, and return the sink read-back.
    *
    * One file per micro-batch is the worst case for state correctness
    * (every key's state crosses every batch boundary); the
    * split-invariance of each pipeline under ARBITRARY batch cuts is
    * property-tested in `PropertySpec` — this rig exercises it on the
    * real table at gate scale.
    *
    * SLICE COUNT is per-gate, sized by MEASUREMENT at both ends of
    * the scale axis, not by one benchmark. At bench SFs the suite's
    * streaming wall is ~pure per-batch machinery (at sf0.001, where
    * data is negligible, the 24 st gates cost ~64 s — incremental
    * re-planning, state-store open/commit, log writes), so fewer
    * batches = faster. But batch count also sets RESIDENT STATE:
    * halving the slices doubles what the stateful operator holds and
    * scans per input row before the next watermark eviction — the
    * micro-batch-sizing trade-off every production stream tunes. The
    * 100× probe (10M events) measured both regimes: the stream-stream
    * join blew up 145.6 s → 638 s at 2 slices (per-key state scanned
    * per input row) and the decision streams st1/st2/st3 regressed
    * 1.2-1.6×, while the window/session aggregates and stateless
    * ingest twins got FASTER at both scales (st12 22.6→14.0 s,
    * st7 101→85 s, st10 69→31 s — their state is grain-bounded, so
    * only machinery varies). Hence: 2 slices for st7/st9-st12 (their
    * oracles are closed forms over event time + the FINAL watermark —
    * one interior batch boundary proves state crosses batches;
    * split-invariance is property-tested), and the restart rigs kill
    * after one slice of a 2-slice staging (st19/st20 run st12's
    * pipeline). 4 slices stay where resident state scans dominate at
    * scale (st1-st3 decision streams, st6's join) and where the
    * oracle ENCODES the slice algebra (st4/st5's 4-step timer
    * simulation, st8/st14/st15's two-batch-lag eviction law, ob5's
    * per-slice metrics, st22/st23's slice closed forms, st16's
    * epoch-per-slice require).
    *
    * The replay runs in its OWN `newSession` at 4 shuffle partitions
    * (`extraConfs` lets st5 add its RocksDB provider): stateful
    * streaming pays per-batch × per-partition fixed cost — task
    * launch, state-store open/commit/snapshot — on EVERY micro-batch,
    * so a 32-wide shuffle multiplies that constant 8× for zero
    * parallelism gain at bench row counts (the state rows per batch
    * fit in a handful of partitions; 8→4 measured −20% CPU at equal
    * wall). Results are partitioning-invariant — the oracle compare
    * pins that. On a real cluster this knob is sized to state volume,
    * not inherited from the batch side; the isolated session is
    * exactly that sizing. */
  private[graft] def replayed(s: SparkSession, d: String, gate: String,
      slices: Int = 4, extraConfs: Map[String, String] = Map.empty)(
      pipe: DataFrame => DataFrame): DataFrame =
    runReplay(s, stageSlices(s, d, slices), gate, extraConfs)(pipe)

  /** `replayed` for an arbitrary time-stamped frame: stage `df` (cached
    * JVM-wide under `key`) as ordered slices and replay `pipe` over it —
    * how the doc-/media-grain ingest pipelines (st8-st11) get the same
    * real-micro-batch treatment the event-grain gates st1-st7 get.
    * The slice count is folded into the staging key (`key|slices`, the
    * same shape stageSlices uses) so two callers sharing a logical
    * source at DIFFERENT batching can never silently inherit each
    * other's staging — before this, the first caller's count won. */
  private[graft] def replayedDf(s: SparkSession, key: String, df: DataFrame,
      gate: String, slices: Int = 4,
      extraConfs: Map[String, String] = Map.empty)(
      pipe: DataFrame => DataFrame): DataFrame =
    runReplay(s, stageAny(s"$key|$slices", slices)(df), gate, extraConfs)(pipe)

  private def runReplay(s: SparkSession, src: Staged, gate: String,
      extraConfs: Map[String, String])(
      pipe: DataFrame => DataFrame): DataFrame = {
    val r = rig(s, gate, extraConfs)
    r.toParquet(pipe(r.slices(src)))
    r.sunk(s)
  }

  /** Shuffle-partition count inside the replayed micro-batches. State-
    * store commit machinery scales with partitions × batches (each
    * micro-batch snapshots/commits every partition's store), so the
    * replay rigs run NARROW. MEASURED at sf0.1 over the five heaviest
    * stream gates (st6/st22/st15/st5/st8, 3-4 walls per setting,
    * loadavg 2.4-4.0): parts=4 {56, 65, 93} s, parts=2 {68} s,
    * parts=1 {53, 79, 339} s — min-to-min the settings are within
    * noise, and parts=1 shows a pathological tail (one stalled run at
    * 6× the median: a single state partition serializes every
    * commit). Conclusion: the 4-partition floor is REAL protocol cost
    * (checkpoint + per-batch planning), not shuffle width, so 4 stays
    * the default. At cluster scale the dial sizes per-partition state
    * to executor memory, never to the session-wide shuffle width. */
  private val streamParts = "4"

  private val RateUs = 600L * 1000000 // tw12's interval constant

  // ---------------------------------------------------------------- st1

  /** st1: the quota-admission DECISION STREAM, replayed and oracled.
    * `EventStream.quotaAdmission` (20/hour, 80/day; a denied event
    * consumes no quota) emits one decision per event; the oracle is the
    * greedy process's closed form: within an hour the admitted events
    * are exactly the first `adm_h` by arrival rank, where
    * `adm_h = min(b_h, max(0, 80 − A_{h−1}))`, `b_h = min(n_h, 20)`,
    * and the admitted-so-far prefix satisfies `A_h = min(Σb, 80)`
    * (denials never increment either counter, so denial is a SUFFIX of
    * every hour and the day prefix truncates at most once). Ranks over
    * equal-ts events are tie-arbitrary on both engines, but decision
    * values depend only on rank, so the output MULTISET — which is what
    * the driver hashes — is deterministic. */
  private def st1(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st1")(EventStream.quotaAdmission(s, _))

  private val st1Sql = TimeWindows.evsSql +
    s""", r AS (
       |  SELECT user_id, ts_us,
       |    (ts_us // $DayUs) * $DayUs AS day_us,
       |    (ts_us // $HourUs) * $HourUs AS hour_us,
       |    CAST(row_number() OVER (PARTITION BY user_id, ts_us // $HourUs
       |      ORDER BY ts_us ASC) AS BIGINT) AS rn
       |  FROM evs),
       |h AS (
       |  SELECT user_id, day_us, hour_us,
       |    LEAST(CAST(count(*) AS BIGINT), 20) AS b_h
       |  FROM r GROUP BY user_id, day_us, hour_us),
       |c AS (
       |  SELECT user_id, hour_us,
       |    LEAST(b_h, GREATEST(0, 80 - (csum - b_h))) AS adm_h,
       |    LEAST(csum - b_h, 80) AS day_before
       |  FROM (
       |    SELECT user_id, day_us, hour_us, b_h,
       |      CAST(sum(b_h) OVER (PARTITION BY user_id, day_us
       |        ORDER BY hour_us ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum
       |    FROM h) x)
       |SELECT r.user_id, r.ts_us, r.rn <= c.adm_h AS admitted,
       |  LEAST(r.rn, c.adm_h) AS hour_count,
       |  c.day_before + LEAST(r.rn, c.adm_h) AS day_count
       |FROM r JOIN c ON r.user_id = c.user_id AND r.hour_us = c.hour_us""".stripMargin

  // ---------------------------------------------------------------- st2

  /** st2: the rate-limit DISPATCH stream, replayed and oracled.
    * `EventStream.rateLimitSchedule` carries one long per key (last
    * dispatch time) through the Markovian recurrence
    * D_i = max(a_i, D_{i−1} + I); the oracle is tw12's prefix-max
    * closed form D_i = i·I + max_{j≤i}(a_j − j·I), here kept at the
    * per-EVENT grain the stream emits (tw12 gates the per-key rollup).
    * Equal-ts ties are rank-arbitrary but value-multiset-deterministic,
    * as in st1. */
  private def st2(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st2")(EventStream.rateLimitSchedule(s, _))

  private val st2Sql = TimeWindows.evsSql +
    s""", r AS (
       |  SELECT user_id, ts_us,
       |    CAST(row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts_us ASC) AS BIGINT) AS i
       |  FROM evs)
       |SELECT user_id, ts_us, dispatch_us, dispatch_us - ts_us AS delay_us
       |FROM (
       |  SELECT user_id, ts_us,
       |    i * $RateUs + max(ts_us - i * $RateUs) OVER (
       |      PARTITION BY user_id ORDER BY i ASC
       |      ROWS UNBOUNDED PRECEDING) AS dispatch_us
       |  FROM r) t""".stripMargin

  // ---------------------------------------------------------------- st3

  /** st3: the SCD2 CDC feed, replayed and oracled.
    * `EventStream.scd2Stream` keeps each user's OPEN interval in state
    * and emits a closed `[valid_from, valid_to)` row on every state
    * change — the change feed a warehouse merges. The oracle compresses
    * the fully-ordered per-user event log to its change points
    * (lag ≠ current), numbers them (version), closes each at the next
    * change point, and drops the final open run per user — exactly the
    * rows the stream has published when the replay ends. (ts, event_id)
    * is a unique order key on both sides, so this gate is
    * row-deterministic, not just multiset-deterministic. */
  private def st3(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st3")(EventStream.scd2Stream(s, _))

  private val st3Sql = TimeWindows.evsSql +
    """, o AS (
      |  SELECT user_id, ts_us, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS prev_t
      |  FROM evs),
      |ch AS (
      |  SELECT user_id, ts_us, event_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS INTEGER) AS version
      |  FROM o WHERE prev_t IS NULL OR prev_t <> event_type),
      |v AS (
      |  SELECT user_id, version, event_type AS state, ts_us AS valid_from_us,
      |    lead(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us ASC, event_id ASC) AS valid_to_us
      |  FROM ch)
      |SELECT user_id, version, state, valid_from_us, valid_to_us
      |FROM v WHERE valid_to_us IS NOT NULL""".stripMargin

  // ---------------------------------------------------------------- st4

  /** st4: the EVENT-TIME TIMER path, replayed and oracled — the only
    * stateful-stream machinery st1-st3 don't touch: `ttlCache` keyed
    * per user (sparse activity, so entries genuinely expire
    * mid-stream), emitting a cumulative 'cached' row per (key, batch
    * with data) and an 'expired' tombstone when the watermark passes
    * lastSeen + 30 min. The oracle SIMULATES the micro-batch timer
    * protocol exactly — per user, a 4-step fold over the slice
    * aggregates (events per slice, last event per slice) against the
    * per-batch watermarks (floor-ms of the global max event time seen
    * through the PREVIOUS batch, minus the 10-minute delay): a key
    * with data never times out; expiry fires strictly-less-than the
    * watermark on the ms-floored timer; expiry resets the hit count;
    * and the post-data timer-flush batch Spark runs when the final
    * watermark advance leaves due timers emits the last tombstones.
    * Every constant in that sentence (ms flooring, strict <, the
    * extra flush batch) is load-bearing and oracle-pinned. */
  private def st4(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st4")(EventStream.ttlCache(s, _, keyCol = "user_id"))

  private val st4Sql = {
    val TtlUs = 1800000000L // 30 min
    val DelayMs = 600000L   // 10 min watermark delay
    def step(i: Int): String = {
      val p = i - 1
      s"""s$i AS (
         |  SELECT *,
         |    (e$p AND n$i = 0 AND (L$p + $TtlUs) // 1000 < w$p) AS x$i,
         |    CASE WHEN n$i > 0 THEN TRUE
         |         WHEN (e$p AND n$i = 0 AND (L$p + $TtlUs) // 1000 < w$p) THEN FALSE
         |         ELSE e$p END AS e$i,
         |    CASE WHEN n$i > 0 AND e$p THEN greatest(L$p, l$i)
         |         WHEN n$i > 0 THEN l$i
         |         WHEN (e$p AND n$i = 0 AND (L$p + $TtlUs) // 1000 < w$p) THEN NULL
         |         ELSE L$p END AS L$i,
         |    CASE WHEN n$i > 0 AND e$p THEN h$p + n$i
         |         WHEN n$i > 0 THEN n$i
         |         WHEN (e$p AND n$i = 0 AND (L$p + $TtlUs) // 1000 < w$p) THEN 0
         |         ELSE h$p END AS h$i
         |  FROM s$p)""".stripMargin
    }
    TimeWindows.evsSql +
      s""", bounds AS (
         |  SELECT min(ts_us) AS lo, (max(ts_us) - min(ts_us)) // 4 + 1 AS span
         |  FROM evs),
         |sl AS (
         |  SELECT user_id, ts_us, (ts_us - lo) // span AS sl FROM evs, bounds),
         |agg AS (
         |  SELECT user_id,
         |    CAST(count(*) FILTER (WHERE sl = 0) AS BIGINT) AS n0,
         |    max(ts_us) FILTER (WHERE sl = 0) AS l0,
         |    CAST(count(*) FILTER (WHERE sl = 1) AS BIGINT) AS n1,
         |    max(ts_us) FILTER (WHERE sl = 1) AS l1,
         |    CAST(count(*) FILTER (WHERE sl = 2) AS BIGINT) AS n2,
         |    max(ts_us) FILTER (WHERE sl = 2) AS l2,
         |    CAST(count(*) FILTER (WHERE sl = 3) AS BIGINT) AS n3,
         |    max(ts_us) FILTER (WHERE sl = 3) AS l3
         |  FROM sl GROUP BY user_id),
         |wm AS (
         |  SELECT
         |    max(ts_us) FILTER (WHERE sl <= 0) // 1000 - $DelayMs AS w0,
         |    max(ts_us) FILTER (WHERE sl <= 1) // 1000 - $DelayMs AS w1,
         |    max(ts_us) FILTER (WHERE sl <= 2) // 1000 - $DelayMs AS w2,
         |    max(ts_us) FILTER (WHERE sl <= 3) // 1000 - $DelayMs AS w3
         |  FROM sl),
         |s0 AS (
         |  SELECT a.*, w.*, n0 > 0 AS e0, l0 AS L0, n0 AS h0
         |  FROM agg a, wm w),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT CAST(user_id AS VARCHAR) AS key, 'cached' AS status, h0 AS hits
         |  FROM s3 WHERE n0 > 0
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'expired', h0 FROM s3 WHERE x1
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'cached', h1 FROM s3 WHERE n1 > 0
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'expired', h1 FROM s3 WHERE x2
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'cached', h2 FROM s3 WHERE n2 > 0
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'expired', h2 FROM s3 WHERE x3
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'cached', h3 FROM s3 WHERE n3 > 0
         |UNION ALL SELECT CAST(user_id AS VARCHAR), 'expired', h3 FROM s3
         |  WHERE e3 AND (L3 + $TtlUs) // 1000 < w3""".stripMargin
  }

  // ---------------------------------------------------------------- st5

  /** st5: st4's TTL protocol on Spark 4's `transformWithState` (the
    * arbitrary-state v2 API): the SAME replay, the SAME oracle — the
    * StatefulProcessor spelling (typed ValueState + explicit
    * event-time timers on the RocksDB store) must reproduce the
    * simulated micro-batch timer protocol bit-for-bit, which pins the
    * v1→v2 migration path a production stream takes. The v2 API
    * declines the default HDFS-backed store, so the RocksDB provider
    * rides `replayed`'s isolated per-replay session via `extraConfs`
    * — it can't leak into concurrently-running gates. */
  private def st5(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st5", extraConfs = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(
      EventStream.ttlCacheTws(s, _, keyCol = "user_id"))

  // ---------------------------------------------------------------- st6

  /** st6: the STREAM-STREAM left-outer join, replayed and oracled —
    * J1's RSS×details enrichment with BOTH sides live
    * (`EventStream.rssDetailJoin`): each detail row joins every RSS
    * row for the same video in the preceding hour, and a detail row
    * whose match can no longer arrive (the watermark passed its
    * range bound) is emitted with the 'unknown' default. The two
    * sides derive from the same replayed source (a streaming
    * self-join — two filters over one file stream). The join key is
    * `user_id` (the feed's channel) — realistic key cardinality
    * matters HERE more than anywhere: stream-stream join state is
    * scanned per key per input row, so a low-cardinality key makes
    * each micro-batch quadratic within its hot keys (measured: a
    * 2-key variant ground for >45 min on the 20× probe). user_id
    * scales WITH the corpus — ~15 keys at sf0.001, ~1.5k at sf0.1 —
    * so per-key state stays bounded at any replica factor while
    * every scale still exercises both emission classes.
    *
    * The oracle splits the emission law: MATCHED rows are the plain
    * batch range join (time-ordered slices mean a side's state is
    * never evicted while a future match is still possible, so no
    * match is lost — the replay proves it); UNMATCHED rows emit iff
    * no match exists anywhere AND the row's eviction bound cleared
    * the FINAL watermark (floor-ms of min(max rss ts, max detail ts)
    * across sides, minus the 10-min delay — multi-source watermark =
    * min policy), including the post-data flush batch. Rows still
    * inside the final watermark window stay pending and never emit —
    * the oracle models exactly that. */
  private def st6(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st6") { ev =>
      val rss = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("video_id"), col("ts"),
          expr("CASE event_id % 3 WHEN 0 THEN 'videos' " +
            "WHEN 1 THEN 'shorts' ELSE 'live' END").as("video_type"))
      val det = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("video_id"), col("ts"),
          Tables.valueCents.as("views"))
      EventStream.rssDetailJoin(rss, det)
    }.select(col("video_id"), unix_micros(col("detail_ts")).as("detail_ts_us"),
      col("views"), col("video_type"))

  private val st6Sql = TimeWindows.evsSql +
    s""", r AS (
       |  SELECT user_id AS video_id, ts_us AS rss_ts_us,
       |    CASE event_id % 3 WHEN 0 THEN 'videos'
       |      WHEN 1 THEN 'shorts' ELSE 'live' END AS video_type
       |  FROM evs WHERE event_type = 'click'),
       |det AS (
       |  SELECT user_id AS video_id, ts_us AS detail_ts_us,
       |    value_cents AS views
       |  FROM evs WHERE event_type = 'view'),
       |w AS (
       |  SELECT least((SELECT max(rss_ts_us) FROM r),
       |               (SELECT max(detail_ts_us) FROM det)) // 1000
       |         - 600000 AS wm_ms)
       |SELECT d.video_id, d.detail_ts_us, d.views, r.video_type
       |FROM det d JOIN r ON r.video_id = d.video_id
       |  AND r.rss_ts_us <= d.detail_ts_us
       |  AND r.rss_ts_us >= d.detail_ts_us - 3600000000
       |UNION ALL
       |SELECT d.video_id, d.detail_ts_us, d.views, 'unknown' AS video_type
       |FROM det d, w
       |WHERE NOT EXISTS (
       |    SELECT 1 FROM r WHERE r.video_id = d.video_id
       |      AND r.rss_ts_us <= d.detail_ts_us
       |      AND r.rss_ts_us >= d.detail_ts_us - 3600000000)
       |  AND d.detail_ts_us // 1000 < w.wm_ms""".stripMargin

  // ---------------------------------------------------------------- st7

  /** st7: SESSION WINDOWS live — the one stateful-aggregation shape
    * st1-st6 leave untouched (they cover hand-rolled per-key state,
    * timers, and the stream-stream join; this is Spark's native
    * MERGING window generator): `EventStream.sessionWindows` replays
    * the event log through `session_window(ts, 30 min)` in append
    * mode, so per-user runs that straddle micro-batch boundaries must
    * MERGE in the session store before the watermark closes them.
    *
    * The oracle is tw3's gaps-and-islands sessionization (identical
    * 30-min law) wearing the streaming envelope (session end = last
    * event + gap, the `session_window` contract) plus the EMISSION
    * law: append mode publishes exactly the sessions with
    * `end_us ≤ wm_ms · 1000` against the FINAL watermark (floor-ms of
    * the global max event time minus the 10-min delay — including the
    * post-data flush batch, st4's discipline). Both the ≤ (a session
    * ending ON the watermark emits) and the µs-exactness (one ending
    * 500 µs past it does NOT) are probed and pinned in
    * `EventStreamSpec`; later sessions stay pending in state and
    * never reach the sink. Merge and cut adjudicated outside the
    * JVM. */
  private def st7(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st7", slices = 2)(EventStream.sessionWindows(_))
      .select(col("user_id"),
        unix_micros(col("sess_start")).as("sess_start_us"),
        unix_micros(col("sess_end")).as("sess_end_us"),
        col("n_events"), col("value_cents"))

  private val GapUs = 1800L * 1000000
  private val st7Sql = TimeWindows.evsSql +
    s""", g AS (
       |  SELECT user_id, ts_us, event_id,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |      OR ts_us - lag(ts_us) OVER w > $GapUs THEN 1 ELSE 0 END AS ns,
       |    value_cents
       |  FROM evs
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
       |sess AS (
       |  SELECT user_id,
       |    min(ts_us) AS sess_start_us,
       |    max(ts_us) + $GapUs AS sess_end_us,
       |    CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(value_cents) AS BIGINT) AS value_cents
       |  FROM (
       |    SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
       |      ORDER BY ts_us ASC, event_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       |    FROM g) x
       |  GROUP BY user_id, sid),
       |wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM evs)
       |SELECT user_id, sess_start_us, sess_end_us, n_events, value_cents
       |FROM sess, wm WHERE sess_end_us <= wm_ms * 1000""".stripMargin

  // ---------------------------------------------------------------- ob5

  /** ob5: `Dataset.observe` ON A STREAM — the per-micro-batch metric
    * side-channel a production pipeline alarms on (rows/sec, cents
    * ingested per batch), driver-oracled: the replay's observation
    * emits (count, cent-sum) per micro-batch through
    * `StreamingQueryProgress.observedMetrics` — no second scan, no
    * extra action, the same `observe` machinery ob1/ob2 gate in
    * batch — and because the replay's batch boundaries are the
    * DETERMINISTIC time slices (maxFilesPerTrigger=1, oldest-first),
    * the per-batch metrics are a pure function of the events table:
    * the oracle re-derives them from the slice-cut algebra (floor
    * time buckets over the 1-row bounds anchor). Observability
    * numbers usually can't be oracle-checked; pinning the batch
    * boundaries is what makes these exact.
    *
    * The sink is `noop` — the observation IS the output, which is
    * the 100 TB point: per-batch accounting costs zero extra I/O.
    * The ≤|slices| metric rows are the only driver-side data. */
  private def ob5(s: SparkSession, d: String): DataFrame = {
    val src = stageSlices(s, d, 4)
    val r = rig(s, "ob5")
    val q = r.run(r.slices(src)
      .observe("slice_metrics",
        count(lit(1)).as("n_events"),
        sum(Tables.valueCents).as("value_cents"),
        min(unix_micros(col("ts"))).as("min_us"))
      .writeStream.format("noop").outputMode("append"))
    // slice_id from each batch's min event time via the staging's own
    // anchor (`Staged.sliceOf`)
    val rows = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("slice_metrics"))
        .map(m => (m.getAs[Long]("n_events"),
          m.getAs[Long]("value_cents"), m.getAs[Any]("min_us"))))
      .collect { case (n, c, minUs: Long) if n > 0 =>
        // the post-data flush batch observes no rows (NULL min) → dropped
        (src.sliceOf(minUs), n, c)
      }
    import s.implicits._
    rows.toDF("slice_id", "n_events", "value_cents")
  }

  private val ob5Sql = TimeWindows.evsSql +
    """, b AS (
      |  SELECT min(ts_us) AS lo, (max(ts_us) - min(ts_us)) // 4 + 1 AS span
      |  FROM evs)
      |SELECT (ts_us - lo) // span AS slice_id,
      |  count(*) AS n_events,
      |  CAST(sum(value_cents) AS BIGINT) AS value_cents
      |FROM evs, b GROUP BY 1""".stripMargin

  // --------------------------------------------------------------- st12

  /** st12: WATERMARKED TUMBLING AGGREGATION in append mode — the most
    * common production streaming aggregate (per-hour per-type counts +
    * cent sums, `EventStream.hourlyTypeCounts` — T2/A10's shape),
    * replayed and oracled. The batch≡stream property for this
    * pipeline was spec-only (EventStreamSpec runs it in COMPLETE
    * mode); the gate runs the APPEND path a production parquet sink
    * requires, where a window may only emit once the watermark closes
    * it — partial per-batch states must MERGE in the window store
    * across micro-batches first.
    *
    * Emission law, probed and pinned (EventStreamSpec "append-mode
    * tumbling window emission"): windows are EPOCH-aligned (hour
    * buckets = floor(ts_us / 3600e6) — NOT data-anchored), and a
    * window emits iff `end_us ≤ wm_ms · 1000` against the FINAL
    * watermark (floor-ms of the global max event time minus the
    * 10-min delay, including the post-data flush batch) — the same
    * non-strict ms-scaled cut st7's session windows obey (shared
    * eviction machinery). Later windows stay pending in state and
    * never reach the sink; the oracle models exactly that.
    *
    * Scale shape: per-batch partial aggs combine map-side before the
    * (window, type)-grain state store; state is one (count, cents)
    * pair per open window × type — bounded by the watermark horizon,
    * not the stream; emitted volume ∝ closed windows. */
  private def st12(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st12", slices = 2)(EventStream.hourlyTypeCounts)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("value_cents"))

  private val st12Sql = TimeWindows.evsSql +
    s""", wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM evs)
       |SELECT window_start_us, event_type,
       |  count(*) AS n_events,
       |  CAST(sum(value_cents) AS BIGINT) AS value_cents
       |FROM (
       |  SELECT (ts_us // $HourUs) * $HourUs AS window_start_us,
       |    event_type, value_cents
       |  FROM evs) t, wm
       |WHERE window_start_us + $HourUs <= wm_ms * 1000
       |GROUP BY window_start_us, event_type""".stripMargin

  // ------------------------------------------------- doc/media replays

  /** Shared micro-batch base instant for the synthetic ingest clocks —
    * the same anchor the spec fixtures use. */
  private val BaseUs = 1700000000000000L

  /** The shared doc-grain replay source for the stateless ingest gates
    * (st9-st11): the documents table with a deterministic arrival
    * clock (doc_id mod 240 seconds past the anchor — spread across
    * all 4 slices, but the pipelines are stateless so the slicing
    * only proves batch≡stream, never changes the answer). */
  private def docSource(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      timestamp_micros(lit(BaseUs) + pmod(col("doc_id"), lit(240)) * lit(1000000L))
        .as("ts"),
      col("text"))

  // ---------------------------------------------------------------- st8

  /** st8: the STREAMING CORPUS-PREP FUNNEL (`EventStream.docPrepFunnel`
    * — live ingest quality bucket + fingerprint dedup with
    * WATERMARK-BOUNDED state), replayed and oracled, including the
    * state-EVICTION path most dedup streams never get tested on: the
    * synthetic ingest clock arrives every document twice (two crawl
    * waves 98 min apart), with each fingerprint's wave slot derived
    * from the fingerprint itself (fp mod 12 × 7 min), so every copy of
    * a fingerprint arrives at the SAME instant (deterministic in-batch
    * arbitration) and wave 2 lands after the 10-min dedup state for
    * some slots — but not others — has been evicted.
    *
    * The emission law is PROBED, not assumed (EventStreamSpec
    * "dedup-within-watermark eviction law"): state expiry = event ts +
    * delay; eviction COMMITS with a batch's own eviction watermark
    * (floor-ms of max event time through the PREVIOUS batch minus the
    * delay), so in a CONTINUOUS backlog replay — data in every trigger,
    * hence no intermediate no-data batches — a key re-arriving in
    * batch j only finds state gone if its expiry cleared batch j−1's
    * watermark, i.e. max event time through batch j−2 minus the delay
    * (the two-batch lag; an idle stream would instead evict in the
    * no-data batches Spark schedules on watermark advance, which is
    * exactly how the same probe behaves one batch earlier under
    * MemoryStream+processAllAvailable). The 7-min arrival grid makes
    * expiry-vs-watermark equality impossible (equality would need an
    * arrival-time delta of exactly 2×10 min, not a multiple of 7), so
    * the comparison's strictness can never bite. The oracle rewrites
    * the protocol as pure slice algebra: wave 1 always emits once;
    * wave 2 re-emits iff its wave-1 expiry cleared the watermark
    * carried into its slice — max event time over slices ≤ j−2, minus
    * the delay. Output at the (fp, n_tokens,
    * decision) grain with the emission count — doc_id/ts are projected
    * out because within-batch duplicate arbitration is
    * partition-ordered (every fp-mate shares identical text modulo
    * whitespace, so the derived columns are arbitration-invariant;
    * the ids are not).
    *
    * Scale shape: dedup state is one (fp, expiry) pair per in-flight
    * fingerprint, bounded by the watermark horizon — the property this
    * gate exists to exercise; the funnel itself is a narrow map. */
  /** The st8/st14 two-crawl-wave synthetic clock: every document
    * arrives twice, 98 min apart; each fingerprint's arrival slot
    * derives from the fingerprint itself (fp mod 12 × 7 min), so every
    * copy of an fp arrives at the same instant and in-batch
    * arbitration can't leak identities. ONE staging key — both gates
    * replay the identical slice set. */
  private def docPrepWaves(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("slot", pmod(
        conv(substring(TextAnalysis.contentFp(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(12)))
    def wave(offsetUs: Long): DataFrame = base.select(
      col("doc_id"),
      timestamp_micros(lit(BaseUs) + col("slot") * lit(420000000L) + lit(offsetUs))
        .as("ts"),
      col("text"))
    wave(0L).unionByName(wave(5880000000L))
  }

  private def st8(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docprep", docPrepWaves(s, d), "st8")(
      EventStream.docPrepFunnel)
      .groupBy(col("fp"), col("n_tokens"), col("decision"))
      .agg(count(lit(1)).as("n_emissions"))

  private val st8Sql = {
    val fpSql = TextAnalysis.contentFpSql
    s"""WITH f AS (
       |  SELECT $fpSql AS fp,
       |    ('0x' || substr($fpSql, 1, 15))::BIGINT % 12 AS slot,
       |    length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt,
       |    length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt
       |  FROM documents),
       |g0 AS (
       |  SELECT fp, min(slot) AS slot, min(n_tokens) AS n_tokens,
       |    min(punct_cnt) AS punct_cnt, min(stopword_cnt) AS stopword_cnt
       |  FROM f GROUP BY fp),
       |g AS (
       |  SELECT *, ${TextAnalysis.qualityBucketSql(
              "n_tokens", "stopword_cnt", "punct_cnt")} AS qb
       |  FROM g0),
       |a AS (
       |  SELECT fp, $BaseUs + slot * 420000000 AS w1_us,
       |    $BaseUs + slot * 420000000 + 5880000000 AS w2_us
       |  FROM g),
       |arr AS (SELECT w1_us AS t FROM a UNION ALL SELECT w2_us FROM a),
       |sp AS (
       |  SELECT min(t) AS lo, (max(t) - min(t)) // 4 + 1 AS span FROM arr),
       |sm AS (
       |  SELECT (t - lo) // span AS sl, max(t) AS mx
       |  FROM arr, sp GROUP BY 1),
       |dec AS (
       |  SELECT a.fp,
       |    a.w1_us // 1000 + 600000 AS expiry_ms,
       |    (SELECT max(sm.mx) FROM sm, sp
       |     WHERE sm.sl < (a.w2_us - sp.lo) // sp.span - 1) // 1000 - 600000
       |      AS wm_ms
       |  FROM a)
       |SELECT g.fp, g.n_tokens,
       |  CASE WHEN g.qb = 'keep' THEN 'kept' ELSE g.qb END AS decision,
       |  CAST(CASE WHEN d.wm_ms IS NOT NULL AND d.expiry_ms < d.wm_ms
       |    THEN 2 ELSE 1 END AS BIGINT) AS n_emissions
       |FROM g JOIN dec d ON g.fp = d.fp""".stripMargin
  }

  // ---------------------------------------------------------------- st9

  /** st9: STREAMING DECONTAMINATION (`EventStream.streamDecontaminate`
    * — dd15's benchmark-containment permille at live-ingest time, zero
    * state: the benchmark shingle universe collapses to one broadcast
    * array row), replayed and oracled with dd15's split (benchmark =
    * doc_id ≡ 0 mod 50, corpus streams). Stateless ⇒ batch ≡ stream
    * by construction — the replay proves the stream RUNS the shape
    * (broadcast under stream-static cross join, per-batch reuse); the
    * oracle is dd15's closed form verbatim, because `shingleCols`
    * arrays are distinct-by-construction so `array_intersect` counts
    * exactly what dd15's exploded hash join counts. */
  private def st9(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docsrc", docSource(s, d), "st9", slices = 2) { docs =>
      EventStream.streamDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        Tables.documents(s, d).filter(col("doc_id") % 50 === 0))
    }

  private val st9Sql = Dedup.dd15Sql

  // --------------------------------------------------------------- st10

  /** st10: STREAMING INCREMENTAL DEDUP (`EventStream.incrementalDedup`
    * — dd13's decision against a static history index, restructured
    * stateless for the live path: history publishes distinct
    * fingerprints and per-band sketch LISTS, so the per-doc check is
    * 1 + 4 broadcast joins against bucket rows plus an `exists`
    * hamming verify), replayed and oracled with dd13's split (batch =
    * doc_id ≡ 0 mod 10 streams, rest is history). The oracle is
    * dd13's exact+band closed form at the decision grain — the
    * `exists`-over-bucket spelling and dd13's count-distinct-pairs
    * spelling agree exactly when only the ≥1 threshold is asked. */
  private def st10(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docsrc", docSource(s, d), "st10", slices = 2) { docs =>
      EventStream.incrementalDedup(
        docs.filter(col("doc_id") % 10 === 0),
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0))
    }

  private val st10Sql =
    s"""WITH ${Dedup.simhashCteSql},
       |fpt AS (SELECT doc_id, ${TextAnalysis.contentFpSql} AS fp FROM documents),
       |base AS (
       |  SELECT f.doc_id, f.fp, s.simhash
       |  FROM fpt f JOIN sim s USING (doc_id)),
       |inc AS (SELECT * FROM base WHERE doc_id % 10 = 0),
       |hist AS (SELECT * FROM base WHERE doc_id % 10 <> 0),
       |ib AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band*16)) & 65535 AS key
       |       FROM inc, (SELECT unnest(range(4)) AS band) b),
       |hb AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band*16)) & 65535 AS key
       |       FROM hist, (SELECT unnest(range(4)) AS band) b)
       |SELECT i.doc_id,
       |  CASE WHEN i.fp IN (SELECT fp FROM hist) THEN 'dup_exact'
       |       WHEN EXISTS (
       |         SELECT 1 FROM ib a JOIN hb h
       |           ON a.band = h.band AND a.key = h.key
       |         WHERE a.doc_id = i.doc_id
       |           AND bit_count(xor(a.simhash, h.simhash)) <= 3)
       |       THEN 'dup_near'
       |       ELSE 'new' END AS decision
       |FROM inc i""".stripMargin

  // --------------------------------------------------------------- st11

  /** st11: STREAMING PERCEPTUAL INGEST (`EventStream.perceptualIngest`
    * — mm6's exact-digest and mm7's frame-simhash band check against a
    * published asset index, stateless), replayed and oracled with the
    * mod-10 split at the media grain (payload = UTF-8 bytes of text,
    * the mm stand-in). Empty payloads have no frames ⇒ NULL sketch ⇒
    * exact-only matching, pinned on both sides. The oracle reuses
    * mm7's frame-token→simhash SQL chain and asks the band+hamming
    * existence question per incoming asset. */
  private def st11(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docsrc", docSource(s, d), "st11", slices = 2) { docs =>
      EventStream.perceptualIngest(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("media_id"),
            encode(col("text"), "UTF-8").as("payload")),
        Multimodal.media(s, d).filter(col("media_id") % 10 =!= 0)
          .select(col("media_id"), col("payload")))
    }

  private val st11Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, w, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, (strlen(text)-1) // 128 + 1),
       |      i -> md5(substr(text, CAST(1 + i*128 AS INT), 32)))) AS w
       |    FROM documents WHERE strlen(text) > 0) t GROUP BY doc_id, w),
       |${Dedup.simhashChainSql},
       |dgx AS (SELECT doc_id, md5(text) AS dg, strlen(text) AS nb FROM documents),
       |inc AS (SELECT * FROM dgx WHERE doc_id % 10 = 0),
       |idx AS (SELECT * FROM dgx WHERE doc_id % 10 <> 0),
       |ib AS (SELECT d.doc_id, s.simhash, b.band,
       |         (s.simhash >> (b.band*16)) & 65535 AS key
       |       FROM inc d JOIN sim s ON d.doc_id = s.doc_id,
       |         (SELECT unnest(range(4)) AS band) b),
       |hb AS (SELECT d.doc_id, s.simhash, b.band,
       |         (s.simhash >> (b.band*16)) & 65535 AS key
       |       FROM idx d JOIN sim s ON d.doc_id = s.doc_id,
       |         (SELECT unnest(range(4)) AS band) b)
       |SELECT i.doc_id AS media_id,
       |  CASE WHEN i.dg IN (SELECT dg FROM idx) THEN 'dup_exact'
       |       WHEN i.nb > 0 AND EXISTS (
       |         SELECT 1 FROM ib a JOIN hb h
       |           ON a.band = h.band AND a.key = h.key
       |         WHERE a.doc_id = i.doc_id
       |           AND bit_count(xor(a.simhash, h.simhash)) <= 3)
       |       THEN 'dup_near'
       |       ELSE 'new' END AS decision
       |FROM inc i""".stripMargin

  // --------------------------------------------------------------- st13

  /** st13: the FOREACHBATCH sink — the one production sink surface
    * st1-st12 leave untouched (they cover append-mode file sinks and
    * `observe`; this is the programmatic per-micro-batch hook that
    * carries every streaming-upsert / streaming-MERGE deployment):
    * a CDC-APPLY stream maintaining a keyed CURRENT-STATE dimension
    * (per user: lifetime event count, exact cent total, last event
    * type + its µs timestamp) by merging each micro-batch's rollup
    * into the previous table version.
    *
    * EXACTLY-ONCE is the gated property, engineered the way a real
    * foreachBatch consumer must: versions are keyed BY BATCH ID
    * (v(b) = merge(v(b−1), agg(batch b)) written to its own dir), so
    * a retried batch deterministically rewrites ITS version from the
    * unchanged predecessor instead of double-applying — the
    * idempotence contract Spark documents for foreachBatch, made
    * structural. The merge is a full-outer coalesce at the user
    * grain: counts and cents ADD (associative), the last-event pair
    * takes the lexicographically larger (ts, event_id) — a unique
    * order, and since slices cut on time, cross-batch comparisons
    * are strict (equal timestamps land in one slice) and in-batch
    * ties resolve by event_id: the final table is replay-invariant.
    * The oracle is the closed form over the whole log: per user,
    * count / cent-sum / (ts, event_id)-argmax type / max ts.
    *
    * Scale shape: each batch shuffles only its own rollup (map-side
    * combined to ≤|users in batch| rows) and the merge join is keyed
    * on user_id; at 100 TB the table rewrite becomes la15's MERGE
    * INTO (partition-pruned upsert into the lakehouse layout) — the
    * per-version full rewrite here is the dim-scale simplification,
    * stated honestly. The sink table is never driver-resident. */
  private def st13(s: SparkSession, d: String): DataFrame = {
    val src = stageSlices(s, d, 4)
    val r = rig(s, "st13")
    val lastV = new java.util.concurrent.atomic.AtomicLong(-1L)
    // versions are read back with their written schema: no inference job
    val vSchema = new java.util.concurrent.atomic.AtomicReference[StructType]()
    r.run(r.slices(src).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val agg = batch.groupBy(col("user_id")).agg(
          count(lit(1)).as("n_events"),
          sum(Tables.valueCents).as("total_cents"),
          max_by(col("event_type"),
            struct(col("ts"), col("event_id"))).as("last_type"),
          max(unix_micros(col("ts"))).as("last_ts_us"),
          max(struct(unix_micros(col("ts")).as("us"),
            col("event_id").as("id"))).as("ord"))
        val merged =
          if (batchId == 0) agg
          else {
            val prev = batch.sparkSession.read.schema(agg.schema)
              .parquet(new File(r.root, s"v${batchId - 1}").getPath)
            prev.as("p").join(agg.as("b"), Seq("user_id"), "full_outer")
              .select(col("user_id"),
                (coalesce(col("p.n_events"), lit(0L)) +
                  coalesce(col("b.n_events"), lit(0L))).as("n_events"),
                (coalesce(col("p.total_cents"), lit(0L)) +
                  coalesce(col("b.total_cents"), lit(0L))).as("total_cents"),
                when(col("b.ord").isNull || (col("p.ord").isNotNull &&
                    col("p.ord") > col("b.ord")), col("p.last_type"))
                  .otherwise(col("b.last_type")).as("last_type"),
                greatest_skipnull(col("p.last_ts_us"), col("b.last_ts_us"))
                  .as("last_ts_us"),
                when(col("b.ord").isNull || (col("p.ord").isNotNull &&
                    col("p.ord") > col("b.ord")), col("p.ord"))
                  .otherwise(col("b.ord")).as("ord"))
          }
        merged.write.mode("overwrite")
          .parquet(new File(r.root, s"v$batchId").getPath)
        vSchema.set(agg.schema)
        lastV.updateAndGet(v => math.max(v, batchId))
        ()
      })
    s.read.schema(vSchema.get).parquet(new File(r.root, s"v${lastV.get}").getPath)
      .select(col("user_id"), col("n_events"), col("total_cents"),
        col("last_type"), col("last_ts_us"))
  }

  /** max/greatest that ignores NULL on either side (SQL `greatest`
    * returns NULL if any argument is NULL in neither engine — Spark
    * skips nulls, but being explicit keeps the merge law readable). */
  private def greatest_skipnull(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(a.isNull, b).when(b.isNull, a).otherwise(greatest(a, b))

  // --------------------------------------------------------------- st14

  /** st14: the BUILT-IN `dropDuplicatesWithinWatermark` — st8's
    * hand-rolled flatMapGroupsWithState dedup is what you write when
    * the decision needs custom state; this is the API a pipeline
    * reaches for first, and it obeys the SAME probed eviction law
    * (state expiry = event ts + delay; eviction commits with a
    * batch's own watermark = max event time through the PREVIOUS
    * batch, ms-floored, minus delay ⇒ the two-batch re-emission lag
    * in continuous backlog replays — `EventStreamSpec`'s
    * "dedup-within-watermark eviction law" probe pins BOTH engines'
    * constants using this exact operator). Same two-wave clock and
    * staged slices as st8 (shared staging key), so the oracle is
    * st8's slice algebra at the fp grain: an fp re-emits on its
    * second wave iff its first wave's expiry cleared the watermark
    * committed two batches before the second wave's.
    *
    * Scale shape: state is one (key, expiry) pair per in-flight
    * fingerprint, evicted by watermark — bounded by the dedup
    * horizon's arrival rate, never the corpus. */
  private def st14(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docprep", docPrepWaves(s, d), "st14") { df =>
      df.select(col("ts"), TextAnalysis.contentFp(col("text")).as("fp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("fp")
    }.groupBy(col("fp")).agg(count(lit(1)).as("n_emissions"))

  /** The dedup-decision slice algebra st14/st15 share: per fp, both
    * wave instants plus the re-emission decision inputs (state expiry
    * vs the watermark committed two batches before wave 2's). */
  private val docPrepDedupCte = {
    val fpSql = TextAnalysis.contentFpSql
    s"""WITH f AS (
       |  SELECT $fpSql AS fp,
       |    ('0x' || substr($fpSql, 1, 15))::BIGINT % 12 AS slot
       |  FROM documents),
       |g AS (SELECT fp, min(slot) AS slot FROM f GROUP BY fp),
       |a AS (
       |  SELECT fp, $BaseUs + slot * 420000000 AS w1_us,
       |    $BaseUs + slot * 420000000 + 5880000000 AS w2_us
       |  FROM g),
       |arr AS (SELECT w1_us AS t FROM a UNION ALL SELECT w2_us FROM a),
       |sp AS (
       |  SELECT min(t) AS lo, (max(t) - min(t)) // 4 + 1 AS span FROM arr),
       |sm AS (
       |  SELECT (t - lo) // span AS sl, max(t) AS mx
       |  FROM arr, sp GROUP BY 1),
       |dec AS (
       |  SELECT a.fp, a.w1_us, a.w2_us,
       |    a.w1_us // 1000 + 600000 AS expiry_ms,
       |    (SELECT max(sm.mx) FROM sm, sp
       |     WHERE sm.sl < (a.w2_us - sp.lo) // sp.span - 1) // 1000 - 600000
       |      AS wm_ms
       |  FROM a)""".stripMargin
  }

  private val st14Sql = docPrepDedupCte +
    """
      |SELECT d.fp,
      |  CAST(CASE WHEN d.wm_ms IS NOT NULL AND d.expiry_ms < d.wm_ms
      |    THEN 2 ELSE 1 END AS BIGINT) AS n_emissions
      |FROM dec d""".stripMargin

  // --------------------------------------------------------------- st15

  /** st15: CHAINED STATEFUL OPERATORS in one streaming query — the
    * built-in `dropDuplicatesWithinWatermark` (st14's operator)
    * feeding an append-mode tumbling aggregation (st12's operator),
    * dedup store and window store composing in a single micro-batch
    * pipeline. This is the canonical production ingest shape ("dedup
    * the crawl, then rate the hour") and the one streaming capability
    * the per-operator gates can't witness: watermark propagation
    * ACROSS stateful operators (Spark plans the downstream agg against
    * the dedup's output with one global per-batch watermark; the
    * upstream store must emit a row before the downstream store may
    * count it, so a re-emitted wave-2 fingerprint lands in its wave-2
    * hour bucket).
    *
    * The oracle composes the two pinned laws with no new constants:
    * emitted instants = every fp's wave-1 arrival plus its wave-2
    * arrival iff st14's eviction law re-admits it, then st12's
    * emission law cuts the hour buckets (epoch-aligned, emit iff
    * end_us ≤ final wm_ms · 1000, final watermark = global max event
    * time − 10 min, ms-floored) — the last bucket stays pending in
    * the window store by construction, so both emission classes are
    * exercised at every sf.
    *
    * Scale shape: dedup state is (key, expiry) per in-flight
    * fingerprint, window state one count per open hour — both bounded
    * by the watermark horizon; the chain adds no exchange beyond the
    * two stores' own key groupings. */
  private def st15(s: SparkSession, d: String): DataFrame =
    replayedDf(s, s"$d|docprep", docPrepWaves(s, d), "st15") { df =>
      // bucket is a pure function of the dedup KEY, so whichever
      // same-instant copy wins in-batch arbitration carries the same
      // value — the only grouping column safe under chained dedup.
      df.select(col("ts"), TextAnalysis.contentFp(col("text")).as("fp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("fp")
        .withColumn("bucket",
          pmod(conv(substring(col("fp"), 1, 1), 16, 10).cast("long"), lit(4L)))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("w.start").as("window_start"), col("bucket"), col("n_docs"))
    }.select(unix_micros(col("window_start")).as("window_start_us"),
      col("bucket"), col("n_docs"))

  private val st15Sql = docPrepDedupCte +
    s""",
       |em AS (
       |  SELECT fp, w1_us AS t FROM dec
       |  UNION ALL
       |  SELECT fp, w2_us FROM dec
       |  WHERE wm_ms IS NOT NULL AND expiry_ms < wm_ms),
       |fw AS (SELECT max(w2_us) // 1000 - 600000 AS wm_ms FROM dec)
       |SELECT (t // $HourUs) * $HourUs AS window_start_us,
       |  ('0x' || substr(fp, 1, 1))::BIGINT % 4 AS bucket,
       |  count(*) AS n_docs
       |FROM em, fw
       |WHERE (t // $HourUs) * $HourUs + $HourUs <= wm_ms * 1000
       |GROUP BY 1, 2""".stripMargin

  private val st13Sql = TimeWindows.evsSql +
    """, last AS (
      |  SELECT user_id, event_type AS last_type FROM (
      |    SELECT user_id, event_type, row_number() OVER (
      |      PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
      |    FROM evs) r WHERE rn = 1)
      |SELECT e.user_id,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(value_cents) AS BIGINT) AS total_cents,
      |  any_value(l.last_type) AS last_type,
      |  max(ts_us) AS last_ts_us
      |FROM evs e JOIN last l ON e.user_id = l.user_id
      |GROUP BY e.user_id""".stripMargin

  // ---------------------------------------------------------------- st16

  /** st16: the custom DSv2 STREAMING SINK under the replay clock —
    * `graft.sources.LogSink`'s epoch-keyed commit protocol (S9's
    * streaming half) driven by a REAL micro-batch replay and
    * adjudicated by the driver's oracle, not just the MemoryStream
    * specs: each staged slice becomes one epoch, each epoch stages
    * per-task files and publishes only constant-size (path, rows)
    * handles at commit (`LogStreamingWrite` — the SQLite
    * one-transaction-per-flush boundary as Spark's `StreamingWrite`
    * contract), and the gate then reads the published table BACK
    * through the sink's own batch scan (one InputPartition per staged
    * file) into a per-level rollup the oracle restates from the raw
    * events. Engine receipts: exactly 4 data epochs committed (one
    * per slice — the epoch ledger is the unit of exactly-once), and
    * every committed handle is row-counted metadata (`rowCount` sums
    * handles without opening a file; it must equal the rollup total).
    *
    * Scale shape: row payloads never cross the driver — commit
    * messages are (path, count) pairs; the read-back is
    * file-partitioned. The replay session is isolated at 4 shuffle
    * partitions (`streamParts`) like every st gate. */
  private def st16(s: SparkSession, d: String): DataFrame = {
    val src = stageSlices(s, d, 4)
    val r = rig(s, "st16")
    val t = graft.sources.LogSink.freshTable("st16")
    r.run(r.slices(src).select(
      unix_micros(col("ts")).as("ts_us"),
      upper(col("event_type")).as("level"),
      concat(lit("u"), col("user_id")).as("logger_name"),
      Tables.valueCents.as("value_cents"))
      .writeStream.format("graft.sources.LogSink").option("table", t))
    val dataEpochs = graft.sources.LogStore.batches(t)
      .count(_.files.exists(_.rows > 0))
    require(dataEpochs == 4,
      s"expected one data epoch per slice (4), got $dataEpochs")
    val handleRows = graft.sources.LogStore.rowCount(t)
    val out = s.read.format("graft.sources.LogSink").option("table", t).load()
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value_cents")).as("value_cents"),
        countDistinct(col("logger_name")).as("n_loggers"))
    val rows = out.collect()
    require(rows.map(_.getAs[Long]("n_rows")).sum == handleRows,
      "commit-handle row counts diverge from the served rows")
    val schema = out.schema
    graft.sources.LogStore.drop(t)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val st16Sql =
    """WITH logs AS (
      |  SELECT upper(event_type) AS level, 'u' || user_id AS logger_name,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events)
      |SELECT level, count(*) AS n_rows,
      |  CAST(sum(value_cents) AS BIGINT) AS value_cents,
      |  count(DISTINCT logger_name) AS n_loggers
      |FROM logs GROUP BY level""".stripMargin

  // ---------------------------------------------------------------- st17

  /** st17: the DSv2 SOURCE's poll loop driven as a REAL stream — the
    * twin of st16's sink gate, closing the last spec-only streaming
    * surface: [[graft.sources.YtApiMicroBatchStream]] (the reference's
    * scheduled channel-discovery sweep, youtube_api_handler.py's
    * quota-budgeted batch GETs as a `MicroBatchStream` with
    * `SupportsAdmissionControl`). The stream reads the SAME planned id
    * universe the batch scan plans (ids 0..1000, 50-id chunk
    * partitions) but drains it `pollBatch=300` ids per trigger — the
    * per-tick quota budget as `ReadLimit.maxRows` — into a
    * checkpointed parquet sink until `processAllAvailable` reaches the
    * end of the universe.
    *
    * Engine receipts (the oracle can't see the trigger ledger, so the
    * gate `require`s it): the checkpoint's offset log must show the
    * admission-controlled ramp — every per-trigger delta ≤ pollBatch,
    * ≥ 3 budgeted triggers (1001 ids / 300 per tick = 4 data batches),
    * and the final committed offset exactly the universe size; and the
    * sink must hold one file per 50-id CHUNK partition (6+6+6+3 = 21 —
    * the batch scan's chunk plan flowing unchanged through
    * `planInputPartitions(start, end)`). Output is the per-country
    * rollup of the drained universe; the oracle regenerates the
    * deterministic synthetic fetch from `range()` (s1's discipline)
    * and rolls it up independently — STREAM DRAIN ≡ BATCH SCAN.
    *
    * Scale shape: offsets are two longs; each trigger plans only its
    * own slice's chunks (never the full universe), so a 2M-channel
    * sweep costs the same per tick as this gate's 1001 — the poll loop
    * is O(pollBatch) per trigger in planning and I/O, stateless by
    * construction (end offset is computed FROM the start offset), and
    * a checkpoint restart resumes at the committed position. */
  private def st17(s: SparkSession, d: String): DataFrame = {
    val r = rig(s, "st17")
    val nIds = 1001L
    r.toParquet(r.iso.readStream.format("graft.sources.YtApiSource")
      .option("maxId", nIds - 1).option("batchSize", 50)
      .option("pollBatch", 300).load())
    // receipt 1: the offset ledger shows the budgeted ramp
    val offsets = logBatches(new File(r.chk, "offsets"))
      .map(_._2.last.trim.toLong)
    require(offsets.nonEmpty && offsets.last == nIds,
      s"stream did not drain the universe: ${offsets.mkString(",")}")
    val deltas = offsets.zip(0L +: offsets.init).map { case (e, b) => e - b }
    val dataBatches = deltas.count(_ > 0)
    require(dataBatches == 4 && deltas.forall(_ <= 300),
      s"admission control violated: deltas=${deltas.mkString(",")}")
    // receipt 2: one COMMITTED sink file per 50-id chunk partition per
    // trigger, read from the FileStreamSink's _spark_metadata commit
    // log rather than a raw directory listing (round-10 advice: raw
    // listings also count orphans from task retries/speculation and
    // are hostage to empty-partition file policy; the commit log IS
    // the committed set — the same ledger st18's exactly-once proof
    // reads)
    val sinkFiles = logBatches(new File(r.out, "_spark_metadata"))
      .map(_._2.count(l => l.startsWith("{") && l.contains("\"path\""))).sum
    require(sinkFiles == 21,
      s"expected 21 committed chunk-partition files (6+6+6+3), got $sinkFiles")
    val drained = r.sunk(s)
    val rolled = drained.groupBy(col("country"))
      .agg(count(lit(1)).as("n_channels"),
        sum(col("subscriber_count")).as("subs"),
        sum(col("view_count")).as("views"),
        max(col("video_count")).as("max_videos"))
    val rows = rolled.collect()
    require(rows.map(_.getAs[Long]("n_channels")).sum == nIds,
      "drained row count diverges from the planned universe")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
  }

  private val st17Sql =
    """WITH ch AS (
      |  SELECT (i*1103515245 + 12345) % 10000000 AS subscriber_count,
      |    ((i*1103515245 + 12345) % 10000000) * 37 + i % 1000 AS view_count,
      |    i % 500 AS video_count,
      |    ['US','IN','BR','DE','JP'][CAST(i % 5 AS INT) + 1] AS country
      |  FROM range(0, 1001) t(i))
      |SELECT country, count(*) AS n_channels,
      |  CAST(sum(subscriber_count) AS BIGINT) AS subs,
      |  CAST(sum(view_count) AS BIGINT) AS views,
      |  CAST(max(video_count) AS BIGINT) AS max_videos
      |FROM ch GROUP BY country""".stripMargin

  // ---------------------------------------------------------------- st18

  /** st18: CHECKPOINT RESTART of the DSv2 source — the property st17
    * asserts by construction ("offsets are positions, so a restart
    * resumes where the poller stopped") executed for real, under the
    * production shape that makes restart non-trivial: the id universe
    * GROWS between runs (the reference's scheduled sweep discovers new
    * channels between polls). RUN 1 drains a 600-id universe to
    * completion (2 budgeted triggers at pollBatch=300) and stops; RUN
    * 2 reopens the SAME checkpoint against a 1001-id universe and must
    * resume FROM THE COMMITTED OFFSET — ingesting exactly ids
    * 600..1000 in 2 more triggers (300 + 101), never re-reading or
    * skipping a row. Both runs share one parquet sink, whose
    * `_spark_metadata` commit log is what makes the union exactly-once
    * (the FileStreamSink side of the restart contract).
    *
    * Engine receipts: run 1's offset ledger is exactly [300, 600];
    * run 2 CONTINUES the batch numbering (ids 2, 3 — proof it resumed
    * rather than restarted) with offsets [900, 1001]; and the sink
    * read-back is exactly 1001 distinct channel ids. Output is st17's
    * per-country rollup over the final universe; same oracle — a
    * restarted poller must be indistinguishable from one that never
    * stopped.
    *
    * Scale shape: identical to st17 — restart cost is reading ONE
    * offset file; nothing is replanned over the already-ingested
    * prefix. */
  private def st18(s: SparkSession, d: String): DataFrame = {
    val r = rig(s, "st18")
    def drain(maxId: Long): Unit =
      r.toParquet(r.iso.readStream.format("graft.sources.YtApiSource")
        .option("maxId", maxId).option("batchSize", 50)
        .option("pollBatch", 300).load())
    def ledger(): Seq[(Long, Long)] = logBatches(new File(r.chk, "offsets"))
      .map { case (b, lines) => b -> lines.last.trim.toLong }
    drain(599L) // run 1: the universe as first discovered
    val l1 = ledger()
    require(l1.map(_._2) == Seq(300L, 600L),
      s"run-1 ledger not the 2-trigger drain: ${l1.mkString(",")}")
    drain(1000L) // run 2: 401 newly discovered ids, SAME checkpoint
    val l2 = ledger().drop(l1.size)
    require(l2.map(_._1) == Seq(2L, 3L) && l2.map(_._2) == Seq(900L, 1001L),
      s"restart did not resume from the committed offset: ${l2.mkString(",")}")
    val drained = r.sunk(s)
    val rolled = drained.groupBy(col("country"))
      .agg(count(lit(1)).as("n_channels"),
        countDistinct(col("channel_id")).as("n_distinct"),
        sum(col("subscriber_count")).as("subs"),
        max(col("video_count")).as("max_videos"))
    val rows = rolled.collect()
    require(rows.map(_.getAs[Long]("n_channels")).sum == 1001L &&
        rows.forall(r => r.getAs[Long]("n_channels") == r.getAs[Long]("n_distinct")),
      "restart re-read or skipped rows — the union is not exactly-once")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), rolled.schema)
  }

  private val st18Sql =
    """WITH ch AS (
      |  SELECT i AS channel_id,
      |    (i*1103515245 + 12345) % 10000000 AS subscriber_count,
      |    i % 500 AS video_count,
      |    ['US','IN','BR','DE','JP'][CAST(i % 5 AS INT) + 1] AS country
      |  FROM range(0, 1001) t(i))
      |SELECT country, count(*) AS n_channels,
      |  count(DISTINCT channel_id) AS n_distinct,
      |  CAST(sum(subscriber_count) AS BIGINT) AS subs,
      |  CAST(max(video_count) AS BIGINT) AS max_videos
      |FROM ch GROUP BY country""".stripMargin

  // --------------------------------------------------------------- st19

  /** st19: CHECKPOINT RESTART of a STATEFUL query — the one streaming
    * contract st16-st18 leave unproven. st18 restarts the SOURCE
    * (offsets are two longs); this gate kills a query whose
    * correctness lives in the STATE STORE mid-replay and resumes it:
    * st12's watermarked tumbling aggregation runs over slice 1 of
    * the shared 2-slice staging, the query STOPS (the deploy/worker
    * restart every production stream exercises — the reference's
    * cache/quota state machines surviving a worker bounce,
    * youtube_api_handler.py:47-61), and a SECOND query reopens the
    * SAME checkpoint over slice 2. Recovery must restore (a) the
    * window store — hours straddling the kill point have partial
    * counts from run 1 that run 2's events must MERGE into, (b) the
    * watermark — re-read from the offset log, so run 2 neither
    * re-emits a closed window nor drops a still-open one, and (c) the
    * file-source ledger — slice 1 is never re-read.
    *
    * Engine receipts: run 2 CONTINUES the batch numbering (resume,
    * not restart); the kill point splits emission (run 1's committed
    * sink is a nonempty strict prefix of the final row count). The
    * equality that matters — interrupted ≡ uninterrupted — is
    * adjudicated by the driver: the gate reuses st12's oracle
    * VERBATIM, so the restarted run must hash-match the closed form
    * of the run that never stopped.
    *
    * Scale shape: st12's (bounded state, emitted ∝ closed windows)
    * plus restart cost = re-reading one offset file and reloading the
    * last state-store snapshot — nothing over the ingested prefix is
    * replanned or re-aggregated. */
  private def st19(s: SparkSession, d: String): DataFrame =
    hourlyProj(stateRestart(s, d, "st19", "st19_stream_state_restart", Map.empty))

  /** The kill-and-resume rig shared by st19 (default HDFS-backed state
    * store) and st20 (RocksDB + changelog checkpointing — the
    * production store, whose recovery path is replaying the changelog
    * onto the last snapshot rather than reloading a delta file). */
  private def stateRestart(s: SparkSession, d: String, gate: String,
      registryName: String, extraConfs: Map[String, String],
      pipe: DataFrame => DataFrame = EventStream.hourlyTypeCounts): DataFrame = {
    // 2 slices: the restart law needs exactly one kill point with
    // unprocessed backlog behind it — run 1 drains slice 0, run 2
    // resumes onto slice 1 (the shared "$d|2" staging st7/st12 use;
    // st1-st6 stay on the 4-slice staging);
    // window-store partials still straddle the cut and the emission
    // still splits (rows1 a nonempty proper prefix, require'd below).
    val shared = stageSlices(s, d, 2)
    val r = rig(s, gate, extraConfs)
    val src = new File(r.root, "src"); src.mkdirs()
    // land slice i in the gate-local source dir (the shared staging is
    // read-only to gates — st1-st15 replay it concurrently), keeping
    // the pinned strictly-increasing mod-times
    def land(i: Int): Unit = {
      val name = f"slice-$i%02d.parquet"
      val dst = new File(src, name)
      Files.copy(new File(shared.dir, name).toPath, dst.toPath)
      pinSliceTime(dst, i)
    }
    // one run = open the checkpoint, drain whatever is unprocessed,
    // stop; returns the last committed batch id as the resume receipt
    def run(): Long = {
      r.toParquet(pipe(r.slices(shared.copy(dir = src))))
      logBatches(new File(r.chk, "commits")).map(_._1).max
    }
    land(0)
    val last1 = run() // run 1 ends here: the query object is gone
    val rows1 = r.sunk(s).count()
    land(1)
    val last2 = run() // run 2: SAME checkpoint, the grown backlog
    require(last2 > last1,
      s"restart did not continue the batch numbering: $last1 -> $last2")
    val sunk = r.sunk(s)
    val total = sunk.count()
    require(rows1 > 0 && rows1 < total,
      s"kill point did not split emission: run1=$rows1 of $total — " +
        "the restart proved nothing about state recovery")
    // store-provider receipt: when the gate claims RocksDB + changelog
    // checkpointing, the state dir must actually hold changelog files
    // — a silently ignored conf would otherwise pass on the default
    // store and prove nothing about the production recovery path
    val storeReceipt =
      if (extraConfs.get(
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
          .contains("true")) {
        def anyChangelog(f: File): Boolean =
          (f.isFile && f.getName.endsWith(".changelog")) ||
            Option(f.listFiles()).toSeq.flatten.exists(anyChangelog)
        require(anyChangelog(new File(r.chk, "state")),
          "no .changelog files under the checkpoint's state dir — " +
            "the RocksDB changelog-checkpointing conf did not take")
        "; RocksDB .changelog files present under the checkpoint state dir"
      } else ""
    // receipt: the restart facts this gate `require`s, printed with the
    // gate's plan and checked by PlanShapeSpec's plan-shape laws,
    // keyed by the REGISTRY name passed from the call site — string-
    // rebuilding it here would silently detach the receipt from the
    // gate on a rename and fail the law far from the cause
    graft.Receipts.record(registryName,
      s"run2 continued the batch numbering ($last1 -> $last2) from the " +
        s"same checkpoint; run1 sank $rows1 of $total rows " +
        s"(nonempty proper prefix)$storeReceipt")
    sunk
  }

  /** st19/st20's output projection for the default hourlyTypeCounts
    * pipeline (st12's oracle shape). */
  private def hourlyProj(sunk: DataFrame): DataFrame =
    sunk.select(unix_micros(col("window_start")).as("window_start_us"),
      col("event_type"), col("n_events"), col("value_cents"))

  // --------------------------------------------------------------- st20

  /** st20: st19's kill-and-resume on the ROCKSDB state store with
    * CHANGELOG CHECKPOINTING — the production configuration (large
    * state off-heap, per-batch commits as changelog deltas instead of
    * full snapshot uploads). Recovery is materially different from
    * the default store st19 proves: the restarted query must pick the
    * last uploaded RocksDB snapshot and REPLAY the changelog tail
    * onto it to rebuild the window store, so a bug in changelog
    * replay (lost merge, double-applied delta) shows up here and
    * nowhere else. Same kill point, same receipts, same oracle —
    * st12's SQL verbatim: whichever store and recovery path runs
    * underneath, interrupted ≡ uninterrupted. */
  private def st20(s: SparkSession, d: String): DataFrame =
    hourlyProj(stateRestart(s, d, "st20", "st20_stream_rocksdb_restart", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")))

  // --------------------------------------------------------------- st21

  /** st21: LATE DATA BEYOND THE WATERMARK IS DROPPED — the semantics
    * every production stream debate is about, and the half of the
    * watermark contract st12/st14 leave unexercised: they replay
    * slices in event-time order, so nothing ever arrives after the
    * watermark passed it. This gate manufactures genuinely late
    * arrivals: events are fed with a separate ARRIVAL clock (`ts`, the
    * staging/slicing column) and EVENT clock (`ev_ts`, what the
    * pipeline aggregates and watermarks on). A deterministic slice of
    * first-half events (`event_id % 97 == 0`, ts below the span
    * midpoint) keeps its old event time but arrives shifted by 2× the
    * corpus span — strictly in the FINAL micro-batch, long after the
    * on-time events (which span the full range) advanced the watermark
    * to max(ev_ts) − 10 min. Every late event's hour window closed
    * ~15 days before its arrival, so the engine must DROP all of them:
    * never re-open an emitted window, never emit a correction row.
    *
    * The drop set is oracle-pinned, not asserted engine-side: the
    * DuckDB closed form aggregates the ON-TIME events only (same
    * midpoint/97 predicate), so if even one late event leaked into a
    * window the hash compare fails. A staging `require` keeps the gate
    * honest — the late set must be non-empty or the gate would pass
    * vacuously.
    *
    * Scale shape: st12's exactly (bounded window-store state, emitted
    * ∝ closed windows); dropping late rows is a pre-aggregation filter
    * against the current watermark — O(row), no state touched. */
  /** st21/st23 shared staging: (n_late, fed) — the arrival-shifted
    * feed where a deterministic slice of first-half events keeps its
    * EVENT clock (`ev_ts`) but ARRIVES (`ts`, the staging column) 2×
    * the corpus span later, strictly after the on-time replay advanced
    * the watermark past its windows. The staging `require` keeps both
    * gates honest — zero late events would pass the drop law
    * vacuously. */
  private def lateFeed(s: SparkSession, d: String,
      gate: String): DataFrame = {
    val ev = Tables.events(s, d)
    // 1-row span anchor (the tw6/la4 pattern) to cut the midpoint and
    // the arrival shift; lo/hi also parameterize the oracle implicitly
    // (it recomputes them from the same table).
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val mid = lo + (hi - lo) / 2
    val shift = 2L * (hi - lo)
    val isLate = col("event_id") % 97 === 0 && unix_micros(col("ts")) < mid
    // non-emptiness via isEmpty (a LIMIT-1 scan), not count(): st21
    // needs only the boolean, and this staging runs on every gate call
    require(!ev.filter(isLate).isEmpty,
      s"$gate staged ZERO late events — the drop law would pass vacuously")
    ev.select(
      col("event_id"), col("event_type"), col("value"),
      col("ts").as("ev_ts"),
      when(isLate, timestamp_micros(unix_micros(col("ts")) + shift))
        .otherwise(col("ts")).as("ts"))
  }

  /** st21/st23 shared pipeline: the watermarked hour×type rollup over
    * the EVENT clock (st12's shape on the dual-clock feed). */
  private def lateAggPipe(df: DataFrame): DataFrame =
    df.withWatermark("ev_ts", "10 minutes")
      .groupBy(window(col("ev_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(Tables.valueCents).as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  private def st21(s: SparkSession, d: String): DataFrame = {
    val fed = lateFeed(s, d, "st21")
    replayedDf(s, s"$d|late21", fed, "st21")(lateAggPipe)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("value_cents"))
  }

  private val st21Sql = TimeWindows.evsSql +
    s""", b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM evs),
       |ontime AS (
       |  SELECT e.* FROM evs e, b
       |  WHERE NOT (e.event_id % 97 = 0
       |             AND e.ts_us < b.lo + (b.hi - b.lo) // 2)),
       |wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM ontime)
       |SELECT window_start_us, event_type,
       |  count(*) AS n_events,
       |  CAST(sum(value_cents) AS BIGINT) AS value_cents
       |FROM (
       |  SELECT (ts_us // $HourUs) * $HourUs AS window_start_us,
       |    event_type, value_cents
       |  FROM ontime) t, wm
       |WHERE window_start_us + $HourUs <= wm_ms * 1000
       |GROUP BY window_start_us, event_type""".stripMargin

  // --------------------------------------------------------------- st23

  /** st23: the LATE-DROP LEDGER — st21 proves late rows are DROPPED by
    * pinning the on-time aggregate; a production pipeline also COUNTS
    * them (`StreamingQueryProgress.stateOperators
    * .numRowsDroppedByWatermark` — the metric every streaming SLO
    * dashboard alerts on). This gate re-runs st21's exact pipeline
    * over the SAME staged arrival-shifted source while capturing the
    * per-batch progress ledger, and emits the ledger AS DATA: total
    * rows dropped by the watermark, how many micro-batches dropped
    * anything, and the on-time emission count — oracle-pinned against
    * the same late-set predicate the staging used, so the engine's
    * runtime metric must equal its closed form EXACTLY (not ≥, not ±).
    * What the metric actually counts is itself part of the gated law —
    * and it is NOT raw rows: the aggregation pipeline partial-combines
    * MAP-SIDE before the stateful operator, so the watermark filter
    * sees (window × type) PARTIAL rows and `numRowsDroppedByWatermark`
    * counts dropped partials — (group × input split) rows, which the
    * gate pins to exactly the GROUP count by fixing the read regime
    * (one split per slice file via maxPartitionBytes; a file big
    * enough to split would legitimately count a group once per split).
    * At sf0.1: 517 late rows → 480 dropped partials — a dashboard
    * reading this metric as an event count under-reports exactly when
    * drops are bursty, which is the production incident where it
    * matters; the gate emits BOTH numbers. All late rows arrive in ONE batch (the slice algebra
    * pins it), so per-batch distinct ≡ global distinct and the oracle
    * states the group count corpus-wide. The batch attribution is
    * law-checked too: the oracle recomputes which arrival slices
    * contain late rows, so a drop leaking into a different batch flips
    * n_drop_batches. An engine-side `require` pins ledger ==
    * staged-late-GROUP-count before the oracle compare, and the shared
    * staging `require` keeps the gate non-vacuous.
    *
    * Scale shape: st21's exactly — the ledger is free (the engine
    * already maintains it per batch); surfacing it is a driver-side
    * read of bounded query-progress metadata, never a data scan. */
  private def st23(s: SparkSession, d: String): DataFrame = {
    val fed = lateFeed(s, d, "st23")
    val late = fed.filter(unix_micros(col("ev_ts")) < unix_micros(col("ts")))
    val nLate = late.count()
    // the ledger's unit: (hour-window × type) PARTIAL groups among the
    // late set — what the post-partial-agg watermark filter sees
    val nLateGroups = late
      .select(expr(s"unix_micros(ev_ts) div ${HourUs}L").as("hb"),
        col("event_type"))
      .distinct().count()
    // shared with st21's replayedDf staging (key|slices shape)
    val src = stageAny(s"$d|late21|4", 4)(fed)
    // PIN the one-split-per-slice-file read regime the closed form
    // depends on: partial combining is per INPUT PARTITION, so a slice
    // file large enough to split (maxSplitBytes) would count a group
    // once per split and inflate the ledger past the group count — a
    // correct metric reading, but a different closed form. 1 GiB of
    // headroom covers ~500× the 100× probe's slice size; past that a
    // deployment reads the counter as (group × split) partials, which
    // is what the docstring teaches.
    val r = rig(s, "st23",
      Map("spark.sql.files.maxPartitionBytes" -> "1073741824"))
    val q = r.toParquet(lateAggPipe(r.slices(src)))
    // per-batch drop ledger: batchId -> rows the watermark rejected
    // (recentProgress retains 100 entries; this replay runs ≤ 6
    // batches). Keyed dedupe guards against a progress re-report.
    val drops: Map[Long, Long] = q.recentProgress.toSeq
      .map(p => p.batchId ->
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      .toMap
    val totalDropped = drops.valuesIterator.sum
    val nDropBatches = drops.valuesIterator.count(_ > 0).toLong
    require(totalDropped == nLateGroups,
      s"late-drop ledger ($totalDropped) != staged late GROUP count " +
        s"($nLateGroups from $nLate rows) — the watermark either leaked " +
        "a late group into state or dropped an on-time one")
    graft.Receipts.record("st23_stream_drop_ledger",
      s"numRowsDroppedByWatermark summed over ${drops.size} batch " +
        s"progress entries == the staged late set exactly — in the " +
        s"metric's true unit, post-partial-agg (window x type) GROUPS " +
        s"($nLateGroups groups from $nLate late rows); drops confined " +
        s"to $nDropBatches batch(es)")
    val nWindows = r.sunk(s).count()
    s.range(1).select(
      lit(nLate).as("n_late_staged"),
      lit(nLateGroups).as("n_late_groups"),
      lit(totalDropped).as("n_dropped_wm"),
      lit(nDropBatches).as("n_drop_batches"),
      lit(nWindows).as("n_ontime_windows"))
  }

  private val st23Sql = TimeWindows.evsSql +
    s""", b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM evs),
       |late AS (
       |  SELECT e.*, e.ts_us + 2 * (b.hi - b.lo) AS arr_us FROM evs e, b
       |  WHERE e.event_id % 97 = 0
       |    AND e.ts_us < b.lo + (b.hi - b.lo) // 2),
       |ontime AS (
       |  SELECT e.* FROM evs e, b
       |  WHERE NOT (e.event_id % 97 = 0
       |             AND e.ts_us < b.lo + (b.hi - b.lo) // 2)),
       |arr AS (
       |  SELECT min(a) AS alo, max(a) AS ahi FROM (
       |    SELECT arr_us AS a FROM late
       |    UNION ALL SELECT ts_us AS a FROM ontime) u),
       |sp AS (SELECT alo, (ahi - alo) // 4 + 1 AS span FROM arr),
       |dbatch AS (
       |  SELECT count(DISTINCT (l.arr_us - sp.alo) // sp.span)
       |    AS n_drop_batches
       |  FROM late l, sp),
       |wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM ontime),
       |win AS (
       |  SELECT count(*) AS n_ontime_windows FROM (
       |    SELECT 1 FROM (
       |      SELECT (ts_us // $HourUs) * $HourUs AS ws, event_type
       |      FROM ontime) t, wm
       |    WHERE ws + $HourUs <= wm_ms * 1000
       |    GROUP BY ws, event_type) g),
       |lg AS (
       |  SELECT count(DISTINCT (ts_us // $HourUs, event_type))
       |    AS n_late_groups
       |  FROM late)
       |SELECT (SELECT count(*) FROM late) AS n_late_staged,
       |  (SELECT n_late_groups FROM lg) AS n_late_groups,
       |  (SELECT n_late_groups FROM lg) AS n_dropped_wm,
       |  (SELECT n_drop_batches FROM dbatch) AS n_drop_batches,
       |  (SELECT n_ontime_windows FROM win) AS n_ontime_windows""".stripMargin

  // --------------------------------------------------------------- st22

  /** st22: PER-BATCH DIMENSION REFRESH in foreachBatch — the other
    * production foreachBatch contract (st13 is the upsert SINK; this
    * is the slowly-changing LOOKUP): a stream-dim join where the dim
    * is RE-READ from storage inside every micro-batch, so dim rows
    * published between batches are visible to the next batch. The
    * distinction gated here is load-bearing: a static DataFrame
    * embedded in the streaming plan pins its FILE LISTING at query
    * start and never sees appends — re-reading inside foreachBatch
    * is the refresh idiom a real deployment uses, and this gate
    * proves the refresh actually lands batch-by-batch.
    *
    * Deterministic refresh schedule: the dim maps bucket
    * (user_id % 4) → tier, version 0 = all 'base'; after processing
    * the batch whose slice id is k the gate PUBLISHES the upgrade
    * for bucket k ('t<k>', version k+1). An event in slice k
    * therefore sees upgrades for exactly the buckets whose slice
    * preceded k: tier = 't<bucket>' iff bucket < slice AND slice
    * `bucket` was non-empty (the publish rides that batch), else
    * 'base' — the closed form the oracle restates over the slice-cut
    * algebra. Slice ids come from each batch's min event time via
    * the SAME bounds algebra that cut the slices (ob5's discipline),
    * so an empty middle slice shifts nothing. Effective dim =
    * max-version row per bucket (max_by), so publishes are
    * idempotent under batch retry.
    *
    * Scale shape: the dim re-read is a bounded-dim scan broadcast
    * per batch (a production dim is partition-pruned + broadcast the
    * same way); the batch side never shuffles for the join; the sink
    * appends ≤ |buckets|·|tiers| map-side-combined rows per batch. */
  private def st22(s: SparkSession, d: String): DataFrame = {
    val src = stageSlices(s, d, 4)
    val r = rig(s, "st22")
    val dimDir = new File(r.root, "dim")
    // v0: every bucket serves 'base'. Dim and rollups are read back
    // with their written schema: no inference job
    val dim0 = r.iso.range(4).select(col("id").as("bucket"), lit("base").as("tier"),
      lit(0L).as("version"))
    dim0.write.parquet(dimDir.getPath)
    val outSchema = new java.util.concurrent.atomic.AtomicReference[StructType]()
    r.run(r.slices(src).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mn = batch.agg(min(unix_micros(col("ts")))).head()
        if (!mn.isNullAt(0)) {
          val sliceId = src.sliceOf(mn.getLong(0))
          val sp = batch.sparkSession
          val eff = sp.read.schema(dim0.schema).parquet(dimDir.getPath)
            .groupBy(col("bucket"))
            .agg(max_by(col("tier"), col("version")).as("tier"))
          // batchId-keyed partition dir + OVERWRITE: foreachBatch is
          // at-least-once, so a retried batch must REPLACE its own
          // prior output, never append a second copy (st13's upsert
          // discipline applied to the rollup side; the dim publish
          // below was already retry-idempotent via max_by(version)).
          val rolled = batch.withColumn("bucket", pmod(col("user_id"), lit(4L)))
            .join(broadcast(eff), "bucket")
            .groupBy(col("bucket"), col("tier"))
            .agg(count(lit(1)).as("n_events"),
              sum(Tables.valueCents).as("value_cents"))
          outSchema.set(rolled.schema)
          rolled.write.mode("overwrite")
            .parquet(new File(r.out, s"batch_id=$batchId").getPath)
          // publish THIS slice's upgrade — visible from the next batch on
          sp.range(1).select(lit(sliceId).as("bucket"),
            lit(s"t$sliceId").as("tier"), lit(sliceId + 1).as("version"))
            .write.mode("append").parquet(dimDir.getPath)
        }
        ()
      })
    s.read.schema(outSchema.get).parquet(r.out.getPath)
      .groupBy(col("bucket"), col("tier"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("value_cents")).as("value_cents"))
  }

  private val st22Sql = TimeWindows.evsSql +
    """, b AS (
      |  SELECT min(ts_us) AS lo, (max(ts_us) - min(ts_us)) // 4 + 1 AS span
      |  FROM evs),
      |sl AS (
      |  SELECT user_id % 4 AS bucket, (ts_us - lo) // span AS slice,
      |    value_cents
      |  FROM evs, b),
      |ne AS (SELECT DISTINCT slice FROM sl)
      |SELECT bucket,
      |  CASE WHEN bucket < slice AND bucket IN (SELECT slice FROM ne)
      |       THEN 't' || bucket ELSE 'base' END AS tier,
      |  count(*) AS n_events,
      |  CAST(sum(value_cents) AS BIGINT) AS value_cents
      |FROM sl GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------------- registry

  // ---------------------------------------------------------------- st24

  /** st24: STREAMING KLL — la25's mergeable quantile sketch maintained
    * BY THE STREAMING ENGINE: a watermarked 1-hour windowed aggregation
    * whose aggregate is `kll_sketch(value_cents, 64)`, so the sketch
    * buffer lives in the state store and crosses micro-batch boundaries
    * through the serialize/deserialize/merge path (the 2-slice replay
    * pins at least one interior boundary; windows straddling it
    * accumulate in batch 0 and finish in batch 1). Incremental
    * maintenance is the REASON mergeable summaries exist, and the KLL
    * bound's merge-order independence is what keeps the certificate
    * valid here: the engine decides when partials merge, and
    * |estRank − trueRank| ≤ err holds regardless
    * ([[graft.functions.KllBuffer]]).
    *
    * The emitted sketch structs are audited batch-side with la25's
    * arithmetic per (window, type) group — answer v_q = first item
    * with cumw·den ≥ num·n, true rank recomputed from the events
    * table, certificate r_q ∈ [t − err, t − 1 + maxw + err] — and the
    * output carries only deterministic columns: n_rows, the exact
    * rank-selected p50/p95 (oracle-recomputed), and the always-true
    * certificates. Emission law = st12's (window end ≤ watermark).
    *
    * Scale shape: state per open (window × type) group is one
    * O(k·log n) sketch buffer; the output side is the win — a
    * per-window quantile dashboard with NO per-window sort and no
    * (window, value) dim anywhere in the serving path. The exact audit
    * is bench-side only; drop it and the stream IS the dashboard. */
  /** st24's emitted frame (window_start_us, event_type, n_rows, sk) —
    * exposed so `Replica.checks` can assert the STATE-SIZE law on the raw
    * sketch structs (retained items ≤ k·levels) at replica scale,
    * which the gate's deterministic output deliberately drops. */
  private[graft] def st24Emitted(s: SparkSession, d: String): DataFrame =
    replayed(s, d, "st24", slices = 2) { ev =>
      ev.select(col("ts"), col("event_type"), Tables.valueCents.as("value_cents"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(expr("kll_sketch(value_cents, 64)").as("sk"),
          count(lit(1)).as("n_rows"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"), col("n_rows"), col("sk"))
    }

  /** st24's audit half, split out so `Replica.checks` can compose the gate
    * from ONE st24Emitted replay (state-law asserts + certificates)
    * instead of replaying the stream twice at replica scale. */
  private[graft] def st24Audit(s: SparkSession, d: String,
      emitted: DataFrame): DataFrame = {
    val evs = Tables.events(s, d).select(
      expr(s"(unix_micros(ts) div ${HourUs}L) * ${HourUs}L")
        .as("window_start_us"),
      col("event_type"),
      Tables.valueCents.as("value_cents"),
      col("event_id"))
    // the answer/rank/exact/certificate arithmetic is the SHARED
    // [[KllAudit]] — one definition with la25 (the batch spelling)
    KllAudit.certify(emitted, evs, Seq("window_start_us", "event_type"),
      Seq(("p50", 1, 2), ("p95", 19, 20)))
  }

  private def st24(s: SparkSession, d: String): DataFrame =
    st24Audit(s, d, st24Emitted(s, d))

  private val st24Sql = TimeWindows.evsSql +
    s""", wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM evs),
       |b AS (
       |  SELECT (ts_us // $HourUs) * $HourUs AS window_start_us,
       |    event_type, value_cents, event_id
       |  FROM evs),
       |r AS (
       |  SELECT window_start_us, event_type, value_cents,
       |    row_number() OVER (PARTITION BY window_start_us, event_type
       |      ORDER BY value_cents ASC, event_id ASC) AS rk,
       |    count(*) OVER (PARTITION BY window_start_us, event_type) AS tot
       |  FROM b)
       |SELECT window_start_us, event_type, count(*) AS n_rows,
       |  min(CASE WHEN rk * 2 >= tot THEN value_cents END)
       |    AS exact_p50_cents,
       |  min(CASE WHEN rk * 20 >= tot * 19 THEN value_cents END)
       |    AS exact_p95_cents,
       |  TRUE AS certified_p50, TRUE AS certified_p95
       |FROM r, wm
       |WHERE window_start_us + $HourUs <= wm_ms * 1000
       |GROUP BY window_start_us, event_type""".stripMargin

  // ---------------------------------------------------------------- st25

  /** st25: STREAMING MISRA-GRIES SURVIVING A RESTART — tx29's
    * heavy-hitter summary maintained by the streaming engine
    * (mirroring how st24 carries la25's KLL), and additionally put
    * through st19's kill-and-resume rig: the MG counters live in the
    * state store, the query is KILLED mid-replay, and a second query
    * reopens the same checkpoint — so the summary crosses not just
    * micro-batch boundaries (serialize/merge) but a full state-store
    * recovery (snapshot reload). This is the one seam tx29's batch
    * gate never exercises, and the MG law is exactly what makes it
    * safe: never-overcount and err ≤ n/(k+1) hold under ANY merge
    * tree ([[graft.functions.MgTopKAgg]] — Agarwal et al. 2012), so
    * the engine's arbitrary partial-merge order AND the restart's
    * snapshot+backlog merge both preserve the certificates.
    *
    * Pipeline: per 1-DAY watermarked window, `mg_topk(uid, 8)` over
    * the event user ids (k = 8 « per-window user cardinality at every
    * sf — hourly windows at sf0.001 hold ≤ 6 users, a day holds ≥ 11,
    * so daily is the grain where the
    * summary genuinely discards mass and err > 0 — the certificates
    * are load-bearing, not vacuous). Audit (tx29's, per emitted
    * window, for the exact top-5 users both engines re-derive):
    * `certified` (exact − err ≤ mg_cnt ≤ exact), `hh_present` (any
    * user with exact > err is IN the summary), `err_law_ok`
    * (err·(k+1) ≤ n). MG counters are merge-order-dependent, so only
    * the deterministic columns are emitted (the la25/st24 discipline);
    * the restart receipts (batch numbering continued, emission split)
    * are require'd by the shared rig.
    *
    * Scale shape: state per open window is one O(k) counter map —
    * the (window, user) dim a top-users dashboard would otherwise
    * maintain is exactly the corpus-sized state this replaces; the
    * exact audit is bench-side only and drops at serving time.
    * Restart cost = one offset file + the last state snapshot,
    * independent of ingested history. */
  private def st25(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val emitted = stateRestart(s, d, "st25", "st25_stream_mg_restart",
      Map.empty, ev =>
        ev.select(col("ts"), col("user_id").cast("string").as("uid"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 day").as("w"))
          .agg(expr(s"mg_topk(uid, $K)").as("sk"), count(lit(1)).as("n_rows"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("n_rows"), col("sk")))
    // the certificates must be LOAD-BEARING: at least one emitted
    // window must have genuinely compacted (err > 0). Deterministic
    // despite merge-order-dependent counters: err > 0 iff the window
    // saw more than k distinct keys, under ANY merge tree.
    val es = emitted.agg(count(lit(1)).as("w"),
      sum(when(col("sk.err") > 0, 1L).otherwise(0L)).as("pos")).head()
    require(es.getLong(1) > 0,
      s"MG never compacted in ${es.getLong(0)} windows: certificates vacuous")
    graft.Receipts.record("st25_stream_mg_restart",
      graft.Receipts.get("st25_stream_mg_restart").getOrElse("") +
        s"; MG compacted (err>0) in ${es.getLong(1)} of ${es.getLong(0)} " +
        "emitted windows — never-overcount certified through the restart")
    val exact = Tables.events(s, d).select(
        expr(s"(unix_micros(ts) div ${DayUs}L) * ${DayUs}L")
          .as("window_start_us"),
        col("user_id").cast("string").as("uid"))
      .groupBy(col("window_start_us"), col("uid"))
      .agg(count(lit(1)).as("exact_cnt"))
    val top = exact.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window_start_us"))
          .orderBy(col("exact_cnt").desc, col("uid").asc)))
      .where(col("rk") <= 5).drop("rk")
    top.join(emitted, Seq("window_start_us"))
      .withColumn("mg_cnt", coalesce(
        try_element_at(filter(col("sk.items"),
          i => i.getField("tok") === col("uid")), lit(1)).getField("cnt"),
        lit(0L)))
      .select(col("window_start_us"), col("uid"), col("n_rows"),
        col("exact_cnt"),
        (col("mg_cnt") >= col("exact_cnt") - col("sk.err") &&
          col("mg_cnt") <= col("exact_cnt")).as("certified"),
        (col("exact_cnt") <= col("sk.err") || col("mg_cnt") > 0)
          .as("hh_present"),
        (col("sk.err") * (K + 1) <= col("sk.n")).as("err_law_ok"))
  }

  private val st25Sql = TimeWindows.evsSql +
    s""", wm AS (SELECT max(ts_us) // 1000 - 600000 AS wm_ms FROM evs),
       |b AS (
       |  SELECT (ts_us // $DayUs) * $DayUs AS window_start_us,
       |    CAST(user_id AS VARCHAR) AS uid
       |  FROM evs),
       |c AS (
       |  SELECT window_start_us, uid, count(*) AS exact_cnt
       |  FROM b GROUP BY 1, 2),
       |t AS (
       |  SELECT window_start_us, uid, exact_cnt,
       |    row_number() OVER (PARTITION BY window_start_us
       |      ORDER BY exact_cnt DESC, uid ASC) AS rk,
       |    CAST(sum(exact_cnt) OVER (PARTITION BY window_start_us)
       |      AS BIGINT) AS n_rows
       |  FROM c)
       |SELECT window_start_us, uid, n_rows, exact_cnt,
       |  TRUE AS certified, TRUE AS hh_present, TRUE AS err_law_ok
       |FROM t, wm
       |WHERE rk <= 5 AND window_start_us + $DayUs <= wm_ms * 1000""".stripMargin

  val queries: Seq[GateQuery] = Seq(
    GateQuery("st1_stream_quota", st1, Some(st1Sql),
      "streaming quota admission replay ≡ greedy closed form"),
    GateQuery("st2_stream_rate", st2, Some(st2Sql),
      "streaming rate-limit dispatch replay ≡ prefix-max closed form"),
    GateQuery("st3_stream_scd2", st3, Some(st3Sql),
      "streaming SCD2 CDC replay ≡ change-point compression"),
    GateQuery("st4_stream_ttl", st4, Some(st4Sql),
      "streaming TTL cache with event-time timers ≡ simulated micro-batch timer protocol"),
    GateQuery("st5_stream_ttl_v2", st5, Some(st4Sql),
      "the same TTL timer protocol on transformWithState v2 (RocksDB store) ≡ the same oracle"),
    GateQuery("st6_stream_join", st6, Some(st6Sql),
      "stream-stream left-outer range join ≡ batch matches + watermark-evicted 'unknown' rows"),
    GateQuery("st7_stream_sessions", st7, Some(st7Sql),
      "native session_window replay ≡ gaps-and-islands + watermark emission cut"),
    GateQuery("ob5_stream_observe", ob5, Some(ob5Sql),
      "Dataset.observe on a stream: per-micro-batch metrics ≡ the slice-cut algebra"),
    GateQuery("st8_stream_docprep", st8, Some(st8Sql),
      "streaming corpus-prep funnel with watermark-evicted dedup state ≡ slice-algebra emission counts"),
    GateQuery("st9_stream_decontaminate", st9, Some(st9Sql),
      "streaming benchmark decontamination ≡ dd15's containment closed form"),
    GateQuery("st10_stream_increm_dedup", st10, Some(st10Sql),
      "streaming incremental dedup vs static history ≡ dd13's exact+band decision"),
    GateQuery("st11_stream_perceptual", st11, Some(st11Sql),
      "streaming perceptual ingest vs published index ≡ mm6/mm7 digest+band decision"),
    GateQuery("st12_stream_tumbling", st12, Some(st12Sql),
      "append-mode watermarked tumbling agg ≡ epoch-aligned hour rollup cut at end ≤ final watermark"),
    GateQuery("st13_stream_upsert", st13, Some(st13Sql),
      "foreachBatch CDC-apply: versioned-by-batchId keyed upsert table ≡ whole-log closed form"),
    GateQuery("st14_stream_dropdup", st14, Some(st14Sql),
      "built-in dropDuplicatesWithinWatermark under st8's clock ≡ the probed eviction-law slice algebra"),
    GateQuery("st15_stream_chained", st15, Some(st15Sql),
      "chained stateful ops (dedup → tumbling agg) ≡ st14's eviction law composed with st12's emission law"),
    GateQuery("st16_stream_dsv2_sink", st16, Some(st16Sql),
      "custom DSv2 streaming sink: epoch-keyed staged commits under the replay, served back via its own scan"),
    GateQuery("st17_stream_dsv2_source", st17, Some(st17Sql),
      "custom DSv2 streaming source: admission-controlled poll loop drains the id universe ≡ the batch scan's rollup"),
    GateQuery("st18_stream_source_restart", st18, Some(st18Sql),
      "checkpoint restart of the DSv2 source over a GROWN universe: resumes at the committed offset, union exactly-once"),
    GateQuery("st19_stream_state_restart", st19, Some(st12Sql),
      "checkpoint restart of a STATEFUL query mid-replay: window store + watermark resume, sink ≡ the uninterrupted run's oracle"),
    GateQuery("st20_stream_rocksdb_restart", st20, Some(st12Sql),
      "st19's kill-and-resume on RocksDB + changelog checkpointing: snapshot + changelog-tail replay recovery, same oracle"),
    GateQuery("st21_stream_late_drop", st21, Some(st21Sql),
      "events arriving beyond the watermark are dropped: late slice fed last, drop set oracle-pinned"),
    GateQuery("st22_stream_dim_refresh", st22, Some(st22Sql),
      "foreachBatch dim refresh: per-batch re-read of a versioned lookup, upgrades land batch-by-batch ≡ slice closed form"),
    GateQuery("st23_stream_drop_ledger", st23, Some(st23Sql),
      "numRowsDroppedByWatermark ledger ≡ the staged late set exactly; drop batches pinned by the slice algebra"),
    GateQuery("st24_stream_kll", st24, Some(st24Sql),
      "streaming KLL: the quantile sketch maintained in the state store across micro-batches, certificates batch-audited"),
    GateQuery("st25_stream_mg_restart", st25, Some(st25Sql),
      "streaming Misra-Gries through a kill-and-resume: MG counters in the state store survive a checkpoint restart, never-overcount certified"))
}
