package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The diagnostics entry point; no contract output depends on it. Tables
  * come from `$SPARK_GRAFT_SF_DIR`, extra builder settings from `--conf`
  * (they also reach the streaming replays' `newSession()` children).
  *
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] plan <outDir> <suffix> <gate,...>"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] showcase"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] profile <gate,...> [reps]"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] replica <outDir> <factor> [grown]"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] scale [check,...]"
  *
  * `plan` writes each gate's plan ([[planText]]) to
  * `<outDir>/<gate>_<suffix>.txt`: run it before a change with `before`
  * and after it with `after`. A gate that fails, or that the tree lacks,
  * is named and the run exits 1. `showcase` writes `./PLANS.md`, the
  * plans of the [[showcase]] gates, committed so plan quality is
  * reviewable without running anything; the committed file is built at
  * sf0.001 with `SPARK_GRAFT_CPUS=8` and the default JVM heap (broadcast
  * stage sizes in the plans scale with it).
  * `profile` runs each gate `reps` times (default 3) and prints per rep
  * the rows, wall and every Spark job the gate spawned, then the gate's
  * walls and their warm (rep ≥ 2) minimum.
  * `replica` writes the tables `factor`× into `outDir` ([[Replica.write]]);
  * `scale` runs the named [[Replica.checks]] (all when none is named)
  * and exits 1 naming every check that failed. Point
  * `SPARK_GRAFT_SF_DIR` at a replica to profile, bench or verify any
  * gate at that scale. */
object Diag {
  sealed trait Cmd
  final case class Plan(outDir: String, suffix: String, gates: Seq[String]) extends Cmd
  case object Showcase extends Cmd
  final case class Profile(gates: Seq[String], reps: Int) extends Cmd
  final case class Replicate(outDir: String, factor: Int, grown: Boolean) extends Cmd
  final case class Scale(checks: Seq[String]) extends Cmd

  private val usage = "usage: Diag [--conf k=v;k2=v2] plan <outDir> <suffix> <gate,...> | " +
    "showcase | profile <gate,...> [reps] | replica <outDir> <factor> [grown] | scale [check,...]"

  /** The command and its `--conf` settings; pure, so a bad command
    * line fails before any session exists. */
  def parse(args: Seq[String]): (Cmd, Seq[(String, String)]) = args match {
    case "--conf" +: spec +: rest => (command(rest), GraftSession.parseConfs(spec, "--conf"))
    case _ => (command(args), Nil)
  }

  /** `plan` takes gate names as given (the tree before a change may
    * lack a gate); `profile` rejects unknown ones. */
  private def command(args: Seq[String]): Cmd = args match {
    case Seq("plan", outDir, suffix, gates) =>
      Plan(outDir, suffix, gates.split(",").toSeq.filter(_.nonEmpty))
    case Seq("showcase") => Showcase
    case Seq("profile", gates, reps @ _*) if reps.size <= 1 =>
      val n = reps.headOption.fold(Option(3))(_.toIntOption).filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(s"reps must be a positive integer; $usage"))
      Profile(Verify.gateList(gates), n)
    case Seq("replica", outDir, factor, grown @ _*) if grown.isEmpty || grown == Seq("grown") =>
      val n = factor.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"factor must be a positive integer; $usage"))
      Replicate(outDir, n, grown.nonEmpty)
    case Seq("scale") => Scale(Replica.checks.keys.toSeq)
    case Seq("scale", names) => Scale(Verify.nameList(names, Replica.checks.keys.toSeq, "check"))
    case _ => throw new IllegalArgumentException(usage)
  }

  /** The PLANS.md gates, each with the property its plan must exhibit
    * (also asserted in PlanShapeSpec and by GateRegistrySpec's law lint
    * on the committed text). */
  private val showcase: Seq[(String, String)] = Seq(
    "ca6_final_metrics" ->
      "Flagship channel analytics: ONE events scan feeds both rank windows and the final aggregation; ≤2 exchanges.",
    "q2_dim_join" ->
      "Dimension chain: every dim side a BroadcastHashJoin off exact connector statistics — no shuffle joins.",
    "q10_bucketed_join" ->
      "Co-located bucketed join: SortMergeJoin directly over bucket-sorted scans — no Exchange, no Sort below the join.",
    "la1_filter_paginate" ->
      "Pagination: the level filter evaluates in the scan stage (a CASE mapping — not a source-pushable predicate; s2/s8 gate true source pushdown), per-partition top-k (TakeOrderedAndProject) — no exchange, no global sort.",
    "tw7_range_join" ->
      "Range join: bin-exploded EQUI-join (hash joins only) where the naive plan is a nested-loop — interval count stops mattering.",
    "s6_connector_group_agg" ->
      "Grouped aggregate pushdown: the scan emits 5 pre-aggregated rows; no Aggregate node anywhere in the plan.",
    "cp1_stratified_sample" ->
      "Stratified sample: rank ≤ k prunes map-side (partial WindowGroupLimit) BEFORE the stratum exchange.",
    "tx8_kmv_cardinality" ->
      "KMV sketch: bounded-state ObjectHashAggregate (kmv_kmin) vs the exact count-distinct side it replaces.",
    "dd3_minhash_lsh" ->
      "MinHash-LSH: one-pass native sketch (narrow map), bucket-group pair-gen, single melt verify join-back — ≤2 corpus scans.",
    "dd4_simhash" ->
      "SimHash: native one-pass sketch expression, codegen'd band self-join, hamming filter BEFORE the dedup exchange.",
    "sim9_ann_multiband" ->
      "OR-amplified ANN: slim (query, candidate) pairs through the band join; vectors join back broadcast for scoring only.",
    "sim10_pq_encode" ->
      "PQ index build: the folded-codebook pq_encode expression makes encoding a ZERO-exchange narrow map (scan → project, no shuffle).",
    "sim11_adc_search" ->
      "ADC over PQ codes: one-row-per-query distance tables broadcast; ADC is 8 codegen'd lookups in the projection (no aggregation exchange); the corpus side reads packed codes, never vectors; top-k prunes map-side.",
    "tw9_event_gaps" ->
      "Gap analysis: the lag window and the per-user rollup share ONE user_id exchange; the head is per-partition top-k.",
    "dd9_chunk_dedup" ->
      "Chunk (line-level) dedup: narrow chunk generator, redundancy-bounded repeated-chunk dim, per-doc reassembly — no global sort.",
    "sim12_ivfpq_search" ->
      "IVF-PQ serving path: cell pruning before any distance work, ADC over codes via shuffle-hash join, vectors never read at query time.",
    "q12_sql_exists" ->
      "SQL text surface: the correlated EXISTS decorrelates to a left-semi hash join; exact cents aggregation below it.",
    "dd13_incremental_dedup" ->
      "Incremental ingest dedup: the batch side broadcasts into history's index stream; assembly joins hash, never sort-merge.",
    "tw12_rate_limit" ->
      "Rate limiter: the throttle recurrence as its prefix-max closed form — rank window, running max, and rollup share ONE user_id exchange.",
    "dd10_canonical_select" ->
      "Quality keeper: the cluster table is dd6's per-process checkpoint (Scan ExistingRDD) — no second propagation; per-cluster argmax prunes map-side.",
    "dd15_containment_score" ->
      "Containment score: the distinct benchmark shingle universe broadcasts; the corpus explodes once and only the slim per-doc hit regroup shuffles.",
    "sim14_lloyd_refine" ->
      "Lloyd step: folded-codebook assignment rides shuffle-free under the posexplode; (cell, dim) partials combine map-side; the seed-centroid dim joins broadcast.",
    "q13_sql_not_exists" ->
      "SQL NOT EXISTS: decorrelates to a left-anti hash join BEFORE the segment rollup — only surviving customers reach the exchange.",
    "q14_bag_setops" ->
      "Bag set ops: INTERSECT ALL / EXCEPT ALL compile to tagged-union count-aggregates + Generate replicaterows — JOIN-FREE; exchanges carry (key, count) rows.",
    "la10_histogram_p95" ->
      "Histogram p95: the sketch path is a narrow bin map + a (level, bin)-grain agg; the exact rank path rides alongside as the certificate.",
    "tw15_scd2_intervals" ->
      "SCD2 build: the change-detection lag and the interval-closing lead/version windows share ONE user exchange and one sort.",
    "sim16_filtered_ivfpq" ->
      "Filtered IVFADC + refine: predicate prunes the slim postings before any distance work; ADC ranks survivors via shuffle-hash code join + broadcast tables; exact vectors join back only for the ≤50/query nominees.",
    "mm7_perceptual_neardup" ->
      "Perceptual near-dup: payload collapses to one simhash long in the projection (no payload bytes past the scan); codegen'd band self-join; hamming filter before the dedup exchange; digest flags join the pair set only.",
    "tx13_inverted_index" ->
      "Inverted index: ONE pass after the tf aggregate — rank window and final agg share a single hash(term) exchange, no branch join; the 128-entry posting head stays bounded inside collect_list (CASE nulls past rank 128).",
    "mm8_crossmodal_dedup" ->
      "Cross-modal ensemble: tagged UNION of the two blocking-bounded pair sets + one hash agg on (id1, id2) — never a full-outer join; sentinel fills keep the decision projection null-free.",
    "dd17_bloom_history" ->
      "Bloom prefilter: the bitmap's (block, word) table broadcasts — never collected — and each probe is a broadcast-hash block lookup + codegen'd shiftright/mask; only the bloom-hit slice reaches the broadcast exact-verify join.",
    "mm9_static_payload" ->
      "Static-payload detector: the whole frame redundancy profile (distinct/modal fold) runs IN-ROW over the frame array — a zero-exchange narrow map from scan to output.",
    "cp15_dataset_card" ->
      "Dataset card: three corpus scans reduce map-side to source-grain dims (only the fingerprint exchange is corpus-sized); the card assembles via BroadcastHashJoins over tiny dims.",
    "s7_connector_topn" ->
      "Top-N pushdown: the scan reports PushedTopN=25 and plans ONE ranked chunk — no Sort, no TakeOrderedAndProject, no Limit anywhere in the plan (the API's order= param answered at planning time).",
    "dd19_repeated_spans" ->
      "Repeated spans: positioned 8-gram hashes explode as a narrow map (8-byte keys + int positions, never gram text); the duplicated-gram dim is one map-side-combined hash agg; the island window and the span rollup share ONE doc_id exchange.",
    "sim19_sq8_search" ->
      "SQ8 search: the 64-row stats agg folds into encode/decode as literals, so quantization is a zero-exchange narrow map; per candidate the only pair work is one dot against the broadcast query side; top-k prunes map-side (WindowGroupLimit).",
    "tx20_host_centrality" ->
      "Host centrality: edges EXTRACT from document content (token explode → narrow hash map → map-side-combined distinct — no hosts×hosts cross join anywhere); 4 unrolled fixed-point PageRank iterations in ONE lazy plan, every per-iteration join host-grain and BroadcastHashJoin.",
    "q16_sql_lateral" ->
      "SQL LATERAL-with-LIMIT: Catalyst decorrelates the per-priority top-3 into the rank-window plan (no per-row re-execution) — hash joins and a partitioned window, never a loop.",
    "q17_incremental_summary" ->
      "Incremental MV refresh: the delta slice scans once (filter pushed to the scan), unions with the |groups|-row checkpointed S0 (Scan ExistingRDD — the base is NEVER re-read), one map-side-combined merge agg.",
    "q18_unpivot_melt" ->
      "UNPIVOT/melt: one hash agg to the |days|-row wide table, then Expand emits the 5-way long form — no exchange after the rollup.",
    "mm11_cdc_chunk_dedup" ->
      "CDC chunk dedup: content-defined chunking runs IN-ROW (boundaries + digests in one projection — payload bytes never leave the scan stage); ONE hash exchange on the 16-byte digest feeds the copy-group rank window and the media rollup.",
    "la16_time_travel" ->
      "Time travel: both snapshot reads plan from explicit manifest file lists (no directory listing of dead files); each rollup is one map-side-combined level agg over its version's files.",
    "tw18_asof_plan" ->
      "Native as-of join: the custom AsOfJoin exec node between its two key exchanges + sorts — no Union, no Window carry state; the merge is a single co-partitioned linear pass.",
    "q22_json_analytics" ->
      "Schema-on-read JSON: the explicit-schema from_json parse is a codegen'd projection on the scan (no inference pass, no second read); one map-side-combined agg to |event types| rows.",
    "cp17_pps_sample" ->
      "Systematic PPS sample: the 'serial' cumulative-weight walk as pure plan algebra — ONE range exchange of slim (id, w, rk) rows, partition-local prefix windows, the ≤32-row offset dim broadcast back; output ≤ n rows at any corpus size.",
    "sim23_radius_search" ->
      "Radius search: probed-cell candidates via broadcast probe/query dims, a threshold filter REPLACES the per-query rank window (no sort at all on the serving leg); the brute-force truth leg rides alongside as the priced recall control.",
    "sim24_dominant_direction" ->
      "Gram-matrix power iteration: ONE corpus scan through the bounded-state moment_i64 aggregate (state = 4096 longs/partition, no row explosion); the matrix is dim²-bounded so the four matvec iterations run driver-local — nothing corpus-sized moves twice, and nothing but the single agg runs as a job (r15: 27 jobs → 5).",
    "mm12_aspect_buckets" ->
      "Aspect bucketing: the catalog argmin is a zero-join codegen'd projection (array_position over inline distortions); the whole plan is scan -> project -> one 5-group hash agg.",
    "q25_skew_join" ->
      "AQE skew-join split: the gate returns collected rows (a LocalTableScan here), so the evidence is the RECEIPT — the executed isolated-session plan's skew=true line, require'd in-gate on every run.",
    "st19_stream_state_restart" ->
      "Stateful kill-and-resume (default store): the sink read-back plan is ordinary; the evidence is the RECEIPT — batch numbering continued across the restart and run 1's emission is a nonempty proper prefix, require'd in-gate.",
    "st20_stream_rocksdb_restart" ->
      "Stateful kill-and-resume on RocksDB + changelog checkpointing: same receipts as st19 plus .changelog files require'd under the checkpoint state dir (a silently ignored provider conf cannot fake the pass).",
    "la22_dynamic_overwrite" ->
      "Dynamic partition overwrite backfill: the evidence is the RECEIPT — untouched day partitions byte-identical (name + mtime), touched partitions rewritten, blind retry idempotent, require'd in-gate on every run.",
    "q26_cube" ->
      "CUBE grouping sets: all four marginals from ONE scan — a single Expand feeds one map-side-combined hash agg; no per-marginal re-scan, no Union.",
    "cp18_water_fill" ->
      "Water-filling allocation: the corpus is touched ONCE (map-side-combined token agg); the fixed point is pure window algebra on the bounded source dim — one plan branch, the dim-grain sort shared by the Window nodes.",
    "sim25_maxsim_rerank" ->
      "MaxSim late-interaction re-rank: slim (query, candidate) pairs through the band join; token slices + norms precompute per side; the query side broadcasts; per-pair scoring is a narrow 4x4-dot projection; top-k prunes map-side.",
    "tx27_linear_probe" ->
      "Closed-form linear probe: ONE narrow scan, one map-side-combined moment agg to the source dim, the fit algebra a join-free window-free projection on it — a regression for the cost of a token count.",
    "mm13_scene_cuts" ->
      "Scene cuts: frames explode as a narrow map (8-byte hashes + int positions — payload bytes never leave the scan stage); the lag window and the per-media rollup share ONE media_id exchange.",
    "tx28_classifier_inference" ->
      "Folded-weights classifier inference: the trained weight vector lives in the projection as LITERALS (no weights table, no join, no UDF) — scan -> codegen'd integer score map -> one map-side-combined source agg; the cheapest possible full-corpus pass.",
    "mm14_prep_funnel" ->
      "End-to-end media prep funnel in ONE lazy plan: payload bytes never leave the scan stage (digests/sketches/counts move); ONE digest exchange for the canonical window; band self-join and drop-set apply are SHUFFLE-HASH joins (never sort-merge); the lineage audit anchor broadcasts as one row.",
    "st23_stream_drop_ledger" ->
      "Late-drop ledger: the output is the collected progress metric, so the evidence is the RECEIPT — numRowsDroppedByWatermark summed over the batch progress entries equals the staged late set exactly, require'd in-gate on every run.",
    "la24_orc_roundtrip" ->
      "ORC round-trip: the read-back scan prunes to the single level=PURCHASE partition dir (PartitionFilters) AND pushes the value predicate into the ORC reader's row-group stats (PushedFilters) — one pruned columnar scan feeds a map-side-combined day rollup.",
    "sim27_ivf_sq8" ->
      "IVF-SQ8 serving: cell pruning bounds candidates before any distance work (broadcast probe dims), the SQ8 reconstruction table joins SHUFFLE-HASH (corpus-sized — never broadcast, never sort-merge), the asymmetric distance is one codegen'd dot per pair, top-10 prunes map-side.",
    "mm15_clip_sample" ->
      "Clip sampling: frames explode narrow; three slim exchanges at strictly SHRINKING grain (media lag window -> (media, shot) rollup -> media top-2 rank) — no join anywhere, output <=2 rows per media by construction.",
    "la25_kll_quantiles" ->
      "Mergeable KLL quantile sketch: the sketch pass is ONE bounded-state ObjectHashAggregate (kll_sketch) — drop the audit columns and that agg IS the gate; the <=levels-row answer frame joins back BROADCAST for the exact-rank audit, and the only per-row sort is the exact-quantile audit window the sketch exists to replace.",
    "dd21_exact_substring" ->
      "ExactSubstr at the 50-token grain: positioned window hashes explode as a narrow map (8-byte keys + int positions, never window text); the duplicated-window dim is one map-side-combined hash agg; every join is SHUFFLE-HASH (never sort-merge, never nested-loop); the island window and the doc rollup share ONE doc_id-compatible exchange chain.",
    "tx29_mg_heavy_hitters" ->
      "Misra-Gries heavy hitters: the O(k)-state summary is one bounded-state ObjectHashAggregate; the exact top-20 audit prunes via TakeOrderedAndProject; the 1-row sketch anchors the certificate projection as a broadcast nested-loop over 20 rows (la10's anchor pattern — the only NLJ shape the suite permits).",
    "q28_sketch_planner" ->
      "Sketch-driven join-strategy selection: the SketchJoinHint rule consults a KMV-NDV x row-width statistic against a byte budget and emits a BROADCAST or SHUFFLE_HASH hint; the receipt records both directions firing on connector-fed joins with Spark's own size-based broadcast disabled — the decisive evidence is the decision ledger, not this assembly plan.",
    "st25_stream_mg_restart" ->
      "Streaming Misra-Gries through a kill-and-resume: MG counters live in the state store and survive a checkpoint restart (snapshot reload + backlog merge — safe under ANY merge tree by the never-overcount law); the receipt pins batch-numbering continuity, the emission split, and the err>0 compaction count.",
    "q29_runtime_bloom" ->
      "Native runtime Bloom-filter join pruning (InjectRuntimeFilter): the ON leg's executed plan must carry the bloom build + might_contain on the fact side, the OFF leg must be clean, and both legs' aggregates are identical — the receipt records the require'd facts; row-grain complement of q24's partition pruning.")

  def main(args: Array[String]): Unit = {
    val (cmd, confs) = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the tables' directory"))
    val spark = GraftSession.build(GraftSession.cpus, confs)
    val failed = try cmd match {
      case p: Plan => plan(spark, sfDir, p)
      case Showcase => writeShowcase(spark, sfDir)
      case p: Profile => profile(spark, sfDir, p); Nil
      case r: Replicate =>
        val rows = Replica.write(spark, sfDir, r.factor, r.outDir, r.grown)
        println(s"replica ${r.outDir}: ${r.factor} x $sfDir${if (r.grown) ", grown" else ""};" +
          rows.map { case (t, n) => s" $t=$n" }.mkString)
        Nil
      case s: Scale => scale(spark, sfDir, s)
    } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The plan a gate serves: runs it ([[served]]), then returns its
    * [[Receipts]] line, if any, over the AQE-final formatted explain.
    * JVM-global counters are masked (expression ids `#12`, exchange
    * `plan_id`s, lambda variables `x_30`) so two dumps of unchanged
    * code diff cleanly. */
  def planText(spark: SparkSession, sfDir: String, gate: String): String = {
    val df = SparkEntry.queries.getOrElse(gate, sys.error(s"unknown gate '$gate'"))(spark, sfDir)
    served(df)
    Receipts.get(gate).fold("")(r => s"-- RECEIPT: $r\n\n") +
      df.queryExecution.explainString(FormattedMode).trim
        .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
        .replaceAll("(lambda \\w+_)\\d+", "$1N")
  }

  /** [[planText]] of each gate through the gate loop; names the gates
    * that failed and returns them. */
  private def plans(spark: SparkSession, sfDir: String, gates: Seq[String])
      : (Seq[(String, String)], Seq[String]) = {
    val runs = GateQueries.each(gates, GateQueries.Par)(planText(spark, sfDir, _))
    val failed = runs.collect { case (g, _, Left(e)) => println(s"SKIP $g: $e"); g }
    if (failed.nonEmpty) System.err.println(
      s"[diag] ${failed.size}/${gates.size} gates skipped: ${failed.mkString(", ")}")
    (runs.collect { case (g, _, Right(t)) => g -> t }, failed)
  }

  /** Writes each gate's plan; returns (and names) the gates it could
    * not dump. */
  private def plan(spark: SparkSession, sfDir: String, p: Plan): Seq[String] = {
    val out = Paths.get(p.outDir)
    Files.createDirectories(out)
    val (texts, failed) = plans(spark, sfDir, p.gates)
    texts.foreach { case (g, text) =>
      Files.writeString(out.resolve(s"${g}_${p.suffix}.txt"),
        s"== $g (${p.suffix}) — the gate's served plan, AQE-final ==\n" +
          "(multi-action gates additionally run staging jobs before this plan)\n\n" +
          text + "\n")
      println(s"dumped ${g}_${p.suffix}")
    }
    failed
  }

  /** Writes `./PLANS.md` when every showcase gate planned; returns (and
    * names) the ones that did not. Each section's receipt sits inside
    * the fence: the law lint reads a section from its first backtick. */
  private def writeShowcase(spark: SparkSession, sfDir: String): Seq[String] = {
    val (texts, failed) = plans(spark, sfDir, showcase.map(_._1))
    if (failed.isEmpty) {
      Files.writeString(Paths.get("PLANS.md"),
        "# PLANS — executed-plan evidence for the showcase gates\n\n" +
          s"Generated by `sbt \"runMain graft.Diag showcase\"` at `$sfDir` on local[${GraftSession.cpus}].\n" +
          "Formatted plans (post-AQE where executed); the properties named\n" +
          "per gate are enforced in `PlanShapeSpec` — this file is the\nreviewable copy.\n" +
          showcase.zip(texts).map { case ((g, why), (_, text)) =>
            s"\n## $g\n\n$why\n\n```\n$text\n```\n" }.mkString)
      println(s"wrote PLANS.md (${showcase.size} plans) from $sfDir")
    }
    failed
  }

  /** Runs each check; returns (and names) the ones that failed. */
  private def scale(spark: SparkSession, sfDir: String, s: Scale): Seq[String] = {
    val failed = GateQueries.each(s.checks, 1) { name =>
      val (line, secs) = Replica.timed(Replica.checks(name)(spark, sfDir))
      println(f"[scale] $name ($secs%.1f s)\n$line")
    }.collect { case (name, _, Left(e)) => println(s"FAIL $name: $e"); name }
    if (failed.nonEmpty) System.err.println(
      s"[diag] ${failed.size}/${s.checks.size} checks failed: ${failed.mkString(", ")}")
    failed
  }

  /** The gate's row count, materializing EVERY output column: a bare
    * `count()` lets Catalyst prune columns and eliminate unique-key
    * outer joins, timing a plan the gate never serves (mm11 at the 100×
    * replica: 1.1 s counted vs 17.5 s served). */
  def served(df: DataFrame): Long = df.queryExecution.toRdd.count()

  private def profile(spark: SparkSession, sfDir: String, p: Profile): Unit = {
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val done = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name)) // the call site
          .getOrElse("")
        started.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.remove(je.jobId)).foreach { case (start, desc) =>
          done.add((je.jobId, start, je.time, desc))
        }
    })
    val queries = SparkEntry.queries
    p.gates.foreach { gate =>
      val walls = (1 to p.reps).map { rep =>
        done.clear()
        started.clear() // a straggler from the last rep must not leak in
        val (n, wall) = Replica.timed(served(queries(gate)(spark, sfDir)))
        // the listener bus is async: wait (bounded) until every started
        // job reported its end
        var waited = 0
        while (!started.isEmpty && waited < 2000) { Thread.sleep(100); waited += 100 }
        Thread.sleep(200)
        val jobs = done.toArray(Array.empty[(Int, Long, Long, String)]).sortBy(_._1)
        val first = jobs.headOption.fold(0L)(_._2)
        println(f"== $gate rep $rep: wall $wall%.3f s, rows=$n, jobs=${jobs.length} ==")
        jobs.foreach { case (id, s, e, desc) =>
          println(f"  job $id%4d  +${(s - first) / 1e3}%7.3f  ${(e - s) / 1e3}%7.3f s  ${desc.take(100)}")
        }
        println(f"  job-time sum ${jobs.map(j => j._3 - j._2).sum / 1e3}%.3f s over ${jobs.length} jobs")
        wall
      }
      println(f"gate=$gate%-28s " + walls.map(w => f"$w%.3f").mkString(" ") +
        f"  warm-min=${walls.tail.minOption.getOrElse(walls.head)}%.3f")
    }
  }
}
