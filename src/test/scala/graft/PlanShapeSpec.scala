package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** Physical-plan assertions (SURVEY §4): the optimizations we rely on
  * at 100 TB must actually appear in the plan — broadcast joins for
  * dimension sides, predicate/projection pushdown into the parquet
  * scan, and no more exchanges than the operator needs. The law table,
  * the suite-wide join sweep and the tests that read only a gate's
  * executed plan read the one served run of every gate
  * (`TestSpark.served`): the law table its `Diag plan` text, the others
  * its whole `executedPlan` string. The remaining tests assert what
  * that run does not show (the unexecuted plan, optimized-plan scan
  * counts, expressions, metrics, rows, jobs per execution).
  */
class PlanShapeSpec extends AnyFunSuite {

  private def plan(name: String): String =
    gate(name, sf0001).queryExecution.executedPlan.toString

  /** The gate's executed plan after its served run: AQE-final, with
    * the pre-execution Initial Plan appended. */
  private def servedPlan(name: String): String =
    served(name).fold(e => fail(s"$name: served run failed: $e"), _.executedPlan)

  /** AQE's toString appends the pre-execution "Initial Plan", which
    * duplicates every operator — assert on the final plan only. */
  private def finalPlan(p: String): String = p.split("== Initial Plan ==").head

  test("plan-shape laws hold on each law gate's live served plan (sf0.001)") {
    // Each row pairs a gate's English claim with pinned laws evaluated
    // on its `Diag.planText` from TestSpark.served — the served plan,
    // AQE-final, ids masked, any receipt line on top — so a code
    // change that quietly loses a property (a broadcast flipping to
    // shuffle, an exchange appearing on a zero-exchange path) fails
    // here. Laws run on the FINAL-plan
    // tree region (adaptive dumps include an Initial Plan and a detail
    // list that would double-count nodes); whole-body checks are for
    // detail-only markers (PushedFilters, Scan ExistingRDD) and receipts.
    def finalRegion(b: String): String =
      if (b.contains("== Final Plan =="))
        b.split("== Final Plan ==")(1).split("== Initial Plan ==")(0)
      else b.split("(?m)^\\(\\d+\\) ")(0) // plain dump: tree before details
    def nodes(b: String, pat: String): Int =
      (pat + " \\(\\d+\\)").r.findAllMatchIn(b).size
    // ReusedExchange excluded too: it references an exchange counted at
    // its definition site (often a BroadcastExchange) — counting the
    // reuse would both pad shuffle counts and flip on a harmless
    // broadcast-reuse appearing in a re-planned query (round-11 advice).
    def sh(b: String): Int =
      nodes(b, "(?<!Reused)(?<!Broadcast)(?<!AQEShuffleRead )Exchange")
    def scans(b: String): Int = "Scan parquet".r.findAllMatchIn(b).size
    def joins(b: String): Int = nodes(b, "SortMergeJoin \\w+") +
      nodes(b, "ShuffledHashJoin \\w+ \\w+") + nodes(b, "BroadcastHashJoin \\w+ \\w+")
    case class Law(desc: String, ok: (String, String) => Boolean) // (final, whole)
    def shufflesAtMost(n: Int) = Law(s"<=$n shuffle exchanges", (f, _) => sh(f) <= n)
    def scansAtMost(n: Int) = Law(s"<=$n parquet scans", (f, _) => scans(f) <= n)
    def node(p: String, n: Int = 1) = Law(s">=$n $p", (f, _) => nodes(f, p) >= n)
    def noNode(p: String) = Law(s"no $p", (f, _) => nodes(f, p) == 0)
    def bodyHas(s: String) = Law(s"body has '$s'", (_, w) => w.contains(s))
    def bodyNot(s: String) = Law(s"body lacks '$s'", (_, w) => !w.contains(s))
    val noSmj = noNode("SortMergeJoin \\w+")
    val noNlj = Law("no nested-loop/cartesian",
      (f, _) => !f.contains("NestedLoop") && !f.contains("CartesianProduct"))
    case class Claim(gate: String, text: String, laws: Law*)
    val claims = Seq(
      Claim("ca6_final_metrics",
        "Flagship channel analytics: ONE events scan feeds both rank windows and the final aggregation; ≤2 exchanges.",
        shufflesAtMost(2), scansAtMost(2)),
      Claim("q2_dim_join",
        "Dimension chain: every dim side a BroadcastHashJoin off exact connector statistics — no shuffle joins.",
        node("BroadcastHashJoin \\w+ \\w+", 3), noSmj,
        noNode("ShuffledHashJoin \\w+ \\w+"), shufflesAtMost(1)),
      Claim("q10_bucketed_join",
        "Co-located bucketed join: SortMergeJoin directly over bucket-sorted scans — no Exchange, no Sort below the join.",
        node("SortMergeJoin \\w+"), noNode("Sort"),
        shufflesAtMost(1)),
      Claim("la1_filter_paginate",
        "Pagination: the level filter evaluates in the scan stage (a CASE mapping — not a source-pushable predicate; s2/s8 gate true source pushdown), per-partition top-k (TakeOrderedAndProject) — no exchange, no global sort.",
        node("TakeOrderedAndProject"),
        shufflesAtMost(0)),
      Claim("tw7_range_join",
        "Range join: bin-exploded EQUI-join (hash joins only) where the naive plan is a nested-loop — interval count stops mattering.",
        node("Generate"), noNlj,
        node("BroadcastHashJoin \\w+ \\w+")),
      Claim("s6_connector_group_agg",
        "Grouped aggregate pushdown: the scan emits 5 pre-aggregated rows; no Aggregate node anywhere in the plan.",
        bodyNot("HashAggregate"),
        bodyNot("SortAggregate")),
      Claim("cp1_stratified_sample",
        "Stratified sample: rank ≤ k prunes map-side (partial WindowGroupLimit) BEFORE the stratum exchange.",
        node("WindowGroupLimit"), shufflesAtMost(1)),
      Claim("tx8_kmv_cardinality",
        "KMV sketch: bounded-state ObjectHashAggregate (kmv_kmin) vs the exact count-distinct side it replaces.",
        node("ObjectHashAggregate")),
      Claim("dd3_minhash_lsh",
        "MinHash-LSH: one-pass native sketch (narrow map), bucket-group pair-gen, single melt verify join-back — ≤2 corpus scans.",
        scansAtMost(2), node("ObjectHashAggregate")),
      Claim("dd4_simhash",
        "SimHash: native one-pass sketch expression, codegen'd band self-join, hamming filter BEFORE the dedup exchange.",
        scansAtMost(2), noSmj, shufflesAtMost(1)),
      Claim("sim9_ann_multiband",
        "OR-amplified ANN: slim (query, candidate) pairs through the band join; vectors join back broadcast for scoring only.",
        node("BroadcastHashJoin \\w+ \\w+", 3), noSmj),
      Claim("sim10_pq_encode",
        "PQ index build: the folded-codebook pq_encode expression makes encoding a ZERO-exchange narrow map (scan → project, no shuffle).",
        shufflesAtMost(0), scansAtMost(1)),
      Claim("sim11_adc_search",
        "ADC over PQ codes: one-row-per-query distance tables broadcast; ADC is 8 codegen'd lookups in the projection (no aggregation exchange); the corpus side reads packed codes, never vectors; top-k prunes map-side.",
        noNode("HashAggregate"), node("WindowGroupLimit")),
      Claim("tw9_event_gaps",
        "Gap analysis: the lag window and the per-user rollup share ONE user_id exchange; the head is per-partition top-k.",
        shufflesAtMost(1), node("TakeOrderedAndProject")),
      Claim("dd9_chunk_dedup",
        "Chunk (line-level) dedup: narrow chunk generator, redundancy-bounded repeated-chunk dim, per-doc reassembly — no global sort.",
        noNode("Sort"), noSmj),
      Claim("sim12_ivfpq_search",
        "IVF-PQ serving path: cell pruning before any distance work, ADC over codes via shuffle-hash join, vectors never read at query time.",
        node("ShuffledHashJoin \\w+ \\w+"), noSmj),
      Claim("q12_sql_exists",
        "SQL text surface: the correlated EXISTS decorrelates to a left-semi hash join; exact cents aggregation below it.",
        bodyHas("LeftSemi"), noSmj),
      Claim("dd13_incremental_dedup",
        "Incremental ingest dedup: the batch side broadcasts into history's index stream; assembly joins hash, never sort-merge.",
        noSmj, node("BroadcastExchange")),
      Claim("tw12_rate_limit",
        "Rate limiter: the throttle recurrence as its prefix-max closed form — rank window, running max, and rollup share ONE user_id exchange.",
        shufflesAtMost(1)),
      Claim("dd10_canonical_select",
        "Quality keeper: the cluster table is dd6's per-process checkpoint (Scan ExistingRDD) — no second propagation; per-cluster argmax prunes map-side.",
        bodyHas("Scan ExistingRDD"),
        node("WindowGroupLimit"), shufflesAtMost(1)),
      Claim("dd15_containment_score",
        "Containment score: the distinct benchmark shingle universe broadcasts; the corpus explodes once and only the slim per-doc hit regroup shuffles.",
        node("BroadcastExchange", 2), node("Generate")),
      Claim("sim14_lloyd_refine",
        "Lloyd step: folded-codebook assignment rides shuffle-free under the posexplode; (cell, dim) partials combine map-side; the seed-centroid dim joins broadcast.",
        node("BroadcastExchange"), shufflesAtMost(2)),
      Claim("q13_sql_not_exists",
        "SQL NOT EXISTS: decorrelates to a left-anti hash join BEFORE the segment rollup — only surviving customers reach the exchange.",
        bodyHas("LeftAnti"), noNode("Sort")),
      Claim("q14_bag_setops",
        "Bag set ops: INTERSECT ALL / EXCEPT ALL compile to tagged-union count-aggregates + Generate replicaterows — JOIN-FREE; exchanges carry (key, count) rows.",
        Law("join-free", (f, _) => joins(f) == 0),
        node("Generate")),
      Claim("la10_histogram_p95",
        "Histogram p95: the sketch path is a narrow bin map + a (level, bin)-grain agg; the exact rank path rides alongside as the certificate.",
        noSmj),
      Claim("tx13_inverted_index",
        "Inverted index: ONE pass after the tf aggregate — rank window and final agg share a single hash(term) exchange, no branch join; the 128-entry posting head stays bounded inside collect_list (CASE nulls past rank 128).",
        shufflesAtMost(2), scansAtMost(1),
        node("Window")),
      Claim("mm8_crossmodal_dedup",
        "Cross-modal ensemble: tagged UNION of the two blocking-bounded pair sets + one hash agg on (id1, id2) — never a full-outer join; sentinel fills keep the decision projection null-free.",
        bodyNot("FullOuter"), noSmj),
      Claim("tw15_scd2_intervals",
        "SCD2 build: the change-detection lag and the interval-closing lead/version windows share ONE user exchange and one sort.",
        shufflesAtMost(1),
        Law("<=1 Sort (windows share it)", (f, _) => nodes(f, "Sort") <= 1),
        node("Window", 2)),
      Claim("sim16_filtered_ivfpq",
        "Filtered IVFADC + refine: predicate prunes the slim postings before any distance work; ADC ranks survivors via shuffle-hash code join + broadcast tables; exact vectors join back only for the ≤50/query nominees.",
        node("ShuffledHashJoin \\w+ \\w+"), noSmj),
      Claim("mm7_perceptual_neardup",
        "Perceptual near-dup: payload collapses to one simhash long in the projection (no payload bytes past the scan); codegen'd band self-join; hamming filter before the dedup exchange; digest flags join the pair set only.",
        noSmj, shufflesAtMost(2)),
      Claim("dd17_bloom_history",
        "Bloom prefilter: the bitmap's (block, word) table broadcasts — never collected — and each probe is a broadcast-hash block lookup + codegen'd shiftright/mask; only the bloom-hit slice reaches the broadcast exact-verify join.",
        node("BroadcastExchange", 3),
        node("BroadcastHashJoin \\w+ \\w+", 5), noSmj),
      Claim("mm9_static_payload",
        "Static-payload detector: the whole frame redundancy profile (distinct/modal fold) runs IN-ROW over the frame array — a zero-exchange narrow map from scan to output.",
        shufflesAtMost(0), scansAtMost(1)),
      Claim("cp15_dataset_card",
        "Dataset card: three corpus scans reduce map-side to source-grain dims (only the fingerprint exchange is corpus-sized); the card assembles via BroadcastHashJoins over tiny dims.",
        node("BroadcastHashJoin \\w+ \\w+", 2), noSmj),
      Claim("s7_connector_topn",
        "Top-N pushdown: the scan reports PushedTopN=25 and plans ONE ranked chunk — no Sort, no TakeOrderedAndProject, no Limit anywhere in the plan (the API's order= param answered at planning time).",
        bodyHas("PushedTopN"), noNode("Sort"),
        noNode("TakeOrderedAndProject"), bodyNot("CollectLimit")),
      Claim("dd19_repeated_spans",
        "Repeated spans: positioned 8-gram hashes explode as a narrow map (8-byte keys + int positions, never gram text); the duplicated-gram dim is one map-side-combined hash agg; the island window and the span rollup share ONE doc_id exchange.",
        shufflesAtMost(3), node("Generate"), noSmj),
      Claim("sim19_sq8_search",
        "SQ8 search: the 64-row stats agg folds into encode/decode as literals, so quantization is a zero-exchange narrow map; per candidate the only pair work is one dot against the broadcast query side; top-k prunes map-side (WindowGroupLimit).",
        node("WindowGroupLimit"), shufflesAtMost(1)),
      Claim("tx20_host_centrality",
        "Host centrality: edges EXTRACT from document content (token explode → narrow hash map → map-side-combined distinct — no hosts×hosts cross join anywhere); 4 unrolled fixed-point PageRank iterations in ONE lazy plan, every per-iteration join host-grain and BroadcastHashJoin.",
        bodyNot("CartesianProduct"),
        node("BroadcastHashJoin \\w+ \\w+", 10)),
      Claim("q16_sql_lateral",
        "SQL LATERAL-with-LIMIT: Catalyst decorrelates the per-priority top-3 into the rank-window plan (no per-row re-execution) — hash joins and a partitioned window, never a loop.",
        node("WindowGroupLimit"), noNlj),
      Claim("q17_incremental_summary",
        "Incremental MV refresh: the delta slice scans once (filter pushed to the scan), unions with the |groups|-row checkpointed S0 (Scan ExistingRDD — the base is NEVER re-read), one map-side-combined merge agg.",
        bodyHas("Scan ExistingRDD")),
      Claim("q18_unpivot_melt",
        "UNPIVOT/melt: one hash agg to the |days|-row wide table, then Expand emits the 5-way long form — no exchange after the rollup.",
        bodyHas("Expand"), shufflesAtMost(1)),
      Claim("mm11_cdc_chunk_dedup",
        "CDC chunk dedup: content-defined chunking runs IN-ROW (boundaries + digests in one projection — payload bytes never leave the scan stage); ONE hash exchange on the 16-byte digest feeds the copy-group rank window and the media rollup.",
        shufflesAtMost(3), noSmj),
      Claim("la16_time_travel",
        "Time travel: both snapshot reads plan from explicit manifest file lists (no directory listing of dead files); each rollup is one map-side-combined level agg over its version's files.",
        bodyNot("SortMergeJoin")),
      Claim("tw18_asof_plan",
        "Native as-of join: the custom AsOfJoin exec node between its two key exchanges + sorts — no Union, no Window carry state; the merge is a single co-partitioned linear pass.",
        node("AsOfJoin"), noNode("Window"), bodyNot("Union")),
      Claim("q22_json_analytics",
        "Schema-on-read JSON: the explicit-schema from_json parse is a codegen'd projection on the scan (no inference pass, no second read); one map-side-combined agg to |event types| rows.",
        bodyHas("from_json"), scansAtMost(1)),
      Claim("cp17_pps_sample",
        "Systematic PPS sample: the 'serial' cumulative-weight walk as pure plan algebra — ONE range exchange of slim (id, w, rk) rows, partition-local prefix windows, the ≤32-row offset dim broadcast back; output ≤ n rows at any corpus size.",
        bodyHas("hashpartitioning(pid"),
        node("BroadcastExchange"), shufflesAtMost(3)),
      Claim("sim23_radius_search",
        "Radius search: probed-cell candidates via broadcast probe/query dims, a threshold filter REPLACES the per-query rank window (no sort at all on the serving leg); the brute-force truth leg rides alongside as the priced recall control.",
        bodyNot("SortMergeJoin")),
      Claim("sim24_dominant_direction",
        "Gram-matrix power iteration: ONE corpus scan through the bounded-state moment_i64 aggregate (state = 4096 longs/partition, no row explosion); the matrix is dim²-bounded so the four matvec iterations run driver-local — nothing corpus-sized moves twice, and nothing but the single agg runs as a job (r15: 27 jobs → 5).",
        bodyNot("SortMergeJoin")),
      Claim("mm12_aspect_buckets",
        "Aspect bucketing: the catalog argmin is a zero-join codegen'd projection (array_position over inline distortions); the whole plan is scan -> project -> one 5-group hash agg.",
        shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0)),
      // receipt-backed rows (round-12): these gates return collected
      // rows or sink read-backs, so their evidence is the in-gate
      // require'd RECEIPT planText prints above the plan — the laws
      // pin the receipt's decisive phrases
      Claim("q25_skew_join",
        "AQE skew-join split: the gate returns collected rows (a LocalTableScan here), so the evidence is the RECEIPT — the executed isolated-session plan's skew=true line, require'd in-gate on every run.",
        bodyHas("-- RECEIPT"), bodyHas("skew=true")),
      Claim("st19_stream_state_restart",
        "Stateful kill-and-resume (default store): the sink read-back plan is ordinary; the evidence is the RECEIPT — batch numbering continued across the restart and run 1's emission is a nonempty proper prefix, require'd in-gate.",
        bodyHas("continued the batch numbering"),
        bodyHas("nonempty proper prefix")),
      Claim("st20_stream_rocksdb_restart",
        "Stateful kill-and-resume on RocksDB + changelog checkpointing: same receipts as st19 plus .changelog files require'd under the checkpoint state dir (a silently ignored provider conf cannot fake the pass).",
        bodyHas("continued the batch numbering"),
        bodyHas(".changelog files present")),
      Claim("la22_dynamic_overwrite",
        "Dynamic partition overwrite backfill: the evidence is the RECEIPT — untouched day partitions byte-identical (name + mtime), touched partitions rewritten, blind retry idempotent, require'd in-gate on every run.",
        bodyHas("untouched partitions byte-identical"),
        bodyHas("retry idempotent")),
      Claim("q26_cube",
        "CUBE grouping sets: all four marginals from ONE scan — a single Expand feeds one map-side-combined hash agg; no per-marginal re-scan, no Union.",
        bodyHas("Expand"), scansAtMost(1), shufflesAtMost(1),
        bodyNot("Union")),
      Claim("cp18_water_fill",
        "Water-filling allocation: the corpus is touched ONCE (map-side-combined token agg); the fixed point is pure window algebra on the bounded source dim — one plan branch, the dim-grain sort shared by the Window nodes.",
        scansAtMost(1), shufflesAtMost(2),
        node("Window", 3),
        Law("<=1 Sort (windows share it)", (f, _) => nodes(f, "Sort") <= 1)),
      Claim("sim25_maxsim_rerank",
        "MaxSim late-interaction re-rank: slim (query, candidate) pairs through the band join; token slices + norms precompute per side; the query side broadcasts; per-pair scoring is a narrow 4x4-dot projection; top-k prunes map-side.",
        node("WindowGroupLimit"), noSmj, noNlj,
        node("BroadcastHashJoin \\w+ \\w+", 2), shufflesAtMost(2)),
      Claim("tx27_linear_probe",
        "Closed-form linear probe: ONE narrow scan, one map-side-combined moment agg to the source dim, the fit algebra a join-free window-free projection on it — a regression for the cost of a token count.",
        scansAtMost(1), shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0), noNode("Window")),
      Claim("mm13_scene_cuts",
        "Scene cuts: frames explode as a narrow map (8-byte hashes + int positions — payload bytes never leave the scan stage); the lag window and the per-media rollup share ONE media_id exchange.",
        scansAtMost(1), shufflesAtMost(1),
        node("Generate"), node("Window"), noSmj),
      Claim("tx28_classifier_inference",
        "Folded-weights classifier inference: the trained weight vector lives in the projection as LITERALS (no weights table, no join, no UDF) — scan -> codegen'd integer score map -> one map-side-combined source agg; the cheapest possible full-corpus pass.",
        scansAtMost(1), shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0), noNode("Window")),
      Claim("mm14_prep_funnel",
        "End-to-end media prep funnel in ONE lazy plan: payload bytes never leave the scan stage (digests/sketches/counts move); ONE digest exchange for the canonical window; band self-join and drop-set apply are SHUFFLE-HASH joins (never sort-merge); the lineage audit anchor broadcasts as one row.",
        noSmj,
        node("ShuffledHashJoin \\w+ \\w+", 2), scansAtMost(3),
        shufflesAtMost(8)),
      Claim("st23_stream_drop_ledger",
        "Late-drop ledger: the output is the collected progress metric, so the evidence is the RECEIPT — numRowsDroppedByWatermark summed over the batch progress entries equals the staged late set exactly, require'd in-gate on every run.",
        bodyHas("numRowsDroppedByWatermark summed"),
        bodyHas("== the staged late set exactly")),
      Claim("sim27_ivf_sq8",
        "IVF-SQ8 serving: cell pruning bounds candidates before any distance work (broadcast probe dims), the SQ8 reconstruction table joins SHUFFLE-HASH (corpus-sized — never broadcast, never sort-merge), the asymmetric distance is one codegen'd dot per pair, top-10 prunes map-side.",
        node("ShuffledHashJoin \\w+ \\w+"), noSmj,
        node("WindowGroupLimit"), node("BroadcastExchange", 2)),
      Claim("mm15_clip_sample",
        "Clip sampling: frames explode narrow; three slim exchanges at strictly SHRINKING grain (media lag window -> (media, shot) rollup -> media top-2 rank) — no join anywhere, output <=2 rows per media by construction.",
        scansAtMost(1), shufflesAtMost(3),
        Law("join-free", (f, _) => joins(f) == 0), node("Generate"),
        node("Window", 2)),
      Claim("la24_orc_roundtrip",
        "ORC round-trip: the read-back scan prunes to the single level=PURCHASE partition dir (PartitionFilters) AND pushes the value predicate into the ORC reader's row-group stats (PushedFilters) — one pruned columnar scan feeds a map-side-combined day rollup.",
        bodyHas("Scan orc"),
        bodyHas("PartitionFilters: [isnotnull(level"),
        bodyHas("PushedFilters: [IsNotNull(value_cents), " +
          "GreaterThanOrEqual(value_cents,1000)]"),
        bodyHas("ReadSchema: struct<ts_us:bigint,value_cents:bigint>"),
        shufflesAtMost(1)),
      // la25: the sketch is a bounded-state ObjectHashAggregate; the
      // ≤levels-row answer frame joins back BROADCAST; never a
      // sort-merge join; 4 exchanges = sketch agg + ranks agg + the
      // audit window + the final level joins (shuffle-hash, slim).
      Claim("la25_kll_quantiles",
        "Mergeable KLL quantile sketch: the sketch pass is ONE bounded-state ObjectHashAggregate (kll_sketch) — drop the audit columns and that agg IS the gate; the <=levels-row answer frame joins back BROADCAST for the exact-rank audit, and the only per-row sort is the exact-quantile audit window the sketch exists to replace.",
        node("ObjectHashAggregate"),
        node("BroadcastHashJoin \\w+ \\w+"), noSmj, noNlj,
        shufflesAtMost(4), scansAtMost(4)),
      // dd21: window hashes + token stream explode narrow (3
      // Generates); both corpus joins are SHUFFLE-HASH on fixed-width
      // keys; never sort-merge, never a nested loop.
      Claim("dd21_exact_substring",
        "ExactSubstr at the 50-token grain: positioned window hashes explode as a narrow map (8-byte keys + int positions, never window text); the duplicated-window dim is one map-side-combined hash agg; every join is SHUFFLE-HASH (never sort-merge, never nested-loop); the island window and the doc rollup share ONE doc_id-compatible exchange chain.",
        node("Generate", 3),
        node("ShuffledHashJoin \\w+ \\w+", 2), noSmj, noNlj,
        shufflesAtMost(5), scansAtMost(3)),
      // tx29: one bounded-state sketch agg + the exact top-20 audit
      // (TakeOrderedAndProject); the 1-row sketch anchor is the suite's
      // permitted BNLJ shape, so noNlj is deliberately NOT pinned here.
      Claim("tx29_mg_heavy_hitters",
        "Misra-Gries heavy hitters: the O(k)-state summary is one bounded-state ObjectHashAggregate; the exact top-20 audit prunes via TakeOrderedAndProject; the 1-row sketch anchors the certificate projection as a broadcast nested-loop over 20 rows (la10's anchor pattern — the only NLJ shape the suite permits).",
        node("ObjectHashAggregate"),
        node("TakeOrderedAndProject"), noSmj,
        shufflesAtMost(2), scansAtMost(2)),
      // q28: the gate returns an assembled 2-row frame; the decisive
      // evidence is the receipt — the decision ledger with both
      // directions of the sketch-vs-budget comparison.
      Claim("q28_sketch_planner",
        "Sketch-driven join-strategy selection: the SketchJoinHint rule consults a KMV-NDV x row-width statistic against a byte budget and emits a BROADCAST or SHUFFLE_HASH hint; the receipt records both directions firing on connector-fed joins with Spark's own size-based broadcast disabled — the decisive evidence is the decision ledger, not this assembly plan.",
        bodyHas("-- RECEIPT"),
        bodyHas("-> broadcast"), bodyHas("-> shuffle_hash")),
      // st25: restart + compaction receipts (st19's discipline plus
      // the MG-specific err>0 law).
      Claim("st25_stream_mg_restart",
        "Streaming Misra-Gries through a kill-and-resume: MG counters live in the state store and survive a checkpoint restart (snapshot reload + backlog merge — safe under ANY merge tree by the never-overcount law); the receipt pins batch-numbering continuity, the emission split, and the err>0 compaction count.",
        bodyHas("continued the batch numbering"),
        bodyHas("nonempty proper prefix"),
        bodyHas("MG compacted (err>0)")),
      // q29: the decisive evidence is the in-gate require'd receipt
      // (plan marker present ON / absent OFF, aggregates identical).
      Claim("q29_runtime_bloom",
        "Native runtime Bloom-filter join pruning (InjectRuntimeFilter): the ON leg's executed plan must carry the bloom build + might_contain on the fact side, the OFF leg must be clean, and both legs' aggregates are identical — the receipt records the require'd facts; row-grain complement of q24's partition pruning.",
        bodyHas("-- RECEIPT"),
        bodyHas("might_contain present in the ON leg"),
        bodyHas("absent in the OFF leg"),
        bodyHas("aggregates identical")))
    assert(claims.map(_.gate).distinct.size == claims.size, "a gate has two rows")
    val failures = claims.flatMap { c =>
      served.getOrElse(c.gate, Left("not in the registry")).map(_.planText) match {
        case Left(e) => Seq(s"${c.gate}: no plan ($e)")
        case Right(body) =>
          val broken = c.laws.filterNot(_.ok(finalRegion(body), body)).map(_.desc)
          if (broken.isEmpty) Nil
          else Seq(s"${c.gate}: ${broken.mkString("; ")}\n  claim: ${c.text}")
      }
    }
    assert(failures.isEmpty, s"plan-shape claims that no longer hold:\n${failures.mkString("\n")}")
  }

  test("ca2/ca6 subscriber dimension join is broadcast") {
    assert(plan("ca2_engagement_rate").contains("BroadcastHashJoin"))
    assert(plan("ca6_final_metrics").contains("BroadcastHashJoin"))
  }

  test("filter pushdown reaches the parquet scan") {
    val p = gate("la1_filter_paginate", sf0001)
      .queryExecution.executedPlan.toString
    // level_no >= 40 derives from event_type = 'error' — the CASE is
    // post-scan, but the scan must not read all columns
    assert(p.contains("ReadSchema"))
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scanLine.contains("value"), s"column pruning failed: $scanLine")
  }

  test("projection pruning: ca5 scans only source+lang") {
    val p = plan("ca5_language_mode")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("source") && scanLine.contains("lang"))
    assert(!scanLine.contains("text"), s"text not pruned: $scanLine")
  }

  test("ca1 windows + agg reuse one exchange on channel_id") {
    val p = plan("ca1_window_metrics")
    val exchanges = shuffleCount(p)
    // one shuffle for the window partitioning; the groupBy on the same
    // key must NOT re-shuffle (hashpartitioning(channel_id) reused)
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges\n$p")
  }

  test("q1 aggregation is partial + final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "no partial aggregation found")
  }

  test("whole-stage codegen covers the hot path of q1") {
    // AQE finalizes the plan only after execution, so this reads the
    // served run's; codegen stages print as "*(n) Operator" in it
    assert(servedPlan("q1_agg").contains("*(1)"))
  }

  test("ca6 flagship: one scan of events, ≤2 exchanges (window + agg)") {
    val p = plan("ca6_final_metrics")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans <= 1, s"expected a single events scan, got $scans\n$p")
    val exchanges = shuffleCount(p)
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$p")
  }

  test("dd2 pair join is shuffle-hash, not broadcast (mirror-image sides)") {
    val p = plan("dd2_jaccard_blocked")
    assert(p.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin for the exploded self-join\n$p")
  }

  test("sim3 payload join-back is broadcast; candidates stay slim") {
    val p = plan("sim3_embedding_neardup")
    assert(p.contains("BroadcastHashJoin"),
      "vector join-back should broadcast the tiny vector table")
  }

  test("dd3 scans the corpus at most 2x (bucket pair-gen + verify join-back)") {
    // One-pass minhash_sig + bucket-group pair generation: the
    // sketch/band stage is a narrow map off ONE corpus scan (no
    // self-join subtree duplication); the melt verify join-back adds
    // the second scan. (The explode + min-agg + band-self-join
    // formulation cost 3 — and 4 before the melt join-back — each a
    // spare full-corpus regexp pass at 100 TB.)
    val lp = gate("dd3_minhash_lsh", sf0001).queryExecution.optimizedPlan.toString
    val n = "Relation \\[doc_id".r.findAllIn(lp).length
    assert(n <= 2, s"expected <=2 documents scans in the optimized plan, got $n")
  }

  test("dd4 sketch is a narrow map feeding the band self-join") {
    // simhash64 folds token counts + votes inside the projection — no
    // aggregation anywhere before the band join (the old shape paid
    // two corpus-wide regroupings per sketch). The pair stream stays
    // a codegen'd self-join, NOT bucket-group pair-gen: 16-bit bands
    // are low-entropy under duplication (a 20× probe hit a 3 400-deep
    // bucket where interpreted per-bucket lambdas went quadratic).
    val p = servedPlan("dd4_simhash")
    assert(!p.contains("partial_min") && !p.contains("partial_sum"),
      s"sketch computation must not aggregate\n$p")
    assert(p.contains("simhash64"), s"native sketch expression missing\n$p")
  }

  test("la1 pagination is TakeOrderedAndProject, not a global-sort window") {
    val p = servedPlan("la1_filter_paginate") // the AQE-final plan
    assert(p.contains("TakeOrderedAndProject"),
      s"pagination must plan as per-partition top-k\n$p")
    // the survivor-ranking window must carry a partition spec (an
    // empty one — spec string starting at the ORDER BY column — would
    // log 'No Partition Defined' and single-thread the filtered slice)
    assert(!p.contains("windowspecdefinition(ts_us"),
      s"window must partition on the constant survivor key\n$p")
  }

  test("yf8 literal-map language lookup is a pure narrow map") {
    // The 83-row constant dim must compile to a literal map probed in
    // the projection — no join, no broadcast, no shuffle. At 100 TB
    // this keeps the lookup a zero-exchange pass over the corpus.
    val p = plan("yf8_full_language_fallback")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"yf8 must not join or shuffle\n$p")
  }

  test("ca9 top-15 prune runs before the shuffle (WindowGroupLimit partial)") {
    // rk <= 15 must become a partial WindowGroupLimit below the
    // exchange — at 100 TB the per-channel top-k prunes map-side
    // instead of shuffling every video.
    val p = plan("ca9_banker_rounding")
    val idxLimit = p.indexOf("WindowGroupLimit")
    val idxEx = p.indexOf("Exchange hashpartitioning")
    assert(idxLimit >= 0 && idxEx >= 0)
    assert(p.contains("Partial"), s"expected a partial WindowGroupLimit\n$p")
  }

  test("tx7 prep funnel: one documents scan, one exchange") {
    // The funnel composes tx2 + tx3 + dd1 semantics in a single
    // corpus pass — joining their gate outputs instead would re-scan
    // the corpus three times. Only the fingerprint window may shuffle.
    val p = plan("tx7_corpus_prep")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected one documents scan, got $scans\n$p")
    val exchanges = shuffleCount(p)
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges\n$p")
  }

  test("suite-wide: no sort-merge joins; nested-loop only at known anchors") {
    // Every gate's executed plan from its served run (the whole string,
    // Initial Plan included), swept: a SortMergeJoin anywhere
    // means a dimension stopped broadcasting or a candidate set
    // stopped being slim; a BroadcastNestedLoopJoin is legal ONLY
    // where the build side is a 1-row anchor (la2/la4/la5 totals,
    // thresholds) or the deliberately all-pairs brute-force baseline
    // (sim1's non-equi query join).
    val nljAllowed = Set("la2_level_rollup", "la4_last_24h",
      "la5_retention", "sim1_knn_bruteforce", "tw6_ttl_expiry",
      "sim8_ann_recall", // embeds sim1's brute-force ground truth
      "sim17_filtered_recall", // embeds the FILTERED brute-force ground truth
      "sim11_adc_search", // raw ADC IS a per-query scan of the packed
      // code table (queries broadcast WITH their lookup tables); the
      // cell-pruned production path is sim12, which stays equi-join
      "tx8_kmv_cardinality", // 1-row sketch x 1-row exact anchor join
      "tx18_kmv_merge", // tx8's shape twice over: 1-row merged/direct
      // sketches x 1-row exact/source-count anchors (4-way 1-row cross)
      "tx14_scored_retrieval", // 1-row corpus-total anchor (idf numerator)
      "cp11_temperature_mixture", // 1-row weight-total anchor over a ~|langs| dim
      "cp12_balanced_resample", // 1-row n_min anchor folded into the ~|langs| dim
      "la10_histogram_p95", // 1-row global [lo, hi] anchor for the bin map
      "ob4_row_accounting", // 1-row independent input-count anchor (the audit's point)
      "sim18_nprobe_curve", // embeds sim1's brute-force truth + 1-row recall x cand anchors
      "sim19_sq8_search", // SQ8 IS the brute-force scan compressed 8x:
      // the same non-equi broadcast-query join as sim1, over decoded
      // codes instead of raw vectors
      "sim20_sampled_codebook", // embeds sim1's brute-force truth
      // (sim8/sim18's shape) for both recall legs
      "sim21_mmr_rerank", // embeds sim1's brute-force pool scan (its
      // scaladoc'd baseline); pre-r15 the same BNLJ ran behind a
      // localCheckpoint so the sweep never saw it — the r15
      // single-pipeline spelling (one plan, 52→6 jobs) makes the
      // whole lineage visible to this lint, which is a feature
      "tx19_token_drift", // 1-row half-totals anchor cross (la2's shape)
      "tw16_decay_score", // 1-row max-ts anchor cross (tw6/la4's shape)
      "sim23_radius_search", // embeds sim1's brute-force radius TRUTH as
      // the priced control leg; the pruned serving leg stays equi-join
      "mm14_prep_funnel", // ob4's shape: 1-row independent input-count
      // anchor crossed onto the ≤|decisions|x|buckets| lineage rollup
      "tx29_mg_heavy_hitters", // 1-row MG-sketch anchor crossed onto
      // the 20-row exact-top-k audit (la10's anchor pattern)
      "q27_cm_join_size") // two 1-row anchors crossed (exact x estimate)
    // tx20 is deliberately NOT allowed: its edges are now extracted
    // from document content (scan-linear token mentions), so any
    // nested-loop re-appearing there is a regression of exactly the
    // |hosts|² shape the round-8 verdict flagged.
    // The ONE legitimate sort-merge join: q10's co-located bucketed
    // join — SMJ over bucket-sorted reads carries no exchange and no
    // sort (its own test asserts both), which is the whole point of
    // buying the layout. Everywhere else an SMJ means a broadcast or
    // slim-candidate shape silently regressed.
    val smjAllowed = Set("q10_bucketed_join")
    val bad = served.toSeq.sortBy(_._1).flatMap {
      case (g, Left(e)) => Seq(s"$g: served run failed: $e")
      case (g, Right(run)) =>
        val p = run.executedPlan
        Seq(
          Option.when(!smjAllowed(g) && p.contains("SortMergeJoin"))(s"$g plans a SortMergeJoin"),
          Option.when(!nljAllowed(g) &&
            (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")))(
            s"$g plans a nested-loop/cartesian join")).flatten
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("dd14 soft dedup rides ONE fingerprint exchange (dd1's cost, kept rows)") {
    val p = finalPlan(servedPlan("dd14_soft_dedup"))
    assert(shuffleCount(p) <= 1, s"expected <=1 exchange, got ${shuffleCount(p)}\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"soft dedup must be windowed, never joined:\n$p")
  }

  test("tx17/mm6 source and digest rollups combine map-side") {
    for (name <- Seq("tx17_source_reputation", "mm6_payload_dedup")) {
      val p = finalPlan(servedPlan(name))
      assert(p.contains("partial_"), s"$name: no partial aggregation\n$p")
      assert(!p.contains("Join"), s"$name must be a pure rollup, no joins\n$p")
      assert(shuffleCount(p) <= 2,
        s"$name: expected <=2 exchanges (group + distinct), got ${shuffleCount(p)}")
    }
  }

  test("tw15 SCD2 build: both window passes share one user exchange") {
    val p = finalPlan(servedPlan("tw15_scd2_intervals"))
    assert(shuffleCount(p) <= 1,
      s"lag + lead/version windows must share one exchange, got ${shuffleCount(p)}\n$p")
    assert(!p.contains("Join"), s"SCD2 build must be windowed, never joined:\n$p")
  }

  test("tw13 spike windows ride hour-grain exchanges, never event-grain") {
    val p = finalPlan(servedPlan("tw13_rate_spike"))
    assert(p.contains("partial_"), s"hourly pre-agg must combine map-side:\n$p")
    assert(shuffleCount(p) <= 2,
      s"expected <=2 exchanges (hour agg + user window), got ${shuffleCount(p)}\n$p")
    assert(!p.contains("Join"), s"tw13 must be windowed, never joined:\n$p")
  }

  test("q13 NOT EXISTS decorrelates to a hash anti join, no sort") {
    val p = servedPlan("q13_sql_not_exists")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dd15 benchmark universe broadcasts; corpus side never shuffles pre-join") {
    val p = finalPlan(servedPlan("dd15_containment_score"))
    assert(p.contains("BroadcastHashJoin"), s"bench universe not broadcast:\n$p")
    // exchanges: the per-doc hit regroup + the doc-spine join side(s) —
    // corpus-proportional slim rows only; the shingle match itself is
    // exchange-free (broadcast). A SMJ anywhere means that broke.
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim14 assignment stays a narrow map: one agg exchange, seed dim broadcast") {
    val p = finalPlan(servedPlan("sim14_lloyd_refine"))
    assert(p.contains("BroadcastHashJoin"), s"seed centroids not broadcast:\n$p")
    // the (cell, dim) regroup is the only corpus-fed exchange; the
    // folded-codebook assignment itself must not shuffle (sim5's
    // zero-exchange contract riding under the posexplode)
    val corpusExchanges = shuffleCount(p)
    assert(corpusExchanges <= 2,
      s"expected <=2 exchanges (agg + seed-build), got $corpusExchanges\n$p")
  }

  test("sim5/sim10 IVF assign + PQ encode are zero-exchange narrow maps") {
    // the folded-codebook pq_encode expression must keep the whole
    // index build inside one stage: scan → project, no Exchange at
    // all (the composed spelling shuffled 64·nlist rows per vector)
    val p5 = finalPlan(plan("sim5_ivf_assign"))
    val p10 = finalPlan(plan("sim10_pq_encode"))
    assert(shuffleCount(p5) == 0, s"sim5 encode shuffles\n$p5")
    assert(shuffleCount(p10) == 0, s"sim10 encode shuffles\n$p10")
  }

  test("sim11 ADC search: no aggregation exchange; top-k prunes map-side") {
    // ADC = 8 element_at lookups in the projection; the per-pair
    // (query, vec) aggregation the composed form shuffled is gone,
    // and the only exchange left is the top-10 window, pre-pruned by
    // a partial WindowGroupLimit
    val p = finalPlan(servedPlan("sim11_adc_search"))
    assert(!p.contains("HashAggregate"), s"sim11 still aggregates\n$p")
    assert(p.contains("WindowGroupLimit"), s"no map-side top-k prune\n$p")
    assert(shuffleCount(p) == 1, s"expected 1 exchange (top-k window)\n$p")
  }

  test("q16 lateral decorrelates to a map-side-pruned rank window, not a loop") {
    // The LATERAL-with-LIMIT spelling must land on W1's physical
    // shape: a partial WindowGroupLimit BEFORE the priority exchange
    // (each task keeps only its local top-3 per priority) and a
    // broadcast join against the 5-row priority dim — never a
    // per-driver-row re-execution of the subquery.
    val p = finalPlan(servedPlan("q16_sql_lateral"))
    assert(p.contains("WindowGroupLimit"), s"no map-side top-k prune:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"priority dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral fell back to a loop:\n$p")
  }

  test("retrieval plans: tx13 is one-pass after tf, tx14 query dim is top-k") {
    // tx13's df/total_tf/postings_head all aggregate in ONE pass over
    // a single hash(term) exchange (the rank window's partitioning is
    // reused by the final agg): exactly 2 exchanges — tf on
    // (term, doc_id), then term — and no join gluing branches back.
    // The 128-entry head stays bounded inside the agg (collect_list of
    // a CASE that nulls past rank 128), not via a pre-prune.
    val p13 = finalPlan(servedPlan("tx13_inverted_index"))
    assert(!p13.contains("Join"),
      s"tx13 must not join its aggregate branches:\n$p13")
    assert(shuffleCount(p13) <= 2,
      s"expected <=2 exchanges (tf + term), got ${shuffleCount(p13)}\n$p13")
    assert(p13.contains("Window"), s"tx13 lost its rank window:\n$p13")
    val p14 = finalPlan(servedPlan("tx14_scored_retrieval"))
    assert(p14.contains("TakeOrderedAndProject"),
      "tx14's rarest-term query dim must be per-partition top-k, not a global sort")
    assert(p14.contains("WindowGroupLimit"),
      "tx14's per-term top-10 must prune map-side")
  }

  test("cp8 epoch order rides a single exchange end-to-end") {
    // cp3's shard window, cp6's (shard, bin) agg, and cp8's
    // (epoch, shard) rank all align on the shard partitioning — the
    // whole manifest→epoch-order chain costs ONE shuffle
    val p = finalPlan(servedPlan("cp8_epoch_order"))
    assert(shuffleCount(p) == 1, s"expected 1 exchange, got ${shuffleCount(p)}\n$p")
  }

  test("cp1 sample prunes map-side: partial WindowGroupLimit below the exchange") {
    // rank ≤ 20 per language must prune each map partition to its
    // local top-20 BEFORE the lang shuffle — at 100 TB the exchange
    // then carries O(20 × strata) rows, not the corpus.
    val p = plan("cp1_stratified_sample")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected a partial WindowGroupLimit\n$p")
  }

  test("cp2 weights dim joins broadcast; cp4 head is TakeOrderedAndProject") {
    assert(plan("cp2_weighted_mixture").contains("BroadcastHashJoin"))
    val p = servedPlan("cp4_interleave_head")
    assert(p.contains("TakeOrderedAndProject"),
      s"interleave head must be per-partition top-k, not a global sort\n$p")
  }

  test("cp3 packing: one documents scan, one exchange (the shard shuffle)") {
    val p = plan("cp3_sequence_pack")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected one documents scan, got $scans\n$p")
    assert(shuffleCount(p) <= 1, s"expected <=1 exchange\n$p")
  }

  test("q10 bucketed join: no exchange and no sort below the join") {
    // The layout gate's contract: both inputs arrive bucket-sorted on
    // the join key, so the SMJ consumes them directly — zero shuffle
    // exchanges and zero Sort nodes anywhere under the join; the only
    // exchange in the whole plan is the final 5-group rollup.
    // AQE's toString appends the pre-execution "Initial Plan" (which
    // legitimately shows the agg exchange again) — assert on the
    // final plan only.
    val p = finalPlan(servedPlan("q10_bucketed_join"))
    assert(p.contains("SortMergeJoin"), s"expected the co-located SMJ\n$p")
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs\n$p")
    assert(!below.replaceFirst("SortMergeJoin", "").contains("Sort "),
      s"bucket-sorted inputs must not re-sort\n$p")
    assert(shuffleCount(p) <= 1, s"only the rollup may exchange\n$p")
  }

  test("tx8 sketch side is the bounded-state aggregate, not a distinct shuffle") {
    // kmv_kmin plans as ObjectHashAggregate (partial per partition,
    // k-long arrays through one SinglePartition exchange); the old
    // composed form's TakeOrderedAndProject — and its corpus-wide
    // distinct exchange feeding it — must be gone. (The exact
    // count-distinct side keeps its own exchanges; it exists as the
    // comparator the sketch replaces.)
    val p = plan("tx8_kmv_cardinality")
    assert(p.contains("kmv_kmin") && p.contains("ObjectHashAggregate"),
      s"expected the kmv_kmin ObjectHashAggregate\n$p")
    assert(!p.contains("TakeOrderedAndProject"),
      s"composed k-min path should be gone\n$p")
  }

  test("la8 explicit-values pivot: aggregated exchanges only, no Expand") {
    // pivot with an explicit value list plans as pre-agg on (logger,
    // level) -> pivotfirst on logger: both exchanges carry aggregated
    // rows (map-side combined), never raw events. An Expand, a
    // per-value re-scan, or a missing partial agg means the explicit
    // value list stopped doing its job.
    val p = finalPlan(servedPlan("la8_level_pivot"))
    assert(!p.contains("Expand"), s"explicit-values pivot must not Expand\n$p")
    assert(p.contains("partial_count") && p.contains("partial_pivotfirst"),
      s"both pivot phases must map-side combine\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 head must be per-partition top-k\n$p")
    assert(shuffleCount(p) <= 2, s"pre-agg + pivotfirst exchanges only\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pivot must not re-scan per value, got $scans scans\n$p")
  }

  test("dd9 chunk dedup: bounded scans, no global sort") {
    // chunking is a narrow generator; the repeated-chunk dim and the
    // membership join may each re-read the chunk stream (2 documents
    // scans), but nothing may globally sort and the reassembly agg
    // must map-side combine its struct collection.
    val p = finalPlan(servedPlan("dd9_chunk_dedup"))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 2, s"expected <=2 documents scans, got $scans\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"dd9 must not globally sort\n$p")
  }

  test("tx11 count dims broadcast into the bigram stream") {
    // c(w1 w2) and c(w1) are vocab-bounded aggregates — they must
    // join back as broadcasts so the only corpus-wide exchange is the
    // per-doc regroup.
    val p = finalPlan(servedPlan("tx11_bigram_surprisal"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both count dims must broadcast\n$p")
  }

  test("cp6 manifest agg reuses cp3's shard exchange") {
    // groupBy(shard, bin_id) sits on data already hash-partitioned by
    // shard (a subset of the grouping key), so the manifest adds ZERO
    // exchanges beyond cp3's one shard shuffle.
    val p = finalPlan(servedPlan("cp6_pack_manifest"))
    assert(shuffleCount(p) <= 1,
      s"manifest must reuse the shard exchange, not add one\n$p")
  }

  test("dd10 reads dd6's memoized cluster table, not a second propagation") {
    // dd6's converged label propagation is checkpointed once per data
    // dir and shared (the codebook pattern); dd10's plan must scan the
    // checkpoint blocks — never re-derive clusters from the simhash
    // band self-join (pre-memo, the whole dd4→dd6 pipeline appeared
    // inside dd10's plan and the propagation ran twice per process).
    gate("dd6_dup_clusters", sf0001) // warm the memo
    val p = plan("dd10_canonical_select")
    assert(p.contains("ExistingRDD"),
      s"cluster table must come from the checkpointed memo\n$p")
    assert(!p.contains("simhash"),
      s"dd4's sketch join must not reappear inside dd10\n$p")
  }

  test("q9 salted agg: partials spread over salt before the final merge") {
    val p = plan("q9_salted_agg")
    // two grouping phases → two hashpartitioning exchanges: one on
    // (l_returnflag, salt), one on l_returnflag
    assert(p.contains("salt"), "salt column missing from plan")
    assert(gate("q9_salted_agg", sf0001).collect().map(
      _.getAs[Long]("n_rows")).sum ==
      Tables.lineitem(spark, sf0001).count())
  }

  test("sim6/sim18 score in the assignment stage: no vec_id join-back") {
    // r16: the IVF serving paths carry (v, n2) through the broadcast
    // probe fanout and compute the cosine BEFORE anything shuffles.
    // The old spelling kept candidates slim and joined the corpus
    // back in by vec_id — one extra full-payload embeddings scan per
    // serving leg (a broadcast at test SFs, a corpus-payload shuffle
    // at 100 TB; measured 84.8 → 20.8 s at the 100× replica). Law:
    // the embeddings relation appears exactly 3× in sim6's optimized
    // plan (assignment, probe ranking, query set) and exactly 7× in
    // sim18's (those three + sim1's two truth sides + the volume
    // leg's probes + cell sizes) — the join-back scans are gone, and
    // a scan that disappears is as much a plan change as one that
    // reappears.
    for ((g, scans) <- Seq("sim6_ivf_search" -> 3, "sim18_nprobe_curve" -> 7)) {
      val lp = gate(g, sf0001).queryExecution.optimizedPlan.toString
      val n = "Relation \\[vec_id".r.findAllIn(lp).length
      assert(n == scans,
        s"$g: expected $scans embeddings scans in the optimized plan, got $n")
    }
  }

  test("q1 sums on the scaled-long kernel; a DECIMAL(20,2) sum keeps Spark's path") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def exprs(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
      df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e => e })
    def doubleToDecimal(e: Expression): Boolean = e match {
      case c: Cast => c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType]
      case _ => false
    }
    val q1 = exprs(gate("q1_agg", sf0001))
    assert(!q1.exists(doubleToDecimal), "q1 still casts double → decimal through BigDecimal")
    assert(!q1.exists(_.isInstanceOf[Sum]), "q1 still sums on Spark's BigDecimal buffer")
    assert(q1.count(_.isInstanceOf[graft.functions.ScaledSum]) == 3)
    // DECIMAL(20,2) leaves the unscaled long: Spark's Cast and Sum stay
    val wide = exprs(Tables.lineitem(spark, sf0001).groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("l_extendedprice").cast(DecimalType(20, 2)))))
    assert(wide.exists(doubleToDecimal) && wide.exists(_.isInstanceOf[Sum]))
    assert(!wide.exists(_.isInstanceOf[graft.functions.ScaledSum]))
  }

  /** Each gate's Spark jobs in one execution, after one untimed run. */
  private def jobsPerExecution(gates: Seq[String]): Seq[(String, Int)] =
    gates.map { g =>
      gate(g, sf0001).collect()
      g -> jobsStarted(gate(g, sf0001).collect())._2
    }

  test("Spark jobs per execution of the seven benchmark gates (sf0.001)") {
    // Deterministic counts pin the fixed per-call cost: a table read
    // that falls back to schema inference adds a job, and fails here
    // on any host. One untimed run first fills the per-JVM caches
    // (codebooks, staged replay slices, the schema memo).
    // (Before the schema memo: 3, 2, 3, 4, 6, 5, 8.)
    val pins = Seq("ca1_window_metrics" -> 2, "yf6_duration_parse" -> 1,
      "q1_agg" -> 2, "tw18_asof_plan" -> 3, "sim6_ivf_search" -> 5,
      "la6_sink_roundtrip" -> 3, "st16_stream_dsv2_sink" -> 7)
    assert(jobsPerExecution(pins.map(_._1)) == pins)
  }

  test("Spark jobs per execution of the lakehouse and file-listing gates (sf0.001)") {
    // The gates that list, stage and land table files: the listing and
    // staging steps are driver-side filesystem calls and start no job.
    val pins = Seq("la9_retention_vacuum" -> 5, "la12_compaction" -> 8,
      "la13_surgical_delete" -> 14, "la14_zorder_skipping" -> 19, "la15_merge_upsert" -> 15,
      "la16_time_travel" -> 15, "la17_schema_evolution" -> 14, "la18_change_feed" -> 10,
      "la19_optimistic_commit" -> 23, "la20_snapshot_expire" -> 10,
      "la21_write_audit_publish" -> 26, "la22_dynamic_overwrite" -> 11,
      "q24_dynamic_pruning" -> 7, "sim22_index_maintenance" -> 15, "q15_summary_rewrite" -> 6)
    assert(jobsPerExecution(pins.map(_._1)) == pins)
  }

  test("Spark jobs per execution of the streaming replay gates (sf0.001)") {
    // Every gate here starts its query through StreamGates' one rig;
    // st1 and st8 run it through `replayed` / `replayedDf`. ob5 and
    // st22 read the slice anchor from the staging instead of re-running
    // the min/max `head()` (its partial-aggregate shuffle-map job and
    // its result job: 6 and 38 jobs before). Every sink, dim and
    // version read-back passes the schema it was written with, so none
    // runs a schema-inference job (st13 16, st17 7, st18 8, st19 11,
    // st20 11, st22 36, st23 15, st25 16 before).
    val pins = Seq("st1_stream_quota" -> 5, "st8_stream_docprep" -> 7,
      "ob5_stream_observe" -> 4, "st13_stream_upsert" -> 12,
      "st17_stream_dsv2_source" -> 6, "st18_stream_source_restart" -> 7,
      "st19_stream_state_restart" -> 9, "st20_stream_rocksdb_restart" -> 9,
      "st22_stream_dim_refresh" -> 31, "st23_stream_drop_ledger" -> 14,
      "st25_stream_mg_restart" -> 14)
    assert(jobsPerExecution(pins.map(_._1)) == pins)
  }

  test("Diag profile runs mm11's served plan; a bare count() plans its join away") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = gate("mm11_cdc_chunk_dedup", sf0001)
    def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size
    // the left join onto a unique-key aggregate is eliminated when no
    // column of it is read
    assert(joins(df.queryExecution.optimizedPlan) == 1)
    assert(joins(df.groupBy().count().queryExecution.optimizedPlan) == 0)
    val n = Diag.served(df)
    assert(n > 0 && n == df.count())
    // the profiled run executed that join: it emitted every row
    val ran = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.metrics("numOutputRows").value
    }
    assert(ran == Seq(n))
  }
}
