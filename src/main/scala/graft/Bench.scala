package graft
import org.json4s._
import org.json4s.jackson.JsonMethods
import Verify.jsonString

/** Benchmark main: runs every gate query at the given SF dir and prints
  * ONE JSON line {"metric":"total","value":wall_sec,"queries":{...}}.
  *
  * The suite executes CONCURRENTLY (`GateQueries.Par` = 8 query threads
  * on local[cpus]) — the engine-throughput measurement a multi-tenant Spark
  * cluster actually delivers. Per-query job scheduling / AQE planning
  * overhead (~0.4 s each, dwarfing the sub-second data work at bench
  * SFs) overlaps instead of summing: measured at sf0.1 the suite drops
  * from ~24 s sequential to ~6-8 s wall. `value` is the wall-clock of
  * the whole suite; `queries` are per-query latencies under that
  * concurrency (so they sum to more than `value`, and are noisy
  * individually — thread contention, not plan cost).
  *
  * `queries_seq` is a SEQUENTIAL warm pass: one query at a time, so
  * per-query numbers are attributable and comparable across rounds
  * (the concurrent spans are not).
  *
  * The timed action is `count()`, not the served plan `Diag profile`
  * times (`Diag.served`): `count()` lets Catalyst prune columns and
  * unique-key outer joins (mm11: 0 joins counted, 1 served), so a time
  * here can understate what consuming a gate's output costs. It stays
  * because every committed band and snapshot, and every earlier bench
  * round, compares `count()` times; `Diag profile` and perfbench price
  * the served plan.
  *
  * Failures are NOT swallowed: a crashing query lands in `failed` and
  * flips the exit code — a broken gate must turn the bench red, not
  * shave its wall-clock.
  *
  * OUTPUT SIZE CONTRACT: the driver keeps only the last ~2000 chars of
  * stdout (BENCH_r01..r03 all show `parsed: null` — the full per-query
  * line outgrew that window as the registry grew past ~60 gates, and
  * sbt's `[success] Total time...` trailer eats ~80 more). So the ONE
  * stdout JSON line carries the totals plus a fixed HEADLINE subset of
  * per-query times, and the full per-query maps (concurrent +
  * sequential, every gate) go to BENCH_DETAIL.json in the cwd.
  */
object Bench {
  /** 1-minute loadavg, read at suite start and end: a bench run in a
    * contended host window SELF-LABELS in the artifact (round 12's
    * driver window needed judge forensics to rule out a regression —
    * with this field the evidence rides in BENCH_DETAIL.json). */
  private def loadavg(): String =
    try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").headOption.getOrElse("NA")
    catch { case scala.util.control.NonFatal(_) => "NA" }

  /** Each gate's limit in `band` (a parsed BENCH_BAND.json):
    * max(ceil × tol_rel, ceil + tol_abs), the rule of
    * `tools/bench_band.py check` and of GateRegistrySpec's snapshot
    * lint. */
  def bandLimits(band: JValue): Map[String, Double] = {
    implicit val fmts: Formats = DefaultFormats
    val tolRel = (band \ "tol_rel").extract[Double]
    val tolAbs = (band \ "tol_abs").extract[Double]
    (band \ "gates").extract[Map[String, JValue]].map { case (g, v) =>
      val ceil = (v \ "ceil").extract[Double]
      g -> math.max(ceil * tolRel, ceil + tolAbs)
    }
  }

  /** Gates of `seq` (gate -> sequential seconds) over their
    * [[bandLimits]]. Gates the band does not cover pass. Sorted by
    * name. */
  def bandBreaches(band: JValue, seq: Map[String, Double]): Seq[String] = {
    val limits = bandLimits(band)
    seq.toSeq.sortBy(_._1).collect { case (g, t) if limits.get(g).exists(t > _) => g }
  }

  /** The run's `band_note`: the breach count and the first gate names
    * when any gate is over its band limit, else None. Such a run comes
    * from a contended window or carries a regression; it is no
    * evidence for per-gate times until a calm run confirms them. */
  def bandNote(band: JValue, seq: Map[String, Double]): Option[String] = {
    val over = bandBreaches(band, seq)
    if (over.isEmpty) None
    else Some(s"${over.size} gates over their per-gate band limit " +
      "max(ceil x tol_rel, ceil + tol_abs): " + over.take(5).mkString(", ") +
      (if (over.size > 5) ", ..." else "") +
      " - contended window or regression; do not adjudicate per-gate times from this run")
  }

  def main(args: Array[String]): Unit = {
    val loadBefore = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus)
    val queries = SparkEntry.queries
    def runSuite(par: Int) =
      GateQueries.each(queries.keys.toSeq, par)(n => queries(n)(spark, sfDir).count())
    // Warm-up pass (untimed): JIT + whole-stage-codegen compilation of
    // all plans and the parquet file-index/footer caches. Without it
    // the measured pass races janino compilation on the same cores and
    // wall-clock varies 2×. Then best-of-2 measured passes — a single
    // pass can still catch a full-GC pause.
    val warm = runSuite(GateQueries.Par)
    val passes = (1 to 2).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      val results = runSuite(GateQueries.Par)
      (results, (System.nanoTime() - t0) / 1e9)
    }
    val (results, wall) = passes.minBy(_._2)
    // Sequential warm pass: attributable per-query latencies.
    val seq = runSuite(1)
    // EVERY pass reports: a query that crashes only cold (warm-up) or
    // only in the non-selected measured pass must still turn the
    // bench red, not vanish behind the best-of-2 selection.
    val failed = (warm ++ passes.flatMap(_._1) ++ seq)
      .collect { case (n, _, Left(e)) => s"$n: $e" }.distinct
    def r3(v: Double): String = f"$v%.3f"
    def qmap(rs: Seq[(String, Double, Either[String, Long])]): String =
      rs.map { case (k, v, _) => jsonString(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val seqTotal = seq.map(_._2).sum
    // Self-label: a run with any gate outside the committed per-gate
    // band is flagged IN the artifact (stderr + a detail-file field;
    // the stdout contract is unchanged). A total-only rule missed the
    // round-16 8-core run: 325.5 s seq against a 264.8 s ceiling sum
    // went out unlabelled with 27 gates over their limits.
    val bandNote: Option[String] = try {
      val p = java.nio.file.Paths.get("BENCH_BAND.json")
      if (!java.nio.file.Files.exists(p)) None
      else Bench.bandNote(JsonMethods.parse(java.nio.file.Files.readString(p)),
        seq.map { case (n, t, _) => n -> t }.toMap)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench-band] BENCH_BAND.json unreadable, run not labelled: $e")
      None
    }
    bandNote.foreach(n => System.err.println(s"[bench-band] $n"))
    // Full detail (every gate, both passes) → file; stdout stays small.
    val loadAfter = loadavg()
    val detail =
      s"""{"metric":"total","value":${r3(wall)},"unit":"sec","queries":${qmap(results)},"queries_seq":${qmap(seq)},"seq_total":${r3(seqTotal)},"failed":${failed.map(jsonString).mkString("[", ",", "]")},"load_before":${jsonString(loadBefore)},"load_after":${jsonString(loadAfter)},"band_note":${bandNote.map(jsonString).getOrElse("null")},"sf":${jsonString(sfDir)},"cpus":${jsonString(GraftSession.cpus)},"nproc":${Runtime.getRuntime.availableProcessors}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    // Headline subset for the size-capped stdout line: one
    // representative per family plus the historically slowest gates.
    // Quoted from the SEQUENTIAL warm pass (and labeled so): the
    // concurrent per-query spans include thread contention — a heavy
    // streaming replay running alongside makes a 0.2 s gate read as
    // 2.6 s, which adjudicates as a phantom regression. `value` stays
    // the concurrent suite's wall-clock (the throughput headline).
    val headline = Seq(
      "q1_agg", "q4_topn_window", "ca6_final_metrics", "la1_filter_paginate",
      "tw3_sessionize", "yf6_duration_parse", "tx6_bigram_topk",
      "dd2_jaccard_blocked", "dd3_minhash_lsh", "dd4_simhash",
      "sim1_knn_bruteforce", "sim2_ann_lsh", "sim6_ivf_search",
      "mm2_frame_sample", "cp3_sequence_pack", "s6_connector_group_agg")
    val headSet = headline.toSet
    val qs = qmap(seq.filter(r => headSet.contains(r._1)))
    val failedJson = failed.take(5)
      .map(f => jsonString(f.take(80))).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(wall)},"unit":"sec","regime":"wall=concurrent(x${GateQueries.Par}),queries=sequential","queries":$qs,"seq_total":${r3(seqTotal)},"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"detail":"BENCH_DETAIL.json","sf":${jsonString(sfDir)}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
