package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark._
import scala.jdk.CollectionConverters._

/** Registry-level contract checks: the driver hash-compares every
  * `queries` entry against its `oracleSql`, and smoke-checks rows>0
  * only for the flagship — so a refactor that silently empties a gate
  * query would otherwise surface only as a round-level correctness
  * drop. Every gate query must run and return rows at sf0.001. */
class GateRegistrySpec extends AnyFunSuite {

  /** Repo files resolved from the forked test JVM's working dir (sbt
    * sets it to the project base). A runner with a different CWD gets
    * a named failure pointing at the actual path tried, not an NPE
    * from an unchecked `listFiles()`. */
  private def repoFile(rel: String,
      base: String = sys.props.getOrElse("user.dir", ".")): java.io.File = {
    val f = new java.io.File(base, rel)
    require(f.exists(),
      s"repo file '$rel' not found at ${f.getAbsolutePath} — " +
        "run the suite from the repo root (sbt does; set your runner's " +
        "working directory to the project base)")
    f
  }

  private def repoText(rel: String): String =
    scala.io.Source.fromFile(repoFile(rel), "UTF-8").mkString

  /** The COMMITTED text of a repo file (`git show HEAD:rel`), falling
    * back to the worktree when git is unavailable (e.g. an exported
    * tree). The bench-band lint reads the committed snapshot because
    * the DRIVER regenerates BENCH_DETAIL.json in an uncontrolled host
    * window each round: round 12's only red test was this lint
    * tripping on a contended-window worktree artifact with zero code
    * change. The band's job is to gate what the BUILDER commits.
    * `!!` returns only after the output is fully read (it throws on a
    * nonzero exit); a `#>` copy into an OutputStream can return with
    * the last buffered KiB still uncopied. */
  private def committedText(rel: String): String =
    try scala.sys.process.Process(Seq("git", "show", s"HEAD:$rel"),
        new java.io.File(sys.props.getOrElse("user.dir", ".")))
      .!!(scala.sys.process.ProcessLogger(_ => ()))
    catch { case scala.util.control.NonFatal(_) => repoText(rel) }

  /** One cached run per gate, shared by the schema and rows lints
    * below: building a gate's DataFrame executes its side effects for
    * the MUTATING gates (la9 writes + drops partitions + deletes its
    * dir, la11 publishes + drops a sink table, dd6/dd12 checkpoint),
    * so each gate must be constructed exactly once per suite run —
    * the earlier shape built every gate twice. Parallel: the runs
    * share the session's scheduler, wall ~ slowest gate. */
  private lazy val gateRuns: Map[String, Either[String, (org.apache.spark.sql.types.StructType, Long)]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    GateQueries.all.map(q => Future(q.name -> {
      try {
        val df = q.run(spark, sf0001)
        Right((df.schema, df.count()))
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    })).map(Await.result(_, Duration.Inf)).toMap
  }

  test("repoFile from a non-repo CWD fails NAMED, not with an NPE") {
    // The lint must stay diagnosable from any runner: with the base
    // dir pointing outside the repo, every repo-file resolution raises
    // the message that names the path tried and the fix — the round-8
    // regression class was an unchecked listFiles() NPE. The non-repo
    // base is passed explicitly (mutating the global user.dir property
    // would race concurrently executing suites that resolve repo files
    // through it).
    val e = intercept[IllegalArgumentException](
      repoFile("COVERAGE.md", base = System.getProperty("java.io.tmpdir")))
    assert(e.getMessage.contains("run the suite from the repo root"),
      s"unnamed failure: ${e.getMessage}")
    assert(e.getMessage.contains("COVERAGE.md"))
    // and from the real base it resolves
    assert(repoFile("COVERAGE.md").exists())
  }

  test("every gate method in operators/ is registered, and vice versa") {
    // Registry-completeness lint: a `private def la12(s: SparkSession,
    // d: String)` added without a GateQuery entry — or a GateQuery
    // line deleted while its method remains — turns the suite red.
    // Without this, an unregistered gate silently vanishes from the
    // driver's correctness run (it checks only what's in `queries`).
    val defRe =
      """private(?:\[\w+\])? def ([a-z]+[0-9]+[a-z]?)\(s: SparkSession, d: String\)""".r
    val dir = repoFile("src/main/scala/graft/operators")
    val files = Option(dir.listFiles()).getOrElse(
      fail(s"cannot list ${dir.getAbsolutePath} (not a directory?)"))
    val defTokens = files.filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8").mkString
        defRe.findAllMatchIn(src).map(_.group(1)).toSeq
      }.toSeq.sorted
    assert(defTokens.nonEmpty,
      s"no gate methods found under ${dir.getAbsolutePath} — lint is blind")
    assert(defTokens.distinct.size == defTokens.size,
      s"duplicate gate methods: ${defTokens.diff(defTokens.distinct)}")
    val gateTokens = GateQueries.all.map(_.name.takeWhile(_ != '_')).sorted
    val unregistered = defTokens.diff(gateTokens)
    assert(unregistered.isEmpty,
      s"gate methods with no GateQuery entry (driver will never check them): $unregistered")
    val orphaned = gateTokens.diff(defTokens)
    assert(orphaned.isEmpty,
      s"GateQuery entries with no matching gate method in operators/: $orphaned")
  }

  test("gate names are unique; every gate carries an oracle") {
    val names = GateQueries.all.map(_.name)
    assert(names.distinct.length == names.length,
      s"duplicate names: ${names.diff(names.distinct)}")
    // mm3 was the last rows-only gate until its decode stub's byte
    // moments got a SQL restatement — keep the registry fully oracled
    val noOracle = GateQueries.all.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"unexpected rows-only queries: $noOracle")
  }

  test("no oracle contains an uncast integer sum (DuckDB HUGEINT trap)") {
    // DuckDB's sum(BIGINT) returns HUGEINT (int128); the driver's hash is
    // dtype-sensitive, so an uncast sum in oracle SQL hash-mismatches
    // Spark's int64 even when every value is equal (round-1 verdict: 13
    // such failures). Rule: every `sum(...)` aggregate (word-boundary
    // match, so `checksum(` never trips it) must sit directly inside a
    // `CAST(` whose target — found at the CAST's own closing paren via
    // paren balance, not a dot-star guess — is BIGINT or DOUBLE.
    val sumRe = "(?i)\\bsum\\s*\\(".r
    def castTarget(sql: String, castOpen: Int): Option[String] = {
      // castOpen = index of the '(' after CAST; walk to its match.
      var depth = 0
      var i = castOpen
      while (i < sql.length) {
        sql(i) match {
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) {
              val inner = sql.substring(castOpen + 1, i)
              return "(?is).*\\bAS\\s+(\\w+)\\s*$".r
                .findFirstMatchIn(inner).map(_.group(1).toUpperCase)
            }
          case _ =>
        }
        i += 1
      }
      None
    }
    val offenders = for {
      q <- GateQueries.all
      sql <- q.oracle.toSeq
      m <- sumRe.findAllMatchIn(sql)
      prefix = sql.substring(0, m.start).replaceAll("\\s+$", "")
      target = if (prefix.toUpperCase.endsWith("CAST("))
        castTarget(sql, prefix.length - 1) else None
      // HUGEINT is allowed as an EXPLICIT cast: an intermediate CTE may
      // deliberately keep int128 exactness (tx27's regression moments);
      // the trap this lint guards against is the IMPLICIT sum(BIGINT)
      // -> HUGEINT promotion reaching an output column untyped. Output
      // dtypes are still pinned by the driver hash + the scalar-schema
      // lint; any HUGEINT column that reached output would hash-fail.
      if !target.exists(t => t == "BIGINT" || t == "DOUBLE" || t == "HUGEINT")
    } yield s"${q.name}@${m.start} (cast target: ${target.getOrElse("none")}): " +
      s"...${sql.substring(math.max(0, m.start - 20), math.min(sql.length, m.start + 30)).replace("\n", " ")}..."
    assert(offenders.isEmpty,
      s"sum() not wrapped in CAST(... AS BIGINT|DOUBLE) in oracle SQL:\n${offenders.mkString("\n")}")
  }

  test("no gate output schema contains Array/Map/Struct columns") {
    // The driver's harness sorts result rows by every column in pandas
    // before hashing; a non-scalar cell (numpy.ndarray from ArrayType,
    // dict from Struct/Map) makes `sort_values` -> `factorize` throw
    // `unhashable type` — round 4's only red row (tx13's postings_head
    // array). Gate outputs must be scalars only; serialize lists as
    // joined strings (cp6/tx13 pattern: array_join / array_to_string).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = for {
      (name, Right((schema, _))) <- gateRuns.toSeq.sortBy(_._1)
      f <- schema.fields
      if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType]
    } yield s"$name.${f.name}: ${f.dataType.simpleString}"
    assert(offenders.isEmpty,
      s"non-scalar gate output columns (driver cannot hash them):\n${offenders.mkString("\n")}")
  }

  test("no oracle contains an interpolated Scala null") {
    // Composite oracles interpolate other gates' SQL vals; a strict
    // val referencing one defined LATER in its object bakes the
    // string "null" into the SQL (sim8Sql did exactly this when sim12
    // landed below it — DuckDB: syntax error at or near "null").
    // Repo convention writes SQL NULL uppercase, so a lowercase
    // standalone null token is always a failed interpolation.
    val offenders = for {
      q <- GateQueries.all
      sql <- q.oracle.toSeq
      m <- "\\bnull\\b".r.findAllMatchIn(sql)
    } yield s"${q.name}@${m.start}"
    assert(offenders.isEmpty,
      s"lowercase null token (failed Scala interpolation?) in: $offenders")
  }

  test("documented gate counts match the registry (no doc drift)") {
    // Round-2 verdict: README/COVERAGE counts were two rounds stale.
    // Pin the documented numbers to the registry so drift fails CI.
    val total = GateQueries.all.size
    val oracled = GateQueries.all.count(_.oracle.isDefined)
    assert(total == 248 && oracled == 248,
      s"registry changed ($total/$oracled): update this pin, README.md and COVERAGE.md")
    val coverage = repoText("COVERAGE.md")
    assert(coverage.contains(s"**$total** total, **$oracled** oracle-checked"),
      s"COVERAGE.md gate-count line must say $total total / $oracled oracle-checked")
    val readme = repoText("README.md")
    assert(readme.contains(s"($total queries, $oracled oracled)"),
      s"README.md registry line must say ($total queries, $oracled oracled)")
  }

  test("every gate is documented in COVERAGE.md; PLANS.md sections are live gates") {
    // Artifact lint: the showcase docs are graded alongside the code,
    // and a gate that exists only in the registry silently rots out of
    // them as families grow (q1_agg did exactly this for seven
    // rounds). A mention is the full name anywhere, or the backticked
    // short token (`tx1`) the COVERAGE gate tables use — deleting a
    // gate's COVERAGE row turns this red unless PLANS still shows it.
    val docs = repoText("COVERAGE.md") + repoText("PLANS.md")
    val undocumented = GateQueries.all.map(_.name).filterNot(n =>
      docs.contains(n) || docs.contains(s"`${n.takeWhile(_ != '_')}`"))
    assert(undocumented.isEmpty,
      s"gates absent from COVERAGE.md and PLANS.md (showcase rot): $undocumented")
    // and the reverse: a PLANS.md `## <gate>` section for a deleted
    // gate means the evidence file is stale — `Diag showcase` regenerates it
    val sectionRe = "(?m)^## ([a-z0-9_]+)$".r
    val staleSections = sectionRe.findAllMatchIn(repoText("PLANS.md"))
      .map(_.group(1)).toSeq
      .filterNot(GateQueries.all.map(_.name).toSet)
    assert(staleSections.isEmpty,
      s"PLANS.md sections with no registered gate (stale evidence): $staleSections")
  }

  test("committed bench snapshot sits inside the per-gate noise band") {
    // BENCH_BAND.json holds per-gate [floor, ceil] seq times from 7
    // quiet-host sf0.1 runs (tools/bench_band.py build). The suite-
    // level 1.00-1.27x pure-query band hides per-gate regressions
    // smaller than the total's swing (round-11's sim2 0.38→0.47 s was
    // presumed noise, not shown noise); this lint makes the committed
    // snapshot prove each gate individually. The rule is Bench's
    // (`Bench.bandBreaches`, the tool's too):
    // fail iff seq > max(ceil * tol_rel, ceil + tol_abs) — relative
    // guard for real gates, absolute slack so planning-floor gates
    // (fixed-overhead-dominated) never flap. Gates newer than the band
    // pass informationally until the band regenerates.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    // COMMITTED blobs, not the worktree: the driver overwrites the
    // worktree BENCH_DETAIL.json from an uncontrolled host window each
    // round (round 12: median 1.3x contention inflation turned this
    // lint red with zero code change). The band gates what the builder
    // commits; `tools/bench_band.py check BAND HEAD:BENCH_DETAIL.json`
    // is the same committed-blob mode on the CLI.
    val band = JsonMethods.parse(committedText("BENCH_BAND.json"))
    val snap = JsonMethods.parse(committedText("BENCH_DETAIL.json"))
    // mirror bench_band.py load()'s sf guard: a snapshot regenerated
    // at a smaller scale factor would sit far below every sf0.1
    // ceiling and pass this lint VACUOUSLY — the silent-noise hole
    // the lint exists to close. The field is REQUIRED and must name
    // sf0.1 exactly (path basename) — substring matching would let
    // an "sf0.12" dir through, and a missing field skipped the guard.
    (snap \ "sf").extractOpt[String] match {
      case Some(sf) =>
        assert(sf.split('/').last == "sf0.1",
          s"BENCH_DETAIL.json is not an sf0.1 snapshot (sf=$sf) — the " +
            "band lint would pass vacuously against smaller-sf times")
      case None => fail(
        "BENCH_DETAIL.json has no 'sf' field — the band lint cannot " +
          "verify the snapshot's scale factor")
    }
    val gates: Map[String, (Double, Double)] = (band \ "gates") match {
      case JObject(fs) => fs.map { case (g, v) =>
        g -> (((v \ "floor").extract[Double], (v \ "ceil").extract[Double]))
      }.toMap
      case other => fail(s"BENCH_BAND.json gates: unexpected $other")
    }
    assert(gates.size >= 200, s"band too small to lint (${gates.size} gates)")
    val seq: Map[String, Double] = (snap \ "queries_seq") match {
      case JObject(fs) => fs.map { case (g, JDouble(t)) => g -> t
        case (g, JInt(t)) => g -> t.toDouble }.toMap
      case other => fail(s"BENCH_DETAIL.json queries_seq: unexpected $other")
    }
    val limits = Bench.bandLimits(band)
    def breaches(seqTimes: Map[String, Double]): Seq[String] =
      Bench.bandBreaches(band, seqTimes).map { g =>
        val (floor, ceil) = gates(g)
        f"$g: ${seqTimes(g)}%.3f s > limit ${limits(g)}%.3f s (band [$floor%.3f, $ceil%.3f])"
      }
    val slow = breaches(seq)
    // the snapshot's own regime rides in the message: a breach from a
    // different core count or a loaded host reads as such at once
    val regime = Seq("sf", "cpus", "nproc", "load_before", "load_after", "band_note")
      .map(k => k + "=" + (snap \ k match {
        case JNothing => "absent"
        case v => JsonMethods.compact(JsonMethods.render(v))
      })).mkString(" ")
    assert(slow.isEmpty,
      s"committed snapshot regresses beyond the per-gate band ($regime):\n${slow.mkString("\n")}")
    // INFORMATIONAL worktree pass (warn, never fail): the committed-blob
    // rule above means a freshly regenerated, staged-but-uncommitted
    // snapshot pair would otherwise be linted only on the FOLLOWING
    // commit's test run — this surfaces a band violation to the builder
    // before it lands, without re-opening the driver-window flakiness
    // the committed rule closed (round-12/13 advice).
    try {
      val wtSnap = JsonMethods.parse(repoText("BENCH_DETAIL.json"))
      val wtSf = (wtSnap \ "sf").extractOpt[String]
      if (wtSf.exists(_.split('/').last == "sf0.1")) {
        val wtSeq: Map[String, Double] = (wtSnap \ "queries_seq") match {
          case JObject(fs) => fs.collect { case (g, JDouble(t)) => g -> t
            case (g, JInt(t)) => g -> t.toDouble }.toMap
          case _ => Map.empty
        }
        breaches(wtSeq).foreach(b =>
          alert(s"WORKTREE BENCH_DETAIL.json breaches the band " +
            s"(informational — possibly an uncontrolled driver window): $b"))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  test("Bench labels a run with any gate over its band limit, whatever the total") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val band = JsonMethods.parse(committedText("BENCH_BAND.json"))
    val snap = (JsonMethods.parse(committedText("BENCH_DETAIL.json")) \ "queries_seq")
      .extract[Map[String, Double]]
    val ceils = (band \ "gates").extract[Map[String, JValue]]
      .map { case (g, v) => g -> (v \ "ceil").extract[Double] }
    val limit = Bench.bandLimits(band)
    // the committed calm snapshot is inside the band: no label
    assert(Bench.bandNote(band, snap).isEmpty)
    // one gate just over its limit: labelled, and the label names it
    val one = Bench.bandNote(band, snap.updated("sim3b_wideband_lsh", limit("sim3b_wideband_lsh") + 0.001))
    assert(one.exists(n => n.startsWith("1 gates over") && n.contains("sim3b_wideband_lsh")), one)
    // the round-16 shape: every gate at its ceiling and three far over,
    // yet the total stays under 2x the ceiling sum (the old rule's line)
    val hot = Seq("la11_dsv2_sink", "st5_stream_ttl_v2", "sim3b_wideband_lsh")
    val r16 = ceils ++ hot.map(g => g -> 3 * limit(g))
    assert(r16.values.sum < 2 * ceils.values.sum)
    assert(Bench.bandBreaches(band, r16) == hot.sorted)
    assert(Bench.bandNote(band, r16).exists(n => hot.forall(n.contains)))
  }

  test("PLANS.md plan-shape claims are machine-checked (law lint)") {
    // Round-10 advice discipline extended to PLANS.md: every showcase
    // section's English claim carries pinned laws evaluated against
    // the COMMITTED plan text, so a `Diag showcase` regeneration that quietly
    // loses a property (a broadcast flipping to shuffle, an exchange
    // appearing on a zero-exchange path) fails CI — and adding a NEW
    // showcase gate without deciding its laws fails the completeness
    // check below. Laws run on the FINAL-plan tree region (adaptive
    // dumps include an Initial Plan and a detail list that would
    // double-count nodes); whole-body checks are for detail-only
    // markers (PushedFilters, Scan ExistingRDD).
    val text = repoText("PLANS.md")
    val secRe = "(?ms)^## ([a-z0-9_]+)$(.*?)(?=^## |\\z)".r
    val sections: Map[String, String] =
      secRe.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    def finalRegion(b: String): String =
      if (b.contains("== Final Plan =="))
        b.split("== Final Plan ==")(1).split("== Initial Plan ==")(0)
      else b.split("(?m)^\\(\\d+\\) ")(0) // plain dump: tree before details
    def nodes(b: String, pat: String): Int =
      (pat + " \\(\\d+\\)").r.findAllMatchIn(b).size
    // ReusedExchange excluded too: it references an exchange counted at
    // its definition site (often a BroadcastExchange) — counting the
    // reuse would both pad shuffle counts and flip on a harmless
    // broadcast-reuse appearing in a regenerated plan (round-11 advice).
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
    val laws: Map[String, Seq[Law]] = Map(
      "ca6_final_metrics" -> Seq(shufflesAtMost(2), scansAtMost(2)),
      "q2_dim_join" -> Seq(node("BroadcastHashJoin \\w+ \\w+", 3), noSmj,
        noNode("ShuffledHashJoin \\w+ \\w+"), shufflesAtMost(1)),
      "q10_bucketed_join" -> Seq(node("SortMergeJoin \\w+"), noNode("Sort"),
        shufflesAtMost(1)),
      "la1_filter_paginate" -> Seq(node("TakeOrderedAndProject"),
        shufflesAtMost(0)),
      "tw7_range_join" -> Seq(node("Generate"), noNlj,
        node("BroadcastHashJoin \\w+ \\w+")),
      "s6_connector_group_agg" -> Seq(bodyNot("HashAggregate"),
        bodyNot("SortAggregate")),
      "cp1_stratified_sample" -> Seq(node("WindowGroupLimit"), shufflesAtMost(1)),
      "tx8_kmv_cardinality" -> Seq(node("ObjectHashAggregate")),
      "dd3_minhash_lsh" -> Seq(scansAtMost(2), node("ObjectHashAggregate")),
      "dd4_simhash" -> Seq(scansAtMost(2), noSmj, shufflesAtMost(1)),
      "sim9_ann_multiband" -> Seq(node("BroadcastHashJoin \\w+ \\w+", 3), noSmj),
      "sim10_pq_encode" -> Seq(shufflesAtMost(0), scansAtMost(1)),
      "sim11_adc_search" -> Seq(noNode("HashAggregate"), node("WindowGroupLimit")),
      "tw9_event_gaps" -> Seq(shufflesAtMost(1), node("TakeOrderedAndProject")),
      "dd9_chunk_dedup" -> Seq(noNode("Sort"), noSmj),
      "sim12_ivfpq_search" -> Seq(node("ShuffledHashJoin \\w+ \\w+"), noSmj),
      "q12_sql_exists" -> Seq(bodyHas("LeftSemi"), noSmj),
      "dd13_incremental_dedup" -> Seq(noSmj, node("BroadcastExchange")),
      "tw12_rate_limit" -> Seq(shufflesAtMost(1)),
      "dd10_canonical_select" -> Seq(bodyHas("Scan ExistingRDD"),
        node("WindowGroupLimit"), shufflesAtMost(1)),
      "dd15_containment_score" -> Seq(node("BroadcastExchange", 2), node("Generate")),
      "sim14_lloyd_refine" -> Seq(node("BroadcastExchange"), shufflesAtMost(2)),
      "q13_sql_not_exists" -> Seq(bodyHas("LeftAnti"), noNode("Sort")),
      "q14_bag_setops" -> Seq(Law("join-free", (f, _) => joins(f) == 0),
        node("Generate")),
      "la10_histogram_p95" -> Seq(noSmj),
      "tx13_inverted_index" -> Seq(shufflesAtMost(2), scansAtMost(1),
        node("Window")),
      "mm8_crossmodal_dedup" -> Seq(bodyNot("FullOuter"), noSmj),
      "tw15_scd2_intervals" -> Seq(shufflesAtMost(1),
        Law("<=1 Sort (windows share it)", (f, _) => nodes(f, "Sort") <= 1),
        node("Window", 2)),
      "sim16_filtered_ivfpq" -> Seq(node("ShuffledHashJoin \\w+ \\w+"), noSmj),
      "mm7_perceptual_neardup" -> Seq(noSmj, shufflesAtMost(2)),
      "dd17_bloom_history" -> Seq(node("BroadcastExchange", 3),
        node("BroadcastHashJoin \\w+ \\w+", 5), noSmj),
      "mm9_static_payload" -> Seq(shufflesAtMost(0), scansAtMost(1)),
      "cp15_dataset_card" -> Seq(node("BroadcastHashJoin \\w+ \\w+", 2), noSmj),
      "s7_connector_topn" -> Seq(bodyHas("PushedTopN"), noNode("Sort"),
        noNode("TakeOrderedAndProject"), bodyNot("CollectLimit")),
      "dd19_repeated_spans" -> Seq(shufflesAtMost(3), node("Generate"), noSmj),
      "sim19_sq8_search" -> Seq(node("WindowGroupLimit"), shufflesAtMost(1)),
      "tx20_host_centrality" -> Seq(bodyNot("CartesianProduct"),
        node("BroadcastHashJoin \\w+ \\w+", 10)),
      "q16_sql_lateral" -> Seq(node("WindowGroupLimit"), noNlj),
      "q17_incremental_summary" -> Seq(bodyHas("Scan ExistingRDD")),
      "q18_unpivot_melt" -> Seq(bodyHas("Expand"), shufflesAtMost(1)),
      "mm11_cdc_chunk_dedup" -> Seq(shufflesAtMost(3), noSmj),
      "la16_time_travel" -> Seq(bodyNot("SortMergeJoin")),
      "tw18_asof_plan" -> Seq(node("AsOfJoin"), noNode("Window"), bodyNot("Union")),
      "q22_json_analytics" -> Seq(bodyHas("from_json"), scansAtMost(1)),
      "cp17_pps_sample" -> Seq(bodyHas("hashpartitioning(pid"),
        node("BroadcastExchange"), shufflesAtMost(3)),
      "sim23_radius_search" -> Seq(bodyNot("SortMergeJoin")),
      "sim24_dominant_direction" -> Seq(bodyNot("SortMergeJoin")),
      "mm12_aspect_buckets" -> Seq(shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0)),
      // receipt-backed sections (round-12): these gates return
      // collected rows or sink read-backs, so their evidence is the
      // in-gate require'd RECEIPT the plan writer embeds in the fence —
      // the laws pin the receipt's decisive phrases on committed text
      "q25_skew_join" -> Seq(bodyHas("-- RECEIPT"), bodyHas("skew=true")),
      "st19_stream_state_restart" -> Seq(
        bodyHas("continued the batch numbering"),
        bodyHas("nonempty proper prefix")),
      "st20_stream_rocksdb_restart" -> Seq(
        bodyHas("continued the batch numbering"),
        bodyHas(".changelog files present")),
      "la22_dynamic_overwrite" -> Seq(
        bodyHas("untouched partitions byte-identical"),
        bodyHas("retry idempotent")),
      "q26_cube" -> Seq(bodyHas("Expand"), scansAtMost(1), shufflesAtMost(1),
        bodyNot("Union")),
      "cp18_water_fill" -> Seq(scansAtMost(1), shufflesAtMost(2),
        node("Window", 3),
        Law("<=1 Sort (windows share it)", (f, _) => nodes(f, "Sort") <= 1)),
      "sim25_maxsim_rerank" -> Seq(node("WindowGroupLimit"), noSmj, noNlj,
        node("BroadcastHashJoin \\w+ \\w+", 2), shufflesAtMost(2)),
      "tx27_linear_probe" -> Seq(scansAtMost(1), shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0), noNode("Window")),
      "mm13_scene_cuts" -> Seq(scansAtMost(1), shufflesAtMost(1),
        node("Generate"), node("Window"), noSmj),
      "tx28_classifier_inference" -> Seq(scansAtMost(1), shufflesAtMost(1),
        Law("join-free", (f, _) => joins(f) == 0), noNode("Window")),
      "mm14_prep_funnel" -> Seq(noSmj,
        node("ShuffledHashJoin \\w+ \\w+", 2), scansAtMost(3),
        shufflesAtMost(8)),
      "st23_stream_drop_ledger" -> Seq(
        bodyHas("numRowsDroppedByWatermark summed"),
        bodyHas("== the staged late set exactly")),
      "sim27_ivf_sq8" -> Seq(node("ShuffledHashJoin \\w+ \\w+"), noSmj,
        node("WindowGroupLimit"), node("BroadcastExchange", 2)),
      "mm15_clip_sample" -> Seq(scansAtMost(1), shufflesAtMost(3),
        Law("join-free", (f, _) => joins(f) == 0), node("Generate"),
        node("Window", 2)),
      "la24_orc_roundtrip" -> Seq(bodyHas("Scan orc"),
        bodyHas("PartitionFilters: [isnotnull(level"),
        bodyHas("PushedFilters: [IsNotNull(value_cents), " +
          "GreaterThanOrEqual(value_cents,1000)]"),
        bodyHas("ReadSchema: struct<ts_us:bigint,value_cents:bigint>"),
        shufflesAtMost(1)),
      // la25: the sketch is a bounded-state ObjectHashAggregate; the
      // ≤levels-row answer frame joins back BROADCAST; never a
      // sort-merge join; 4 exchanges = sketch agg + ranks agg + the
      // audit window + the final level joins (shuffle-hash, slim).
      "la25_kll_quantiles" -> Seq(node("ObjectHashAggregate"),
        node("BroadcastHashJoin \\w+ \\w+"), noSmj, noNlj,
        shufflesAtMost(4), scansAtMost(4)),
      // dd21: window hashes + token stream explode narrow (3
      // Generates); both corpus joins are SHUFFLE-HASH on fixed-width
      // keys; never sort-merge, never a nested loop.
      "dd21_exact_substring" -> Seq(node("Generate", 3),
        node("ShuffledHashJoin \\w+ \\w+", 2), noSmj, noNlj,
        shufflesAtMost(5), scansAtMost(3)),
      // tx29: one bounded-state sketch agg + the exact top-20 audit
      // (TakeOrderedAndProject); the 1-row sketch anchor is the suite's
      // permitted BNLJ shape, so noNlj is deliberately NOT pinned here.
      "tx29_mg_heavy_hitters" -> Seq(node("ObjectHashAggregate"),
        node("TakeOrderedAndProject"), noSmj,
        shufflesAtMost(2), scansAtMost(2)),
      // q28: the gate returns an assembled 2-row frame; the decisive
      // evidence is the receipt — the decision ledger with both
      // directions of the sketch-vs-budget comparison.
      "q28_sketch_planner" -> Seq(bodyHas("-- RECEIPT"),
        bodyHas("-> broadcast"), bodyHas("-> shuffle_hash")),
      // st25: restart + compaction receipts (st19's discipline plus
      // the MG-specific err>0 law).
      "st25_stream_mg_restart" -> Seq(
        bodyHas("continued the batch numbering"),
        bodyHas("nonempty proper prefix"),
        bodyHas("MG compacted (err>0)")),
      // q29: the decisive evidence is the in-gate require'd receipt
      // (plan marker present ON / absent OFF, aggregates identical).
      "q29_runtime_bloom" -> Seq(bodyHas("-- RECEIPT"),
        bodyHas("might_contain present in the ON leg"),
        bodyHas("absent in the OFF leg"),
        bodyHas("aggregates identical")))
    val missingLaws = sections.keySet -- laws.keySet
    assert(missingLaws.isEmpty,
      s"PLANS.md sections without pinned laws (add them here): $missingLaws")
    val staleLaws = laws.keySet -- sections.keySet
    assert(staleLaws.isEmpty,
      s"laws for sections no longer in PLANS.md: $staleLaws")
    val failures = for {
      (g, ls) <- laws.toSeq.sortBy(_._1)
      // body checks run on the fenced plan only — the English caption
      // would otherwise satisfy/violate its own claim ("no Union")
      body = sections(g).dropWhile(_ != '`')
      fr = finalRegion(body)
      l <- ls if !l.ok(fr, body)
    } yield s"$g: ${l.desc}"
    assert(failures.isEmpty,
      s"PLANS.md claims no longer hold in the committed plans:\n${failures.mkString("\n")}")
  }

  test("every gate query returns rows at sf0.001") {
    val bad = gateRuns.toSeq.sortBy(_._1).collect {
      case (name, Left(err)) => s"$name FAILED: $err"
      case (name, Right((_, n))) if n <= 0 => s"$name EMPTY"
    }
    assert(bad.isEmpty, s"empty or failing gate queries: $bad")
  }

  test("Verify.dump with a gate filter writes exactly those gates and their oracles") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toFile
    val gates = Seq("q1_agg", "ca1_window_metrics")
    assert(Verify.dump(spark, sf0001, out.getPath, gates).isEmpty)
    assert(out.listFiles().filter(_.isDirectory).map(_.getName).toSet == gates.toSet)
    val oracles = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(out, "oracle_sql.json"))
    assert(oracles.fieldNames().asScala.toSet == gates.toSet)
    assert(java.nio.file.Files.readString(new java.io.File(out, "failed.json").toPath) == "{}")
    // the gate loop under it: a failing gate is named and the others
    // still run, results in input order whatever finishes first
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val runs = GateQueries.each(Seq("slow", "boom", "b", "a"), 2) { n =>
      ran.add(n)
      if (n == "slow") Thread.sleep(200)
      if (n == "boom") throw new IllegalStateException("gate boom broke")
      n.toUpperCase
    }
    assert(runs.map(r => r._1 -> r._3) == Seq("slow" -> Right("SLOW"),
      "boom" -> Left("IllegalStateException: gate boom broke"), "b" -> Right("B"), "a" -> Right("A")))
    assert(ran.asScala.toSet == Set("slow", "boom", "b", "a"))
  }

  test("Verify and Diag reject a bad command line before any session exists") {
    def rejects(args: String*)(expected: String*): Unit = {
      val e = intercept[IllegalArgumentException](
        if (args.head == "Verify") Verify.parse(args.tail) else Diag.parse(args.tail))
      expected.foreach(x => assert(e.getMessage.contains(x), s"'$x' not in: ${e.getMessage}"))
    }
    rejects("Verify", sf0001, "/tmp/out", "q1_agg,nosuchgate")("nosuchgate", "known: ", "q1_agg")
    rejects("Diag", "explain", "q1_agg")("usage: Diag")
    rejects("Diag", "--conf", "a=1;oops", "profile", "q1_agg")("'oops'", "--conf")
    rejects("Diag", "profile", "q1_agg,nosuchgate")("nosuchgate")
    rejects("Diag", "profile", "q1_agg", "0")("reps")
    rejects("Diag", "replica", "/tmp/r", "0")("factor")
    rejects("Diag", "replica", "/tmp/r", "x")("factor")
    rejects("Diag", "replica", "2")("usage: Diag")
    rejects("Diag", "scale", "nosuchcheck")("nosuchcheck", "known: ", "cc_chain")
    assert(Diag.parse(Seq("--conf", "a=1;b=x=y", "profile", "q1_agg", "2")) ==
      (Diag.Profile(Seq("q1_agg"), 2), Seq("a" -> "1", "b" -> "x=y")))
    // plan takes names as given: the tree before a change may lack a gate
    assert(Diag.parse(Seq("plan", "/tmp/p", "after", "q1_agg,nosuchgate"))._1 ==
      Diag.Plan("/tmp/p", "after", Seq("q1_agg", "nosuchgate")))
    assert(Diag.parse(Seq("replica", "/tmp/r", "2", "grown"))._1 ==
      Diag.Replicate("/tmp/r", 2, grown = true))
    assert(Diag.parse(Seq("scale"))._1 == Diag.Scale(Replica.checks.keys.toSeq))
    assert(Diag.parse(Seq("showcase"))._1 == Diag.Showcase)
    rejects("Diag", "showcase", "PLANS.md")("usage: Diag")
  }

  private def mainFiles: Seq[java.io.File] = {
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(repoFile("src/main"))
  }

  private def mainSources: Seq[(java.io.File, String)] =
    mainFiles.filter(_.getName.endsWith(".scala"))
      .map(f => f -> scala.io.Source.fromFile(f, "UTF-8").mkString)

  test("one session builder, no round-stamped files, and the pinned set of mains") {
    val all = mainFiles
    val texts = mainSources
    assert(texts.collect { case (f, t) if t.contains("SparkSession.builder") => f.getName } ==
      Seq("GraftSession.scala"))
    // each main's enclosing top-level object (a nested `case object`
    // such as Diag.Showcase declared above a main is not it)
    val mains = texts.flatMap { case (_, t) =>
      "def main\\(".r.findAllMatchIn(t).map { m =>
        "(?m)^object (\\w+)".r.findAllMatchIn(t.take(m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "Diag", "Verify"))
    // and one gate loop: the mains share GateQueries.each's pool
    assert(texts.collect { case (f, t) if t.contains("newFixedThreadPool") =>
      f.getName -> "newFixedThreadPool".r.findAllIn(t).size } == Seq("GateQuery.scala" -> 1))
    assert(all.map(_.getName).filter("R\\d+".r.findFirstIn(_).isDefined).isEmpty)
  }

  test("src/main names exactly the pinned SPARK_GRAFT_ env knobs") {
    // a new knob fails here: sizes and modes belong on a command line
    val knobs = mainSources.flatMap { case (_, t) => "SPARK_GRAFT_\\w+".r.findAllIn(t) }.toSet
    assert(knobs == Set("CPUS", "MASTER", "JARS", "SF_DIR", "SCRATCH").map("SPARK_GRAFT_" + _))
  }

  test("every table-file read in src/main goes through Tables") {
    // a direct `read.parquet` of `<dir>/<table>.parquet` bypasses the
    // schema memo and pays one inference job per call
    val tableRead = ("""read\.parquet\(s"\$\{?\w+\}?/(region|nation|customer|supplier|""" +
      """part|orders|lineitem|events|documents|embeddings)\.parquet"""").r
    assert(mainSources.collect { case (f, t) if f.getName != "Tables.scala" &&
      tableRead.findFirstIn(t).isDefined => f.getName } == Nil)
  }

  test("Hadoop directory listings in src/main live only in Tables and LocalFs") {
    // which files make up a table is decided by one walk (Tables.files);
    // a private listing elsewhere duplicates that decision, and a
    // listFiles walk forks `ls -ld` per file on the local filesystem
    val listing = """\.(listStatus|listStatusIterator|listLocatedStatus|globStatus)\(|\.listFiles\([^()]*,""".r
    val allowed = Set("Tables.scala", "LocalFs.scala")
    assert(mainSources.collect { case (f, t) if !allowed(f.getName) &&
      listing.findFirstIn(t).isDefined => f.getName }.sorted == Nil)
  }

  test("only the StreamGates rig starts a stream") {
    // one drain and one replay session: a gate that hand-rolls its own
    // start/processAllAvailable/stop copy fails here (comments skipped)
    def code(t: String): String = t.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .mkString("\n")
    def calls(call: String, t: String): Int =
      s"\\.$call\\(\\)".r.findAllIn(code(t)).length
    val drains = mainSources.collect { case (f, t) if calls("processAllAvailable", t) > 0 =>
      f.getName -> calls("processAllAvailable", t) }
    assert(drains == Seq("StreamGates.scala" -> 1))
    val streams = mainSources.collect { case (f, t) if f.getName == "StreamGates.scala" => t }
    assert(streams.map(calls("newSession", _)) == Seq(1))
  }

  test("entry is the flagship and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.size == GateQueries.all.size)
    assert(SparkEntry.oracleSql.size == GateQueries.all.count(_.oracle.isDefined))
  }
}
