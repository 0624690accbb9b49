package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, RangeJoin, Relational, Similarity, StreamGates}
import graft.plans.AsOfJoin

/** Replica scale: a table directory `factor`× the base, and the laws
  * checked on it.
  *
  *   SPARK_GRAFT_SF_DIR=<sf0.1 dir> sbt "runMain graft.Diag replica /tmp/r20 20 [grown]"
  *   SPARK_GRAFT_SF_DIR=/tmp/r20 sbt "runMain graft.Diag scale [check,...]"
  *
  * [[write]] builds the replica once; every entry point then runs any
  * gate on it by pointing `SPARK_GRAFT_SF_DIR` at it (`Diag profile`,
  * `Bench`, `Verify`). The replica is exact copies with shifted ids —
  * the worst realistic case for near-dup blocking: every true
  * duplicate group has `factor` members, so every bucket is dense and
  * no candidate join is saved by data sparsity. [[checks]] are the
  * at-scale laws; each throws on a violation and otherwise returns its
  * summary line. Sizes come from the directory, not from options.
  */
object Replica {
  /** The tables written `factor`×; the others are linked to the base. */
  val facts: Seq[String] = Seq("events", "documents", "embeddings")
  val linked: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Writes the replica of `sfDir` into `out` and returns each fact
    * table's row count. `grown` rewrites the replicas' text so the
    * vocabulary grows with the corpus: each replica r > 0 retags a
    * deterministic ~10 % of its token occurrences, keyed on
    * (token, r), so different replicas mint different new types. Exact
    * replication proves replica INVARIANCE (the easy case for
    * dict-grain algorithms); the grown corpus proves the dict-grain
    * claim when the dict itself scales (tx24/tx25, dd17). */
  def write(spark: SparkSession, sfDir: String, factor: Int, out: String,
      grown: Boolean = false): Seq[(String, Long)] = {
    require(factor >= 1, s"replica factor must be positive, got $factor")
    Files.createDirectories(Paths.get(out))
    val reps = spark.range(factor).toDF("rep")
    // events: each replica shifted in TIME by the corpus span, so
    // user/hour density stays realistic instead of stacking copies
    // into one hour (and la9 sees factor× the day partitions)
    val ev = Tables.events(spark, sfDir)
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val span = b.getLong(1) - b.getLong(0) + 1
    save(out, "events", strided(ev, "event_id", reps)
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("rep") * span)))
    val docs = strided(Tables.documents(spark, sfDir), "doc_id", reps)
    save(out, "documents", if (!grown) docs else docs.withColumn("text", concat_ws(" ",
      transform(Tables.tokens(col("text")), t =>
        when(col("rep") > 0 &&
            pmod(xxhash64(concat(t, col("rep").cast("string"))), lit(10)) === 0,
          concat(t, lit("v"), col("rep"))).otherwise(t)))))
    save(out, "embeddings", strided(Tables.embeddings(spark, sfDir), "vec_id", reps))
    // gates that register the full SQL-view set resolve every table's
    // schema, and Bench/Verify read all ten: link the base for the rest
    linked.foreach(t => link(sfDir, out, t))
    facts.map(t => t -> Tables.table(spark, out, t).count())
  }

  /** `df` × `reps` with `id` shifted by rep·stride. The stride derives
    * from the source ids (a fixed one would collide on larger corpora)
    * and is rounded UP to a multiple of 100, so replica ids keep their
    * originals' residues mod 100 (sim query sets), mod 50 (dd7's
    * benchmark side) and mod 10 (dd13's batch) on any corpus size. */
  private def strided(df: DataFrame, id: String, reps: DataFrame): DataFrame = {
    val stride = (df.agg(max(col(id))).head().getLong(0) / 100L + 1L) * 100L
    df.crossJoin(reps).withColumn(id, col(id) + col("rep") * lit(stride))
  }

  /** `out/t.parquet` with any link there removed: a table is never
    * written through a link, and a stale link is replaced (`Files.exists`
    * follows links, so a dangling one reads as absent). */
  private def unlinked(out: String, t: String): Path = {
    val dst = Paths.get(out, s"$t.parquet")
    if (Files.isSymbolicLink(dst)) Files.delete(dst)
    dst
  }

  private def save(out: String, t: String, df: DataFrame): Unit =
    df.drop("rep").repartition(32).write.mode("overwrite").parquet(unlinked(out, t).toString)

  /** Links `out/t` to the base table's absolute path (a relative sfDir
    * must not resolve against the link's own directory); a real table
    * there is never replaced. */
  private def link(sfDir: String, out: String, t: String): Unit = {
    val dst = unlinked(out, t)
    if (!Files.exists(dst))
      Files.createSymbolicLink(dst, Paths.get(sfDir, s"$t.parquet").toAbsolutePath)
  }

  /** The value of `body` and its wall seconds. */
  private[graft] def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gate(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Every row carries all `flags` true. The certificates below are
    * counting or self-tracked worst-case bounds, so scale cannot decay
    * them. */
  private def certify(name: String, rows: Array[Row], flags: String*): Unit =
    rows.foreach(r => require(flags.forall(r.getAs[Boolean](_)),
      s"$name certificate violated at replica scale: $r"))

  /** The at-scale checks, by name: `(spark, dir) => summary line`. */
  val checks: ListMap[String, (SparkSession, String) => String] = ListMap(
    // IVF-SQ8 candidacy is nprobe/nlist of the corpus (cells grow with
    // N, the probed fraction does not). Top-k emits UP TO 10 per query
    // (a query whose probed cells hold fewer candidates emits fewer),
    // so the law is the ceiling; a candidate blowup would surface as
    // missing queries or as wall against sim19's flat scan.
    "sim27" -> { (spark, dir) =>
      val r = gate(spark, dir, "sim27_ivf_sq8")
        .agg(count(lit(1)), countDistinct(col("query_id"))).head()
      val (rows, queries) = (r.getLong(0), r.getLong(1))
      require(queries > 0 && rows <= 10L * queries, s"sim27 emitted $rows rows for " +
        s"$queries queries — exceeds the top-10-per-query ceiling")
      s"sim27_ivf_sq8 rows=$rows queries=$queries"
    },
    // every doc exact-duplicated → every 50-window duplicated: the
    // total-coverage worst case, and the output stays doc-grain
    "dd21" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir).count()
      val c = gate(spark, dir, "dd21_exact_substring").count()
      require(c == docs, s"dd21 output $c rows != $docs docs — no longer doc-grain")
      s"dd21_exact_substring rows=$c"
    },
    // the MG summary stays O(k) while n grows, with all three
    // certificates (never-overcount band, heavy-hitter presence,
    // err·(k+1) ≤ n)
    "tx29" -> { (spark, dir) =>
      val rows = gate(spark, dir, "tx29_mg_heavy_hitters").collect()
      require(rows.length == 20, s"tx29 emitted ${rows.length} rows, not 20")
      certify("tx29", rows, "certified", "hh_present", "err_law_ok")
      s"tx29_mg_heavy_hitters rows=${rows.length} (certificates all true)"
    },
    // the clip manifest is output-bounded: at most 2 clips per media
    "mm15" -> { (spark, dir) =>
      val docs = Tables.documents(spark, dir).count()
      val c = gate(spark, dir, "mm15_clip_sample").count()
      require(c <= 2L * docs, s"mm15 emitted $c clips for $docs media — top-2 cap broken")
      s"mm15_clip_sample rows=$c"
    },
    // the CM join-size estimate never undercounts (one-sided for any
    // hash draw); the falsifiable law the same scan buys is row-sum
    // conservation: each of the d hash rows accounts for exactly the
    // corpus, which a NULL bucket or a dropped row breaks
    "q27" -> { (spark, dir) =>
      val r = gate(spark, dir, "q27_cm_join_size").head()
      require(r.getAs[Boolean]("never_under") && r.getAs[Long]("exact_pairs") > 0L,
        s"q27 never-undercount law violated at replica scale: $r")
      val ev = Tables.events(spark, dir)
      val cm = Relational.cmSketch(ev, col("user_id"), "c").groupBy(col("j"))
        .agg(sum(col("c")), count(lit(1))).collect()
      val n = ev.count()
      require(cm.length == Relational.cmD, s"q27 CM sketch lost hash rows: ${cm.length}")
      cm.foreach(row => require(row.getLong(1) == n, s"q27 CM row ${row.get(0)} mass " +
        s"${row.getLong(1)} != corpus $n — the sketch is not conserving rows"))
      s"q27_cm_join_size exact=${r.getAs[Long]("exact_pairs")} est=" +
        s"${r.getAs[Long]("est_pairs")} max_cells=${cm.map(_.getLong(2)).max}/" +
        s"${Relational.cmW} (row-sum conservation holds on all d rows)"
    },
    // one map-side-combinable sketch pass; output stays level-grain
    "la25" -> { (spark, dir) =>
      val rows = gate(spark, dir, "la25_kll_quantiles").collect()
      require(rows.nonEmpty && rows.length <= 8,
        s"la25 output ${rows.length} rows — no longer level-grain")
      certify("la25", rows, "certified_p50", "certified_p95", "certified_p99")
      s"la25_kll_quantiles rows=${rows.length} (certificates all true)"
    },
    // ONE replay serves both laws (st24 ≡ st24Audit ∘ st24Emitted): the
    // certificates survive the state store's serialize/merge path, and
    // each (window, type) group retains at most (k−1)·(⌊log2(n/k)⌋ + 2)
    // items — KllBuffer's ceiling, so an extra resident level fails
    "st24" -> { (spark, dir) =>
      val emitted = StreamGates.st24Emitted(spark, dir)
      val rows = StreamGates.st24Audit(spark, dir, emitted).collect()
      require(rows.nonEmpty, "st24 emitted no closed windows")
      certify("st24", rows, "certified_p50", "certified_p95")
      val sk = emitted.select(col("n_rows"), size(col("sk.items")).cast("long")).collect()
      sk.foreach { r =>
        val (n, ret) = (math.max(r.getLong(0), 64L), r.getLong(1))
        val cap = 63L * (2 + (63 - java.lang.Long.numberOfLeadingZeros(n / 64L)).max(0))
        require(ret <= cap, s"st24 sketch state $ret items exceeds (k-1)*levels cap $cap at n=$n")
      }
      s"st24_stream_kll rows=${rows.length} (certificates all true); state law: " +
        s"${sk.length} groups, max retained=${sk.map(_.getLong(1)).max} items " +
        "(all within (k-1)*levels)"
    },
    // the MG summary through the state store and a kill-and-resume
    "st25" -> { (spark, dir) =>
      val rows = gate(spark, dir, "st25_stream_mg_restart").collect()
      require(rows.nonEmpty, "st25 emitted no closed windows")
      certify("st25", rows, "certified", "hh_present", "err_law_ok")
      s"st25_stream_mg_restart rows=${rows.length} (certificates all true through restart)"
    },
    // replication preserves graph diameter, so the replica cannot
    // stress what dd12's large-star contraction exists for: this GROWS
    // one chain of |documents| vertices (diameter n−1), where min-label
    // propagation would need ~n rounds; the alternation must land one
    // component in O(log n) rounds, inside the operator's cap
    "cc_chain" -> { (spark, dir) =>
      val n = Tables.documents(spark, dir).count()
      require(n >= 2, s"a chain needs >= 2 vertices, the directory has $n documents")
      val edges = spark.range(n - 1)
        .select(col("id").as("id1"), (col("id") + 1).as("id2")).repartition(32)
      val (labels, rounds) = Dedup.ccBigStar(edges)
      val comps = labels.agg(countDistinct(col("lbl"))).head().getLong(0)
      require(comps == 1L, s"chain fragmented into $comps components")
      s"cc_chain n=$n rounds=$rounds components=$comps labeled=${labels.count()}"
    },
    "asof" -> asof,
    "lsh" -> lsh,
    "rangejoin" -> rangejoin)

  /** The native as-of exec vs the union-and-carry window restatement
    * (tw5's pattern) at two row widths, sides |events|/5 and 4·|events|/5
    * on a synthetic key/time draw. Both plans are linear; union-and-carry
    * sorts ONE union at the combined width and carries every right
    * column through window state, the native exec sorts each side at
    * its own width and merges with O(1) state — this measures that
    * crossover (COVERAGE.md) and asserts row conservation. */
  private def asof(spark: SparkSession, dir: String): String = {
    val nEv = Tables.events(spark, dir).count()
    val (nL, nR, keys, payW) = (nEv / 5, 4 * nEv / 5, 5000L, 12)
    def side(n: Long, even: Int, wide: Boolean) = {
      val base = spark.range(n).select((col("id") % keys).as("k"),
        ((col("id") * 7919L) % (n * 10L)).as("t"), (col("id") * 2 + even).as("rid"))
      val pay = if (wide) (0 until payW).map(i => (col("rid") * (i + 3)).as(s"p$i")) else Nil
      base.select(base.columns.map(col).toSeq ++ pay: _*).repartition(32).localCheckpoint()
    }
    Seq(false, true).map { wide =>
      val l = side(nL, 1, wide)
      val r0 = side(nR, 0, wide)
      val r = r0.select(r0.columns.toSeq.map(c => col(c).as(s"r_$c")): _*)
      val (nNative, sNative) = timed(AsOfJoin.asof(l, r,
        Seq("k"), Seq("r_k"), Seq("t", "rid"), Seq("r_t", "r_rid")).queryExecution.toRdd.count())
      // the right payload rides ONE struct through the window (the
      // cheapest carry spelling); the ordering law is identical
      val rpay = struct(r.columns.toSeq.map(col): _*).as("rpay")
      val lTagged = l.select(col("k"), col("t"), col("rid"), lit(true).as("is_l"),
        lit(null).cast(r.select(rpay).schema.head.dataType).as("rpay"))
      val rTagged = r.select(col("r_k").as("k"), col("r_t").as("t"),
        col("r_rid").as("rid"), lit(false).as("is_l"), rpay)
      val w = Window.partitionBy(col("k")).orderBy(col("t").asc, col("rid").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val (nCarry, sCarry) = timed(lTagged.unionAll(rTagged)
        .withColumn("asof", last(col("rpay"), ignoreNulls = true).over(w))
        .filter(col("is_l")).drop("rpay", "is_l").queryExecution.toRdd.count())
      require(nNative == nL && nCarry == nL,
        s"row conservation broken: $nNative / $nCarry vs $nL")
      val width = if (wide) s"wide(+$payW cols/side)" else "narrow"
      f"asof $width%-18s left=$nL%9d right=$nR%9d native=$sNative%6.1f s carry=$sCarry%6.1f s"
    }.mkString("\n")
  }

  /** The LSH band-width sizing law (Similarity.withSig: candidates ≈
    * N²·bands/2^(bandBits+1)): the gate geometry (4-bit, sim2/sim3),
    * sim3b's 8-bit bands and the next stop (16-bit), one 32-plane pool
    * throughout. The 4-bit geometry stops completing around 40k
    * vectors; wider bands keep candidate sets bounded. */
  private def lsh(spark: SparkSession, dir: String): String =
    Seq((16, 4, 4), (32, 4, 8), (32, 2, 16)).map { case (bits, bands, bandBits) =>
      val (c, secs) = timed(Similarity.candidatePairs(spark, dir, bits, bands, bandBits).count())
      f"bandBits=$bandBits%2d buckets=${1L << bandBits}%6d candidates=$c%12d elapsed=$secs%7.1f s"
    }.mkString("\n")

  /** The binned equi-join (RangeJoin.binned, tw7) over the event
    * timeline against an interval every 10 min, each 15 min wide — a
    * count where the nested-loop plan is absurd. A small broadcast
    * nested-loop control measures the naive rate and extrapolates. */
  private def rangejoin(spark: SparkSession, dir: String): String = {
    val evs = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("ts_us"), col("event_id"))
    val b = evs.agg(min(col("ts_us")), max(col("ts_us")), count(lit(1))).head()
    val (lo, span, nEv) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1, b.getLong(2))
    val (step, width) = (600L * 1000000, 900L * 1000000)
    val nIv = span / step
    val ivs = spark.range(nIv).select(col("id").as("iv_id"),
      (lit(lo) + col("id") * step).as("lo_us"), (lit(lo) + col("id") * step + width).as("hi_us"))
    val (matches, binnedSecs) = timed(
      RangeJoin.binned(evs, "ts_us", ivs, "lo_us", "hi_us", binWidth = step).count())
    val cEv = evs.limit(100000).localCheckpoint()
    val cIv = ivs.limit(2000).localCheckpoint()
    val (cm, nlSecs) = timed(cEv.join(broadcast(cIv),
      col("ts_us") >= col("lo_us") && col("ts_us") < col("hi_us")).count())
    val blowup = nIv.toDouble * nEv / (2000.0 * 100000)
    f"rangejoin binned: events=$nEv%9d intervals=$nIv%8d matches=$matches%10d " +
      f"elapsed=$binnedSecs%7.1f s\nrangejoin BNLJ control: 100000x2000 matches=$cm%8d " +
      f"elapsed=$nlSecs%6.1f s -> full problem extrapolates to ${nlSecs * blowup}%9.0f s " +
      f"(${blowup}%6.0fx the comparisons)"
  }
}
