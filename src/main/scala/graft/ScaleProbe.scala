package graft

import org.apache.spark.sql.functions._

/** Scale probe: demonstrates the LSH band-width sizing law
  * (Similarity.withSig scaladoc: candidates ≈ N²·bands/2^(bandBits+1))
  * on a corpus REPLICA_FACTOR× the sf0.1 embeddings table, instead of
  * asserting it from a docstring. Round-1 finding being demonstrated:
  * the 4-bit gate geometry (16 buckets/band) stops completing around
  * 40k vectors, while 8/16-bit bands keep candidate sets — and thus
  * the verify join — bounded. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ScaleProbe"
  *
  * Prints one line per geometry: bandBits, bucket count, candidate
  * pairs, elapsed seconds. The replica (exact copies with shifted ids)
  * is the worst realistic case for near-dup blocking: every true
  * duplicate group has 20 members, so every bucket is dense and the
  * candidate join cannot be saved by data sparsity.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_REPLICA", "20").toInt
    val out = "/tmp/graft_scale_probe"
    val spark = GraftSession.build(GraftSession.cpus)

    val probe = sys.env.getOrElse("SPARK_GRAFT_PROBE", "all")

    // High-diameter chain probe for dd12's star contraction
    // (SPARK_GRAFT_PROBE=ccchain, SPARK_GRAFT_CHAIN=<n>): REPLICATION
    // preserves graph diameter, so the gates replica can never stress
    // what large-star exists for — this builds a GROWN single chain of
    // n vertices (diameter n−1; the spec's fixture is 64) and runs
    // [[graft.operators.Dedup.ccBigStar]] on it. Min-label propagation
    // would need ~n rounds; the alternation must land one component in
    // O(log n) and inside the operator's 20-round cap.
    if (probe == "ccchain") {
      val n = sys.env.getOrElse("SPARK_GRAFT_CHAIN", "100000").toLong
      require(n >= 2,
        s"SPARK_GRAFT_CHAIN=$n is degenerate — a chain needs >= 2 vertices " +
          "(n-1 edges); range(n-1) would build an empty or negative edge set")
      val edges = spark.range(n - 1)
        .select(col("id").as("id1"), (col("id") + 1).as("id2"))
        .repartition(32)
      val t0 = System.nanoTime()
      val (labels, rounds) = graft.operators.Dedup.ccBigStar(edges)
      val comps = labels.agg(countDistinct(col("lbl"))).head.getLong(0)
      val ids = labels.count()
      println(f"[probe] cc_chain n=$n rounds=$rounds components=$comps " +
        f"labeled=$ids wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      require(comps == 1L, s"chain fragmented into $comps components")
      spark.stop()
      return
    }

    // Range-join probe: the binned equi-join (RangeJoin.binned, gate
    // tw7) on a factor×-extended event timeline against ~6 intervals
    // per hour of it — an interval count where the nested-loop plan
    // Spark would otherwise pick is computationally absurd. A small
    // BroadcastNestedLoopJoin control measures the naive rate and
    // extrapolates, demonstrating (not asserting) why the bin algebra
    // is the scale path.
    if (Set("all", "rangejoin")(probe)) {
      val evs0 = Tables.events(spark, sfDir)
        .select(unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val b = evs0.agg(min(col("ts_us")), max(col("ts_us"))).head
      val (lo, span) = (b.getLong(0), b.getLong(1) - b.getLong(0) + 1)
      val big = evs0.crossJoin(spark.range(factor).toDF("rep"))
        .select((col("ts_us") + col("rep") * span).as("ts_us"), col("event_id"))
        .repartition(32).localCheckpoint()
      val nEv = big.count()
      val step = 600L * 1000000 // an interval every 10 min...
      val width = 900L * 1000000 // ...each 15 min wide (overlapping)
      val nIv = span * factor / step
      val ivs = spark.range(nIv).select(col("id").as("iv_id"),
        (lit(lo) + col("id") * step).as("lo_us"),
        (lit(lo) + col("id") * step + width).as("hi_us"))
      val t0 = System.nanoTime()
      val matches = operators.RangeJoin.binned(
        big, "ts_us", ivs, "lo_us", "hi_us", binWidth = step).count()
      val binnedSecs = (System.nanoTime() - t0) / 1e9
      println(f"rangejoin binned: events=$nEv%9d intervals=$nIv%8d " +
        f"matches=$matches%10d elapsed=$binnedSecs%7.1f s")
      val cEv = big.limit(100000).localCheckpoint()
      val cIv = ivs.limit(2000).localCheckpoint()
      val t1 = System.nanoTime()
      val cm = cEv.join(broadcast(cIv),
        col("ts_us") >= col("lo_us") && col("ts_us") < col("hi_us")).count()
      val nlSecs = (System.nanoTime() - t1) / 1e9
      val blowup = nIv.toDouble * nEv / (2000.0 * 100000)
      println(f"rangejoin BNLJ control: 100000x2000 matches=$cm%8d " +
        f"elapsed=$nlSecs%6.1f s -> full problem extrapolates to " +
        f"${nlSecs * blowup}%9.0f s (${blowup}%6.0fx the comparisons)")
    }

    // The embeddings replica feeds only the lsh/ivfpq/dedup sections
    // (dedup gates like dd11/dd13 join embeddings) — the rangejoin and
    // events sections never read it, so they skip the minutes-long
    // 20× build.
    if (Set("all", "lsh", "ivfpq", "dedup")(probe)) {
      val src = Tables.embeddings(spark, sfDir)
      // id stride derives from the source ids — a hardcoded stride would
      // silently collide replica ids on larger corpora. Rounded UP to a
      // multiple of 100 so replica ids keep their originals' residues
      // mod 100 (the query-set selector) and mod 10 (dd13's batch
      // selector) on ANY corpus size, not just round-number ones.
      val stride = (src.agg(max(col("vec_id"))).head.getLong(0) / 100L + 1L) * 100L
      src.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("vec_id", col("vec_id") + col("rep") * lit(stride))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      val n = Tables.table(spark, out, "embeddings").count()
      println(s"corpus: $n vectors ($factor x $sfDir)")
    }

    // (bits, bands, bandBits): the gate geometry (4-bit, sim2/sim3),
    // the sim3b wide-band gate (8-bit), and the next stop on the law
    // (16-bit). Same 32-plane pool throughout — only the knob moves.
    // SPARK_GRAFT_PROBE selects a section:
    //   all | lsh | ivfpq | dedup | rangejoin.
    if (Set("all", "lsh")(probe)) {
      for ((bits, bands, bandBits) <- Seq((16, 4, 4), (32, 4, 8), (32, 2, 16))) {
        val t0 = System.nanoTime()
        val c = operators.Similarity.candidatePairs(spark, out, bits, bands, bandBits).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"bandBits=$bandBits%2d buckets=${1L << bandBits}%6d " +
          f"candidates=$c%12d elapsed=$secs%7.1f s")
      }
    }

    // IVF-PQ at factor×: the index BUILD (sim10 PQ encode) is a
    // zero-exchange narrow map — the collected codebook folds into
    // the codegen'd pq_encode expression, so encode wall tracks the
    // scan, not a shuffle (the composed spelling moved 64 × nlist
    // bookkeeping rows per vector through an exchange). The serving
    // paths then run against factor× the corpus AND factor× the query
    // set (vec_id ≡ 0 mod 100 keeps 1%): raw ADC (sim11) scans codes
    // per query, IVFADC (sim12) prunes to ~nprobe/nlist of the corpus
    // first, refine (sim13) re-ranks ≤50 exact vectors per query.
    // sim14: the Lloyd step's cost is one corpus scan + one agg to
    // nlist×64 groups — replica-invariant output. sim15/sim16: the
    // filtered serving paths — candidate volume rides the probed
    // cells' predicate survivors, refine stays ≤50/query (sim16).
    if (Set("all", "ivfpq")(probe)) {
      for (g <- Seq("sim10_pq_encode", "sim11_adc_search",
          "sim12_ivfpq_search", "sim13_adc_refine",
          "sim14_lloyd_refine", "sim15_filtered_search",
          "sim16_filtered_ivfpq",
          // sim19: SQ8 is a COMPRESSION of the exact scan, not a
          // pruning index — its probe row should grow linearly with
          // the corpus (like sim1 would) while staying 8x slimmer on
          // bytes scanned; the stats agg stays 64 rows at any N.
          "sim19_sq8_search",
          // sim20: two codebook builds + two serving legs + the drift
          // join — all corpus-linear; the sampled build scans 10%.
          "sim20_sampled_codebook")) {
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(g)(spark, out).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"$g%-18s rows=$c%10d elapsed=$secs%7.1f s")
      }
      // sim27 IVF-SQ8 with its classification ASSERTED, not just
      // printed: candidacy is nprobe/nlist of the corpus (cells grow
      // with N, probed fraction doesn't), the SQ8 reconstruction is a
      // zero-exchange narrow map, and the OUTPUT must stay exactly
      // top-10 per query at any replica factor — a candidate-volume
      // blowup would surface here as either missing queries (a cell
      // overflow dropping rows) or a wall regression vs sim19's flat
      // scan (the compressed-brute control in the same section).
      locally {
        val t0 = System.nanoTime()
        val r = SparkEntry.queries("sim27_ivf_sq8")(spark, out)
          .agg(count(lit(1)).as("rows"),
            countDistinct(col("query_id")).as("queries")).head
        val secs = (System.nanoTime() - t0) / 1e9
        // top-k emits UP TO 10 per query (a query whose probed cells
        // hold fewer candidates legitimately emits fewer rows) — the
        // asserted law is the CEILING, which is what flat per-query
        // candidacy actually guarantees; a blowup would surface as a
        // wall regression vs sim19's flat-scan control, not extra rows
        require(r.getLong(1) > 0 && r.getLong(0) <= 10L * r.getLong(1),
          s"sim27 emitted ${r.getLong(0)} rows for ${r.getLong(1)} " +
            "queries — exceeds the top-10-per-query ceiling")
        println(f"sim27_ivf_sq8 rows=${r.getLong(0)}%10d " +
          f"queries=${r.getLong(1)}%8d elapsed=$secs%7.1f s")
      }
      // sim17 runs the filtered EXACT brute force as its ground truth
      // (queries × corpus cosine pairs at ½ selectivity) — the
      // deliberately quadratic yardstick the serving paths beat; its
      // probe row is the measured recall HOLDING at replica scale
      // (probe width is a per-query constant, so recall should not
      // decay with N), with the quadratic truth cost called out.
      locally {
        val t0 = System.nanoTime()
        val r = SparkEntry.queries("sim17_filtered_recall")(spark, out).head
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"sim17_filtered_recall pairs=${r.getAs[Long]("n_exact_pairs")}%9d " +
          f"f15=${r.getAs[Double]("f15_recall_pct")}%5.1f%% " +
          f"f16=${r.getAs[Double]("f16_recall_pct")}%5.1f%% elapsed=$secs%7.1f s")
      }
    }

    // Dedup sketch probe on a factor× documents replica (every doc in
    // a 20-dense exact-duplicate group — the worst case for band
    // buckets): runs the REAL dd3/dd4 gate pipelines (one-pass sketch
    // expressions + bucket-group pair generation) through the public
    // registry and reports verified pair counts + wall time.
    // Shared documents-replica builder (dedup + curation sections):
    // stride rounded up to a multiple of 100 for the same residue
    // preservation as the embeddings stride (dd13 selects its batch by
    // doc_id % 10; mod-50 selectors ride mod 100 too). ONE definition
    // so probe=dedup and probe=curation can never measure different
    // corpora.
    def replicateDocuments(): Unit = {
      // SPARK_GRAFT_GROWVOCAB=1: replica text is REWRITTEN so the
      // vocabulary actually grows with the corpus — each replica r>0
      // retags a deterministic ~10% of its token occurrences (keyed on
      // (token, r), so different replicas mint different new types).
      // Exact replication proves replica-INVARIANCE (the easy case for
      // dict-grain algorithms); the grown corpus proves the dict-grain
      // claim when the dict itself scales (tx24/tx25's hard case).
      val grow = sys.env.get("SPARK_GRAFT_GROWVOCAB").contains("1")
      val docs = Tables.documents(spark, sfDir)
      val dstride = (docs.agg(max(col("doc_id"))).head.getLong(0) / 100L + 1L) * 100L
      val replicated = docs.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("doc_id", col("doc_id") + col("rep") * lit(dstride))
      val reexted =
        if (!grow) replicated
        else replicated.withColumn("text", concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"), t =>
            when(col("rep") > 0 &&
                pmod(xxhash64(concat(t, col("rep").cast("string"))), lit(10)) === 0,
              concat(t, lit("v"), col("rep"))).otherwise(t))))
      reexted.drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val nd = Tables.table(spark, out, "documents").count()
      println(s"corpus: $nd documents ($factor x $sfDir, growVocab=$grow)")
      if (grow) {
        val v = Tables.table(spark, out, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("t"))
          .filter(length(col("t")) > 0).agg(countDistinct(col("t"))).head.getLong(0)
        println(s"corpus: $v distinct token types (grown vocabulary)")
      }
    }

    if (Set("all", "dedup")(probe)) {
      replicateDocuments()
      // dd19 on the replica is its worst case BY CONSTRUCTION: every
      // doc is in a 20-dense exact-duplicate group, so every 8-gram is
      // corpus-duplicated and every position survives the flag join —
      // the islands then merge each doc into ONE maximal span. Volume
      // to watch: positions (linear in corpus), dup-gram groups
      // (universe-sized — exact copies add no new grams), span rows
      // (= docs). Nothing quadratic anywhere.
      for (g <- Seq("dd4_simhash", "dd3_minhash_lsh", "dd19_repeated_spans",
          // tx19: one (token x half) agg over the replica; the top-100
          // cut and 1-row totals anchor are corpus-size-invariant.
          "tx19_token_drift")) {
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(g)(spark, out).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"$g%-16s pairs=$c%12d elapsed=$secs%7.1f s")
      }
      // dd21 on the replica is the TOTAL-coverage worst case (every
      // doc exact-duplicated → every 50-window duplicated → every
      // token of every ≥50-token doc covered): positions linear, the
      // window-hash count dim universe-bounded (copies add no new
      // windows), coverage state one long per doc. Classification
      // asserted: output stays exactly doc-grain at any factor.
      locally {
        val nDocs = Tables.table(spark, out, "documents").count()
        val t0 = System.nanoTime()
        val c = SparkEntry.queries("dd21_exact_substring")(spark, out).count()
        val secs = (System.nanoTime() - t0) / 1e9
        require(c == nDocs,
          s"dd21 output $c rows != $nDocs docs — no longer doc-grain")
        println(f"dd21_exact_substring rows=$c%10d elapsed=$secs%7.1f s")
      }
      // Decontamination at 20×: the benchmark side (doc_id ≡ 0 mod 50 —
      // 2% of the corpus) stays broadcastable while the corpus side
      // scans without shuffling; flagged-pair volume is bounded by
      // actual overlap, not corpus size.
      locally {
        val t0 = System.nanoTime()
        val c = SparkEntry.queries("dd7_contamination")(spark, out).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"dd7_contamination flagged=$c%10d elapsed=$secs%7.1f s")
      }
      // Containment scoring at 20×: dd7's asymmetry sharpened — the
      // benchmark side is its distinct shingle UNIVERSE (smaller than
      // dd7's per-doc exploded side and replica-invariant: exact
      // copies add no new shingles), the corpus side explodes once
      // and regroups per doc. Output rows = corpus size by design;
      // the number to watch is wall time scaling ~linearly with the
      // replica factor while the broadcast stays constant.
      locally {
        val t0 = System.nanoTime()
        val r = SparkEntry.queries("dd15_containment_score")(spark, out)
          .agg(count(lit(1)).as("docs"),
            sum(when(col("contaminated"), 1L).otherwise(0L)).as("dirty")).head
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"dd15_containment docs=${r.getLong(0)}%10d dirty=${r.getLong(1)}%8d " +
          f"elapsed=$secs%7.1f s")
      }
      // Source-reputation rollup at 20×: the rollup output is
      // |sources|-sized (replica-invariant), so the whole cost is the
      // narrow signal scan + one map-side-combined agg — the domain
      // verdict dim stays broadcastable at any corpus size.
      locally {
        val t0 = System.nanoTime()
        val r = SparkEntry.queries("tx17_source_reputation")(spark, out)
          .groupBy(col("source_decision")).agg(count(lit(1)).as("n"))
          .collect().map(x => s"${x.getString(0)}=${x.getLong(1)}")
          .sorted.mkString(" ")
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"tx17_source_reputation $r elapsed=$secs%7.1f s")
      }
      // Cluster resolution over the replica's pair graph: every doc
      // sits in a factor-dense duplicate CLIQUE, so the label
      // propagation should converge in ~2 rounds regardless of corpus
      // size (clique diameter is 1) — the scale property that makes
      // min-label CC viable at 100 TB for dedup graphs specifically.
      val t0 = System.nanoTime()
      val cl = SparkEntry.queries("dd6_dup_clusters")(spark, out)
        .agg(count(lit(1)).as("verts"),
          countDistinct(col("cluster_id")).as("clusters"),
          max(col("cluster_size")).as("max_size")).head
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"dd6_dup_clusters verts=${cl.getLong(0)}%9d clusters=${cl.getLong(1)}%7d " +
        f"max_size=${cl.getLong(2)}%5d elapsed=$secs%7.1f s")
      // End-to-end pipeline at factor×: quality + dedup decisions,
      // decontamination, survivor packing — one lazy plan over the
      // replica corpus; the number that matters is one wall-clock for
      // the WHOLE prep pass (not a sum of stage gates).
      locally {
        val t1 = System.nanoTime()
        val r = SparkEntry.queries("cp7_full_pipeline")(spark, out)
          .groupBy(col("final_decision")).agg(count(lit(1)).as("n"))
          .collect().map(x => s"${x.getString(0)}=${x.getLong(1)}")
          .sorted.mkString(" ")
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"cp7_full_pipeline $r elapsed=$s1%7.1f s")
      }
      // Incremental ingest at factor×: the 10% "daily batch" (10k
      // docs) checks against the 90k-doc history — the batch side
      // broadcasts, history streams once; candidate volume stays
      // batch-proportional even though every doc sits in a 20-dense
      // duplicate group. (The stride is rounded to a multiple of 100,
      // so a doc's EXACT copies keep its doc_id residue and ride on
      // its own side — the probe exercises the near-dup band path;
      // exact membership is what the gate oracles at the base SFs.)
      locally {
        val t1 = System.nanoTime()
        val r = SparkEntry.queries("dd13_incremental_dedup")(spark, out)
          .groupBy(col("decision")).agg(count(lit(1)).as("n"))
          .collect().map(x => s"${x.getString(0)}=${x.getLong(1)}")
          .sorted.mkString(" ")
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"dd13_incremental_dedup $r elapsed=$s1%7.1f s")
      }
      // Retrieval at factor×: the inverted index's posting heads stay
      // bounded (128 doc_ids) while df/total_tf grow with the
      // replica; tx14's rarest-term query set and broadcast idf dim
      // are vocabulary-sized, so retrieval cost rides the tf
      // aggregation, not the corpus.
      for (g <- Seq("tx13_inverted_index", "tx14_scored_retrieval")) {
        val t1 = System.nanoTime()
        val c = SparkEntry.queries(g)(spark, out).count()
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"$g%-20s rows=$c%10d elapsed=$s1%7.1f s")
      }
      // Soft dedup at factor×: dd14's per-doc downweight verdict —
      // output is corpus-sized by design; the cost to watch is the
      // cluster-size dim (replica-invariant distinct count) staying
      // broadcastable while every doc carries a 20-dense cluster.
      // dd16's run report rolls the same memoized tables to
      // |cluster-size|-bounded rows. mm6 lifts dd1 to the payload
      // digest grain (only 16-byte digests shuffle); mm7's perceptual
      // bands are dd4's blocking at the frame grain — on the replica
      // every payload sits in a 20-dense identical-sketch group, the
      // dense-bucket worst case the codegen'd self-join absorbs.
      // mm8 merges mm7's pair set with the embedding near-dup pairs —
      // on the replica both inputs are dense-dup worst cases; the
      // number to watch is the union+agg staying candidate-sized.
      for (g <- Seq("dd14_soft_dedup", "dd16_dedup_report",
          "mm6_payload_dedup", "mm7_perceptual_neardup",
          "mm8_crossmodal_dedup",
          // mm11: chunking is a narrow payload-bounded map; the digest
          // exchange carries 16-byte digests + int lengths, and on the
          // replica every chunk is 100-dense — the worst case for the
          // rank window's copy groups, still digest-grain-bounded.
          "mm11_cdc_chunk_dedup")) {
        val t1 = System.nanoTime()
        val c = SparkEntry.queries(g)(spark, out).count()
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"$g%-22s rows=$c%12d elapsed=$s1%7.1f s")
      }
      // Chunk dedup at factor×: the repeated-chunk dim is bounded by
      // corpus REDUNDANCY — on the replica every chunk is repeated, the
      // worst case, yet the dim still holds only one row per DISTINCT
      // chunk (= the sf0.1 chunk count, not factor× it), and the
      // dropped-chunk volume confirms complete boilerplate removal.
      locally {
        val t1 = System.nanoTime()
        val r = SparkEntry.queries("dd9_chunk_dedup")(spark, out)
          .agg(count(lit(1)).as("docs"), sum(col("n_chunks")).as("chunks"),
            sum(col("n_dropped")).as("dropped")).head
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"dd9_chunk_dedup docs=${r.getLong(0)}%9d chunks=${r.getLong(1)}%9d " +
          f"dropped=${r.getLong(2)}%9d elapsed=$s1%7.1f s")
      }
    }

    // Bloom-prefilter probe at factor×: m rides the DISTINCT history
    // chunk universe — replica-INVARIANT (exact copies add no new
    // chunks) — so the bitmap the driver collects stays the base
    // size while the probe-side chunk stream is factor×. The 100 TB
    // shape: bitmap ∝ universe, probe cost ∝ batch (narrow map),
    // verify join ∝ bloom hits only.
    if (Set("all", "dedup")(probe)) {
      val t1 = System.nanoTime()
      val rows = SparkEntry.queries("dd17_bloom_history")(spark, out).collect()
      val s1 = (System.nanoTime() - t1) / 1e9
      val dec = rows.sortBy(_.getString(0))
        .map(x => s"${x.getString(0)}=${x.getLong(1)}").mkString(" ")
      val m = if (rows.nonEmpty) rows.head.getAs[Long]("m_bits") else 0L
      val fill = if (rows.nonEmpty) rows.head.getAs[Long]("fill_permille") else 0L
      println(f"dd17_bloom_history $dec m_bits=$m fill=${fill}permille " +
        f"elapsed=$s1%7.1f s")
    }

    // Curation-artifact probe at factor×: mm9 is a pure narrow map
    // (in-row frame fold — wall tracks the scan); cp15's card reduces
    // map-side to source-grain dims, so its output is |sources| rows
    // REGARDLESS of corpus size and only the fingerprint exchange
    // grows; ob4's funnel collapses to |decisions| rows + a 1-row
    // anchor. All three ride the dedup section's documents replica.
    if (Set("all", "curation")(probe)) {
      if (probe == "curation") replicateDocuments() // standalone run
      for (g <- Seq("mm9_static_payload", "cp15_dataset_card",
          "ob4_row_accounting", "mm10_payload_quarantine",
          "tx28_classifier_inference", "mm14_prep_funnel")) {
        val t1 = System.nanoTime()
        val c = SparkEntry.queries(g)(spark, out).count()
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"$g%-20s rows=$c%10d elapsed=$s1%7.1f s")
      }
      // tx29 with its laws ASSERTED at replica scale: the MG summary
      // stays O(k) while n grows 20x, and all three deterministic
      // certificates (never-overcount band, heavy-hitter presence,
      // err·(k+1) ≤ n) must hold on the replica corpus — the bound is
      // a counting argument, so scale cannot decay it.
      locally {
        val t1 = System.nanoTime()
        val rows = SparkEntry.queries("tx29_mg_heavy_hitters")(spark, out).collect()
        val s1 = (System.nanoTime() - t1) / 1e9
        require(rows.length == 20, s"tx29 emitted ${rows.length} rows, not 20")
        rows.foreach { r =>
          require(r.getAs[Boolean]("certified") && r.getAs[Boolean]("hh_present") &&
            r.getAs[Boolean]("err_law_ok"),
            s"tx29 certificate violated at replica scale: $r")
        }
        println(f"tx29_mg_heavy_hitters rows=${rows.length}%10d " +
          f"elapsed=$s1%7.1f s (certificates all true)")
      }
      // mm15 with its classification ASSERTED: frames explode narrow
      // (≤12 per media, 8-byte hashes), three strictly-shrinking
      // exchanges, and the clip manifest is OUTPUT-BOUNDED — at most
      // 2 clips per media at any corpus size (the decode wave it
      // feeds reads only (media, start, len) triples).
      locally {
        val nDocs = Tables.table(spark, out, "documents").count()
        val t1 = System.nanoTime()
        val c = SparkEntry.queries("mm15_clip_sample")(spark, out).count()
        val s1 = (System.nanoTime() - t1) / 1e9
        require(c <= 2L * nDocs,
          s"mm15 emitted $c clips for $nDocs media — top-2 cap broken")
        println(f"mm15_clip_sample rows=$c%10d elapsed=$s1%7.1f s")
      }
    }

    // Events-family probe: the sf0.1 event log replicated factor× in
    // TIME (each replica shifted by the span, so user/hour density
    // stays realistic instead of stacking 20 copies into one hour) and
    // run through the windowed analytics gates. The properties under
    // test: tw13/tw15 exchanges carry (user × hour)- / change-grain
    // rows so wall grows ~linearly; la10's sketch dim stays
    // levels×100 regardless of row count; tw14 collapses to user
    // grain after the first reduction.
    if (Set("all", "events", "streams")(probe)) {
      val ev = Tables.events(spark, sfDir)
      val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
      val span = b.getLong(1) - b.getLong(0) + 1
      val estride = (ev.agg(max(col("event_id"))).head.getLong(0) / 100L + 1L) * 100L
      ev.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("event_id", col("event_id") + col("rep") * lit(estride))
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("rep") * span))
        .drop("rep").repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      val ne = Tables.table(spark, out, "events").count()
      println(s"events: $ne rows ($factor x $sfDir, time-shifted replicas)")
      // la9 rides the same replica: its partition-drop cost is
      // proportional to the DAY COUNT (20× the days here — the time-
      // shifted replica is exactly the la9 stressor: 20× more
      // partitions to list and drop, not 20× bigger ones).
      if (Set("all", "events")(probe)) {
        for (g <- Seq("tw13_rate_spike", "tw15_scd2_intervals",
            "tw14_conversion_funnel", "la10_histogram_p95", "la11_dsv2_sink",
            // la14 on the time-shifted replica: the z-layout write is
            // one range exchange over 20x the rows; the receipt stays
            // |files| driver rows and the box query's pruning ratio
            // holds (the z-tile geometry is scale-free).
            "la9_retention_vacuum", "la14_zorder_skipping",
            // la13: the surgical delete's rewrite cost rides the
            // matched-file set (stats-pruned), never the table scan
            "la13_surgical_delete",
            // la15: merge cost rides the affected-partition set (the
            // argmin logger's 20x-wider day footprint), never the table
            "la15_merge_upsert",
            // la16: the v1 commit rewrites ONE day; both snapshot reads
            // plan from manifests (no dead-file listing)
            "la16_time_travel",
            // la23: both sides scan-linear narrow maps (synthesize one
            // text column, from_csv per-partition); output stays the
            // 2-row disposition agg at any volume
            "la23_csv_deadletter",
            // la24: write ∝ corpus into 4 level dirs; the read side
            // costs ONE pruned partition with the predicate pushed to
            // ORC row-group stats; output ∝ spanned days
            "la24_orc_roundtrip")) {
          val t1 = System.nanoTime()
          val c = SparkEntry.queries(g)(spark, out).count()
          val s1 = (System.nanoTime() - t1) / 1e9
          println(f"$g%-24s rows=$c%10d elapsed=$s1%7.1f s")
        }
        // q27 with its law ASSERTED at replica scale: the CM join-size
        // estimate must NEVER undercount the exact join size — a
        // deterministic one-sided law that holds for any hash draw and
        // any corpus (the planner's admission test); sketch state stays
        // d·w cells per side while events grow 20×/100×.
        locally {
          val t1 = System.nanoTime()
          val r = SparkEntry.queries("q27_cm_join_size")(spark, out).head
          val s1 = (System.nanoTime() - t1) / 1e9
          require(r.getAs[Boolean]("never_under") &&
            r.getAs[Long]("exact_pairs") > 0L,
            s"q27 never-undercount law violated at replica scale: $r")
          // The d·w cell cap is structural (groupBy of a pmod-bounded
          // key can't exceed it — asserting it is a tautology); the
          // FALSIFIABLE law the same scan buys is CM's row-sum
          // conservation: every one of the d hash rows must account
          // for EXACTLY the corpus (Σ_b cnt[j][b] = n for each j) —
          // a NULL-producing bucket expression, a dropped row, or a
          // short md5 substring all break it, and it is what makes
          // the inner-product estimate's never-under law sound.
          val cm = graft.operators.Relational.cmSketch(
            Tables.events(spark, out), col("user_id"), "c")
            .groupBy(col("j"))
            .agg(sum(col("c")).as("mass"), count(lit(1)).as("cells"))
            .collect()
          val nEv = Tables.events(spark, out).count()
          require(cm.length == graft.operators.Relational.cmD,
            s"q27 CM sketch lost hash rows: ${cm.length}")
          cm.foreach { row =>
            require(row.getLong(1) == nEv,
              s"q27 CM row ${row.get(0)} mass ${row.getLong(1)} != corpus $nEv " +
                "— the sketch is not conserving rows")
          }
          val cells = cm.map(_.getLong(2)).max
          println(f"q27_cm_join_size exact=${r.getAs[Long]("exact_pairs")}%12d " +
            f"est=${r.getAs[Long]("est_pairs")}%12d max_cells=$cells%5d/" +
            f"${graft.operators.Relational.cmW} elapsed=$s1%7.1f s " +
            "(row-sum conservation holds on all d rows)")
        }
        // la25 with its classification ASSERTED: the sketch pass is one
        // map-side-combinable ObjectHashAggregate (state O(k·log n) per
        // level), output stays level-grain at any event count — and the
        // error certificate must HOLD at replica scale (the whole point
        // of a self-tracked worst-case bound: it cannot decay with n).
        locally {
          val t1 = System.nanoTime()
          val rows = SparkEntry.queries("la25_kll_quantiles")(spark, out).collect()
          val s1 = (System.nanoTime() - t1) / 1e9
          require(rows.nonEmpty && rows.length <= 8,
            s"la25 output ${rows.length} rows — no longer level-grain")
          rows.foreach { r =>
            require(r.getAs[Boolean]("certified_p50") &&
              r.getAs[Boolean]("certified_p95") &&
              r.getAs[Boolean]("certified_p99"),
              s"la25 certificate violated at replica scale: $r")
          }
          println(f"la25_kll_quantiles rows=${rows.length}%10d " +
            f"elapsed=$s1%7.1f s (certificates all true)")
        }
      }
      // Streaming-gate probe: the st* replay rigs run the factor×
      // event log through REAL micro-batch streams (4 time slices,
      // checkpointed parquet sink). The property under test: stateful
      // stream cost rides the per-batch shuffle of (user_id, ts_us)
      // pairs + O(keys) state — no term grows faster than the event
      // count, so wall should track the events-family gates, and the
      // emitted decision/dispatch/interval row counts stay exactly
      // event- / change-proportional at factor×.
      if (Set("all", "streams")(probe)) {
        for (g <- Seq("st1_stream_quota", "st2_stream_rate",
            "st3_stream_scd2", "st4_stream_ttl", "st5_stream_ttl_v2",
            "st6_stream_join", "st7_stream_sessions",
            // ob5: the observation rides the replay scan; metric rows
            // stay |slices| regardless of event count.
            "ob5_stream_observe",
            // st12: window-store state ∝ open (window × type) pairs
            // inside the watermark horizon; emitted rows ∝ closed
            // windows — both event-count-independent per hour.
            "st12_stream_tumbling",
            // st23: the ledger rides st21's replay; reading the
            // progress metric is O(batches) driver metadata.
            "st23_stream_drop_ledger")) {
          val t1 = System.nanoTime()
          val c = SparkEntry.queries(g)(spark, out).count()
          val s1 = (System.nanoTime() - t1) / 1e9
          println(f"$g%-20s rows=$c%10d elapsed=$s1%7.1f s")
        }
        // st24 with its laws ASSERTED at replica scale: state per open
        // (window × type) group is one O(k·log n) KLL buffer, emitted
        // rows ∝ closed windows (time-shifted replica → factor× the
        // windows), and the error certificates must survive the
        // streaming state store's serialize/merge path at volume —
        // the bound is merge-order-independent, so the engine's batch
        // boundaries cannot decay it.
        locally {
          // ONE replay serves both checks: st24Emitted runs the
          // streaming query, the state-law asserts and the gate's own
          // audit (st24 ≡ st24Audit ∘ st24Emitted) then read the
          // materialized sink — replaying the heaviest stream gate
          // twice at replica scale measured nothing extra.
          val t1 = System.nanoTime()
          val emitted = graft.operators.StreamGates.st24Emitted(spark, out)
          val rows = graft.operators.StreamGates
            .st24Audit(spark, out, emitted).collect()
          val s1 = (System.nanoTime() - t1) / 1e9
          require(rows.nonEmpty, "st24 emitted no closed windows")
          rows.foreach { r =>
            require(r.getAs[Boolean]("certified_p50") &&
              r.getAs[Boolean]("certified_p95"),
              s"st24 certificate violated at replica scale: $r")
          }
          println(f"st24_stream_kll rows=${rows.length}%10d " +
            f"elapsed=$s1%7.1f s (certificates all true)")
          // STATE-SIZE LAW asserted on the RAW sketch structs (the
          // gate's deterministic output drops them): per (window,
          // type) group the retained items must stay within the
          // worst-case budget (k−1)·(⌊log2(n/k)⌋ + 2) — KllBuffer's
          // actual retained-items ceiling, one level TIGHTER than the
          // old k·(levels+1) spelling, so a regression that leaves an
          // entire extra level resident after compaction fails here.
          val sk = emitted
            .select(col("n_rows"), size(col("sk.items")).cast("long").as("ret"))
            .collect()
          sk.foreach { r =>
            val (n, ret) = (math.max(r.getLong(0), 64L), r.getLong(1))
            val cap = 63L * (2 + (63 - java.lang.Long
              .numberOfLeadingZeros(n / 64L)).max(0))
            require(ret <= cap,
              s"st24 sketch state $ret items exceeds (k-1)*levels cap $cap at n=$n")
          }
          println(f"st24 state law: ${sk.length}%d groups, max retained=" +
            f"${sk.map(_.getLong(1)).max}%d items (all within (k-1)*levels)")
        }
        // st25 with its laws ASSERTED at replica scale: the MG summary
        // is O(k) per open window through the state store AND a
        // kill-and-resume (the gate require's the restart receipts
        // internally); all three certificates must hold on the
        // replica's per-day top users — the counting argument is
        // corpus-size-free, and the time-shifted replica gives
        // factor× the windows, each still genuinely compacting.
        locally {
          val t1 = System.nanoTime()
          val rows = SparkEntry.queries("st25_stream_mg_restart")(spark, out)
            .collect()
          val s1 = (System.nanoTime() - t1) / 1e9
          require(rows.nonEmpty, "st25 emitted no closed windows")
          rows.foreach { r =>
            require(r.getAs[Boolean]("certified") &&
              r.getAs[Boolean]("hh_present") && r.getAs[Boolean]("err_law_ok"),
              s"st25 certificate violated at replica scale: $r")
          }
          println(f"st25_stream_mg_restart rows=${rows.length}%10d " +
            f"elapsed=$s1%7.1f s (certificates all true through restart)")
        }
        // Doc-grain ingest replays (st8-st11) ride the documents
        // replica: st8's dedup state is bounded by in-flight
        // fingerprints (the watermark horizon), st9-st11 are stateless
        // — wall should track the doc scan plus the broadcast builds.
        replicateDocuments()
        for (g <- Seq("st8_stream_docprep", "st9_stream_decontaminate",
            "st10_stream_increm_dedup", "st11_stream_perceptual")) {
          val t1 = System.nanoTime()
          val c = SparkEntry.queries(g)(spark, out).count()
          val s1 = (System.nanoTime() - t1) / 1e9
          println(f"$g%-24s rows=$c%10d elapsed=$s1%7.1f s")
        }
      }
    }

    // AS-OF economics probe: the native operator (AsOfJoinExec) vs the
    // union-and-carry window restatement (tw5's pattern), measured at
    // two ROW WIDTHS on the same synthetic key/time distribution. Both
    // plans are linear; what differs is WHAT each drags through its
    // exchange + sort: union-and-carry sorts ONE union of both sides
    // at the union's combined width and runs every right column
    // through window carry state, while the native exec sorts each
    // side at its own width and merges with O(1) state. So on narrow
    // rows the single union sort wins on constants, and as payload
    // width grows the carry pays width × (|L|+|R|) while native pays
    // it only on the side that owns it — this probe MEASURES that
    // crossover instead of asserting it (results recorded in
    // COVERAGE.md; the tw18 scaladoc states the narrow-row caveat).
    if (probe == "asof") {
      val nL = 20000L * factor   // "purchases"
      val nR = 80000L * factor   // "clicks"
      val keys = 5000L
      val payW = 12              // wide-variant payload columns/side
      def side(n: Long, even: Int, wide: Boolean) = {
        val base = spark.range(n).select(
          (col("id") % keys).as("k"),
          ((col("id") * 7919L) % (n * 10L)).as("t"),
          (col("id") * 2 + even).as("rid"))
        val cols = if (!wide) base.columns.map(col).toSeq
          else base.columns.map(col).toSeq ++
            (0 until payW).map(i => (col("rid") * (i + 3)).as(s"p$i"))
        base.select(cols: _*).repartition(32).localCheckpoint()
      }
      for (wide <- Seq(false, true)) {
        val l = side(nL, 1, wide)
        val r0 = side(nR, 0, wide)
        val r = r0.select(r0.columns.map(c => col(c).as(s"r_$c")): _*)
        val t0 = System.nanoTime()
        val nNative = graft.plans.AsOfJoin.asof(l, r,
            Seq("k"), Seq("r_k"), Seq("t", "rid"), Seq("r_t", "r_rid"))
          .queryExecution.toRdd.count()
        val sNative = (System.nanoTime() - t0) / 1e9
        // union-and-carry: right payload rides ONE struct through the
        // window (the cheapest carry spelling), ordering law identical
        val rpay = struct(r.columns.map(col): _*).as("rpay")
        val lTagged = l.select(col("k"), col("t"), col("rid"),
          lit(true).as("is_l"), lit(null).cast(
            r.select(rpay).schema.head.dataType).as("rpay"))
        val rTagged = r.select(col("r_k").as("k"), col("r_t").as("t"),
          col("r_rid").as("rid"), lit(false).as("is_l"), rpay)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
          .orderBy(col("t").asc, col("rid").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val t1 = System.nanoTime()
        val nCarry = lTagged.unionAll(rTagged)
          .withColumn("asof", last(col("rpay"), ignoreNulls = true).over(w))
          .filter(col("is_l")).drop("rpay", "is_l")
          .queryExecution.toRdd.count()
        val sCarry = (System.nanoTime() - t1) / 1e9
        require(nNative == nL && nCarry == nL,
          s"row conservation broken: $nNative / $nCarry vs $nL")
        val width = if (wide) s"wide(+$payW cols/side)" else "narrow"
        println(f"asof $width%-18s left=$nL%9d right=$nR%9d " +
          f"native=$sNative%6.1f s carry=$sCarry%6.1f s")
      }
    }

    // Targeted gate probe: SPARK_GRAFT_PROBE=gates with
    // SPARK_GRAFT_GATES=<name>[,<name>...] runs exactly the named
    // gates against the replica corpus — how per-family 100×
    // classification rows are measured without paying for a whole
    // section (the quadratic controls dominate section wall at 100×).
    // Replicas build on demand from the gate names' table needs.
    if (probe == "gates") {
      val gates = sys.env.getOrElse("SPARK_GRAFT_GATES", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      def famNum(g: String): (String, Int) = {
        val tok = g.takeWhile(_ != '_')
        (tok.takeWhile(_.isLetter), tok.dropWhile(_.isLetter).toInt)
      }
      val fams = gates.map(famNum)
      // st gates split by the corpus they replay, not numerically:
      // st8-11/14/15 ride the doc-grain clocks; st17/st18 drain the
      // synthetic id universe and need neither replica
      val stDocs = Set(8, 9, 10, 11, 14, 15)
      val stEvents =
        Set(1, 2, 3, 4, 5, 6, 7, 12, 13, 16, 19, 20, 21, 22, 23, 24, 25)
      // Loud completeness check: a future st gate absent from both
      // hand-partitioned sets would silently stage NEITHER corpus and
      // fail obscurely mid-probe (round-11 advice). 17/18 drain the
      // synthetic id universe and legitimately need no replica.
      locally {
        // digits-only parse: gate tokens may carry a variant letter
        // suffix (q3b-style), which famNum's full toInt rejects
        val stAll = SparkEntry.queries.keys.map(_.takeWhile(_ != '_'))
          .filter(t => t.startsWith("st") && t.drop(2).nonEmpty &&
            t.drop(2).head.isDigit)
          .map(_.drop(2).takeWhile(_.isDigit).toInt).toSet
        val unclassified = stAll -- stDocs -- stEvents -- Set(17, 18)
        require(unclassified.isEmpty,
          s"st gate(s) ${unclassified.toSeq.sorted.mkString(",")} have no " +
            "corpus classification in ScaleProbe — add to stDocs/stEvents")
      }
      val needsDocs = fams.exists { case (f, n) =>
        Set("dd", "tx", "cp", "mm")(f) || (f == "st" && stDocs(n)) }
      val needsEvents = fams.exists { case (f, n) =>
        Set("tw", "la", "ob", "q", "s", "ca", "yf")(f) || (f == "st" && stEvents(n)) }
      val needsEmb = fams.exists { case (f, n) =>
        f == "sim" || (f == "dd" && Set(5, 11)(n)) || (f == "mm" && n == 8) }
      if (needsDocs) replicateDocuments()
      if (needsEvents) {
        val ev = Tables.events(spark, sfDir)
        val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
        val span = b.getLong(1) - b.getLong(0) + 1
        val estride = (ev.agg(max(col("event_id"))).head.getLong(0) / 100L + 1L) * 100L
        ev.crossJoin(spark.range(factor).toDF("rep"))
          .withColumn("event_id", col("event_id") + col("rep") * lit(estride))
          .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("rep") * span))
          .drop("rep").repartition(32)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
        println(s"events: ${Tables.table(spark, out, "events").count()} rows")
      }
      if (needsEmb) {
        val src = Tables.embeddings(spark, sfDir)
        val stride = (src.agg(max(col("vec_id"))).head.getLong(0) / 100L + 1L) * 100L
        src.crossJoin(spark.range(factor).toDF("rep"))
          .withColumn("vec_id", col("vec_id") + col("rep") * lit(stride))
          .drop("rep").repartition(32)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
        println(s"corpus: ${Tables.table(spark, out, "embeddings").count()} vectors")
      }
      // base-table passthrough: gates that register the full SQL-view
      // set (ensureSqlViews) resolve every table's schema eagerly, so
      // link the un-replicated originals for any table the replica
      // builders didn't write. Stale links from a previous run are
      // replaced (File.exists follows links, so a dangling link reads
      // as absent and the create would otherwise throw), and the
      // target is absolutized so a relative SPARK_GRAFT_SF_DIR can't
      // resolve against the link's own directory.
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")) {
        val dst = new java.io.File(s"$out/$t.parquet").toPath
        if (java.nio.file.Files.isSymbolicLink(dst))
          java.nio.file.Files.delete(dst)
        if (!java.nio.file.Files.exists(dst)) {
          new java.io.File(out).mkdirs()
          java.nio.file.Files.createSymbolicLink(dst,
            java.nio.file.Paths.get(s"$sfDir/$t.parquet").toAbsolutePath)
        }
      }
      for (g <- gates) {
        val t1 = System.nanoTime()
        // toRdd.count() materializes EVERY column — a bare count()
        // lets Catalyst eliminate unique-key outer joins and measure
        // a plan the gate never serves (observed on mm11: 1.1 s vs
        // the real 17.5 s at 100×)
        val c = SparkEntry.queries(g)(spark, out).queryExecution.toRdd.count()
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"$g%-24s rows=$c%10d elapsed=$s1%7.1f s")
      }
    }
    spark.stop()
  }
}
