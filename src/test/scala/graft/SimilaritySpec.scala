package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** Golden + structural tests for similarity search and IVF. */
class SimilaritySpec extends AnyFunSuite {

  private lazy val dir: String = {
    // vec 0 and 1 identical; vec 2 orthogonal to them; vec 3 ≈ −vec0.
    val e0 = Seq.fill(32)(Seq(1.0f, 0.0f)).flatten
    val e2 = Seq.fill(32)(Seq(0.0f, 1.0f)).flatten
    val e3 = e0.map(-_)
    fixtureDir("embeddings" -> embeddingsDf(Seq(
      (0L, e0, 0), (1L, e0, 0), (2L, e2, 1), (3L, e3, 1))))
  }

  test("sim1 brute force: exact neighbors of query 0") {
    val rows = gate("sim1_knn_bruteforce", dir).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
    assert(rows.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(rows(0).getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(rows(1).getAs[Double]("cosine") == 0.0)
    assert(math.abs(rows(2).getAs[Double]("cosine") + 1.0) < 1e-12)
  }

  test("sim3 near-dup: identical pair detected with cosine 1.0") {
    val pairs = gate("sim3_embedding_neardup", dir).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("cosine")))
    val p01 = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(p01.isDefined && math.abs(p01.get._3 - 1.0) < 1e-12)
  }

  test("sim4 centroids: label-0 centroid is the shared vector") {
    val cent = gate("sim4_ivf_centroids", dir).collect()
      .filter(_.getAs[Int]("label") == 0)
    assert(cent.length == 64)
    val byDim = cent.map(r => r.getAs[Int]("dim") -> r.getAs[Double]("centroid")).toMap
    assert(byDim(0) == 1.0 && byDim(1) == 0.0)
  }

  test("sim5 assignment: vectors assign to their own tight centroid") {
    val m = gate("sim5_ivf_assign", dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(m.size == 4) // exactly one row per vector
    assert(m(0L).getAs[Int]("assigned_label") == 0)
    assert(m(1L).getAs[Int]("assigned_label") == 0)
    assert(m(0L).getAs[Long]("dist_scaled") == 0L)
    // vec2 ⟂ both centroids (label-1 centroid = (e3+e2)/2) — just check shape
    m.values.foreach(r => assert(r.getAs[Long]("dist_scaled") >= 0L))
  }

  test("sim3b wide bands: candidate set shrinks vs the 4-bit geometry") {
    // The 100 TB sizing law, demonstrated: same corpus, same plane
    // pool — 8-bit bands must generate a hard-smaller candidate set
    // than 4-bit bands (expected ~2^4 smaller under uniformity; the
    // clustered corpus gives less, so assert a conservative 2×), and
    // every wide-band candidate must also be a 4-bit candidate over
    // its shared prefix geometry... (prefix claim doesn't hold
    // bit-for-bit across widths, so pin only the count law + scoring)
    val c4 = operators.Similarity.candidatePairs(spark, sf001, 16, 4, 4).count()
    val c8 = operators.Similarity.candidatePairs(spark, sf001, 32, 4, 8).count()
    assert(c8 * 2 <= c4, s"wide bands did not bound candidates: c4=$c4 c8=$c8")
    // and the gate output scores exactly the c8 candidate set
    assert(gate("sim3b_wideband_lsh", sf001).count() == c8)
  }

  test("sim6 IVF search: probed cells only, cosines agree with sim1") {
    // The query path over sim4/sim5's index: every neighbor must live
    // in one of the query's 2 probed cells, ranks are dense from 1,
    // and any (query, neighbor) pair sim1 also scored carries the
    // bit-identical cosine (same left-fold dot) — IVF changes WHICH
    // vectors are scored, never the score.
    val s6 = gate("sim6_ivf_search", sf0001).collect()
    assert(s6.nonEmpty)
    val assign = gate("sim5_ivf_assign", sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("assigned_label")).toMap
    s6.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rows.length), s"query $q ranks not dense")
      // ≤ 2 distinct cells probed per query
      val cells = rows.map(r => assign(r.getAs[Long]("neighbor_id"))).toSet
      assert(cells.size <= 2, s"query $q scored ${cells.size} cells")
    }
    val s1 = gate("sim1_knn_bruteforce", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    s6.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      s1.get(k).foreach(c => assert(c == r.getAs[Double]("cosine"), s"$k"))
    }
  }

  test("sim9 OR-amplification: recall strictly up, candidates bounded") {
    // The L-tables trade, measured (sim8 is the oracled gate; this
    // pins the DIRECTION of the trade so a geometry regression can't
    // pass silently): 8 bands of 4 bits must recover strictly more
    // exact-top-10 pairs than 4 bands (at sf0.01: 66% vs 38%), its
    // candidate set must be a superset (bands 0-3 are shared — the
    // first 16 planes of the pool), and the extra 4 bands can at most
    // double the candidate volume (each band's bucket economics are
    // identical, so volume scales sub-linearly in bands under
    // clustering, linearly under uniformity).
    val r8 = gate("sim8_ann_recall", sf001).collect().head
    assert(r8.getAs[Long]("mb_hits") > r8.getAs[Long]("lsh_hits"),
      s"multi-band recall did not improve: $r8")
    val c4 = operators.Similarity.candidatePairs(spark, sf001, 16, 4, 4)
    val c8 = operators.Similarity.candidatePairs(spark, sf001, 32, 8, 4)
    val n4 = c4.count(); val n8 = c8.count()
    assert(n8 <= 2 * n4, s"candidate volume blew past 2x: $n4 -> $n8")
    assert(c4.except(c8).isEmpty, "8-band candidates must contain the 4-band set")
  }

  test("sim10 PQ: exact members encode to their own codebook entry at zero error") {
    // Label-0's centroid IS e0 (vecs 0 and 1 are identical copies), so
    // their every subvector must encode to code 0 with dist_scaled 0;
    // every vector gets exactly 8 subspace codes.
    val rows = gate("sim10_pq_encode", dir).collect()
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.keySet == Set(0L, 1L, 2L, 3L))
    byVec.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("subspace")).sorted.sameElements(0L until 8L))
    }
    Seq(0L, 1L).foreach { v =>
      byVec(v).foreach { r =>
        assert(r.getAs[Int]("code") == 0, s"vec $v not coded to its centroid")
        assert(r.getAs[Long]("dist_scaled") == 0L, s"vec $v nonzero error")
      }
    }
  }

  test("sim11 ADC: identical vector ranks first at zero approximate distance") {
    // Query 0's ADC distance to vec 1 (identical copy) is the sum of
    // its own 8 table entries at label-0 codes — all zero, so vec 1
    // must rank 1 with adc 0; ranks are dense per query.
    val rows = gate("sim11_adc_search", dir).collect()
    val q0 = rows.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
    assert(q0.nonEmpty && q0.map(_.getAs[Int]("rank")).sameElements(1 to q0.length))
    assert(q0.head.getAs[Long]("neighbor_id") == 1L)
    assert(q0.head.getAs[Long]("adc_dist_scaled") == 0L)
    // approximate distances are monotone in rank
    val ds = q0.map(_.getAs[Long]("adc_dist_scaled"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("sim1/sim2 on driver data: ranks dense, ANN ⊆ exact-scored") {
    val s1 = gate("sim1_knn_bruteforce", sf0001).collect()
    val byQ = s1.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length).toSeq)
      val cos = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      cos.foreach(c => assert(c >= -1.0001 && c <= 1.0001))
    }
    // ANN results: every (query, neighbor, cosine) must agree with the
    // exact cosine brute force computed for that pair
    val exact = s1.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
      r.getAs[Double]("cosine")).toMap
    val s2 = gate("sim2_ann_lsh", sf0001).collect()
    s2.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      exact.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("sim22 maintained index serves sim6's law over (corpus − tombstones)") {
    // The lifecycle (v0 build → delta append → tombstone mask) must be
    // invisible to the search semantics: the served top-10s equal the
    // in-memory IVF search restricted to live vectors — here checked
    // as a superset law against the sim6 gate itself: any sim6 result
    // row whose neighbor is live and whose query's probe sets match
    // must appear identically. Cheapest independent cross-check: every
    // serve row is NOT tombstoned, rank sequences are dense 1..k per
    // query, and the result is stable across invocations (the mutating
    // build re-executes every time).
    val rows = gate("sim22_index_maintenance", sf0001).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to rs.length), s"query $q ranks not dense: $ranks")
    }
    assert(rows.forall(_.getAs[Long]("neighbor_id") % 100 != 3))
    assert(rows.exists(_.getAs[Boolean]("is_upserted")))
    val again = gate("sim22_index_maintenance", sf0001).collect()
      .map(_.toSeq.toIndexedSeq).toSet
    assert(again == rows.map(_.toSeq.toIndexedSeq).toSet,
      "sim22 varies across invocations")
  }

  test("sim24 dominant direction: normalization, energy bounds, and the eigen law hold") {
    import org.apache.spark.sql.functions._
    val rows = gate("sim24_dominant_direction", sf0001).collect()
    assert(rows.length == 64)
    val loadings = rows.sortBy(_.getAs[Long]("dim")).map(_.getAs[Long]("loading"))
    // max-abs normalization: the dominant component sits at ~XScale
    // (integer-div truncation can shave a few ulps, never add)
    val maxAbs = loadings.map(math.abs).max
    assert(maxAbs <= 100000L && maxAbs >= 99000L, s"maxAbs=$maxAbs")
    val lam = rows.head.getAs[Long]("eigval_scaled")
    val exp = rows.head.getAs[Long]("explained_permille")
    assert(rows.forall(r => r.getAs[Long]("eigval_scaled") == lam &&
      r.getAs[Long]("explained_permille") == exp))
    assert(lam > 0 && exp > 0 && exp <= 1000, s"lam=$lam exp=$exp")
    // the eigen law against an independent exact recomputation: S·x on
    // the driver from raw vectors must reproduce the gate's direction
    // (same scaled-integer arithmetic, dims in order)
    val vecs = Tables.embeddings(spark, sf0001)
      .filter(size(col("embedding")) === 64)
      .select(col("embedding").cast("array<double>").as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    val S = Array.ofDim[Long](64, 64)
    for (v <- vecs; i <- 0 until 64; j <- 0 until 64)
      S(i)(j) += math.floor(v(i) * v(j) * 1000000.0).toLong
    var x = Array.fill(64)(100000L)
    for (_ <- 1 to 4) {
      val y = Array.tabulate(64)(i =>
        (0 until 64).map(j => S(i)(j) * x(j)).sum)
      val m = y.map(math.abs).max
      x = y.map(_ / (m / 100000L))
    }
    assert(x.toSeq == loadings.toSeq,
      s"driver recomputation diverges: ${x.take(5).toSeq} vs ${loadings.take(5).toSeq}")
  }

  test("sim23 radius search: one row per query, found never exceeds true") {
    import org.apache.spark.sql.functions._
    val rows = gate("sim23_radius_search", sf0001).collect()
    val nQueries = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 100 === 0).count()
    assert(rows.length == nQueries.toInt,
      s"expected one row per query ($nQueries), got ${rows.length}")
    rows.foreach { r =>
      val (t, f, rec) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
        r.getAs[Long]("recall_permille"))
      // the pruned candidates are a subset of the corpus, so the
      // threshold filter can only UNDER-find — recall caps at 1000
      assert(f <= t || t == 0, s"query ${r.getLong(0)}: found $f > true $t")
      assert(rec >= 0 && rec <= 1000, s"recall $rec out of range")
      if (t > 0) assert(rec == f * 1000 / t)
    }
  }

  test("persisted cell-partitioned IVF-PQ index serves via partition pruning") {
    import org.apache.spark.sql.functions._
    // Build once: codes + cell written partitionBy(cell) — the layout
    // a 100 TB deployment keeps. Serve many: a query reads ONLY its
    // nprobe probed-cell partitions (verified via input_file_name, not
    // just the plan string) and its ADC top-10 from the PERSISTED
    // codes matches the in-memory sim12 gate exactly.
    val cent = gate("sim4_ivf_centroids", sf0001)
      .select(col("label"), col("dim"), col("centroid")).collect()
    val nlist = cent.iterator.map(_.getInt(0)).max + 1
    val cbArr = Array.fill(nlist, 64)(0.0)
    cent.foreach(r => cbArr(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val cb = typedLit(cbArr.map(_.toSeq).toSeq)
    val base = Tables.embeddings(spark, sf0001)
      .withColumn("v", col("embedding").cast("array<double>"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/index"
    base.select(col("vec_id"),
        element_at(call_function("pq_encode", col("v"), cb, lit(64)), 1)
          .getField("code").as("cell"),
        call_function("pq_encode", col("v"), cb, lit(8)).as("pe"))
      .write.partitionBy("cell").parquet(dir)
    // query 0's nprobe=2 cells + its ADC lookup table
    val q0 = base.filter(col("vec_id") === 0)
    val probeCells = q0
      .select(posexplode(call_function("pq_dist_table", col("v"), cb, lit(64)))
        .as(Seq("cell", "dist")))
      .orderBy(col("dist").asc, col("cell").asc).limit(2)
      .collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(dir)
      .filter(col("cell").isin(probeCells.map(Int.box): _*) &&
        col("vec_id") =!= 0L)
    // pruning is behavioral: every file actually read sits under a
    // probed cell=... directory
    val filesRead = idx.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(f =>
      probeCells.exists(c => f.contains(s"cell=$c/"))),
      s"unpruned files read: ${filesRead.filterNot(f =>
        probeCells.exists(c => f.contains(s"cell=$c/"))).mkString(",")}")
    // serve from the persisted codes: 8 ADC lookups vs the broadcast
    // query table, top-10 — must equal the in-memory sim12 gate
    val tbl = q0.select(
      call_function("pq_dist_table", col("v"), cb, lit(8)).as("tbl"))
    val served = idx.crossJoin(broadcast(tbl))
      .withColumn("adc", (0 until 8).map(m =>
        element_at(col("tbl"),
          col("pe").getItem(m).getField("code") + lit(m * nlist + 1)))
        .reduce(_ + _))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adc")))
    val viaGate = gate("sim12_ivfpq_search", sf0001).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist_scaled")))
    assert(served.toSeq == viaGate.toSeq,
      s"persisted-index serve diverges: ${served.toSeq} vs ${viaGate.toSeq}")
  }

  test("persisted index serves the FILTERED IVFADC path with partition pruning (sim16 on disk)") {
    import org.apache.spark.sql.functions._
    // The sim12 disk proof above covers the unfiltered path; this is
    // sim16's production shape served from the same partitionBy(cell)
    // layout: the metadata predicate (label % 2 = 1) composes with
    // TRUE partition pruning (only the widened nprobe=4 probed-cell
    // dirs are read — input_file_name-verified), ADC nominates top-50
    // from the persisted codes without touching any vector, and the
    // ≤50-row exact refine reproduces the in-memory
    // sim16_filtered_ivfpq gate bit-for-bit.
    val cent = gate("sim4_ivf_centroids", sf0001)
      .select(col("label"), col("dim"), col("centroid")).collect()
    val nlist = cent.iterator.map(_.getInt(0)).max + 1
    val cbArr = Array.fill(nlist, 64)(0.0)
    cent.foreach(r => cbArr(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val cb = typedLit(cbArr.map(_.toSeq).toSeq)
    val base = Tables.embeddings(spark, sf0001)
      .withColumn("v", col("embedding").cast("array<double>"))
    // the persisted postings carry the filter column — an index that
    // drops metadata cannot serve a filtered query without a join
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_f").toString + "/index"
    base.select(col("vec_id"), col("label"),
        element_at(call_function("pq_encode", col("v"), cb, lit(64)), 1)
          .getField("code").as("cell"),
        call_function("pq_encode", col("v"), cb, lit(8)).as("pe"))
      .write.partitionBy("cell").parquet(dir)
    val q0 = base.filter(col("vec_id") === 0)
    val probed = q0
      .select(posexplode(call_function("pq_dist_table", col("v"), cb, lit(64)))
        .as(Seq("cell", "dist")))
      .orderBy(col("dist").asc, col("cell").asc).limit(4)
      .collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(dir)
      .filter(col("cell").isin(probed.map(Int.box): _*) &&
        col("label") % 2 === 1 && col("vec_id") =!= 0L)
    val filesRead = idx.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty && filesRead.forall(f =>
      probed.exists(c => f.contains(s"cell=$c/"))),
      s"filtered serve read unpruned files: ${filesRead.filterNot(f =>
        probed.exists(c => f.contains(s"cell=$c/"))).mkString(",")}")
    // ADC nomination (top-50) purely from persisted codes
    val tbl = q0.select(
      call_function("pq_dist_table", col("v"), cb, lit(8)).as("tbl"))
    val nominated = idx.crossJoin(broadcast(tbl))
      .withColumn("adc", (0 until 8).map(m =>
        element_at(col("tbl"),
          col("pe").getItem(m).getField("code") + lit(m * nlist + 1)))
        .reduce(_ + _))
      .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
      .select("vec_id", "label")
    // exact refine over the ≤50 nominees only
    val served = nominated
      .join(base.select(col("vec_id"), col("v")), Seq("vec_id"))
      .crossJoin(broadcast(q0.select(col("v").as("qv"))))
      .withColumn("cosine", expr(
        "dot_f64(qv, v) / (sqrt(dot_f64(qv, qv)) * sqrt(dot_f64(v, v)))"))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Double]("cosine")))
    val viaGate = gate("sim16_filtered_ivfpq", sf0001).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("label"),
        r.getAs[Double]("cosine")))
    assert(served.toSeq == viaGate.toSeq,
      s"filtered persisted-index serve diverges from the sim16 gate: " +
        s"${served.toSeq} vs ${viaGate.toSeq}")
    // and the predicate held on every served row
    assert(served.forall(_._2 % 2 == 1))
  }

  test("sim15 filtered search: predicate holds, probes widened, exact agreement") {
    val rows = gate("sim15_filtered_search", sf0001).collect()
    assert(rows.nonEmpty)
    // the contract: every neighbor satisfies the predicate (index-side
    // pre-filter — post-filtering a scored top-k could not guarantee it)
    rows.foreach(r => assert(r.getAs[Int]("label") % 2 == 1,
      s"even-label neighbor leaked through the filter: $r"))
    // ranks dense from 1, <= 10 per query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to ranks.length) && ranks.length <= 10)
    }
    // any (query, neighbor) sim1 also scored must carry the same cosine
    // (one exact scoring function across the serving paths)
    val s1 = gate("sim1_knn_bruteforce", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      s1.get((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("sim16 filtered IVFADC: predicate holds, refine is nomination-bounded, ADC stage is lookup-only") {
    val rows = gate("sim16_filtered_ivfpq", sf0001).collect()
    assert(rows.nonEmpty)
    // index-side pre-filter: every served neighbor satisfies the
    // predicate (a post-filtered top-k could not guarantee this)
    rows.foreach(r => assert(r.getAs[Int]("label") % 2 == 1,
      s"even-label neighbor leaked through the filter: $r"))
    // ranks dense from 1, <= 10 per query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to ranks.length) && ranks.length <= 10)
    }
    // one exact scoring function across serving paths: any (query,
    // neighbor) sim1 also scored must carry the identical cosine
    val s1 = gate("sim1_knn_bruteforce", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      s1.get((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
    // the refine stage's vector reads are nomination-bounded:
    // <= 50 ADC-nominated candidates per query reach it
    val adc = graft.operators.Similarity.sim16Adc(spark, sf0001)
    val perQuery = adc.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getAs[Long]("count") <= 50L),
      s"ADC nomination exceeded 50/query: ${perQuery.mkString(",")}")
    // and the ADC stage itself ranks by table lookups only — the
    // exact-distance expression must not appear before refine
    val adcPlan = adc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!adcPlan.contains("dot_f64"),
      s"exact distance computed in the pre-refine ADC stage:\n$adcPlan")
  }

  test("sim14 Lloyd step agrees with sim5's assignment and sim4's seeds") {
    val rows = gate("sim14_lloyd_refine", sf0001).collect()
    val assign = gate("sim5_ivf_assign", sf0001).collect()
      .groupBy(_.getAs[Int]("assigned_label")).view.mapValues(_.length.toLong).toMap
    val nVecs = assign.values.sum
    // every populated cell appears with all 64 dims; member counts per
    // (cell, dim) match sim5's assignment histogram exactly
    val byCell = rows.groupBy(_.getAs[Int]("cell"))
    assert(byCell.keySet == assign.keySet)
    byCell.foreach { case (cell, rs) =>
      assert(rs.length == 64, s"cell $cell has ${rs.length} dims")
      rs.foreach(r => assert(r.getAs[Long]("n_members") == assign(cell)))
    }
    // each dim's membership partitions the corpus
    assert(rows.filter(_.getAs[Int]("dim") == 0)
      .map(_.getAs[Long]("n_members")).sum == nVecs)
    // drift is exactly new - seed, and a cell with members close to its
    // seed moves less than the corpus-wide max drift (sanity on sign/scale)
    rows.foreach { r =>
      assert(r.getAs[Double]("drift") ==
        r.getAs[Double]("new_centroid") - r.getAs[Double]("seed_centroid"))
    }
  }

  test("sim18 sweep: recall and candidate volume are monotone in nprobe") {
    // probe sets nest by rank, so widening can only ADD candidates —
    // recall must be non-decreasing and candidate volume strictly
    // increasing (a violation means the nesting optimization broke
    // per-width equivalence); nprobe=2 must agree with sim8's
    // measured ivf recall, which runs the un-nested sim6 pipeline.
    val rows = gate("sim18_nprobe_curve", sf0001).collect()
      .map(r => (r.getAs[Long]("nprobe"), r.getAs[Long]("hits"),
        r.getAs[Long]("n_candidates"), r.getAs[Double]("recall_pct")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 < b._3 }, s"non-monotone sweep: ${rows.toSeq}")
    val sim8Ivf = gate("sim8_ann_recall", sf0001).head.getAs[Double]("ivf_recall_pct")
    assert(rows(1)._4 == sim8Ivf,
      s"nprobe=2 recall ${rows(1)._4} != sim8 ivf $sim8Ivf")
  }

  test("sim19 SQ8: duplicate ranks first at sub-cell distance, recall tracks exact") {
    // Fixture: vec 1 is IDENTICAL to query 0, so its only error is the
    // corpus-side quantization — per-dim decode error ≤ range/512, so
    // ‖q − r‖² ≤ 64·(2/512)² ≈ 1e-3. The orthogonal (2) and negated
    // (3) vectors must stay in L2 order behind it.
    val rows = gate("sim19_sq8_search", dir).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
    assert(rows.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).getAs[Double]("sq8_dist") < 0.01,
      s"identical vector at SQ8 distance ${rows(0).getAs[Double]("sq8_dist")}")
    assert(rows(0).getAs[Double]("sq8_dist") >= 0.0)
    // driver corpus: asymmetric SQ8 top-10 vs sim1's exact top-10.
    // 256 levels/dim is near-lossless here — the floor guards drift.
    val ex = gate("sim1_knn_bruteforce", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val sq = gate("sim19_sq8_search", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (ex & sq).size.toDouble / ex.size
    assert(recall >= 0.9, s"SQ8 recall@10 $recall below 0.9")
  }

  test("sim27 IVF-SQ8: quantization costs almost nothing on top of the IVF pruning") {
    // The serving split's accounting: sim27 ranks the SAME nprobe=2
    // candidate set as sim6, so its divergence from sim6 measures the
    // SQ8 metric swap alone (asymmetric L2 on reconstructions vs exact
    // cosine) — sim19 showed 256 levels/dim is near-lossless on this
    // corpus, so the per-query top-10 overlap must stay high. Recall
    // vs the exact truth is then bounded by the IVF probe path itself
    // (the pruning, not the compression, is the recall knob).
    val ivf = gate("sim6_ivf_search", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val sq = gate("sim27_ivf_sq8", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(sq.nonEmpty)
    val overlap = (ivf & sq).size.toDouble / ivf.size
    assert(overlap >= 0.85,
      s"IVF-SQ8 top-10 diverged from the uncompressed IVF path: $overlap")
  }

  test("sim20 sampled codebook: full leg zero-drift and equal to sim8's IVF recall") {
    val rows = gate("sim20_sampled_codebook", sf0001).collect()
      .map(r => r.getAs[String]("codebook") -> r).toMap
    assert(rows.keySet == Set("full", "sampled_10pct"))
    assert(rows("full").getAs[Long]("drift_permille") == 0L)
    val drift = rows("sampled_10pct").getAs[Long]("drift_permille")
    assert(drift >= 0L && drift <= 1000L)
    assert(rows("full").getAs[Long]("n_exact_pairs") ==
      rows("sampled_10pct").getAs[Long]("n_exact_pairs"))
    // the full leg IS sim6/sim8's nprobe=2 pipeline — its measured
    // recall must agree with sim8's independent run
    val sim8Ivf = gate("sim8_ann_recall", sf0001).head.getAs[Double]("ivf_recall_pct")
    assert(rows("full").getAs[Double]("recall_pct") == sim8Ivf,
      s"full-codebook recall ${rows("full").getAs[Double]("recall_pct")} != sim8 ivf $sim8Ivf")
  }

  test("sim21 MMR: redundancy penalized on a pinned fixture, corpus laws hold") {
    // query u; candidates: v (rel .9), an exact DUP of v, and w
    // (rel .85, near-orthogonal to v). Relevance order is v, dup, w —
    // MMR must serve v, then w (dup's penalty 0.3·sim(v,v)=0.3 beats
    // w's 0.3·0.765), then the dup last.
    val u = (Seq(1.0f) ++ Seq.fill(63)(0.0f))
    val v = (Seq(0.9f, 0.43588989f) ++ Seq.fill(62)(0.0f))
    val w = (Seq(0.85f, 0.0f, 0.52678269f) ++ Seq.fill(61)(0.0f))
    val d = fixtureDir("embeddings" -> embeddingsDf(Seq(
      (0L, u, 0), (1L, v, 0), (2L, v, 0), (3L, w, 1))))
    val fix = gate("sim21_mmr_rerank", d).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("sel_rank"))
    assert(fix.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 3L, 2L),
      s"MMR order: ${fix.mkString(", ")}")
    // corpus laws at sf0.001: 5 per query, no repeats, round 1 is
    // sim1's top hit, greedy scores never increase
    val rows = gate("sim21_mmr_rerank", sf0001).collect()
    val sim1Top = gate("sim1_knn_bruteforce", sf0001).collect()
      .filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("sel_rank"))
      assert(sorted.length == 5)
      assert(sorted.map(_.getAs[Long]("neighbor_id")).distinct.length == 5)
      assert(sorted.head.getAs[Long]("neighbor_id") == sim1Top(qid),
        s"round 1 must be the relevance argmax for query $qid")
      val scores = sorted.map(_.getAs[Double]("mmr_score"))
      scores.zip(scores.tail).foreach { case (a, b) =>
        assert(b <= a, s"greedy MMR scores increased for query $qid: $scores")
      }
    }
  }

  for (g <- Seq("sim25_maxsim_rerank", "sim26_ivf_maxsim"))
  test(s"$g MaxSim: independent recompute matches, ranks dense and ordered") {
    // dd20's discipline: an INDEPENDENT driver-side reference of the
    // MaxSim law for every returned pair — slices, left-fold dots,
    // order-free max, left-assoc 4-term sum recomputed in plain Scala
    // on the raw vectors, bit-compared to the gate's codegen'd path.
    // Runs for BOTH candidate generators (LSH bands / IVF probes):
    // the scorer is shared, the pair sets differ.
    val rows = gate(g, sf0001).collect()
    assert(rows.nonEmpty, s"$g returned no rows")
    val ids = rows.flatMap(r => Seq(r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val vecs = Tables.embeddings(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("vec_id").isin(ids.toSeq: _*))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def slices(v: Array[Double]): Array[Array[Double]] =
      Array.tabulate(4)(i => v.slice(16 * i, 16 * i + 16))
    def maxsim(q: Array[Double], d: Array[Double]): Double = {
      val (qs, ds) = (slices(q), slices(d))
      val qn = qs.map(t => math.sqrt(dot(t, t)))
      val dn = ds.map(t => math.sqrt(dot(t, t)))
      (0 until 4).map { i =>
        (0 until 4).map(j => dot(qs(i), ds(j)) / (qn(i) * dn(j))).max
      }.reduceLeft(_ + _)
    }
    rows.foreach { r =>
      val (q, d) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(q % 100 == 0 && d != q, s"bad pair ($q, $d)")
      val want = maxsim(vecs(q), vecs(d))
      val got = r.getAs[Double]("maxsim")
      assert(got == want, s"maxsim($q, $d): gate $got vs reference $want")
    }
    // per query: dense ranks 1..k, scores non-increasing in rank order
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length),
        s"ranks not dense for query $qid")
      val ms = sorted.map(_.getAs[Double]("maxsim"))
      ms.zip(ms.tail).foreach { case (a, b) =>
        assert(b <= a, s"maxsim increased with rank for query $qid")
      }
    }
  }

  test("sim18 fused rank law: running conditional count == filtered row_number") {
    // r16 rewrite pin: sim18's three per-width top-10s now come from
    // ONE window pass — each narrower width's rank is a running
    // conditional count over the shared (cosine desc, vec_id asc)
    // total order. This test proves the spelling equivalence on a
    // synthetic scored frame with HEAVY cosine ties (the case where a
    // wrong frame spec — RANGE instead of ROWS — would diverge):
    // for every width np, {rows with wmin<=np && cr_np<=10} must be
    // exactly {rows kept by filter(wmin<=np) then row_number<=10},
    // which is what the pre-r16 per-width windows computed.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val scored = spark.range(120).select(
      (col("id") % 3).as("query_id"),
      col("id").as("vec_id"), // unique → the shared order is TOTAL
      when(col("id") % 4 === 0, 1).when(col("id") % 4 === 1, 2)
        .otherwise(4).as("wmin"),
      (col("id") % 7).cast("double").as("cosine")) // ~6-deep ties/query
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fused = scored
      .withColumn("cr1", sum(when(col("wmin") <= 1, 1L).otherwise(0L)).over(w))
      .withColumn("cr2", sum(when(col("wmin") <= 2, 1L).otherwise(0L)).over(w))
      .withColumn("cr4", sum(lit(1L)).over(w))
      .collect()
    def oldTop(np: Int): Set[(Long, Long)] = scored
      .filter(col("wmin") <= np)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    for ((np, cr) <- Seq(1 -> "cr1", 2 -> "cr2", 4 -> "cr4")) {
      val fusedTop = fused.filter(r => r.getAs[Int]("wmin") <= np &&
          r.getAs[Long](cr) <= 10L)
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      assert(fusedTop == oldTop(np),
        s"np=$np: fused running-count top set != filtered row_number top set")
      assert(fusedTop.nonEmpty, s"np=$np: degenerate fixture (empty top set)")
    }
  }

  test("sim18 at sf0.001: each width's fused top-10 == its own row_number top-10") {
    // the real gate path: sim18Tops over sim18's own scored candidates,
    // against an independent per-width row_number over the same frame,
    // and the gate's hit counts against that re-derivation
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val (scored, _) = graft.operators.Similarity.sim18Scored(spark, sf0001)
    val tops = graft.operators.Similarity.sim18Tops(scored).collect()
    val exact = gate("sim1_knn_bruteforce", sf0001).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hits = gate("sim18_nprobe_curve", sf0001).collect()
      .map(r => r.getAs[Long]("nprobe") -> r.getAs[Long]("hits")).toMap
    for ((np, flag) <- Seq(1 -> "hit1", 2 -> "hit2", 4 -> "hit4")) {
      val fusedTop = tops.filter(r => !r.isNullAt(r.fieldIndex(flag)))
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val perWidth = scored.filter(col("wmin") <= np)
        .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
        .filter(col("rank") <= 10)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      assert(fusedTop.nonEmpty && fusedTop == perWidth, s"np=$np")
      assert(hits(np.toLong) == (exact & perWidth).size.toLong, s"np=$np")
    }
  }
}
