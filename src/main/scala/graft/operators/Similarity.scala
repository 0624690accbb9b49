package graft.operators

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors; SURVEY
  * §7.5 north-star): brute-force cosine top-k as the exactness
  * baseline, random-hyperplane LSH as the ANN scale path, LSH-blocked
  * near-duplicate pairs, and an IVF-style coarse quantizer
  * (centroids + nearest-centroid assignment).
  *
  * FP determinism (why this hash-matches DuckDB bit-for-bit):
  *   - float→double casts are exact; every dot product is a LEFT FOLD
  *     in array order (Spark `aggregate(zip_with(...))` ≡ DuckDB
  *     `list_reduce(list_transform(...))`), so both engines run the
  *     identical sequence of IEEE adds;
  *   - cosine = dot / (sqrt(n1)·sqrt(n2)) — three more deterministic
  *     IEEE ops on identical inputs;
  *   - anything that must be SUMMED ACROSS ROWS (centroids,
  *     distances), where engines order partial aggregation
  *     differently, is floor-scaled to BIGINT first (sum is then
  *     exact and order-free); double→DECIMAL casts are avoided
  *     entirely (engines disagree: shortest-repr vs binary
  *     expansion).
  *
  * Scale design: brute-force is queries × corpus — fine for a small
  * query set, and the broadcast side is the query set, so the corpus
  * never shuffles. The LSH signature collapses each vector to 16 bits;
  * candidate generation is an equi-join on 4-bit band keys. IVF cell
  * assignment and PQ encoding fold the collected codebook into the
  * codegen'd pq_encode/pq_dist_table expressions
  * (graft.functions.PqExpressions) — zero-exchange narrow maps, so
  * the index build costs exactly one corpus scan. At 100 TB: same
  * plans, plus bucketing the corpus by band key / cell.
  */
object Similarity {

  private val Dim = 64

  /** Deterministic pseudo-random hyperplanes, components in
    * [-1, 1] with 3-dp granularity: ((md5-prefix-60-bit of
    * "pl<j>_<i>") mod 2001 − 1000) / 1000 — reproducible in any
    * engine with md5 (same formula inlined in the oracle SQL). */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
  private val planes: Seq[Seq[Double]] =
    (0 until 32).map(j => (0 until Dim).map(i =>
      (h60(s"pl${j}_${i}") % 2001 - 1000) / 1000.0))

  /** Left-fold dot product of two array<double> columns (codegen'd
    * higher-order expr; identical op order to the oracle's
    * list_reduce). */
  private def dotExpr(a: String, b: String): Column =
    expr(s"dot_f64($a, $b)")

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Base relation: vec_id, label, v (array<double>), n2 (self-dot).
    * The width contract is pinned HERE, identically in both engines:
    * only vectors of EXACTLY [[Dim]] non-null components pass.
    * Anything else is an ingest defect that would silently diverge
    * the engines — a short vector makes `pq_encode` null where the
    * composed SQL emits a partial-dimension row; a LONG vector feeds
    * extra terms into Spark's dot_f64 while the oracles fix 64 (and
    * overflows codebookArr's 64-wide rows); a null COMPONENT reads as
    * 0.0 in the expression path but is skipped by SQL `sum()`. The
    * driver corpora are all exactly 64-wide and null-free, so the
    * filter costs one array pass per row. */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(size(col("embedding")) === Dim &&
        size(array_compact(col("embedding"))) === Dim)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("n2", dotExpr("v", "v"))
      .select("vec_id", "label", "v", "n2")

  private val vecsSql =
    s"""vecs AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |    ${dotSql("(embedding::DOUBLE[])", "(embedding::DOUBLE[])")} AS n2
       |  FROM embeddings WHERE len(embedding) = $Dim
       |    AND len(list_filter(embedding, x -> x IS NOT NULL)) = $Dim)
       |""".stripMargin

  // --------------------------------------------------------------- sim1

  /** sim1: brute-force cosine top-10 (the exactness baseline every ANN
    * variant is judged against). Query set = vec_id ≡ 0 (mod 100);
    * the query side is broadcast so the corpus scan never shuffles;
    * ranking is one window per query with unique neighbor tie-break. */
  private def sim1(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  private val sim1Sql = "WITH " + vecsSql +
    s"""SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |               b.vec_id ASC) AS rank
       |  FROM vecs q JOIN vecs b ON b.vec_id <> q.vec_id
       |  WHERE q.vec_id % 100 = 0) t
       |WHERE rank <= 10""".stripMargin

  // ------------------------------------------------------ LSH signature

  /** Random-hyperplane signature: bit j = sign(v · plane_j).
    *
    * SIZING LAW (the one knob that must track corpus size): with b
    * bits per band the bucket count per band is 2^b, so expected
    * candidate pairs grow ≈ N²/2^(b+1) per band. b is a CONSTANT in
    * the gate queries (4 bits → 16 buckets — sized for the 2k-row
    * bench corpus and for non-trivial gate output on a corpus whose
    * max off-diagonal cosine is ~0.55). A 20× replica probe (40k
    * vectors) demonstrates the ceiling: 4-bit bands generate ~200M
    * candidate pairs and sim3 stops completing; the fix is wider
    * bands (b ≈ log2(N / targetBucket)), traded against per-band
    * recall (match probability at angle θ is (1−θ/π)^b). Callers
    * tune `bits`/`bandBits`; the 32-plane pool keeps wider signatures
    * available with identical plane formulas — and [[sim3b]] runs the
    * 8-bit geometry as an oracled gate (SimilaritySpec pins the
    * candidate-count reduction on a replicated corpus). */
  private def withSig(df: DataFrame, bits: Int = 16): DataFrame = {
    val sigExpr = (0 until bits).map { j =>
      val lits = planes(j).map(v => s"${v}D").mkString(", ")
      when(expr(s"dot_f64(v, array($lits))") > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("sig", sigExpr)
  }

  private def sigSqlN(bits: Int): String =
    s"""planes AS (
       |  SELECT j, list(val ORDER BY i) AS p FROM (
       |    SELECT j.range AS j, i.range AS i,
       |      ((('0x' || substr(md5('pl' || j.range || '_' || i.range), 1, 15))::BIGINT
       |        % 2001) - 1000) / 1000.0 AS val
       |    FROM range($bits) j, range($Dim) i) t GROUP BY j),
       |sigs AS (
       |  SELECT vec_id, label, v, n2, CAST(sum(bit) AS BIGINT) AS sig FROM (
       |    SELECT vecs.*, CASE WHEN ${dotSql("v", "p")} > 0
       |      THEN (1::BIGINT << j) ELSE 0 END AS bit
       |    FROM vecs, planes) b
       |  GROUP BY vec_id, label, v, n2)
       |""".stripMargin

  private val sigSql = sigSqlN(16)

  /** Band keys for bucketed candidate generation (`bands` bands of
    * `bandBits` bits each; see the sizing law on [[withSig]]). */
  private def withBands(df: DataFrame, bands: Int = 4, bandBits: Int = 4): DataFrame = {
    val mask = (1L << bandBits) - 1
    df.select(col("*"),
      posexplode(array((0 until bands).map(b =>
        expr(s"shiftright(sig, ${b * bandBits}) & $mask")): _*)).as(Seq("band", "key")))
  }

  private def bandsSqlN(bands: Int, bandBits: Int): String =
    s"""bands AS (
       |  SELECT sigs.*, b.band, (sig >> (b.band * $bandBits)) & ${(1L << bandBits) - 1} AS key
       |  FROM sigs, (SELECT unnest(range($bands)) AS band) b)
       |""".stripMargin

  private val bandsSql = bandsSqlN(4, 4)

  /** Slim LSH candidate pairs (id1 < id2, any shared band key) at the
    * given signature/band geometry — the shared core of sim2/sim3 and
    * the knob-demonstration paths (package-visible for the scale
    * probe in SimilaritySpec). */
  private[graft] def candidatePairs(
      s: SparkSession, d: String, bits: Int, bands: Int, bandBits: Int): DataFrame = {
    val bnd = withBands(withSig(vecs(s, d), bits), bands, bandBits)
      .select("vec_id", "band", "key")
    bnd.as("a").join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .dropDuplicates("id1", "id2")
  }

  // --------------------------------------------------------------- sim2

  /** LSH ANN top-10 at a given signature/band geometry — candidates =
    * vectors sharing ≥ 1 band key with the query (equi-join on the
    * band key; no all-pairs), then exact cosine re-rank of candidates
    * only. Recall < 1 vs sim1 by construction; that's the documented
    * ANN trade, and the geometry is the knob: per-band match
    * probability at angle θ is (1−θ/π)^bandBits, OR-amplified across
    * `bands` independent bands to 1−(1−p^bandBits)^bands. sim2 runs
    * the 4×4-bit baseline; sim9 the 8×4-bit OR-amplified variant. */
  private def annLsh(
      s: SparkSession, d: String, bits: Int, bands: Int, bandBits: Int): DataFrame = {
    val base = vecs(s, d)
    // Candidates stay SLIM through the band join + dedup shuffle:
    // (query_id, vec_id) pairs only. The 64-dim vectors join back
    // afterwards — query side broadcast, corpus side one hash join on
    // the (already tiny) candidate set.
    val bnd = withBands(withSig(base, bits), bands, bandBits)
      .select("vec_id", "band", "key")
    val qb = bnd.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("band"), col("key"))
    bnd.join(broadcast(qb),
        Seq("band", "key")).filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
      // join-back broadcasts only the 1% QUERY subset — broadcasting
      // the unfiltered corpus here would be a corpus-sized relation
      // at scale for rows the join can never match
      .join(broadcast(base.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("n2").as("qn2"))), "query_id")
      .join(base.select(col("vec_id"), col("v"), col("n2")), "vec_id")
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** sim2: LSH ANN top-10 at the 4×4-bit baseline geometry — the
    * 100 TB path. */
  private def sim2(s: SparkSession, d: String): DataFrame =
    annLsh(s, d, bits = 16, bands = 4, bandBits = 4)

  private def annSqlN(bits: Int, bands: Int, bandBits: Int): String =
    "WITH " + vecsSql.dropRight(1) + ", " + sigSqlN(bits).dropRight(1) +
      ", " + bandsSqlN(bands, bandBits) +
      s"""SELECT query_id, rank, neighbor_id, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM (
         |    SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS cosine
         |    FROM bands q JOIN bands b ON q.band = b.band AND q.key = b.key
         |      AND b.vec_id <> q.vec_id
         |    WHERE q.vec_id % 100 = 0) c) t
         |WHERE rank <= 10""".stripMargin

  private val sim2Sql = annSqlN(16, 4, 4)

  /** sim9: OR-amplified multi-band ANN — the RECALL knob executed.
    * Same 4-bit band width as sim2 (so per-band cost economics are
    * identical), but 8 independent bands over the full 32-plane pool:
    * candidate probability rises from 1−(1−p⁴)⁴ to 1−(1−p⁴)⁸ (e.g. a
    * p=0.65 neighbor: 53% → 78%), at ≤ 2× the candidate volume — the
    * standard L-tables trade (Indyk–Motwani). At 100 TB this is THE
    * production answer to "LSH recall is too low": widen bands to
    * bound bucket sizes (sim3b's law), then stack bands to buy recall
    * back. sim8 measures all three geometries side by side. */
  private def sim9(s: SparkSession, d: String): DataFrame =
    annLsh(s, d, bits = 32, bands = 8, bandBits = 4)

  private val sim9Sql = annSqlN(32, 8, 4)

  // --------------------------------------------------------------- sim3

  /** sim3: embedding near-duplicate pairs (the dedup-by-embedding
    * member of the dedup suite): LSH-blocked candidates (id1 < id2,
    * any shared band), kept when cosine ≥ 0.45 (this corpus has no
    * tighter geometric duplicates — max off-diagonal cosine ≈ 0.55). */
  private[operators] def sim3(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    // Slim pair generation: with 4-bit band keys the buckets are big
    // (N/16 each), so the candidate join fans out to ~N²/32 rows —
    // carrying the two 64-dim vectors through that join + the dedup
    // shuffle is ~1 KB/row of dead weight. Generate (id1, id2) pairs
    // bare, dedup, THEN join the vectors back (broadcast: the vector
    // table is tiny relative to the pair stream at any SF).
    candidatePairs(s, d, bits = 16, bands = 4, bandBits = 4)
      .join(broadcast(base.select(col("vec_id").as("id1"),
        col("v").as("v1"), col("n2").as("m1"))), "id1")
      .join(broadcast(base.select(col("vec_id").as("id2"),
        col("v").as("v2"), col("n2").as("m2"))), "id2")
      .withColumn("cosine",
        dotExpr("v1", "v2") / (sqrt(col("m1")) * sqrt(col("m2"))))
      .filter(col("cosine") >= 0.45)
      .select("id1", "id2", "cosine")
  }

  private[operators] val sim3Sql = "WITH " + vecsSql.dropRight(1) + ", " + sigSql.dropRight(1) +
    ", " + bandsSql +
    s"""SELECT id1, id2, cosine FROM (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
       |    ${dotSql("a.v", "b.v")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |    AND a.vec_id < b.vec_id) p
       |WHERE cosine >= 0.45""".stripMargin

  // -------------------------------------------------------------- sim3b

  /** sim3b: the wide-band geometry EXECUTED — the sizing law on
    * [[withSig]] (b ≈ log2(N / targetBucket)) as a live, oracled
    * pipeline instead of a docstring. 8-bit bands over a 32-bit
    * signature → 256 buckets per band, so expected candidates fall
    * from sim3's N²·4/2^5 to N²·4/2^9 — the knob a 100 TB corpus
    * turns (the 4-bit geometry stops completing at ~40k vectors; this
    * one keeps bucket sizes N/256 per band). Output is the full
    * verified candidate set with exact cosine, UNthresholded: at
    * b=8 the bands themselves are the prune, and emitting the scored
    * pairs keeps the gate's row set deterministic at every SF
    * (thresholding is the caller's one-line filter). */
  private def sim3b(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    candidatePairs(s, d, bits = 32, bands = 4, bandBits = 8)
      .join(broadcast(base.select(col("vec_id").as("id1"),
        col("v").as("v1"), col("n2").as("m1"))), "id1")
      .join(broadcast(base.select(col("vec_id").as("id2"),
        col("v").as("v2"), col("n2").as("m2"))), "id2")
      .withColumn("cosine",
        dotExpr("v1", "v2") / (sqrt(col("m1")) * sqrt(col("m2"))))
      .select("id1", "id2", "cosine")
  }

  private val sim3bSql = "WITH " + vecsSql.dropRight(1) + ", " +
    sigSqlN(32).dropRight(1) + ", " + bandsSqlN(4, 8) +
    s"""SELECT id1, id2, cosine FROM (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
       |    ${dotSql("a.v", "b.v")} / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |    AND a.vec_id < b.vec_id) p""".stripMargin

  // --------------------------------------------------------------- sim4

  /** sim4: IVF coarse-quantizer centroids: per (label, dimension) the
    * component mean. Cross-row FP sums are order-sensitive, so each
    * component is floor-scaled to an integer (×10^9) first — BIGINT
    * sums are exact in any order — and the mean is ONE division of
    * exact doubles. posexplode fans each vector into 64 (dim, value)
    * rows; the agg is map-side combined. */
  private def sim4(s: SparkSession, d: String): DataFrame =
    vecs(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "comp")))
      .withColumn("comp_scaled", expr("floor(comp * 1000000000.0D)"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("comp_scaled")).as("sum_scaled"), count(lit(1)).as("n"))
      .withColumn("centroid",
        col("sum_scaled").cast("double") / (col("n") * 1000000000L).cast("double"))

  private val sim4Sql = "WITH " + vecsSql +
    s"""SELECT label, dim, sum_scaled, n,
       |  CAST(sum_scaled AS DOUBLE) / CAST(n * 1000000000 AS DOUBLE) AS centroid
       |FROM (
       |  SELECT label, i.range AS dim,
       |    CAST(sum(CAST(floor(v[i.range + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
       |    count(*) AS n
       |  FROM vecs, range($Dim) i GROUP BY 1, 2) t""".stripMargin

  // --------------------------------------------------------------- sim5

  /** sim5: IVF assignment — each vector to its nearest centroid by
    * squared L2, distances floor-scaled (×10^12) per term and summed
    * exactly, argmin with label tie-break.
    *
    * Executed as ONE narrow map: the collected codebook folds into the
    * codegen'd `pq_encode` expression (graft.functions.PqEncode, at
    * sub_dim = 64 one "subspace" = the whole vector = the IVF cell),
    * so assignment carries ZERO exchanges — the composed alternative
    * (posexplode × 64 → ×nlist centroid join → corpus-wide groupBy →
    * window) shuffles 64·nlist bookkeeping rows per vector, which at
    * 100 TB is the dominant cost of the whole index build. Values are
    * bit-identical (PqExpressions' exactness contract), so the oracle
    * is unchanged. */
  private def sim5(s: SparkSession, d: String): DataFrame = {
    val cb = typedLit(codebookArr(s, d))
    vecs(s, d)
      .filter(col("v").isNotNull)
      .withColumn("e", element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1))
      .select(col("vec_id"), col("label"),
        col("e.code").as("assigned_label"), col("e.dist_scaled"),
        (col("e.code") === col("label")).as("is_home"))
  }

  /** The coarse-quantizer codebook, COLLECTED — the IVF "build the
    * index" step (real deployments persist this artifact): sim4's
    * exact scaled-integer centroids as [label][dim]. Labels are
    * contiguous from 0 (asserted), so codebook index IS cell label;
    * nlist = outer length. A few KB — it rides into every executor
    * inside the folded pq_encode/pq_dist_table expressions.
    *
    * Memoized per data dir: the build is a full corpus scan, and
    * without the memo every IVF/PQ gate re-ran it (sim8 three times
    * over, via sim6/sim12/sim13) — "build once, serve many" should
    * hold inside the process too. Safe because the driver corpora are
    * immutable per dir (test fixtures use fresh temp dirs). */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  private def codebookArr(s: SparkSession, d: String): Seq[Seq[Double]] =
    codebookCache.computeIfAbsent(d, _ => buildCodebook(s, d))

  private def buildCodebook(s: SparkSession, d: String): Seq[Seq[Double]] = {
    val rows = sim4(s, d).select("label", "dim", "centroid").collect()
    val nlist = rows.iterator.map(_.getInt(0)).max + 1
    val cb = Array.fill(nlist, Dim)(Double.NaN)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    require(cb.forall(_.forall(!_.isNaN)),
      "IVF labels must be contiguous from 0 with all dims populated")
    cb.map(_.toSeq).toSeq
  }

  /** Per-query nprobe nearest cells by exact scaled distance: the
    * distance VECTOR to all nlist cells is one narrow `pq_dist_table`
    * map over the (1%) query subset; the rank window touches only
    * queries × nlist rows. */
  private def probeCells(base: DataFrame, cb: Column, nprobe: Int): DataFrame =
    base.filter(col("vec_id") % 100 === 0 && col("v").isNotNull)
      .select(col("vec_id").as("query_id"),
        posexplode(call_function("pq_dist_table", col("v"), cb, lit(Dim)))
          .as(Seq("clabel", "dist")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("clabel").asc)))
      .filter(col("crk") <= nprobe)
      .select("query_id", "clabel")

  /** Narrow-map IVF cell assignment (vec_id, clabel) — sim5's
    * zero-exchange encode, slimmed for candidate joins. */
  private def assignCells(base: DataFrame, cb: Column): DataFrame =
    base.filter(col("v").isNotNull)
      .select(col("vec_id"),
        element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
          .getField("code").as("clabel"))

  /** ADC distance of a code row against a query's lookup table: 8
    * integer `element_at` lookups summed — all codegen'd built-ins
    * over `pe` (pq_encode structs) and `tbl` (pq_dist_table, flattened
    * [subspace · nlist + code]). Exact BIGINT adds in any order. */
  private def adcExpr(nlist: Int): Column =
    (0 until Dim / 8).map(m =>
      element_at(col("tbl"),
        col("pe").getItem(m).getField("code") + lit(m * nlist + 1)))
      .reduce(_ + _)

  /** Shared centroid CTE (sim4's result keyed for probing). */
  private val centSql =
    s"""cent AS (
       |  SELECT label AS clabel, dim,
       |    CAST(sum_scaled AS DOUBLE) / CAST(n * 1000000000 AS DOUBLE) AS centroid
       |  FROM (
       |    SELECT label, i.range AS dim,
       |      CAST(sum(CAST(floor(v[i.range + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
       |      count(*) AS n
       |    FROM vecs, range($Dim) i GROUP BY 1, 2) t)
       |""".stripMargin

  /** Exact scaled-L2 distance of every `src` row (aliased `e`, with a
    * vector column `v`) to every centroid — the shared probe step. */
  private def distSql(src: String, idCol: String): String =
    s"""SELECT e.$idCol, c.clabel,
       |      CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |    FROM $src e, cent c
       |    GROUP BY 1, 2""".stripMargin

  // Shared oracle CTE blocks for the IVF/PQ serving family. ONE
  // definition each (like centSql/distSql): sim6/sim11/sim12/sim13
  // previously inlined character-identical copies, and a formula fix
  // applied to one copy but not the others would silently diverge
  // their oracles.

  /** Per-vector nearest-cell assignment (argmin over exact scaled L2). */
  private val assignCteSql =
    s"""assign AS (
       |  SELECT vec_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSql("vecs", "vec_id")}) d) r
       |  WHERE rk = 1)""".stripMargin

  /** Per-query nprobe=2 nearest cells. */
  private val probesCteSql =
    s"""probes AS (
       |  SELECT vec_id AS query_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSql("(SELECT * FROM vecs WHERE vec_id % 100 = 0)", "vec_id")}) d) r
       |  WHERE rk <= 2)""".stripMargin

  /** Per-query nprobe=4 nearest cells — the WIDENED probe set the
    * filtered paths (sim15/sim16) use: an index-side predicate thins
    * each cell's survivors, so probe width doubles to hold recall. */
  private val probes4CteSql =
    s"""probes4 AS (
       |  SELECT vec_id AS query_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSql("(SELECT * FROM vecs WHERE vec_id % 100 = 0)", "vec_id")}) d) r
       |  WHERE rk <= 4)""".stripMargin

  /** Per-(vector, subspace) PQ code (nearest codebook entry). */
  private val codesCteSql =
    s"""codes AS (
       |  SELECT vec_id, subspace, code AS clabel FROM (
       |    SELECT vec_id, subspace, clabel AS code, dist_scaled,
       |      row_number() OVER (PARTITION BY vec_id, subspace
       |        ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |      SELECT e.vec_id, c.dim // 8 AS subspace, c.clabel,
       |        CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |      FROM vecs e, cent c
       |      GROUP BY 1, 2, 3) d) r
       |  WHERE rk = 1)""".stripMargin

  /** Per-query ADC lookup tables (exact scaled L2 to every entry). */
  private val tablesCteSql =
    s"""tables AS (
       |  SELECT q.vec_id AS query_id, c.dim // 8 AS subspace, c.clabel,
       |    CAST(sum(CAST(floor((q.v[c.dim + 1] - c.centroid) * (q.v[c.dim + 1] - c.centroid)
       |      * 1000000000000.0) AS BIGINT)) AS BIGINT) AS tdist
       |  FROM (SELECT * FROM vecs WHERE vec_id % 100 = 0) q, cent c
       |  GROUP BY 1, 2, 3)""".stripMargin

  private val sim5Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s"""
       |SELECT vec_id, label, assigned_label, dist_scaled, is_home FROM (
       |  SELECT vec_id, label, clabel AS assigned_label, dist_scaled,
       |    clabel = label AS is_home,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |  FROM (
       |    SELECT e.vec_id, e.label, c.clabel,
       |      CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |    FROM vecs e, cent c
       |    GROUP BY 1, 2, 3) d) r
       |WHERE rk = 1""".stripMargin

  // --------------------------------------------------------------- sim6

  /** sim6: the IVF QUERY path — sim4's centroids and sim5's inverted
    * lists exist to make this search cheap, and this gate executes
    * it: each query probes its nprobe=2 nearest centroids (exact
    * scaled-L2, sim5's formula) and scores ONLY the vectors assigned
    * to those cells with the exact cosine, top-10 per query with
    * sim1's tie-break. With nlist = 10 label cells, each query scans
    * ≈ nprobe/nlist = 20% of the corpus — the IVF recall/cost knob
    * (vs sim1's 100% and sim2's band-collision candidates).
    *
    * Scale shape: the codebook is COLLECTED once (the IVF "build the
    * index" step; real deployments persist it) and folds into the
    * codegen'd pq_encode/pq_dist_table expressions, so both the
    * corpus-wide cell assignment and the per-query probe ranking are
    * narrow maps — no centroid fan-out join, no assignment shuffle
    * (see sim5). The probe join is a broadcast FANOUT (no exchange),
    * so scoring happens in the assignment stage itself: (v, n2) ride
    * the assignment map, the cosine is computed before anything is
    * shuffled, and only (query, cand, cosine) crosses the rank
    * exchange — the former join-back that pulled vectors in by vec_id
    * was a full corpus shuffle of the payload at scale (r16, §2.4). */
  private def sim6(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    val probes = probeCells(base, cb, nprobe = 2)
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    base.filter(col("v").isNotNull)
      .select(col("vec_id"),
        element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
          .getField("code").as("clabel"), col("v"), col("n2"))
      .join(broadcast(probes), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  private val sim6Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
    s"""${assignCteSql},
       |${probesCteSql}
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT p.query_id, b.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |               b.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN assign a ON a.clabel = p.clabel
       |  JOIN vecs b ON b.vec_id = a.vec_id AND b.vec_id <> p.query_id
       |  JOIN vecs q ON q.vec_id = p.query_id) t
       |WHERE rank <= 10""".stripMargin

  // --------------------------------------------------------------- sim7

  /** sim7: IVF-cell-blocked near-duplicate pairs — the third blocking
    * strategy in the dedup family (dd2 blocks by source, dd3/sim3 by
    * LSH band, this by coarse-quantizer cell): candidates are pairs
    * ASSIGNED TO THE SAME IVF CELL (sim5's argmin), scored with the
    * exact cosine, kept at ≥ 0.45. Every vector lives in exactly one
    * cell, so pairs are unique by construction — no dedup shuffle at
    * all, unlike the multi-band LSH paths. Cost is Σ cell², the
    * blocking-key economics again; recall misses only pairs straddling
    * a cell boundary (the knob is nlist, and probing nprobe > 1 cells
    * — sim6's machinery — recovers them). Cell assignment is sim5's
    * zero-exchange narrow map over the collected codebook. */
  private[operators] def sim7(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val assign = assignCells(base, typedLit(codebookArr(s, d)))
    // slim (id1, id2) pairs from the cell self-join; vectors join back
    // broadcast for scoring only. shuffle_hash like dd2's mirror join:
    // both sides are the same corpus-sized relation (never
    // broadcastable at scale), and sorting 2-column rows for an SMJ
    // on a 10-key blocking join is pure waste — hash both sides,
    // stream the pairs.
    assign.as("a").hint("shuffle_hash").join(assign.as("b").hint("shuffle_hash"),
        col("a.clabel") === col("b.clabel") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .join(broadcast(base.select(col("vec_id").as("id1"),
        col("v").as("v1"), col("n2").as("m1"))), "id1")
      .join(broadcast(base.select(col("vec_id").as("id2"),
        col("v").as("v2"), col("n2").as("m2"))), "id2")
      .withColumn("cosine",
        dotExpr("v1", "v2") / (sqrt(col("m1")) * sqrt(col("m2"))))
      .filter(col("cosine") >= 0.45)
      .select("id1", "id2", "cosine")
  }

  private[operators] val sim7Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
    s"""assign AS (
       |  SELECT vec_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSql("vecs", "vec_id")}) d) r
       |  WHERE rk = 1)
       |SELECT id1, id2, cosine FROM (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    ${dotSql("va.v", "vb.v")} / (sqrt(va.n2) * sqrt(vb.n2)) AS cosine
       |  FROM assign a JOIN assign b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
       |  JOIN vecs va ON va.vec_id = a.vec_id
       |  JOIN vecs vb ON vb.vec_id = b.vec_id) p
       |WHERE cosine >= 0.45""".stripMargin

  // -------------------------------------------------------------- sim10

  /** sim10: product-quantization (PQ) encoding — the compression half
    * of the IVF-PQ index (sim4-sim7 built the coarse quantizer; this
    * encodes residual detail): the 64-dim vector splits into M = 8
    * subspaces of 8 dims, each subvector is assigned to its nearest
    * codebook entry (per-subspace centroids — here the label means
    * over that dim range, sim4's exact scaled-integer formula), and
    * the vector compresses to 8 small codes (~8 bytes vs 256 — the
    * 32× that lets a 100 TB corpus's index live in RAM; query-time
    * ADC scans then use per-subspace lookup tables). Emits one row
    * per (vector, subspace): the code and the exact scaled distance
    * to the chosen entry (the quantization error an ADC search
    * accumulates).
    *
    * Scale shape: encode is ONE zero-exchange projection — the
    * collected codebook folds into the codegen'd `pq_encode`
    * expression and the whole argmin runs inside the row's stage
    * (graft.functions.PqEncode; the composed spelling shuffled
    * 64 × nlist bookkeeping rows per vector through a corpus-wide
    * aggregation). This is what makes the index BUILD viable at
    * 100 TB: encoding cost is exactly one corpus scan. */
  private def sim10(s: SparkSession, d: String): DataFrame = {
    val cb = typedLit(codebookArr(s, d))
    vecs(s, d)
      .filter(col("v").isNotNull)
      .select(col("vec_id"),
        posexplode(call_function("pq_encode", col("v"), cb, lit(8)))
          .as(Seq("subspace", "e")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("e.code").as("code"), col("e.dist_scaled").as("dist_scaled"))
  }

  private val sim10Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s"""
       |SELECT vec_id, subspace, code, dist_scaled FROM (
       |  SELECT vec_id, subspace, clabel AS code, dist_scaled,
       |    row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |  FROM (
       |    SELECT e.vec_id, c.dim // 8 AS subspace, c.clabel,
       |      CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |    FROM vecs e, cent c
       |    GROUP BY 1, 2, 3) d) r
       |WHERE rk = 1""".stripMargin

  // -------------------------------------------------------------- sim11

  /** sim11: ADC search over the PQ codes — the query path sim10's
    * compression exists for (asymmetric distance computation,
    * Jégou et al.): each query precomputes one small distance TABLE
    * per subspace (its exact scaled L2 to every codebook entry over
    * those 8 dims), and a candidate's approximate distance is just
    * the SUM of 8 table lookups keyed by its stored codes — the
    * vector itself is never touched. Top-10 per query by ADC
    * distance with unique tie-break. Exact integer tables make the
    * lookups and sums bit-deterministic in both engines.
    *
    * Scale shape: queries carry their whole lookup table as ONE row
    * (`pq_dist_table`, 8 × nlist BIGINTs) and broadcast against the
    * corpus's packed code rows (`pq_encode` — 8 codes/vector, the
    * 32×-compressed representation, exactly how a real IVFADC index
    * stores code words contiguously). The per-pair ADC distance is 8
    * codegen'd `element_at` lookups summed in the projection — no
    * (vec_id, subspace, code) fan-out, no corpus-wide aggregation
    * exchange; the only wide op left is the top-k window, whose
    * rank ≤ 10 prunes map-side (WindowGroupLimit). This is why PQ
    * wins at 100 TB: the full-corpus scan reads the compressed codes,
    * not the vectors, and shuffles only ~10 survivors per query per
    * partition. */
  private def sim11(s: SparkSession, d: String): DataFrame = {
    val cbA = codebookArr(s, d)
    val cb = typedLit(cbA)
    val base = vecs(s, d)
    val codes = base.filter(col("v").isNotNull)
      .select(col("vec_id"), call_function("pq_encode", col("v"), cb, lit(8)).as("pe"))
    val tables = base.filter(col("vec_id") % 100 === 0 && col("v").isNotNull)
      .select(col("vec_id").as("query_id"),
        call_function("pq_dist_table", col("v"), cb, lit(8)).as("tbl"))
    codes.join(broadcast(tables), col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist_scaled", adcExpr(cbA.length))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist_scaled").asc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist_scaled"))
  }

  private val sim11Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s""",
       |${codesCteSql},
       |${tablesCteSql}
       |SELECT query_id, rank, neighbor_id, adc_dist_scaled FROM (
       |  SELECT query_id, vec_id AS neighbor_id, adc_dist_scaled,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist_scaled ASC, vec_id ASC) AS rank
       |  FROM (
       |    SELECT t.query_id, codes.vec_id,
       |      CAST(sum(t.tdist) AS BIGINT) AS adc_dist_scaled
       |    FROM codes JOIN tables t
       |      ON codes.subspace = t.subspace AND codes.clabel = t.clabel
       |    WHERE codes.vec_id <> t.query_id
       |    GROUP BY 1, 2) a) w
       |WHERE rank <= 10""".stripMargin

  // --------------------------------------------------------------- sim8

  /** sim8: ANN recall, MEASURED — every approximate index in this
    * module trades recall for cost, and this gate quantifies the
    * trade instead of asserting it: the exact top-10 (sim1) is the
    * ground truth; LSH ANN (sim2) and IVF probe search (sim6) are
    * scored by how many true pairs they recover, the IVF-PQ
    * serving path (sim12) quantifies what the 32× compression costs
    * on top of cell pruning, and the refine re-rank (sim13) shows
    * how much of that loss the exact top-50 re-rank buys back — the
    * claim the serving stack rests on, measured every round. One
    * output row: pair counts + recall
    * percentages (exact integer counts, one division each). The joins
    * are tiny (50 ground-truth pairs at sf0.01) — all broadcast; the
    * cost is re-running the component pipelines, which is the honest
    * price of a recall audit. */
  private def sim8(s: SparkSession, d: String): DataFrame = {
    val exact = sim1(s, d).select(col("query_id"), col("neighbor_id"))
    val lsh = sim2(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_lsh", lit(1L))
    val ivf = sim6(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_ivf", lit(1L))
    val mb = sim9(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_mb", lit(1L))
    val pq = sim12(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_pq", lit(1L))
    val rf = sim13(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_rf", lit(1L))
    exact
      .join(broadcast(lsh), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(ivf), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(mb), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pq), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(rf), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum(coalesce(col("in_lsh"), lit(0L))).as("lsh_hits"),
        sum(coalesce(col("in_ivf"), lit(0L))).as("ivf_hits"),
        sum(coalesce(col("in_mb"), lit(0L))).as("mb_hits"),
        sum(coalesce(col("in_pq"), lit(0L))).as("pq_hits"),
        sum(coalesce(col("in_rf"), lit(0L))).as("rf_hits"))
      .select(col("n_exact_pairs"), col("lsh_hits"), col("ivf_hits"),
        col("mb_hits"), col("pq_hits"), col("rf_hits"),
        (col("lsh_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("lsh_recall_pct"),
        (col("ivf_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("ivf_recall_pct"),
        (col("mb_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("mb_recall_pct"),
        (col("pq_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("pq_recall_pct"),
        (col("rf_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("rf_recall_pct"))
  }

  // lazy: interpolates sim12Sql, whose val initializes later in this
  // object — a strict val would bake the string "null" into the SQL
  private lazy val sim8Sql =
    s"""WITH r1 AS (${sim1Sql}),
       |r2 AS (${sim2Sql}),
       |r6 AS (${sim6Sql}),
       |r9 AS (${sim9Sql}),
       |r12 AS (${sim12Sql}),
       |r13 AS (${sim13Sql})
       |SELECT n_exact_pairs, lsh_hits, ivf_hits, mb_hits, pq_hits, rf_hits,
       |  CAST(lsh_hits AS DOUBLE) * 100 / n_exact_pairs AS lsh_recall_pct,
       |  CAST(ivf_hits AS DOUBLE) * 100 / n_exact_pairs AS ivf_recall_pct,
       |  CAST(mb_hits AS DOUBLE) * 100 / n_exact_pairs AS mb_recall_pct,
       |  CAST(pq_hits AS DOUBLE) * 100 / n_exact_pairs AS pq_recall_pct,
       |  CAST(rf_hits AS DOUBLE) * 100 / n_exact_pairs AS rf_recall_pct
       |FROM (
       |  SELECT count(*) AS n_exact_pairs,
       |    CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
       |    CAST(sum(CASE WHEN v.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits,
       |    CAST(sum(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS mb_hits,
       |    CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
       |    CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rf_hits
       |  FROM r1 e
       |  LEFT JOIN r2 l ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
       |  LEFT JOIN r6 v ON e.query_id = v.query_id AND e.neighbor_id = v.neighbor_id
       |  LEFT JOIN r9 m ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
       |  LEFT JOIN r12 p ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
       |  LEFT JOIN r13 f ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id) t""".stripMargin

  // -------------------------------------------------------------- sim18

  /** sim18: the nprobe RECALL/COST CURVE, measured as data — the knob
    * an IVF deployment actually tunes, quantified instead of asserted:
    * for nprobe ∈ {1, 2, 4}, the measured recall@10 of the IVF probe
    * path (sim6's machinery, parameterized) against sim1's exact
    * ground truth, NEXT TO the candidate volume each width pays —
    * recall means nothing without its cost axis, and this gate emits
    * both so the curve (wider probes buy recall linearly in scanned
    * candidates) is a committed, oracle-checked artifact every round.
    *
    * Scale shape: probe sets NEST by rank (the nprobe=1 cells are a
    * prefix of the nprobe=4 list), so the whole sweep costs ONE
    * widest-probe scored pass — each candidate carries the probe rank
    * (`wmin`) of the cell that admitted it, and a narrower width is
    * just `wmin ≤ np` over the same scored frame, never a re-scan.
    * Scoring happens IN the assignment stage: the probe join is a
    * broadcast fanout (no exchange), so carrying (v, n2) through it
    * costs no shuffle bytes and removes the join-back exchange of the
    * vector payload entirely (r16, §2.4) — only (query, cand, rank,
    * cosine) ever crosses an exchange. All three widths' top-10s come
    * from ONE window pass: the widths share the identical
    * (cosine desc, vec_id asc) total order, so each narrower width's
    * row_number is a running conditional count over the widest sort
    * (3 sorts+exchanges fused to 1), and the exact truth left-joins
    * the single hit-flag frame once (3 broadcast joins fused to 1).
    * Candidate VOLUMES come from the probe × cell-size algebra
    * (Σ sizes of probed cells − the query's own membership), one agg
    * over the broadcast-dim frame for all widths. Output is |widths|
    * rows. */
  private def sim18(s: SparkSession, d: String): DataFrame = {
    val (scored, candCounts) = sim18Scored(s, d)
    val tops = sim18Tops(scored)
    val audit = sim1(s, d).select(col("query_id"), col("neighbor_id"))
      .join(broadcast(tops), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum(coalesce(col("hit1"), lit(0L))).as("h1"),
        sum(coalesce(col("hit2"), lit(0L))).as("h2"),
        sum(coalesce(col("hit4"), lit(0L))).as("h4"))
      .selectExpr("n_exact_pairs",
        "stack(3, 1L, h1, 2L, h2, 4L, h4) AS (nprobe, hits)")
    audit.join(broadcast(candCounts), Seq("nprobe"))
      .select(col("nprobe"), col("n_exact_pairs"), col("hits"),
        (col("hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("recall_pct"),
        col("n_candidates"))
  }

  /** sim18's widest-probe scored candidates (query_id, vec_id, wmin,
    * cosine) and its per-width candidate counts (nprobe, n_candidates). */
  private[graft] def sim18Scored(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val maxNp = 4
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    // widest probe list WITH ranks (probeCells drops them)
    val probesR = base.filter(col("vec_id") % 100 === 0 && col("v").isNotNull)
      .select(col("vec_id").as("query_id"),
        posexplode(call_function("pq_dist_table", col("v"), cb, lit(Dim)))
          .as(Seq("clabel", "dist")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("clabel").asc)))
      .filter(col("crk") <= maxNp)
      .select("query_id", "clabel", "crk")
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    // cell assignment WITH the vector payload (see scaladoc: the
    // probe fanout is broadcast, so this shuffles nothing)
    val assignV = base.filter(col("v").isNotNull)
      .select(col("vec_id"),
        element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
          .getField("code").as("clabel"), col("v"), col("n2"))
    val scored = assignV.join(broadcast(probesR), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("query_id"), col("vec_id"), col("crk").as("wmin"),
        col("cosine"))
    // candidate volume from the probe × cell-size algebra: the query's
    // own cell is always probe rank 1, so subtract one per query. ONE
    // agg for all widths (each leg's filtered countDistinct equals the
    // full query count: rank-1 is the query's own, non-empty, cell)
    val cellSizes = assignV.groupBy(col("clabel")).agg(count(lit(1)).as("sz"))
    val candCounts = probesR
      .join(broadcast(cellSizes), Seq("clabel"))
      .agg(
        (sum(when(col("crk") <= 1, col("sz")))
          - countDistinct(col("query_id"))).as("c1"),
        (sum(when(col("crk") <= 2, col("sz")))
          - countDistinct(col("query_id"))).as("c2"),
        (sum(when(col("crk") <= 4, col("sz")))
          - countDistinct(col("query_id"))).as("c4"))
      .selectExpr("stack(3, 1L, c1, 2L, c2, 4L, c4) AS (nprobe, n_candidates)")
    (scored, candCounts)
  }

  /** Every width's top-10 of `scored` from one window pass:
    * (query_id, neighbor_id, hit1, hit2, hit4), a hit flag 1 or null. */
  private[graft] def sim18Tops(scored: DataFrame): DataFrame = {
    // one sorted pass, three ranks: cr_np = #rows with wmin<=np at or
    // before this row in (cosine desc, vec_id asc) order — exactly the
    // row_number the per-width filtered window produced (vec_id is
    // unique per query, so the order is total and NaN placement under
    // desc is shared by construction)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cr1", sum(when(col("wmin") <= 1, 1L).otherwise(0L)).over(w))
      .withColumn("cr2", sum(when(col("wmin") <= 2, 1L).otherwise(0L)).over(w))
      .withColumn("cr4", sum(lit(1L)).over(w))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("wmin") <= 1 && col("cr1") <= 10, 1L).as("hit1"),
        when(col("wmin") <= 2 && col("cr2") <= 10, 1L).as("hit2"),
        when(col("cr4") <= 10, 1L).as("hit4"))
      .filter(col("hit1").isNotNull || col("hit2").isNotNull ||
        col("hit4").isNotNull)
  }

  /** nprobe-parameterized probe CTE (probesCteSql's generalization). */
  private def probesNSql(alias: String, np: Int): String =
    s"""$alias AS (
       |  SELECT vec_id AS query_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSql("(SELECT * FROM vecs WHERE vec_id % 100 = 0)", "vec_id")}) d) r
       |  WHERE rk <= $np)""".stripMargin

  private def sweepRowSql(np: Int): String =
    s"""${probesNSql(s"p$np", np)},
       |cand$np AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assign a JOIN p$np p ON a.clabel = p.clabel
       |  WHERE a.vec_id <> p.query_id),
       |top$np AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY c.query_id
       |        ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |                 b.vec_id ASC) AS rank
       |    FROM cand$np c
       |    JOIN vecs b ON b.vec_id = c.vec_id
       |    JOIN vecs q ON q.vec_id = c.query_id) t
       |  WHERE rank <= 10),
       |row$np AS (
       |  SELECT CAST($np AS BIGINT) AS nprobe, n_exact_pairs, hits,
       |    CAST(hits AS DOUBLE) * 100 / n_exact_pairs AS recall_pct,
       |    n_candidates
       |  FROM (
       |    SELECT count(*) AS n_exact_pairs,
       |      CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |        AS BIGINT) AS hits
       |    FROM r1e e LEFT JOIN top$np t
       |      ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id) r,
       |    (SELECT count(*) AS n_candidates FROM cand$np) c)""".stripMargin

  private lazy val sim18Sql =
    "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
      s"""${assignCteSql},
         |r1e AS (${sim1Sql}),
         |${sweepRowSql(1)},
         |${sweepRowSql(2)},
         |${sweepRowSql(4)}
         |SELECT * FROM row1
         |UNION ALL SELECT * FROM row2
         |UNION ALL SELECT * FROM row4""".stripMargin

  // -------------------------------------------------------------- sim19

  /** sim19: SCALAR QUANTIZATION (SQ8) search — the third compression
    * point on the accuracy/memory curve the PQ gates (sim10-sim13)
    * and the raw-vector paths already pin: one uint8 code PER
    * DIMENSION (64 bytes/vector vs 512 raw, vs PQ's 8), quantizing
    * each dimension's corpus range into 256 equal cells — FAISS's
    * `SQ8` / Lucene's `int8` HNSW storage. Queries stay EXACT
    * (asymmetric): distance is ‖q − decode(code)‖², so the only
    * approximation error is the ≤ half-cell rounding of the corpus
    * side.
    *
    * Determinism: codes are `floor((x−mn)·256/range)` clamped to
    * [0,255] — doubles under IEEE on both engines, no rounding-mode
    * ambiguity (floor, not round); decode recenters to the cell
    * midpoint; distances assemble as qn2 − 2·(q·r) + (r·r) with every
    * dot the shared left-fold (`dot_f64` ≡ list_reduce). A
    * zero-range dimension (constant corpus column) codes to 0 by an
    * explicit guard — not via 0/0 NaN, whose least/greatest ordering
    * the engines disagree on.
    *
    * Scale shape: the per-dim min/max stats are ONE map-side-combined
    * agg collapsed to 64 rows (collected and folded into the encode
    * expression as literals — the codebookArr discipline, so encode
    * and decode are zero-exchange narrow maps). Corpus rows carry
    * (vec_id, rv, rn2) — decode happens once per row, NOT once per
    * (query, row) pair; per pair the only work is one dot against the
    * broadcast query side. At 100 TB the scan side is the 64-byte
    * code column, 8× slimmer than raw vectors, with identical plan
    * shape to sim1's brute-force scan. */
  /** SQ8 reconstruction view: (vec_id, rv, rn2) — each dim floor-
    * quantized to 256 equal cells of its corpus range off a 64-row
    * stats agg folded into the expression as literals (the
    * codebookArr discipline; zero-exchange narrow map). Shared by
    * sim19 (flat scan) and sim27 (IVF-pruned serving). */
  private def sq8Recon(base: DataFrame): DataFrame = {
    // per-dim corpus stats: 64 rows, the bounded collect the IVF
    // codebook already justifies (Similarity.scala codebookArr)
    val stats = base.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i").asc).collect()
    val mnA = stats.map(_.getAs[Double]("mn"))
    val rgA = stats.map(r => r.getAs[Double]("mx") - r.getAs[Double]("mn"))
    val mnL = typedLit(mnA.toSeq)
    val rgL = typedLit(rgA.toSeq)
    def mnAt(i: Column) = element_at(mnL, (i + 1).cast("int"))
    def rgAt(i: Column) = element_at(rgL, (i + 1).cast("int"))
    base.withColumn("rv",
        transform(col("v"), (x, i) => {
          val code = when(rgAt(i) === 0.0, lit(0.0)).otherwise(
            least(lit(255.0), greatest(lit(0.0),
              floor((x - mnAt(i)) * 256.0 / rgAt(i)))))
          mnAt(i) + (code + lit(0.5)) * rgAt(i) / lit(256.0)
        }))
      .withColumn("rn2", dotExpr("rv", "rv"))
      .select("vec_id", "rv", "rn2")
  }

  private def sim19(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val coded = sq8Recon(base)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sq8_dist",
        col("qn2") - lit(2.0) * dotExpr("qv", "rv") + col("rn2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sq8_dist").asc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("sq8_dist"))
  }

  /** SQ8 st/rv CTEs (stats + reconstruction) — sq8Recon's SQL twin,
    * shared by sim19Sql and sim27Sql. Expects a `vecs` CTE. */
  private val sq8CteSql =
    s"""st AS (
       |  SELECT list(mn ORDER BY i) AS mnl, list(rg ORDER BY i) AS rgl
       |  FROM (
       |    SELECT i, min(x) AS mn, max(x) - min(x) AS rg
       |    FROM (
       |      SELECT unnest(v) AS x, unnest(range(1, ${Dim + 1})) AS i
       |      FROM vecs) u
       |    GROUP BY i) s),
       |rv AS (
       |  SELECT vec_id, r, ${dotSql("r", "r")} AS rn2
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(range(1, ${Dim + 1}), i ->
       |        mnl[i] + (CASE WHEN rgl[i] = 0.0::DOUBLE THEN 0.0::DOUBLE
       |          ELSE least(255.0::DOUBLE, greatest(0.0::DOUBLE,
       |            floor((v[i] - mnl[i]) * 256.0::DOUBLE / rgl[i]))) END
       |          + 0.5::DOUBLE) * rgl[i] / 256.0::DOUBLE) AS r
       |    FROM vecs, st) x)""".stripMargin

  private val sim19Sql = "WITH " + vecsSql.dropRight(1) + ", " +
    s"""$sq8CteSql,
       |qs AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2
       |       FROM vecs WHERE vec_id % 100 = 0)
       |SELECT query_id, rank, neighbor_id, sq8_dist FROM (
       |  SELECT q.query_id, rv.vec_id AS neighbor_id,
       |    q.qn2 - 2.0::DOUBLE * ${dotSql("q.qv", "rv.r")} + rv.rn2
       |      AS sq8_dist,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY q.qn2 - 2.0::DOUBLE * ${dotSql("q.qv", "rv.r")} + rv.rn2
       |        ASC, rv.vec_id ASC) AS rank
       |  FROM rv JOIN qs q ON rv.vec_id <> q.query_id) t
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim20

  /** sim20: the SAMPLED-TRAINING codebook, measured — at 100 TB
    * nobody trains the coarse quantizer on the full corpus: k-means
    * sees a sample and the index lives with slightly-off centroids.
    * This gate prices that trade instead of assuming it: centroids
    * re-estimated from the 10% sample (vec_id ≡ 0 mod 10, sim4's
    * exact scaled-integer formula), then in ONE output (a) the
    * ASSIGNMENT DRIFT — the permille of vectors whose nearest cell
    * changes under the sampled codebook (the fraction of the index
    * that would migrate on a codebook refresh, i.e. the re-shuffle a
    * rebuild pays) — and (b) the serving RECALL of the IVF probe
    * path (nprobe=2, exact re-rank — sim6's machinery) under BOTH
    * codebooks against sim1's exact truth. The number an index
    * operator actually wants: "what does training on 10% cost me?"
    *
    * Scale shape: the sampled build is sim4's one map-side-combined
    * agg over a 10× smaller scan; both codebooks fold into the
    * zero-exchange assignment expressions; drift is one slim
    * (vec_id, clabel, clabel_s) self-join on vec_id collapsed to a
    * 1-row agg; each recall leg is sim18's shape (broadcast probes +
    * slim candidates). Output: 2 rows.
    *
    * Measured at sf0.01: drift = 806‰ (the synthetic corpus's cells
    * are weakly separated, so argmins sit on a knife's edge and a
    * 10% re-estimate migrates most of the index) while recall is
    * IDENTICAL (46.0% both legs) — assignments are fragile exactly
    * where they are interchangeable, so the sampled build costs
    * nothing at serve time. That asymmetry is the point of measuring
    * both numbers instead of either alone. */
  private def sim20(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cbF = typedLit(codebookArr(s, d))
    val cbS = typedLit(sampledCodebookArr(s, d))
    val drift = assignCells(base, cbF)
      .join(assignCells(base, cbS).withColumnRenamed("clabel", "clabel_s"),
        "vec_id")
      .agg(expr("sum(CASE WHEN clabel <> clabel_s THEN 1L ELSE 0L END) " +
        "* 1000L div count(1)").as("drift_permille"))
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    def recallRow(cb: Column, name: String): DataFrame = {
      val top = assignCells(base, cb).join(broadcast(probeCells(base, cb, 2)),
          Seq("clabel"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id")
        .join(base.select("vec_id", "v", "n2"), Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cosine",
          dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("vec_id").asc)))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          lit(1L).as("hit"))
      sim1(s, d).select("query_id", "neighbor_id")
        .join(broadcast(top), Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(name).as("codebook"), col("n_exact_pairs"), col("hits"),
          (col("hits").cast("double") * 100 / col("n_exact_pairs"))
            .as("recall_pct"))
    }
    recallRow(cbF, "full")
      .withColumn("drift_permille", lit(0L))
      .unionByName(recallRow(cbS, "sampled_10pct").crossJoin(broadcast(drift)))
  }

  /** Sampled-corpus centroid CTE (centSql's formula over the 10%). */
  private val centSampSql =
    s"""cent_s AS (
       |  SELECT label AS clabel, dim,
       |    CAST(sum_scaled AS DOUBLE) / CAST(n * 1000000000 AS DOUBLE) AS centroid
       |  FROM (
       |    SELECT label, i.range AS dim,
       |      CAST(sum(CAST(floor(v[i.range + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
       |      count(*) AS n
       |    FROM (SELECT * FROM vecs WHERE vec_id % 10 = 0) sv, range($Dim) i
       |    GROUP BY 1, 2) t)
       |""".stripMargin

  /** distSql against an arbitrary centroid CTE. */
  private def distSqlC(src: String, idCol: String, cent: String): String =
    s"""SELECT e.$idCol, c.clabel,
       |      CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |    FROM $src e, $cent c
       |    GROUP BY 1, 2""".stripMargin

  private def cbLegSql(tag: String, cent: String): String =
    s"""assign_$tag AS (
       |  SELECT vec_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSqlC("vecs", "vec_id", cent)}) d) r
       |  WHERE rk = 1),
       |probes_$tag AS (
       |  SELECT vec_id AS query_id, clabel FROM (
       |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |    ${distSqlC("(SELECT * FROM vecs WHERE vec_id % 100 = 0)", "vec_id", cent)}) d) r
       |  WHERE rk <= 2),
       |top_$tag AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY c.query_id
       |        ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |                 b.vec_id ASC) AS rank
       |    FROM (
       |      SELECT p.query_id, a.vec_id
       |      FROM assign_$tag a JOIN probes_$tag p ON a.clabel = p.clabel
       |      WHERE a.vec_id <> p.query_id) c
       |    JOIN vecs b ON b.vec_id = c.vec_id
       |    JOIN vecs q ON q.vec_id = c.query_id) t
       |  WHERE rank <= 10),
       |rec_$tag AS (
       |  SELECT count(*) AS n_exact_pairs,
       |    CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM r1e e LEFT JOIN top_$tag t
       |    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id)""".stripMargin

  private lazy val sim20Sql =
    "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
      centSampSql.dropRight(1) + ", " +
      s"""r1e AS (${sim1Sql}),
         |${cbLegSql("f", "cent")},
         |${cbLegSql("s", "cent_s")},
         |drift AS (
         |  SELECT CAST(sum(CASE WHEN f.clabel <> x.clabel THEN 1 ELSE 0 END)
         |      * 1000 // count(*) AS BIGINT) AS drift_permille
         |  FROM assign_f f JOIN assign_s x USING (vec_id))
         |SELECT 'full' AS codebook, n_exact_pairs, hits,
         |  CAST(hits AS DOUBLE) * 100 / n_exact_pairs AS recall_pct,
         |  CAST(0 AS BIGINT) AS drift_permille
         |FROM rec_f
         |UNION ALL
         |SELECT 'sampled_10pct', n_exact_pairs, hits,
         |  CAST(hits AS DOUBLE) * 100 / n_exact_pairs AS recall_pct,
         |  drift_permille
         |FROM rec_s, drift""".stripMargin

  /** The 10%-sample codebook (sim20) — sim4's exact formula over
    * `vec_id ≡ 0 mod 10`, memoized like [[codebookArr]]. */
  private val sampledCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()

  private def sampledCodebookArr(s: SparkSession, d: String): Seq[Seq[Double]] =
    sampledCbCache.computeIfAbsent(d, _ => {
      val rows = vecs(s, d).filter(col("vec_id") % 10 === 0)
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "comp")))
        .withColumn("comp_scaled", expr("floor(comp * 1000000000.0D)"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("comp_scaled")).as("sum_scaled"), count(lit(1)).as("n"))
        .withColumn("centroid",
          col("sum_scaled").cast("double") / (col("n") * 1000000000L).cast("double"))
        .select("label", "dim", "centroid").collect()
      val nlist = rows.iterator.map(_.getInt(0)).max + 1
      val cb = Array.fill(nlist, Dim)(Double.NaN)
      rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      require(cb.forall(_.forall(!_.isNaN)),
        "sampled codebook: labels must stay contiguous — 10% sample missed a cell")
      cb.map(_.toSeq).toSeq
    })

  // -------------------------------------------------------------- sim12

  /** sim12: the COMBINED IVF-PQ serving path — what a production
    * vector index actually executes per query (Jégou et al.'s
    * IVFADC): the coarse quantizer prunes the corpus to the nprobe=2
    * probed cells (sim6's machinery), and ONLY those candidates are
    * ranked by ADC table lookups over their stored PQ codes (sim11's
    * machinery) — the vector data is never read at query time, and
    * neither is most of the code table. Top-10 per query by ADC
    * distance, unique tie-break, exact integer tables throughout.
    *
    * Scale shape: the two pruning structures COMPOSE — the cell join
    * cuts candidates to ≈ nprobe/nlist of the corpus before any
    * distance work, then each survivor costs 8 integer lookups
    * against a broadcast table. At 100 TB that is the difference
    * between scanning a 3 TB code table and scanning ~20% of it with
    * nothing but slim (query_id, vec_id) pairs in flight. Candidate
    * sets stay (query_id, vec_id) until the final agg; every dim
    * table (centroids, probes, ADC tables) broadcasts. */
  /** Cell-pruned ADC scores (query_id, vec_id, adc_dist_scaled) — the
    * shared stage of sim12 (top-10 directly) and sim13 (top-50 then
    * exact refine). */
  private def sim12Adc(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cbA = codebookArr(s, d)
    val cb = typedLit(cbA)
    val probes = probeCells(base, cb, nprobe = 2)
    val candidates = assignCells(base, cb).join(broadcast(probes), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val codes = base.filter(col("v").isNotNull)
      .select(col("vec_id"), call_function("pq_encode", col("v"), cb, lit(8)).as("pe"))
    val tables = base.filter(col("vec_id") % 100 === 0 && col("v").isNotNull)
      .select(col("vec_id").as("query_id"),
        call_function("pq_dist_table", col("v"), cb, lit(8)).as("tbl"))
    candidates
      // corpus-proportional × corpus-proportional: hash join on the
      // shuffle (the packed code row is 8 small ints); never
      // sort-merge. ADC itself is a narrow 8-lookup projection
      // against the query's broadcast table row — no per-subspace
      // fan-out, no aggregation exchange (see sim11).
      .join(codes.hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(tables), Seq("query_id"))
      .withColumn("adc_dist_scaled", adcExpr(cbA.length))
      .select("query_id", "vec_id", "adc_dist_scaled")
  }

  private def sim12(s: SparkSession, d: String): DataFrame =
    sim12Adc(s, d)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist_scaled").asc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist_scaled"))

  /** The assign/probes/cand/codes/tables CTE block shared by the
    * sim12 and sim13 oracles (expects `vecs` and `cent` in scope). */
  private val sim12CtesSql =
    s"""${assignCteSql},
       |${probesCteSql},
       |cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM assign a JOIN probes p ON a.clabel = p.clabel
       |  WHERE a.vec_id <> p.query_id),
       |${codesCteSql},
       |${tablesCteSql},
       |""".stripMargin

  // sim12CtesSql ends with a trailing comma (so sim13 can append its
  // own CTE); the 1-row _one CTE absorbs it here.
  private val sim12Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s""",
       |${sim12CtesSql}
       |_one AS (SELECT 1)
       |SELECT query_id, rank, neighbor_id, adc_dist_scaled FROM (
       |  SELECT n.query_id, n.vec_id AS neighbor_id, n.adc_dist_scaled,
       |    row_number() OVER (PARTITION BY n.query_id
       |      ORDER BY n.adc_dist_scaled ASC, n.vec_id ASC) AS rank
       |  FROM (
       |    SELECT cand.query_id, cand.vec_id,
       |      CAST(sum(t.tdist) AS BIGINT) AS adc_dist_scaled
       |    FROM cand
       |    JOIN codes ON cand.vec_id = codes.vec_id
       |    JOIN tables t ON t.query_id = cand.query_id
       |      AND t.subspace = codes.subspace AND t.clabel = codes.clabel
       |    GROUP BY 1, 2) n) w
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim13

  /** sim13: IVFADC + REFINE — the final stage of the production
    * serving stack (Jégou et al. §VI): the compressed index nominates
    * a generous candidate list (sim12's cell-pruned ADC, top-50 per
    * query — ranked by lossy 8-byte codes), and only those ~50 rows
    * per query pay an exact-vector re-rank to produce the top-10.
    * This is how a 100 TB index keeps recall: the full-precision
    * vectors are read for 50 candidates per query instead of the
    * corpus, and the refine ratio (50 → 10) absorbs most of the
    * quantization error sim8 measures on raw ADC.
    *
    * Scale shape: the ADC stage is sim12's (slim pairs, broadcast
    * tables); the refine join pulls vectors for ≤ 50·queries rows
    * (query-proportional, never corpus-proportional), then one
    * per-query window ranks them. */
  private def sim13(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    sim12Adc(s, d)
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist_scaled").asc, col("vec_id").asc)))
      .filter(col("adc_rank") <= 50)
      .select(col("query_id"), col("vec_id"))
      .join(base.select(col("vec_id"), col("v"), col("n2")).hint("shuffle_hash"),
        Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  private val sim13Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s""",
       |${sim12CtesSql}
       |adc AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT n.query_id, n.vec_id,
       |      row_number() OVER (PARTITION BY n.query_id
       |        ORDER BY n.adc_dist_scaled ASC, n.vec_id ASC) AS adc_rank
       |    FROM (
       |      SELECT cand.query_id, cand.vec_id,
       |        CAST(sum(t.tdist) AS BIGINT) AS adc_dist_scaled
       |      FROM cand
       |      JOIN codes ON cand.vec_id = codes.vec_id
       |      JOIN tables t ON t.query_id = cand.query_id
       |        AND t.subspace = codes.subspace AND t.clabel = codes.clabel
       |      GROUP BY 1, 2) n) w
       |  WHERE adc_rank <= 50)
       |SELECT query_id, rank, neighbor_id, cosine FROM (
       |  SELECT a.query_id, e.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "e.v")} / (sqrt(q.n2) * sqrt(e.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY a.query_id ORDER BY
       |      ${dotSql("q.v", "e.v")} / (sqrt(q.n2) * sqrt(e.n2)) DESC,
       |      e.vec_id ASC) AS rank
       |  FROM adc a
       |  JOIN vecs e ON a.vec_id = e.vec_id
       |  JOIN vecs q ON a.query_id = q.vec_id) r
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim14

  /** sim14: one LLOYD REFINEMENT step of the IVF codebook — the
    * missing half of the index-build loop (sim4 seeds centroids from
    * labels, sim5 assigns; a real k-means build then RE-estimates
    * each centroid as the mean of its assigned members and repeats
    * until drift is small). Per (cell, dim): the member count, the
    * re-estimated centroid, the seed centroid, and the drift — the
    * number an index builder watches to decide convergence.
    *
    * Numeric policy: components floor-scale to ×10⁹ BIGINTs (sim4's
    * rule), sums are exact integers in any partial-agg order, and the
    * final centroid/drift doubles come from single IEEE divisions of
    * those exact integers — deterministic cross-engine.
    *
    * Scale shape: the assignment is sim5's folded-codebook narrow map
    * (zero exchange), so one corpus scan feeds a posexplode into slim
    * (cell, dim, comp) rows that map-side-combine down to
    * nlist × 64 groups; the seed-centroid dim is nlist × 64 rows and
    * broadcasts. At 100 TB each Lloyd round costs exactly one scan +
    * one bounded agg — the loop is round-per-scan, never resident. */
  private def sim14(s: SparkSession, d: String): DataFrame = {
    val cb = typedLit(codebookArr(s, d))
    val assigned = vecs(s, d)
      .withColumn("cell",
        element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
          .getField("code"))
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "comp")))
      .withColumn("comp_scaled", expr("CAST(floor(comp * 1000000000.0D) AS BIGINT)"))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("comp_scaled")).as("sum_scaled"),
        count(lit(1)).as("n_members"))
      .withColumn("new_centroid", col("sum_scaled").cast("double") /
        (col("n_members") * 1000000000L).cast("double"))
    val seed = sim4(s, d)
      .select(col("label").as("cell"), col("dim"),
        col("centroid").as("seed_centroid"))
    assigned.join(broadcast(seed), Seq("cell", "dim"))
      .select(col("cell"), col("dim"), col("n_members"), col("new_centroid"),
        col("seed_centroid"),
        (col("new_centroid") - col("seed_centroid")).as("drift"))
  }

  private val sim14Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s""",
       |assign AS (
       |  SELECT vec_id, clabel AS cell FROM (
       |    SELECT vec_id, clabel,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist_scaled ASC, clabel ASC) AS rk
       |    FROM (
       |      SELECT e.vec_id, c.clabel,
       |        CAST(sum(CAST(floor((e.v[c.dim + 1] - c.centroid) * (e.v[c.dim + 1] - c.centroid)
       |          * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dist_scaled
       |      FROM vecs e, cent c
       |      GROUP BY 1, 2) d) r
       |  WHERE rk = 1),
       |newc AS (
       |  SELECT a.cell, i.range AS dim,
       |    CAST(sum(CAST(floor(e.v[i.range + 1] * 1000000000.0) AS BIGINT)) AS BIGINT)
       |      AS sum_scaled,
       |    count(*) AS n_members
       |  FROM vecs e JOIN assign a ON a.vec_id = e.vec_id, range($Dim) i
       |  GROUP BY 1, 2)
       |SELECT n.cell, n.dim, n.n_members,
       |  CAST(sum_scaled AS DOUBLE) / CAST(n_members * 1000000000 AS DOUBLE)
       |    AS new_centroid,
       |  c.centroid AS seed_centroid,
       |  CAST(sum_scaled AS DOUBLE) / CAST(n_members * 1000000000 AS DOUBLE)
       |    - c.centroid AS drift
       |FROM newc n JOIN cent c ON c.clabel = n.cell AND c.dim = n.dim""".stripMargin

  // -------------------------------------------------------------- sim15

  /** sim15: FILTERED vector search — the serving feature every vector
    * store ships ("nearest neighbors WHERE language = X"): sim6's IVF
    * probe path under a metadata predicate (label odd ≈ ½
    * selectivity). The two decisions that make filtered search work
    * at scale, both executed: (a) the filter column rides WITH the
    * index postings — the slim (vec_id, label, cell) side is
    * PRE-filtered before any vector is touched, never post-filtering
    * a scored top-k (which silently returns < k); (b) probe width
    * doubles (nprobe 2 → 4) to offset the halved candidate density —
    * the adaptive-probe rule, pinned as the selectivity reciprocal.
    *
    * Scale shape: identical to sim6 — folded-codebook narrow maps for
    * assignment and probing, slim candidates through the broadcast
    * probe join, vectors joined back only for filter survivors. */
  /** Predicate-filtered slim postings (vec_id, label, clabel) — the
    * index side of BOTH filtered serving paths (sim15 exact-distance,
    * sim16 ADC): coarse cell from the folded-codebook encode, the
    * metadata predicate applied BEFORE any distance work. ONE
    * definition (the inlined-copy lesson this file's oracle CTEs
    * already learned): a fix here reaches both paths. */
  private def filteredPostings(base: DataFrame, cb: Column): DataFrame =
    base.select(col("vec_id"), col("label"),
      element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
        .getField("code").as("clabel"))
      .filter(col("label") % 2 === 1)

  private def sim15(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    val probes = probeCells(base, cb, nprobe = 4)
    val assignF = filteredPostings(base, cb)
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    assignF.join(broadcast(probes), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "label")
      .join(base.select("vec_id", "v", "n2"), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"), col("cosine"))
  }

  private val sim15Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
    s"""${assignCteSql},
       |${probes4CteSql}
       |SELECT query_id, rank, neighbor_id, label, cosine FROM (
       |  SELECT p.query_id, b.vec_id AS neighbor_id, b.label,
       |    ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |               b.vec_id ASC) AS rank
       |  FROM probes4 p
       |  JOIN assign a ON a.clabel = p.clabel
       |  JOIN vecs b ON b.vec_id = a.vec_id AND b.vec_id <> p.query_id
       |    AND b.label % 2 = 1
       |  JOIN vecs q ON q.vec_id = p.query_id) t
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim16

  /** sim16: FILTERED IVFADC + refine — the production vector-store
    * serving combo (a metadata predicate composed with the compressed
    * index, e.g. "nearest documents WHERE language = X"): sim15's
    * index-side predicate now composes with sim12/sim13's ADC path
    * instead of the exact-distance IVF path. Stages: (1) the
    * predicate prunes the slim (vec_id, clabel, label) postings
    * BEFORE any distance work; (2) probes are WIDENED (nprobe=4 vs
    * sim12's 2) because the filter thins each probed cell's
    * survivors; (3) survivors are ranked by ADC table lookups over
    * their stored PQ codes — top-50 nominated per query; (4) only
    * those ≤50 rows per query pay the exact-vector re-rank to the
    * top-10.
    *
    * Scale shape: candidates stay (query_id, vec_id, label) until the
    * refine join; the code join is shuffle-hash on corpus-proportional
    * slim rows; ADC tables and the query vectors broadcast. NO vector
    * is read before the refine stage — the spec asserts the pre-refine
    * plan never touches the embedding column — and refine reads
    * vectors for ≤ 50·queries rows, query-proportional. */
  private[graft] def sim16Adc(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cbA = codebookArr(s, d)
    val cb = typedLit(cbA)
    val probes = probeCells(base, cb, nprobe = 4)
    // index-side predicate on the postings: filtered-out docs never
    // reach the candidate set, their codes are never joined
    val candidates = filteredPostings(base, cb).join(broadcast(probes), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "label")
    val codes = base.filter(col("v").isNotNull)
      .select(col("vec_id"), call_function("pq_encode", col("v"), cb, lit(8)).as("pe"))
    val tables = base.filter(col("vec_id") % 100 === 0 && col("v").isNotNull)
      .select(col("vec_id").as("query_id"),
        call_function("pq_dist_table", col("v"), cb, lit(8)).as("tbl"))
    candidates
      .join(codes.hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(tables), Seq("query_id"))
      .withColumn("adc_dist_scaled", adcExpr(cbA.length))
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist_scaled").asc, col("vec_id").asc)))
      .filter(col("adc_rank") <= 50)
      .select("query_id", "vec_id", "label")
  }

  private def sim16(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    sim16Adc(s, d)
      .join(base.select(col("vec_id"), col("v"), col("n2")).hint("shuffle_hash"),
        Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"), col("cosine"))
  }

  private val sim16Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) +
    s""",
       |${assignCteSql},
       |${probes4CteSql},
       |candf AS (
       |  SELECT p.query_id, a.vec_id, b.label
       |  FROM assign a
       |  JOIN vecs b ON b.vec_id = a.vec_id AND b.label % 2 = 1
       |  JOIN probes4 p ON a.clabel = p.clabel
       |  WHERE a.vec_id <> p.query_id),
       |${codesCteSql},
       |${tablesCteSql},
       |adcf AS (
       |  SELECT query_id, vec_id, label FROM (
       |    SELECT n.query_id, n.vec_id, n.label,
       |      row_number() OVER (PARTITION BY n.query_id
       |        ORDER BY n.adc_dist_scaled ASC, n.vec_id ASC) AS adc_rank
       |    FROM (
       |      SELECT candf.query_id, candf.vec_id, candf.label,
       |        CAST(sum(t.tdist) AS BIGINT) AS adc_dist_scaled
       |      FROM candf
       |      JOIN codes ON candf.vec_id = codes.vec_id
       |      JOIN tables t ON t.query_id = candf.query_id
       |        AND t.subspace = codes.subspace AND t.clabel = codes.clabel
       |      GROUP BY 1, 2, 3) n) w
       |  WHERE adc_rank <= 50)
       |SELECT query_id, rank, neighbor_id, label, cosine FROM (
       |  SELECT a.query_id, e.vec_id AS neighbor_id, a.label,
       |    ${dotSql("q.v", "e.v")} / (sqrt(q.n2) * sqrt(e.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY a.query_id ORDER BY
       |      ${dotSql("q.v", "e.v")} / (sqrt(q.n2) * sqrt(e.n2)) DESC,
       |      e.vec_id ASC) AS rank
       |  FROM adcf a
       |  JOIN vecs e ON a.vec_id = e.vec_id
       |  JOIN vecs q ON a.query_id = q.vec_id) r
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim17

  /** sim17: measured recall of the FILTERED serving paths — sim8's
    * "measure, don't guess" discipline applied to sim15/sim16: the
    * ground truth is the filtered brute force (exact top-10 among
    * predicate-satisfying neighbors only — recall against UNfiltered
    * truth would conflate predicate selectivity with index quality),
    * and each filtered path's hit count against it quantifies whether
    * the widened probes (nprobe 2→4 at ½ selectivity) actually hold
    * recall, and what the PQ compression costs on top (sim16 vs
    * sim15's exact-distance path).
    *
    * Scale shape: ground truth is query-proportional (top-10 per
    * query); the serving-path result sets broadcast into the
    * left-join scoring, and the final agg is one row. */
  private def sim17(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val exactF = base.filter(col("label") % 2 === 1)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val f15 = sim15(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_f15", lit(1L))
    val f16 = sim16(s, d).select(col("query_id"), col("neighbor_id"))
      .withColumn("in_f16", lit(1L))
    exactF
      .join(broadcast(f15), Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(f16), Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum(coalesce(col("in_f15"), lit(0L))).as("f15_hits"),
        sum(coalesce(col("in_f16"), lit(0L))).as("f16_hits"))
      .select(col("n_exact_pairs"), col("f15_hits"), col("f16_hits"),
        (col("f15_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("f15_recall_pct"),
        (col("f16_hits").cast("double") * 100 / col("n_exact_pairs"))
          .as("f16_recall_pct"))
  }

  // lazy: interpolates sim15Sql/sim16Sql, which initialize later in
  // this object — a strict val would bake the string "null" in
  private lazy val sim17Sql =
    s"""WITH rex AS (
       |  WITH ${vecsSql.dropRight(1)}
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |                 b.vec_id ASC) AS rank
       |    FROM vecs q JOIN vecs b
       |      ON b.vec_id <> q.vec_id AND b.label % 2 = 1
       |    WHERE q.vec_id % 100 = 0) t
       |  WHERE rank <= 10),
       |r15 AS (${sim15Sql}),
       |r16 AS (${sim16Sql})
       |SELECT n_exact_pairs, f15_hits, f16_hits,
       |  CAST(f15_hits AS DOUBLE) * 100 / n_exact_pairs AS f15_recall_pct,
       |  CAST(f16_hits AS DOUBLE) * 100 / n_exact_pairs AS f16_recall_pct
       |FROM (
       |  SELECT count(*) AS n_exact_pairs,
       |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS f15_hits,
       |    CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS f16_hits
       |  FROM rex e
       |  LEFT JOIN r15 a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |  LEFT JOIN r16 c ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id) t""".stripMargin

  // -------------------------------------------------------------- sim21

  /** sim21: MMR DIVERSIFIED RE-RANKING (Carbonell & Goldstein's
    * maximal marginal relevance) — the serving-path step between "top-k
    * by cosine" and "what a retrieval product actually returns": from
    * each query's top-25 candidate pool, greedily select 5 results
    * maximizing `0.7·rel(q,d) − 0.3·max_{s∈S} sim(d,s)` — relevance
    * traded against redundancy with what's already selected, so
    * near-duplicate hits (which embedding corpora are full of — the
    * sim3/mm7 story) can't monopolize a result page. Round 1 has an
    * empty penalty term (score = 0.7·rel); ties break on neighbor id.
    *
    * Determinism: every score is derived from the SAME double
    * arithmetic on both engines — cosines via the shared dot formula
    * (sim1's left-fold order), the MMR combination written as the
    * identical two-term expression, MAX over identical doubles — so
    * FP hashes match bit-for-bit (the dot_f64 discipline; no integer
    * scaling needed because nothing is ever summed across rows in
    * data-dependent order).
    *
    * Scale shape: candidate generation is sim1's broadcast-query
    * brute-force scan (the oracle-able baseline; the production pool
    * would come from sim12's pruned IVFADC serve — the re-rank is
    * pool-source-agnostic); everything after is POOL-grain AND
    * query-LOCAL: once the ≤P survivors per query are grouped onto
    * one row, the 25×24 pairwise sims and all M−1 greedy rounds are
    * a single per-row expression — zero further exchanges. (r15,
    * guide §2.4: the previous spelling ran the selection as M−1
    * cluster-wide rounds of anti-join + max-agg + rank + checkpoint —
    * 4 barrier shuffles of every query's pool and 52 Spark jobs for a
    * decision that never crosses query boundaries. At 100 TB each
    * round was a full shuffle of the pool; now the pool crosses one
    * groupBy exchange once.) Driver holds nothing — selection stays a
    * DataFrame end-to-end, and the per-query state is P·(64 doubles)
    * ≈ 13 KB regardless of corpus size.
    *
    * COST CEILING, measured (r15, 100× replica; rerun with `Diag
    * profile` on a `Diag replica` dir): the gate's wall is the
    * declared O(Q·N) brute-force pool, not the re-rank — at the 100×
    * replica (2 k queries × 200 k corpus) the probe read 146 s, all of
    * it scored cosines in the pool scan; the grouped selection stayed
    * seconds. That pool is the gate's LAW (it is sim1's oracle-able
    * exact baseline); a production deployment swaps in sim12's pruned
    * IVFADC pool and the re-rank below is unchanged. */
  private def sim21(s: SparkSession, d: String): DataFrame = {
    val P = 25 // candidate pool per query
    val M = 5  // results served per query
    val base = vecs(s, d)
    val q = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    // score slim FIRST: the queries × corpus volume crosses the rank
    // exchange as 24-byte (query, cand, rel) rows — carrying the two
    // 64-double vectors through that sort is a ~40× wider spill (it
    // filled the probe host's disk at the 100× replica); the pool's
    // vectors are re-fetched afterwards for only P survivors per query
    val pool = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        (dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2")))).as("rel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("cand_id").asc)))
      .filter(col("rk") <= P)
      .select(col("query_id"), col("cand_id"), col("rel"))
    // one row per query: the pool sorted by (rel desc, cand asc) —
    // collect_list order is nondeterministic, the sort restores a
    // total order (cand unique per query)
    val grouped = pool
      .join(base.select(col("vec_id").as("cand_id"), col("v"), col("n2")),
        Seq("cand_id"))
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("cand_id"), col("rel"), col("v"), col("n2")))
        .as("pl"))
      .withColumn("pool", expr(
        // NaN arms: the replaced row_number().orderBy(rel.desc) (and
        // DuckDB) order NaN as GREATEST — a bare >/< comparator would
        // instead treat NaN as tied with everything (non-transitive).
        // Unreachable on vecs() input unless a zero-norm vector slips
        // a NaN cosine through; pinned anyway so the spelling cannot
        // diverge from the oracle on any input.
        """array_sort(pl, (l, r) -> CASE
          |  WHEN l.rel > r.rel OR (isnan(l.rel) AND NOT isnan(r.rel)) THEN -1
          |  WHEN l.rel < r.rel OR (isnan(r.rel) AND NOT isnan(l.rel)) THEN 1
          |  WHEN l.cand_id < r.cand_id THEN -1
          |  WHEN l.cand_id > r.cand_id THEN 1 ELSE 0 END)""".stripMargin))
    // the greedy MMR loop as one expression: acc = selected-so-far
    // (cand, rank, score, v, n2); each round scores the remaining pool
    // against acc with the IDENTICAL two-term double expression and
    // picks by (score desc, cand asc) — the same total order the old
    // row_number ranking used. sim(p, s) = dot/(sqrt·sqrt) is the
    // shared dot_f64 formula (bit-symmetric, so dropping the pairSims
    // frame cannot flip a hash). element-0 seed = 0.7·rel, rank 1.
    val sel = expr(
      s"""aggregate(
         |  sequence(2, $M),
         |  transform(slice(pool, 1, 1), p -> named_struct(
         |    'cand', p.cand_id, 'sel_rank', 1, 'score', 0.7D * p.rel,
         |    'v', p.v, 'n2', p.n2)),
         |  (acc, k) -> CASE WHEN size(acc) < k - 1 THEN acc ELSE
         |    concat(acc, transform(
         |      slice(array_sort(
         |        transform(
         |          filter(pool, p -> NOT exists(acc, s -> s.cand = p.cand_id)),
         |          p -> named_struct(
         |            'score', 0.7D * p.rel - 0.3D * array_max(
         |              transform(acc, s -> dot_f64(p.v, s.v)
         |                                    / (sqrt(p.n2) * sqrt(s.n2)))),
         |            'cand', p.cand_id, 'v', p.v, 'n2', p.n2)),
         |        (l, r) -> CASE
         |          WHEN l.score > r.score
         |            OR (isnan(l.score) AND NOT isnan(r.score)) THEN -1
         |          WHEN l.score < r.score
         |            OR (isnan(r.score) AND NOT isnan(l.score)) THEN 1
         |          WHEN l.cand < r.cand THEN -1 WHEN l.cand > r.cand THEN 1
         |          ELSE 0 END), 1, 1),
         |      p -> named_struct('cand', p.cand, 'sel_rank', k,
         |        'score', p.score, 'v', p.v, 'n2', p.n2)))
         |  END)""".stripMargin)
    grouped.select(col("query_id"), explode(sel).as("s"))
      .select(col("query_id"), col("s.sel_rank").as("sel_rank"),
        col("s.cand").as("neighbor_id"), col("s.score").as("mmr_score"))
  }

  private val sim21Sql = {
    def round(k: Int): String =
      s"""pick$k AS MATERIALIZED (
         |  SELECT query_id, cand_id, CAST($k AS INT) AS sel_rank, score AS mmr_score
         |  FROM (
         |    SELECT c.query_id, c.cand_id,
         |      0.7::DOUBLE * c.rel - 0.3::DOUBLE * p.mx AS score,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY 0.7::DOUBLE * c.rel - 0.3::DOUBLE * p.mx DESC,
         |                 c.cand_id ASC) AS rk
         |    FROM cands c
         |    JOIN (
         |      SELECT ps.query_id, ps.cand_id, max(ps.sim) AS mx
         |      FROM ps JOIN sel${k - 1} s
         |        ON s.query_id = ps.query_id AND s.cand_id = ps.other_id
         |      GROUP BY ps.query_id, ps.cand_id) p
         |      ON p.query_id = c.query_id AND p.cand_id = c.cand_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s
         |      WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)) t
         |  WHERE rk = 1),
         |sel$k AS MATERIALIZED (
         |  SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
    "WITH " + vecsSql +
      s""", cands AS MATERIALIZED (
         |  SELECT query_id, cand_id, rel, v, n2 FROM (
         |    SELECT q.vec_id AS query_id, b.vec_id AS cand_id,
         |      ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS rel,
         |      b.v AS v, b.n2 AS n2,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
         |                 b.vec_id ASC) AS rk
         |    FROM vecs q JOIN vecs b ON b.vec_id <> q.vec_id
         |    WHERE q.vec_id % 100 = 0) t
         |  WHERE rk <= 25),
         |ps AS MATERIALIZED (
         |  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
         |    ${dotSql("a.v", "b.v")} / (sqrt(a.n2) * sqrt(b.n2)) AS sim
         |  FROM cands a JOIN cands b
         |    ON b.query_id = a.query_id AND b.cand_id <> a.cand_id),
         |sel1 AS MATERIALIZED (
         |  SELECT query_id, cand_id, CAST(1 AS INT) AS sel_rank,
         |    0.7::DOUBLE * rel AS mmr_score
         |  FROM (
         |    SELECT query_id, cand_id, rel,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY rel DESC, cand_id ASC) AS rk
         |    FROM cands) t
         |  WHERE rk = 1),
         |${(2 to 5).map(round).mkString(",\n")}
         |SELECT query_id, sel_rank, cand_id AS neighbor_id, mmr_score
         |FROM sel5""".stripMargin
  }

  // -------------------------------------------------------------- sim22

  /** sim22: INDEX MAINTENANCE — the lifecycle the build-once gates
    * (sim5/sim6/sim12) and the persisted-serve specs leave ungated:
    * a production vector store is UPDATED, not rebuilt. The Faiss/
    * Milvus/Lucene-HNSW deployment shape on the cell-partitioned
    * layout: (1) BUILD v0 from the corpus minus a late batch
    * (vec_id ≡ 7 mod 10 held out as future arrivals), flat rows
    * (vec_id, v, n2) written `partitionBy(clabel)`; (2) UPSERT the
    * late batch — assigned by the SAME trained codebook (you retrain
    * on drift, sim20's gate, not on every insert) and APPENDED as new
    * files inside the cell dirs, v0's files untouched (size+mtime
    * `require`d — an upsert that rewrites the index is a rebuild);
    * (3) DELETE by TOMBSTONE — dead ids (vec_id ≡ 3 mod 100) never
    * touch the files, they mask at serve time via a broadcast anti
    * join (the index still CONTAINS them, `require`d — cheap deletes,
    * space reclaimed later by la20-style compaction); (4) SERVE from
    * the maintained artifacts: sim6's nprobe=2 IVF search over
    * (v0 ∪ delta) − tombstones, exact cosine top-10, each neighbor
    * flagged `is_upserted` so the oracle checks the delta is LIVE in
    * results (and a ≥1-upserted-neighbor floor is `require`d so the
    * proof can't be vacuous).
    *
    * Scale shape: upsert cost ∝ |batch| (narrow assign map + append);
    * delete cost ∝ |tombstones| (a dim row each); serve cost is
    * sim6's (probed cells only, slim candidates, one hash join back
    * to payloads). Nothing is ever corpus-rewritten. */
  private def sim22(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    TmpDirs.withRoot(s, "sim22") { dir =>
    def withCell(df: DataFrame): DataFrame =
      df.withColumn("clabel",
        element_at(call_function("pq_encode", col("v"), cb, lit(Dim)), 1)
          .getField("code"))
        .select("vec_id", "v", "n2", "clabel")
    withCell(base.filter(col("vec_id") % 10 =!= 7))
      .write.partitionBy("clabel").parquet(dir)
    def files(): Map[String, (Long, Long)] =
      Tables.files(s, dir).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.toUri.getPath -> ((f.getLen, f.getModificationTime))).toMap
    val v0Stat = files()
    // (2) UPSERT: append-only delta under the same layout
    withCell(base.filter(col("vec_id") % 10 === 7))
      .write.mode("append").partitionBy("clabel").parquet(dir)
    val postStat = files()
    require(v0Stat.forall { case (f, st) => postStat.get(f).contains(st) },
      "upsert rewrote v0 files — maintenance must be append-only")
    require(postStat.size > v0Stat.size, "upsert appended no delta files")
    // (3) DELETE: tombstone dim; the files still CONTAIN the dead ids
    val tomb = base.filter(col("vec_id") % 100 === 3)
      .select(col("vec_id").as("dead_id"))
    val idx = s.read.parquet(dir)
    // r16 (guide §1.2): the tombstone count rides the containment
    // check's broadcast build as an Observation instead of a second
    // corpus scan — count() is evaluated exactly once there (the
    // broadcast side materializes once per job; no range sampling)
    val obsDead = org.apache.spark.sql.Observation()
    val deadInIndex = idx.join(
      broadcast(tomb.observe(obsDead, count(lit(1)).as("n_dead"))),
      col("vec_id") === col("dead_id"), "left_semi").count()
    val nDead = obsDead.get("n_dead").asInstanceOf[Long]
    require(nDead > 0 && deadInIndex == nDead,
      s"tombstoned rows must stay in the files ($deadInIndex of $nDead found)")
    // (4) SERVE: sim6's IVF search over the maintained artifacts.
    // The probed-cell set is an EXPLICIT partition filter (≤ nlist
    // values, a driver-side dim): static partition pruning is
    // guaranteed at plan time instead of hoping DPP fires under the
    // broadcast join — and the pruning is then RECEIPTED behaviorally:
    // every file the serve leg reads must sit under a probed
    // clabel=... directory (sim12's input_file_name discipline).
    val probes = probeCells(base, cb, nprobe = 2)
    val probedCells = probes.select("clabel").distinct()
      .collect().map(_.getInt(0)).sorted
    // r16 (guide §1.2): the file receipt rides the serve job itself as
    // an Observation (collect_set of input_file_name — set semantics,
    // idempotent even under re-evaluation) instead of a separate
    // distinct+collect scan of the probed partitions; the require runs
    // right after the serve collect, before anything is returned
    val obsFiles = org.apache.spark.sql.Observation()
    val idxServe = idx.filter(col("clabel").isin(probedCells.map(Int.box): _*))
      // input_file_name() must be projected before the metric (a bare
      // nondeterministic expression inside CollectMetrics is rejected)
      .withColumn("__served_file", input_file_name())
      .observe(obsFiles, collect_set(col("__served_file")).as("served_files"))
      .drop("__served_file")
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val out = idxServe.join(broadcast(probes), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(tomb), col("vec_id") === col("dead_id"), "left_anti")
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"), (col("vec_id") % 10 === 7).as("is_upserted"))
    val rows = out.collect()
    // the pruning receipt, observed during the serve job above: every
    // file the serve leg read must sit under a probed clabel=... dir
    val servedFiles = obsFiles.get("served_files")
      .asInstanceOf[scala.collection.Seq[String]]
    require(servedFiles.nonEmpty && servedFiles.forall(f =>
        probedCells.exists(c => f.contains(s"clabel=$c/"))),
      s"serve leg read unprobed partitions: ${servedFiles.filterNot(f =>
        probedCells.exists(c => f.contains(s"clabel=$c/"))).mkString(",")}")
    require(rows.exists(_.getAs[Boolean]("is_upserted")),
      "no upserted vector was ever served — the delta is not live")
    require(rows.forall(r => r.getAs[Long]("neighbor_id") % 100 != 3),
      "a tombstoned vector leaked into the served results")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }}

  private val sim22Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
    s"""${assignCteSql},
       |${probesCteSql},
       |live AS (SELECT * FROM vecs WHERE vec_id % 100 <> 3)
       |SELECT query_id, rank, neighbor_id, cosine,
       |  neighbor_id % 10 = 7 AS is_upserted FROM (
       |  SELECT p.query_id, b.vec_id AS neighbor_id,
       |    ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) AS cosine,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) DESC,
       |               b.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN assign a ON a.clabel = p.clabel
       |  JOIN live b ON b.vec_id = a.vec_id AND b.vec_id <> p.query_id
       |  JOIN vecs q ON q.vec_id = p.query_id) t
       |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- sim23

  /** sim23: RADIUS SEARCH (range query) — the OTHER serving primitive
    * next to top-k: return EVERY neighbor with cosine ≥ τ, the shape
    * dedup-on-ingest, coverage audits and "find all near copies of
    * this document" queries need (a top-k under-reports dense
    * neighborhoods and over-reports sparse ones; a radius query's
    * result size IS the signal). τ = 0.45, the repo's near-dup bar.
    *
    * The scale path is sim6's IVF pruning verbatim — probed cells
    * bound the candidates BEFORE any distance work, then one exact
    * cosine per survivor with no rank window at all (radius search is
    * cheaper than top-k: a threshold filter replaces the per-query
    * sort) — and, like every approximate path in this family, the
    * gate MEASURES what pruning costs: per query, n_true from the
    * exact brute-force radius truth, n_found from the pruned path
    * (found ⊆ true, `require`d via the join shape: recall can never
    * exceed 1000‰), and recall in integer permille. Both counts ride
    * the SAME double cosine expression (shared left-fold dot), so the
    * τ comparison agrees bit-for-bit across engines.
    *
    * Scale shape: pruned leg = slim (query, candidate) pairs from
    * probed cells only, one hash join back to vectors, no window; the
    * truth leg is the sim1-class quadratic CONTROL (queries × corpus)
    * that a deployment runs on samples to calibrate τ/nprobe — the
    * pruned leg alone is what serves. */
  private def sim23(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    def cosFound(cand: DataFrame): DataFrame = cand
      .join(broadcast(qv), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dotExpr("qv", "v") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .filter(col("cosine") >= 0.45)
    val slim = base.select(col("vec_id"), col("v"), col("n2"))
    // pruned: candidates = probed cells only (nprobe=2)
    val pruned = cosFound(
      assignCells(base, cb)
        .join(broadcast(probeCells(base, cb, nprobe = 2)), Seq("clabel"))
        .join(slim, Seq("vec_id")))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_found"))
    // truth: the exact radius result (brute force, the control)
    val truth = cosFound(slim.crossJoin(broadcast(qv.select("query_id"))))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    // one row per QUERY, not per non-empty result: an empty radius
    // result is a real answer ("no near copies"), and a query with no
    // true neighbors has trivially perfect recall
    qv.select(col("query_id"))
      .join(broadcast(truth), Seq("query_id"), "left")
      .join(broadcast(pruned), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        expr("CASE WHEN coalesce(n_true, 0L) > 0 THEN " +
          "coalesce(n_found, 0L) * 1000L div n_true ELSE 1000L END")
          .as("recall_permille"))
  }

  private val sim23Sql = "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
    s"""${assignCteSql},
       |${probesCteSql},
       |qs AS (SELECT vec_id AS query_id, v, n2 FROM vecs WHERE vec_id % 100 = 0),
       |truth AS (
       |  SELECT q.query_id, count(*) AS n_true
       |  FROM qs q JOIN vecs b ON b.vec_id <> q.query_id
       |  WHERE ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) >= 0.45
       |  GROUP BY q.query_id),
       |found AS (
       |  SELECT q.query_id, count(*) AS n_found
       |  FROM probes p
       |  JOIN assign a ON a.clabel = p.clabel
       |  JOIN vecs b ON b.vec_id = a.vec_id AND b.vec_id <> p.query_id
       |  JOIN qs q ON q.query_id = p.query_id
       |  WHERE ${dotSql("q.v", "b.v")} / (sqrt(q.n2) * sqrt(b.n2)) >= 0.45
       |  GROUP BY q.query_id)
       |SELECT q.query_id,
       |  coalesce(t.n_true, 0) AS n_true,
       |  coalesce(f.n_found, 0) AS n_found,
       |  CASE WHEN coalesce(t.n_true, 0) > 0
       |    THEN coalesce(f.n_found, 0) * 1000 // t.n_true
       |    ELSE 1000 END AS recall_permille
       |FROM qs q
       |LEFT JOIN truth t ON t.query_id = q.query_id
       |LEFT JOIN found f ON f.query_id = q.query_id""".stripMargin

  // -------------------------------------------------------------- sim24

  /** sim24: DOMINANT DIRECTION of the embedding corpus — the top
    * eigenvector of the (uncentered) second-moment/Gram matrix Σ vvᵀ
    * by POWER ITERATION, the anisotropy diagnostic an embedding
    * pipeline runs before building an index (a corpus whose energy
    * concentrates in one direction quantizes badly — IVF cells
    * stretch, SQ ranges waste bits — and "all embeddings share a
    * dominant component" is the classic symptom of an un-normalized
    * encoder). Whitening/PCA preprocessing starts with exactly this
    * computation.
    *
    * Scale split is the whole design: the CORPUS-sized work is one
    * scan — each row emits its 64×64 scaled products in-row
    * (`transform`×`transform`, floor ×10⁶ — sim4's exact-integer
    * discipline) through a posexplode into a map-side-combined agg to
    * 4 096 (i, j, s) cells; everything after is DIM-grain: 4 unrolled
    * matvec iterations (64-row broadcast joins, BIGINT-exact —
    * renormalized each round by max-abs via integer division, so no
    * cross-engine FP ever enters), eigenvalue from the power-method
    * ∞-norm ratio (λ ≈ max|S·x|/max|x|, exact integers, ~10⁻⁵
    * relative — both engines compute the identical number), and
    * explained energy = λ/trace(S) in integer permille. Overflow
    * headroom is engineered, not hoped: |v|≤0.58 ⇒ products ≤0.34×10⁶,
    * s ≤ N·3.4×10⁵, matvec ≤ 64·s·10⁵ ≈ 4×10¹⁷ at the 100× probe's
    * 200 k vectors — inside int64 with 20× to spare.
    *
    * Output: one row per dimension (loading ×10⁵) + the shared
    * eigenvalue/energy columns — 64 rows at any corpus size. */
  private def sim24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = vecs(s, d)
    // one corpus scan -> 4096-cell exact moment matrix. This is the
    // ONLY corpus-sized job; everything after is DIM-grain (≤ 64×64
    // cells at ANY corpus size), so the matrix is collected once and
    // the 4 matvec iterations run driver-local on long[4096] — the
    // same BIGINT algebra, zero extra Spark jobs. (r15, guide §1.2/§5:
    // the previous spelling ran each matvec + its ∞-norm as separate
    // cluster jobs — 20+ jobs of pure scheduling overhead on a frame
    // the driver can hold in 32 KB. Collect bound is Dim², corpus-
    // independent — the same bounded-post-aggregation discipline as
    // the SQ8 per-dim stats.)
    // moment_i64: one bounded-state pass (state = 4096 longs per
    // partition, no row explosion) — bit-identical to the composed
    // posexplode+groupBy spelling the oracle still runs (r15; see
    // MomentI64's scaladoc for the §2.3/§2.9 case)
    val sm: Array[Long] = base
      .agg(expr("moment_i64(v, 1000000.0D)").as("sm"))
      .head().getSeq[Long](0).toArray
    // moment_i64 returns a ZERO-LENGTH array on an empty/fully-filtered
    // corpus (dimension is learned from the first row); fail with the
    // old composed path's intent instead of an opaque index error below
    require(sm.length == Dim * Dim,
      s"degenerate/empty moment matrix (${sm.length} cells, want ${Dim * Dim})")
    val XScale = 100000L
    var x = Array.fill(Dim)(XScale)
    var m = 0L
    for (_ <- 1 to 4) {
      // y = S·x, BIGINT-exact; renormalize by max-abs via the same
      // truncating integer division the SQL spelling used (Long./
      // and Spark `div` both truncate toward zero)
      val y = Array.tabulate(Dim) { i =>
        var acc = 0L; var j = 0
        while (j < Dim) { acc += sm(i * Dim + j) * x(j); j += 1 }
        acc
      }
      m = y.map(math.abs).max
      require(m > XScale, s"degenerate moment matrix (max|S.x| = $m)")
      val k = m / XScale
      x = y.map(_ / k)
    }
    val trace = (0 until Dim).map(i => sm(i * Dim + i)).sum
    val lam = m / XScale
    val perm = 1000L * lam / trace
    (0 until Dim).map(j => (j.toLong, x(j), lam, perm))
      .toDF("dim", "loading", "eigval_scaled", "explained_permille")
  }

  private val sim24Sql = "WITH " + vecsSql.dropRight(1) + ", " +
    s"""sm AS (
       |  SELECT i.range AS i, j.range AS j,
       |    CAST(sum(CAST(floor(v[i.range + 1] * v[j.range + 1] * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS s
       |  FROM vecs, range($Dim) i, range($Dim) j GROUP BY 1, 2),
       |x0 AS (SELECT range AS j, CAST(100000 AS BIGINT) AS x FROM range($Dim)),
       |y1 AS (SELECT sm.i, CAST(sum(sm.s * x0.x) AS BIGINT) AS y
       |       FROM sm JOIN x0 ON x0.j = sm.j GROUP BY 1),
       |m1 AS (SELECT max(abs(y)) AS m FROM y1),
       |x1 AS (SELECT i AS j, y // (m // 100000) AS x FROM y1, m1),
       |y2 AS (SELECT sm.i, CAST(sum(sm.s * x1.x) AS BIGINT) AS y
       |       FROM sm JOIN x1 ON x1.j = sm.j GROUP BY 1),
       |m2 AS (SELECT max(abs(y)) AS m FROM y2),
       |x2 AS (SELECT i AS j, y // (m // 100000) AS x FROM y2, m2),
       |y3 AS (SELECT sm.i, CAST(sum(sm.s * x2.x) AS BIGINT) AS y
       |       FROM sm JOIN x2 ON x2.j = sm.j GROUP BY 1),
       |m3 AS (SELECT max(abs(y)) AS m FROM y3),
       |x3 AS (SELECT i AS j, y // (m // 100000) AS x FROM y3, m3),
       |y4 AS (SELECT sm.i, CAST(sum(sm.s * x3.x) AS BIGINT) AS y
       |       FROM sm JOIN x3 ON x3.j = sm.j GROUP BY 1),
       |m4 AS (SELECT max(abs(y)) AS m FROM y4),
       |x4 AS (SELECT i AS j, y // (m // 100000) AS x FROM y4, m4),
       |tr AS (SELECT CAST(sum(s) AS BIGINT) AS trace FROM sm WHERE i = j)
       |SELECT x4.j AS dim, x4.x AS loading,
       |  m4.m // 100000 AS eigval_scaled,
       |  (1000 * (m4.m // 100000)) // tr.trace AS explained_permille
       |FROM x4, m4, tr""".stripMargin

  // --------------------------------------------------------------- sim25

  /** sim25: MULTI-VECTOR LATE-INTERACTION retrieval (the ColBERT
    * MaxSim law) — every gate so far scores doc-vs-query as ONE
    * cosine; production retrieval over token-level embeddings scores
    * `Σ_i max_j cos(q_i, d_j)`: each query token finds its best
    * match among the doc's tokens, matches sum. Here each 64-dim
    * vector is viewed as 4 contiguous 16-dim token sub-vectors (the
    * slicing is the multi-vector storage layout, not a model claim).
    *
    * Serving shape — exactly how multi-vector indexes deploy at
    * scale: the PRUNING index stays single-vector (sim2's 4×4-bit
    * LSH band join on the pooled 64-dim signature — candidates are
    * an equi-join, never all-pairs), and MaxSim is the RE-RANK on
    * candidates only. Per candidate the score is a fixed 4×4 grid of
    * slice dots — a narrow map over the joined row, no explode, no
    * cross-row FP: each cos is a left-fold `dot_f64` on identical
    * inputs in both engines, `greatest` is order-free max, and the
    * 4-term sum is the same left-assoc chain in both. Slices and
    * slice norms are precomputed ONCE per side before the join, so
    * the per-pair cost is 16 16-wide dots (= sim1's single 64-wide
    * dot × 4). Top-10 per query with unique neighbor tie-break.
    *
    * At 100 TB: token vectors bucket by the same band key as the
    * pooled index; the re-rank joins only candidate postings. */
  /** Token view for the MaxSim gates: 4 × 16-dim contiguous slices of
    * each vector + their self-dots, one narrow map per side. */
  private def tokenView(base: DataFrame): DataFrame =
    base.select(col("vec_id") +:
        (0 until 4).map(i => slice(col("v"), 1 + 16 * i, 16).as(s"t$i")): _*)
      .select(col("vec_id") +:
        ((0 until 4).map(i => col(s"t$i")) ++
          (0 until 4).map(i => expr(s"dot_f64(t$i, t$i)").as(s"m$i"))): _*)

  /** MaxSim over qt/qm vs dt/dm column names: Σ_i max_j cos(q_i, d_j)
    * as a fixed left-assoc 4-term chain of order-free `greatest`s.
    * A zero-norm slice (all-zero 16-dim sub-vector) scores 0.0 by
    * DEFINITION on both engines — without the guard the divide's
    * NULL/NaN/Inf semantics differ between Spark and DuckDB, so the
    * equivalence would rest on the corpus never producing a zero
    * slice rather than holding by construction (the full-vector
    * gates already guard their norms the same way). */
  private val maxsimCol: Column = (0 until 4).map { i =>
    greatest((0 until 4).map { j =>
      when(col(s"qm$i") > 0 && col(s"dm$j") > 0,
        expr(s"dot_f64(qt$i, dt$j)") /
          (sqrt(col(s"qm$i")) * sqrt(col(s"dm$j"))))
        .otherwise(lit(0.0))
    }: _*)
  }.reduceLeft(_ + _)

  /** MaxSim re-rank of slim (query_id, vec_id) candidate pairs:
    * token views join back (query side broadcast), per-pair scoring
    * is the fixed 4×4 grid, top-10 per query. Shared tail of
    * sim25/sim26 — the candidate GENERATOR is the gates' difference. */
  private def maxsimRerank(base: DataFrame, cand: DataFrame): DataFrame = {
    val mv = tokenView(base)
    val qmv = mv.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id") +:
        ((0 until 4).map(i => col(s"t$i").as(s"qt$i")) ++
          (0 until 4).map(i => col(s"m$i").as(s"qm$i"))): _*)
    val dmv = mv.select(col("vec_id") +:
      ((0 until 4).map(i => col(s"t$i").as(s"dt$i")) ++
        (0 until 4).map(i => col(s"m$i").as(s"dm$i"))): _*)
    cand.join(broadcast(qmv), "query_id")
      .join(dmv, "vec_id")
      .withColumn("maxsim", maxsimCol)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("maxsim").desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("maxsim"))
  }

  private def sim25(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    // sim2's candidate stage: slim (query, candidate) pairs via the
    // pooled-signature band join
    val bnd = withBands(withSig(base, 16), 4, 4)
      .select("vec_id", "band", "key")
    val qb = bnd.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("band"), col("key"))
    val cand = bnd.join(broadcast(qb), Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    maxsimRerank(base, cand)
  }

  private def dot16Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 17), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  /** Shared oracle CTEs for the token view (mvs/mv) and the ranked
    * MaxSim tail over a `cand(query_id, neighbor_id)` CTE. */
  private val mvCteSql =
    s"""mvs AS (
       |  SELECT vec_id, v[1:16] AS t0, v[17:32] AS t1,
       |    v[33:48] AS t2, v[49:64] AS t3 FROM vecs),
       |mv AS (
       |  SELECT vec_id, t0, t1, t2, t3,
       |    ${dot16Sql("t0", "t0")} AS m0, ${dot16Sql("t1", "t1")} AS m1,
       |    ${dot16Sql("t2", "t2")} AS m2, ${dot16Sql("t3", "t3")} AS m3
       |  FROM mvs)""".stripMargin

  private val maxsimTailSql = {
    val maxsim = (0 until 4).map { i =>
      "greatest(" + (0 until 4).map { j =>
        s"CASE WHEN q.m$i > 0 AND d.m$j > 0 THEN " +
          s"${dot16Sql(s"q.t$i", s"d.t$j")} / (sqrt(q.m$i) * sqrt(d.m$j)) " +
          "ELSE CAST(0 AS DOUBLE) END"
      }.mkString(", ") + ")"
    }.mkString(" + ")
    s"""scored AS (
       |  SELECT c.query_id, c.neighbor_id, $maxsim AS maxsim
       |  FROM cand c JOIN mv q ON q.vec_id = c.query_id
       |    JOIN mv d ON d.vec_id = c.neighbor_id)
       |SELECT query_id, rank, neighbor_id, maxsim FROM (
       |  SELECT query_id, neighbor_id, maxsim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY maxsim DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= 10""".stripMargin
  }

  private val sim25Sql =
    "WITH " + vecsSql.dropRight(1) + ", " + sigSqlN(16).dropRight(1) +
      ", " + bandsSqlN(4, 4) +
      s""",
         |$mvCteSql,
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands q JOIN bands b ON q.band = b.band AND q.key = b.key
         |    AND b.vec_id <> q.vec_id
         |  WHERE q.vec_id % 100 = 0),
         |$maxsimTailSql""".stripMargin

  // --------------------------------------------------------------- sim26

  /** sim26: MaxSim re-rank fed by the IVF candidate path — the
    * production pairing sim25's COVERAGE row names: at corpus scale
    * the pruning index is the cell-partitioned IVF layout (sim6's
    * nprobe=2 probe — candidates ≈ nprobe/nlist of the corpus, flat
    * in corpus DENSITY where band collisions grow with it), and the
    * multi-vector scorer runs only on the probed cells' postings.
    * Same scorer, same tail, same tie-break as sim25 — the candidate
    * GENERATOR is the only difference, which is exactly the
    * single-vector-index / multi-vector-scorer split ColBERT-style
    * serving deploys. Cell assignment and probing are sim6's
    * zero-exchange folded-codebook narrow maps. */
  private def sim26(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    val cand = assignCells(base, cb)
      .join(broadcast(probeCells(base, cb, nprobe = 2)), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    maxsimRerank(base, cand)
  }

  private val sim26Sql =
    "WITH " + vecsSql.dropRight(1) + ", " + centSql.dropRight(1) + ", " +
      s"""${assignCteSql},
         |${probesCteSql},
         |$mvCteSql,
         |cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assign a ON a.clabel = p.clabel
         |  WHERE a.vec_id <> p.query_id),
         |$maxsimTailSql""".stripMargin

  // --------------------------------------------------------------- sim27

  /** sim27: IVF-SQ8 — the remaining cell of the quantization matrix
    * (PQ flat = sim10/11, IVF-PQ = sim12/13, SQ8 flat = sim19): the
    * FAISS `IVF<n>,SQ8` config production deploys when PQ's 64×
    * compression is more than recall can afford — cell pruning bounds
    * the candidates, 8× scalar compression bounds the memory, and the
    * asymmetric distance (exact query vs reconstructed candidate)
    * keeps ranking sharp. Composition is exactly the serving split:
    * sim6's nprobe=2 probe path generates slim (query, candidate)
    * pairs (zero-exchange folded-codebook assignment, broadcast probe
    * dims), sim19's folded-stats SQ8 reconstruction scores them —
    * vectors are never read at query time, only codes (here their
    * deterministic reconstructions, the sim19 seam).
    *
    * Scale shape: candidates ≈ nprobe/nlist of the corpus and stay
    * FLAT in corpus density (the √N nlist rule); per candidate the
    * cost is one 64-wide dot against the broadcast query + a cheap
    * rn2 lookup; the code table joins shuffle-hash (corpus-sized —
    * broadcast would OOM, sort-merge pays two sorts for nothing);
    * top-10 prunes map-side (WindowGroupLimit). */
  private def sim27(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val cb = typedLit(codebookArr(s, d))
    val cand = assignCells(base, cb)
      .join(broadcast(probeCells(base, cb, nprobe = 2)), Seq("clabel"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val qv = base.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    cand.join(sq8Recon(base).hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("sq8_dist",
        col("qn2") - lit(2.0) * dotExpr("qv", "rv") + col("rn2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sq8_dist").asc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("sq8_dist"))
  }

  private val sim27Sql = "WITH " + vecsSql.dropRight(1) + ", " +
    centSql.dropRight(1) + ", " +
    s"""${assignCteSql},
       |${probesCteSql},
       |$sq8CteSql,
       |qs AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2
       |       FROM vecs WHERE vec_id % 100 = 0)
       |SELECT query_id, rank, neighbor_id, sq8_dist FROM (
       |  SELECT p.query_id, rv.vec_id AS neighbor_id,
       |    q.qn2 - 2.0::DOUBLE * ${dotSql("q.qv", "rv.r")} + rv.rn2
       |      AS sq8_dist,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY q.qn2 - 2.0::DOUBLE * ${dotSql("q.qv", "rv.r")} + rv.rn2
       |        ASC, rv.vec_id ASC) AS rank
       |  FROM probes p
       |  JOIN assign a ON a.clabel = p.clabel AND a.vec_id <> p.query_id
       |  JOIN rv ON rv.vec_id = a.vec_id
       |  JOIN qs q ON q.query_id = p.query_id) t
       |WHERE rank <= 10""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("sim1_knn_bruteforce", sim1, Some(sim1Sql),
      "brute-force cosine top-10, broadcast query set"),
    GateQuery("sim2_ann_lsh", sim2, Some(sim2Sql),
      "random-hyperplane LSH candidates + exact re-rank (ANN scale path)"),
    GateQuery("sim3_embedding_neardup", sim3, Some(sim3Sql),
      "LSH-blocked embedding near-dup pairs, cosine >= 0.45"),
    GateQuery("sim3b_wideband_lsh", sim3b, Some(sim3bSql),
      "wide-band (8-bit) LSH candidates + exact cosine — the scale knob executed"),
    GateQuery("sim4_ivf_centroids", sim4, Some(sim4Sql),
      "IVF centroids via exact scaled-integer component sums"),
    GateQuery("sim5_ivf_assign", sim5, Some(sim5Sql),
      "IVF nearest-centroid assignment, exact scaled distances"),
    GateQuery("sim6_ivf_search", sim6, Some(sim6Sql),
      "IVF probe search: nprobe=2 cells, exact cosine re-rank (the query path)"),
    GateQuery("sim7_ivf_blocked_neardup", sim7, Some(sim7Sql),
      "IVF-cell-blocked near-dup pairs, cosine >= 0.45 (third blocking strategy)"),
    GateQuery("sim8_ann_recall", sim8, Some(sim8Sql),
      "measured recall of LSH-ANN, IVF, multi-band, IVF-PQ, and refine vs exact"),
    GateQuery("sim9_ann_multiband", sim9, Some(sim9Sql),
      "OR-amplified 8x4-bit LSH ANN — the recall knob executed"),
    GateQuery("sim10_pq_encode", sim10, Some(sim10Sql),
      "product-quantization codes: 8 subspaces, nearest codebook entry each"),
    GateQuery("sim11_adc_search", sim11, Some(sim11Sql),
      "ADC top-10 over PQ codes: 8 table lookups per candidate, vectors untouched"),
    GateQuery("sim12_ivfpq_search", sim12, Some(sim12Sql),
      "combined IVF-PQ serving path: nprobe cell pruning, then ADC over codes"),
    GateQuery("sim13_adc_refine", sim13, Some(sim13Sql),
      "IVFADC + refine: ADC top-50 nominates, exact vectors re-rank the top-10"),
    GateQuery("sim14_lloyd_refine", sim14, Some(sim14Sql),
      "one Lloyd step of the IVF codebook: exact scaled re-estimation + drift"),
    GateQuery("sim15_filtered_search", sim15, Some(sim15Sql),
      "filtered ANN: metadata pre-filter on the index side, probe width doubled"),
    GateQuery("sim16_filtered_ivfpq", sim16, Some(sim16Sql),
      "filtered IVFADC + refine: predicate-pruned postings, widened probes, ADC top-50, exact top-10"),
    GateQuery("sim17_filtered_recall", sim17, Some(sim17Sql),
      "measured recall of the filtered paths vs the filtered exact baseline"),
    GateQuery("sim18_nprobe_curve", sim18, Some(sim18Sql),
      "measured nprobe recall/cost curve: recall@10 + candidate volume at nprobe 1/2/4"),
    GateQuery("sim19_sq8_search", sim19, Some(sim19Sql),
      "SQ8 scalar-quantized top-10: 64-byte codes, asymmetric exact-query distance"),
    GateQuery("sim21_mmr_rerank", sim21, Some(sim21Sql),
      "MMR diversified re-rank: 5 greedy rounds over the top-25 pool, relevance vs redundancy at lambda 0.7"),
    GateQuery("sim20_sampled_codebook", sim20, Some(sim20Sql),
      "sampled-training codebook priced: assignment drift + serving recall vs the full build"),
    GateQuery("sim22_index_maintenance", sim22, Some(sim22Sql),
      "vector-index lifecycle: append-only delta upsert, tombstone delete, served from the maintained files"),
    GateQuery("sim23_radius_search", sim23, Some(sim23Sql),
      "radius (range) search: all neighbors at cosine >= 0.45, IVF-pruned, with measured per-query recall"),
    GateQuery("sim24_dominant_direction", sim24, Some(sim24Sql),
      "corpus anisotropy: top Gram-matrix eigenvector by integer-exact power iteration, one scan + dim-grain matvecs"),
    GateQuery("sim25_maxsim_rerank", sim25, Some(sim25Sql),
      "multi-vector late interaction: LSH-pruned candidates re-ranked by MaxSim over 4x16-dim token slices"),
    GateQuery("sim26_ivf_maxsim", sim26, Some(sim26Sql),
      "MaxSim fed by the IVF probe path: cell-pruned candidates, same scorer — the production multi-vector serving split"),
    GateQuery("sim27_ivf_sq8", sim27, Some(sim27Sql),
      "IVF-SQ8 serving: nprobe=2 cell pruning + asymmetric distance on folded-stats SQ8 reconstructions — FAISS IVF,SQ8"))
}
