package graft.operators

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (SURVEY §7.5 north-star;
  * the reference's md5 cache-key, youtube_api_handler.py:113, grown
  * into a full training-data dedup suite): exact, blocked n-gram
  * Jaccard, MinHash-LSH, and weighted SimHash.
  *
  * Portable hash primitive shared with the DuckDB oracles: the 60-bit
  * integer from the md5 hex prefix (see TextAnalysis tx5) —
  * Spark `conv(substring(md5(s),1,15),16,10)` ≡ DuckDB
  * `('0x'||substr(md5(s),1,15))::BIGINT`. MinHash permutations are
  * `(a*h + b) mod p` over h mod p, p = 2^31−1, so products stay well
  * inside int64.
  *
  * Scale design (100 TB): exact dedup is a hash-shuffle on the
  * fingerprint. All-pairs Jaccard is intentionally NOT offered
  * unblocked — dd2 blocks by `source` (bounded blocks), and dd3 is the
  * scale path: LSH bands turn near-dup search into an equi-join on
  * band keys, and only the tiny candidate set pays the exact-verify
  * cost (array_intersect on two ~100-element arrays). Band buckets are
  * high-cardinality → even shuffle; a hot bucket would be AQE-skew
  * handled. SimHash reduces each doc to ONE 64-bit value — the
  * cheapest near-dup index at scale — with 16-bit bands guaranteeing
  * recall for hamming ≤ 3.
  */
object Dedup {

  /** MinHash modulus + permutation constants — single source of truth
    * in [[graft.functions.SketchUtil]], shared by the native
    * `minhash_sig` expression and the oracle SQL generated below. */
  private val P = graft.functions.SketchUtil.P
  private val AB = graft.functions.SketchUtil.AB

  // ---------------------------------------------------------------- dd1

  /** dd1: exact dedup by content fingerprint: group by md5 of
    * whitespace-normalized text; keeper = min doc_id (deterministic),
    * plus copy count. One hash-shuffle on the fingerprint. */
  private def dd1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.contentFp(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  private val dd1Sql =
    """SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM (SELECT doc_id,
      |        """.stripMargin + TextAnalysis.contentFpSql + """ AS fp
      |      FROM documents) t
      |GROUP BY fp""".stripMargin

  // ------------------------------------------------------- shingle base

  /** Distinct word-bigram shingle set per doc (the n-gram unit for
    * dd2/dd3). Bigrams via `zip_with` of two slices — measured 8×
    * faster than `transform(sequence(...), i -> element_at(a,i) ...)`
    * at sf0.1 (the sequence/element_at lambda falls off the fast path;
    * zip_with walks both arrays linearly). Same output order, so
    * array_distinct keeps identical first-occurrence semantics. */
  private[graft] def shingleCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("a", Tables.tokens(col("text")))
      .withColumn("shingles", expr(
        "array_distinct(zip_with(slice(a, 1, size(a)-1), " +
          "slice(a, 2, size(a)-1), (x, y) -> concat(x, ' ', y)))"))
      .select(col("doc_id"), col("source"), col("shingles"),
        size(col("shingles")).as("sz"))

  private[operators] def shingled(s: SparkSession, d: String): DataFrame =
    shingleCols(Tables.documents(s, d))

  private[operators] val shingledSql =
    """sh AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, length(a)),
      |      i -> a[i] || ' ' || a[i+1])) AS shingles
      |  FROM (SELECT doc_id, source,
      |          regexp_split_to_array(trim(text), '\s+') AS a
      |        FROM documents) t)
      |""".stripMargin

  // ---------------------------------------------------------------- dd2

  /** dd2: blocked exact n-gram Jaccard: within each `source` block,
    * pairs with shingle-set Jaccard ≥ 0.5. The shingle equi-join only
    * ever pairs docs inside one block, so cost is Σ block², not N² —
    * the blocking-key pattern every entity-resolution pipeline uses.
    * Jaccard = |∩| / (|A|+|B|−|∩|), one IEEE division. */
  private def dd2(s: SparkSession, d: String): DataFrame = {
    // Exploded equi-join on (source, shingle-hash): common-shingle
    // counts come from a hash-agg over the pair stream. Joining on the
    // 60-bit hash (not the string) keeps the shuffle payload to 8-byte
    // keys; collisions are engine-identical (same md5 both sides).
    // Measured against the block-cross-join + array_intersect variant
    // at sf0.1 this uses far less task memory (no buffered duplicate-
    // key groups), which keeps GC pressure off the rest of the suite.
    // `sz` rides along in the exploded stream (8 bytes/row) so the
    // pair aggregation yields jaccard directly — no join back to the
    // shingle base, which would re-evaluate the shingling expression
    // twice more.
    //
    // Hash choice: xxhash64, NOT the portable md5-prefix. Here only
    // hash EQUALITY is semantic (c = |common shingles|); both engines
    // hash the same strings with their own function and get the same
    // equalities, so the oracle's md5-based join is value-identical.
    // (dd3 is different: there the hash VALUES form the MinHash
    // signature, so both engines must use the same md5 formula.)
    // xxhash64 is a codegen'd native hash — measured ~2.5 s faster
    // than md5+conv over the 2×256k-row exploded streams at sf0.1.
    //
    // Join strategy: shuffle-hash on (source, sh_h). The exploded
    // sides are mirror-image large relations — at 100 TB neither is
    // broadcastable, and even at bench SF the broadcast variant makes
    // every task deserialize a 256k-row multi-map (measured 2.6×
    // slower than shuffling the 24-byte rows).
    val sh = shingled(s, d)
    val ex = sh.select(col("source"), col("doc_id"), col("sz"),
      explode(col("shingles")).as("shingle"))
      .select(col("source"), col("doc_id"), col("sz"),
        xxhash64(col("shingle")).as("sh_h"))
    ex.as("a").hint("shuffle_hash").join(ex.as("b").hint("shuffle_hash"),
        col("a.source") === col("b.source") &&
          col("a.sh_h") === col("b.sh_h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("c"),
        max(col("a.sz")).as("sz1"), max(col("b.sz")).as("sz2"))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("sz1") + col("sz2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private val dd2Sql = "WITH " + shingledSql +
    """, ex AS (
      |  SELECT source, doc_id,
      |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
      |  FROM (SELECT source, doc_id, unnest(shingles) AS shingle FROM sh) u),
      |common AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
      |  FROM ex a JOIN ex b ON a.source = b.source
      |    AND a.sh_h = b.sh_h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2, jaccard FROM (
      |  SELECT id1, id2,
      |    CAST(c AS DOUBLE) / (len(s1.shingles) + len(s2.shingles) - c) AS jaccard
      |  FROM common JOIN sh s1 ON id1 = s1.doc_id JOIN sh s2 ON id2 = s2.doc_id) v
      |WHERE jaccard >= 0.5""".stripMargin

  // ---------------------------------------------------------------- dd3

  /** Candidate pairs from a (doc_id, ms) MinHash-signature frame via
    * the BUCKET-GROUP pattern, not a band self-join: group the slim
    * (band, key, doc_id) stream by band key and emit each bucket's
    * pair combinations. A self-join would plan the sketch subtree
    * TWICE (AQE exchange reuse across aliased subtrees is unreliable,
    * measured round 3 — two full corpus parses) and shuffle the band
    * stream once per side; this shape evaluates the sketch ONCE and
    * shuffles the 3-longs/row stream once. Right ONLY because MinHash
    * band keys are HIGH-entropy (4 concatenated hash mins — a bucket
    * is exactly one near-dup group, so collect_list stays tiny even
    * under dense duplication). Low-entropy band keys must keep the
    * self-join: the 4-bit sim2/sim3 geometry (buckets are N/16) and
    * dd4's 16-bit sketch bands (a 20× replica probe hit a
    * 3 400-entry bucket, where per-bucket interpreted pair lambdas go
    * quadratic — see dd4). Shared by dd3 (detection) and dd8
    * (estimator calibration). */
  private def minhashCandidates(sig: DataFrame): DataFrame = {
    val keys = (0 until 4).map(bd =>
      concat_ws("_", (0 until 4).map(r => element_at(col("ms"), bd * 4 + r + 1)): _*))
    sig.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids)-1), i -> " +
          "transform(slice(ids, i+1, size(ids)-i), y -> " +
          "named_struct('id1', ids[i-1], 'id2', y))))")).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .dropDuplicates("id1", "id2")
  }

  /** dd3: MinHash-LSH near-dup detection — the 100 TB path. 16-perm
    * signature over shingle hashes; 4 bands × 4 rows; docs sharing any
    * band key become candidates (equi-join on the band key, no all-
    * pairs anywhere); candidates verified with exact Jaccard ≥ 0.8 via
    * array_intersect. At j=0.99 P(candidate) ≈ 1; at j=0.15 ≈ 0.002. */
  private def dd3(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    // Signature via the native one-pass `minhash_sig` expression
    // (graft.functions.SketchExpressions): the whole 16-perm signature
    // folds INSIDE the projection, so sketching is a narrow map — the
    // previous explode + 16 min() aggregates formulation shuffled
    // every shingle in the corpus (tens of times the signature size)
    // just to regroup them by doc_id. Values are bit-identical (same
    // md5-prefix hash, same (a·h+b) mod P perms), so the oracle is
    // unchanged. Empty shingle sets (sz = 0) have no signature,
    // exactly as they produced no exploded rows before.
    val sig = sh.filter(col("sz") > 0)
      .select(col("doc_id"), expr("minhash_sig(shingles)").as("ms"))
    val cand = minhashCandidates(sig)
    // Verify join-back: ONE join against the shingle base instead of
    // two. Pairs melt to (pair, side, doc_id) rows, pick up their
    // shingle set in a single equi-join, and fold back to one row per
    // pair. The previous formulation joined the full-corpus `sh` once
    // per pair side — each join-back re-evaluating the whole
    // split+zip_with parse, a spare full-corpus regexp pass at
    // 100 TB (and exchange reuse across differently-aliased subtrees
    // proved unreliable under AQE, measured in round 3).
    // Shingle sets travel as md5h60_array longs, not strings: ~60%
    // less verify-shuffle volume and primitive intersects (both
    // engines hash identically, so the oracle intersects the same
    // longs). first(ignoreNulls) is deterministic here: exactly one
    // row per (pair, side). The fold-back shuffle carries hash arrays
    // only for candidate rows — bounded by the LSH output, not the
    // corpus.
    cand
      .select(col("id1"), col("id2"),
        posexplode(array(col("id1"), col("id2"))).as(Seq("side", "doc_id")))
      .join(sh.select(col("doc_id"),
        expr("md5h60_array(shingles)").as("hs"), col("sz")), "doc_id")
      .groupBy(col("id1"), col("id2"))
      .agg(
        first(when(col("side") === 0, col("hs")), ignoreNulls = true).as("h1"),
        first(when(col("side") === 1, col("hs")), ignoreNulls = true).as("h2"),
        min(when(col("side") === 0, col("sz"))).as("sz1"),
        min(when(col("side") === 1, col("sz"))).as("sz2"))
      .withColumn("c", size(array_intersect(col("h1"), col("h2"))))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("sz1") + col("sz2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  private val dd3Sql = {
    // hs carries the RAW 60-bit hashes (shared by the verify
    // intersect); the perms reduce mod P inline, identical to
    // minhash_sig's h % P then (a·h+b) % P.
    val mins = AB.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(hs, h -> ($a*(h % $P) + $b) % $P)) AS m$j"
    }.mkString(",\n    ")
    val bandKeys = (0 until 4).map { bd =>
      val k = (0 until 4).map(r => s"m${bd * 4 + r}").mkString("||'_'||")
      s"WHEN $bd THEN $k"
    }.mkString(" ")
    "WITH " + shingledSql +
      s""", hsx AS (
         |  SELECT doc_id, shingles, list_transform(shingles,
         |    s -> ('0x' || substr(md5(s),1,15))::BIGINT) AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, shingles,
         |    $mins
         |  FROM hsx),
         |bands AS (
         |  SELECT doc_id, shingles, b.band,
         |    CASE b.band $bandKeys END AS key
         |  FROM sig, (SELECT unnest(range(4)) AS band) b),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id < b.doc_id)
         |SELECT id1, id2, jaccard FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
         |      (len(s1.hs) + len(s2.hs)
         |        - len(list_intersect(s1.hs, s2.hs))) AS jaccard
         |  FROM cand JOIN hsx s1 ON id1 = s1.doc_id JOIN hsx s2 ON id2 = s2.doc_id) v
         |WHERE jaccard >= 0.8""".stripMargin
  }

  // ---------------------------------------------------------------- dd4

  /** dd4: weighted SimHash near-dup pairs. Per doc: 64-bit simhash
    * from token-frequency-weighted bit votes; 4 × 16-bit bands
    * (pigeonhole: hamming ≤ 3 ⟹ at least one band identical); pairs
    * sharing a band with hamming ≤ 3 emitted. Each doc collapses to
    * one long — the cheapest near-dup sketch at scale. */
  private def dd4(s: SparkSession, d: String): DataFrame = {
    // Sketch via the native one-pass `simhash64` expression: token
    // frequencies, per-bit votes and the final 64-bit sketch all fold
    // inside the projection. The previous formulation paid TWO
    // corpus-wide shuffles ((doc, token) frequency groupBy, then a
    // 64-conditional-sum regroup by doc) for a value that is a pure
    // function of one row; at 100 TB those shuffles dwarf the band
    // join that follows. Bit-identical votes/sketches (same md5-prefix
    // hash, same strict `> 0` bit rule) — the oracle is unchanged.
    val sim = Tables.documents(s, d)
      .withColumn("toks", Tables.tokens(col("text")))
      .select(col("doc_id"), expr("simhash64(toks)").as("simhash"))
    val bands = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(bd =>
        expr(s"shiftright(simhash, ${bd * 16}) & 65535")): _*)).as(Seq("band", "key")))
    // Pair generation stays a band SELF-JOIN here — deliberately NOT
    // dd3's bucket-group pattern. A 16-bit band of a 64-bit sketch is
    // LOW-entropy under duplication (every member of an exact-dup
    // group shares all four band values): a 20× replica probe
    // measured a 3 400-entry bucket, and per-bucket combination
    // generation runs interpreted lambdas with O(n²) slice copies —
    // 167 s where the codegen'd hash-join pair stream takes seconds.
    // The join recomputes the (now cheap, shuffle-free) sketch map
    // once per side; that trade is right when buckets can be dense.
    // hamming is a pure function of the pair, so the ≤3 filter runs
    // BEFORE the dedup shuffle: a band-key bucket of n same-sketch
    // docs emits C(n,2) pairs per band, and filtering first cuts the
    // dropDuplicates exchange by the duplication factor (measured 91M
    // → 4.4M rows on a 20× replica corpus, 63 s → a few seconds).
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("id1", "id2")
  }

  /** th → bitsums → sim chain to append after a `tok(doc_id, w, cnt)`
    * CTE: the per-item weighted 64-bit SimHash in portable SQL (ends
    * at `sim(doc_id, simhash)`, no trailing comma) — shared by the
    * dd4/dd13 oracles (token grain) and mm7 (frame grain). */
  private[operators] val simhashChainSql: String = {
    val bits = (0 until 64).map(i =>
      s"CAST(sum(CASE WHEN (h >> $i) & 1 = 1 THEN cnt ELSE -cnt END) AS BIGINT) AS b$i")
      .mkString(",\n    ")
    val tosim = (0 until 64).map { i =>
      val v = if (i < 63) (1L << i).toString else "-9223372036854775808"
      s"(CASE WHEN b$i > 0 THEN $v ELSE 0 END)"
    }.mkString(" + ")
    s"""th AS (SELECT doc_id, cnt, ('0x' || substr(md5(w),1,15))::BIGINT AS h FROM tok),
       |bitsums AS (SELECT doc_id, $bits FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id, $tosim AS simhash FROM bitsums)""".stripMargin
  }

  /** Band explode + band-equality candidates over `sim`, closing the
    * SimHash SQL chain — dd4's blocking, shared with mm7. */
  private[operators] val simhashBandsSql: String =
    s"""bands AS (
       |  SELECT doc_id, simhash, b.band, (simhash >> (b.band*16)) & 65535 AS key
       |  FROM sim, (SELECT unnest(range(4)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |    a.simhash AS s1, b.simhash AS s2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** tok → … → sim at the TOKEN grain (dd4/dd13's sketch input). */
  private[operators] val simhashCteSql =
    s"""tok AS (
       |  SELECT doc_id, w, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents) t GROUP BY doc_id, w),
       |$simhashChainSql""".stripMargin

  private val dd4Sql = {
    s"""WITH $simhashCteSql,
       |$simhashBandsSql
       |SELECT id1, id2, bit_count(xor(s1, s2)) AS hamming
       |FROM cand WHERE bit_count(xor(s1, s2)) <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- dd5

  /** dd5: ensemble near-dup verdict — text and embedding signals
    * composed into one decision table. Production dedup rarely trusts
    * a single signal: a SimHash hit with no embedding support is
    * usually boilerplate overlap; an embedding hit with no text
    * support is a paraphrase. This gate full-outer-joins dd4's
    * SimHash pairs (hamming ≤ 3) with sim3's embedding-cosine pairs
    * (cosine ≥ 0.45, vec_id ≡ doc_id in the synthetic corpus) and
    * labels each pair `both` / `text_only` / `embed_only`. Missing
    * sides are sentinel-filled (hamming −1, cosine −2) so the output
    * is null-free and hashes identically in both engines.
    *
    * Scale shape: the outer merge is a TAGGED UNION + one hash
    * aggregation on (id1, id2), not a join — a full-outer join of
    * sparse single-row-per-key signal tables is exactly a grouped
    * merge, and the union shape costs one exchange with map-side
    * combine where Spark's full-outer join would sort-merge both
    * sides (full outer cannot broadcast). Each input is already tiny
    * (bounded by its blocking strategy, not the corpus). */
  private def dd5(s: SparkSession, d: String): DataFrame =
    dd4(s, d)
      .select(col("id1"), col("id2"),
        col("hamming").cast("long").as("h"), lit(null).cast("double").as("c"))
      .unionByName(Similarity.sim3(s, d)
        .select(col("id1"), col("id2"),
          lit(null).cast("long").as("h"), col("cosine").as("c")))
      .groupBy(col("id1"), col("id2"))
      .agg(max(col("h")).as("h"), max(col("c")).as("c"))
      .select(col("id1"), col("id2"),
        coalesce(col("h"), lit(-1L)).as("hamming"),
        coalesce(col("c"), lit(-2.0)).as("cosine"),
        when(col("h").isNotNull && col("c").isNotNull, lit("both"))
          .when(col("h").isNotNull, lit("text_only"))
          .otherwise(lit("embed_only")).as("verdict"))

  private val dd5Sql =
    s"""WITH t AS (${dd4Sql}),
       |e AS (${Similarity.sim3Sql})
       |SELECT
       |  coalesce(t.id1, e.id1) AS id1,
       |  coalesce(t.id2, e.id2) AS id2,
       |  coalesce(t.hamming, -1) AS hamming,
       |  coalesce(e.cosine, -2.0) AS cosine,
       |  CASE WHEN t.id1 IS NOT NULL AND e.id1 IS NOT NULL THEN 'both'
       |       WHEN t.id1 IS NOT NULL THEN 'text_only'
       |       ELSE 'embed_only' END AS verdict
       |FROM t FULL OUTER JOIN e ON t.id1 = e.id1 AND t.id2 = e.id2""".stripMargin

  // ---------------------------------------------------------------- dd6

  /** dd6: duplicate-CLUSTER resolution — the step after pair
    * detection that every production dedup actually ships: near-dup
    * pairs are only edges, and keep/drop decisions need the connected
    * COMPONENT (if 1≈2 and 2≈3, then {1,2,3} is one group even though
    * (1,3) never surfaced as a pair). Components via iterative
    * min-label propagation over dd4's pair graph: every vertex starts
    * as its own label, each round takes the min of its own and its
    * neighbors' labels, converged when no label moves — the
    * Pregel/GraphX `connectedComponents` shape. Rounds =
    * O(graph diameter); duplicate clusters from blocking are
    * near-cliques, so 2-3 rounds in practice, with a hard cap as a
    * divergence guard.
    *
    * Scale notes: each round is one shuffle of the (vertex, label)
    * table against the edge list; the convergence check is FREE — the
    * moved-vertex count rides the round's checkpoint action as an
    * `Observation` (the one driver-coordination point per round is
    * the iterative fixpoint itself, never data movement), and
    * `localCheckpoint` truncates the growing lineage each round so
    * round N never replans rounds 1..N−1. At 100 TB one would switch
    * to the large-star/small-star variant (fewer rounds on
    * high-diameter graphs); the gate pins the semantics either way.
    * Output: every vertex of the pair graph with its cluster id
    * (= min doc_id reachable), canonical flag, and cluster size.
    *
    * Memoized per data dir (the codebook pattern,
    * Similarity.codebookCache): the propagation is an iterative
    * multi-round job, and both the dd6 gate and dd10's keeper
    * selection need the SAME converged table — "resolve clusters
    * once, consume many" is exactly what a real pipeline does by
    * materializing the cluster table. The cached DataFrame is backed
    * by localCheckpoint blocks, so a cache hit replays no rounds; the
    * session-identity guard rebuilds if a different SparkSession asks
    * (checkpointed blocks die with their session). */
  private val clusterCache =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  private def dd6(s: SparkSession, d: String): DataFrame = {
    val hit = clusterCache.get(d)
    if (hit != null && (hit._1 eq s)) hit._2
    else {
      val built = buildClusters(s, d).localCheckpoint()
      clusterCache.put(d, (s, built))
      built
    }
  }

  private def buildClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = dd4(s, d).select(col("id1"), col("id2"))
    val edges = pairs
      .unionByName(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .localCheckpoint() // materialize once; rounds must not re-run dd4
    // Initial label = min(self, direct neighbors) — the first
    // propagation round folded into vertex construction (one groupBy
    // over the edge list instead of a distinct + a full
    // join/checkpoint/probe round; near-clique duplicate graphs then
    // usually converge at the loop's first convergence probe).
    var labels = edges.groupBy(col("id1").as("id"))
      .agg(min(col("id2")).as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("lbl"))
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < 20) {
      val nbrMin = edges.join(labels, edges("id2") === labels("id"))
        .groupBy(edges("id1").as("id"))
        .agg(min(col("lbl")).as("nbr_min"))
      // ONE job per round: the moved-vertex count rides the
      // checkpoint's own action as an Observation (dd12's fold), so
      // the convergence probe costs nothing — the earlier shape ran a
      // separate filter/isEmpty job over the cached blocks each round.
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"),
          (col("nbr_min") < col("lbl")).as("moved"))
        .observe(obs, count(when(col("moved"), 1)).as("moved_n"))
        .localCheckpoint()
      converged = obs.get("moved_n").asInstanceOf[Long] == 0L
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    require(converged, s"dd6 label propagation did not converge in $rounds rounds")
    labels
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
  }

  private val dd6Sql =
    s"""WITH RECURSIVE t AS (${dd4Sql}),
       |eb AS (
       |  SELECT id1 AS a, id2 AS b FROM t
       |  UNION ALL SELECT id2, id1 FROM t),
       |reach(a, b) AS (
       |  SELECT a, b FROM eb
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN eb e ON r.b = e.a)
       |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |  FROM reach GROUP BY a) c""".stripMargin

  // ---------------------------------------------------------------- dd7

  /** dd7: benchmark DECONTAMINATION — the train/test-overlap check
    * every serious training run performs: corpus documents sharing ≥ 3
    * bigram shingles with any held-out benchmark document (here the
    * synthetic holdout doc_id ≡ 0 mod 50) are flagged, with the shared
    * count and the fraction of the benchmark doc covered (the
    * n-gram-overlap contamination metric of the GPT-3/PaLM appendix
    * methodology). Shingles are already distinct per doc, so the join
    * counts distinct shared shingles exactly.
    *
    * Scale shape: the asymmetry is the design — the benchmark side is
    * small by construction, so its exploded shingle hashes BROADCAST
    * and the corpus-side scan never shuffles; the only exchange is
    * the (doc, bench) pair aggregation, bounded by actual overlap.
    * Hashes are xxhash64 (only equality is semantic, as in dd2); the
    * oracle joins the md5-prefix hashes and gets identical pairs. */
  private[operators] def dd7(s: SparkSession, d: String): DataFrame =
    contamination(s, d, corpusKeep = None)

  /** dd7's contamination check with an optional corpus-side restriction
    * — cp7 passes its dedup-survivor ids so the expensive shingle join
    * scans only canonical kept docs (the "dedup BEFORE decontamination"
    * ordering the 20× probe proved: duplicated corpora inflate
    * contamination pair volume quadratically; on the probe replica the
    * restriction cuts the corpus side ~20× with identical labels,
    * since flags on non-kept docs are discarded anyway). */
  private[operators] def contamination(s: SparkSession, d: String,
      corpusKeep: Option[DataFrame]): DataFrame = {
    val sh = shingled(s, d)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("sz").as("bench_sz"),
        explode(col("shingles")).as("shingle"))
      .select(col("bench_id"), col("bench_sz"), xxhash64(col("shingle")).as("sh_h"))
    val corpusAll = sh.filter(col("doc_id") % 50 =!= 0)
    val corpusKept = corpusKeep.fold(corpusAll)(k =>
      corpusAll.join(k.hint("shuffle_hash"), Seq("doc_id"), "left_semi"))
    val corpus = corpusKept
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
    corpus.join(broadcast(bench), Seq("sh_h"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"), max(col("bench_sz")).as("bench_sz"))
      .filter(col("n_shared") >= 3)
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("bench_sz")).as("bench_coverage"))
  }

  private[operators] val dd7Sql = "WITH " + shingledSql +
    """, bench AS (
      |  SELECT doc_id AS bench_id, len(shingles) AS bench_sz,
      |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
      |  FROM (SELECT doc_id, shingles, unnest(shingles) AS shingle FROM sh
      |        WHERE doc_id % 50 = 0) b),
      |corpus AS (
      |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
      |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh
      |        WHERE doc_id % 50 <> 0) c)
      |SELECT doc_id, bench_id, n_shared,
      |  CAST(n_shared AS DOUBLE) / bench_sz AS bench_coverage
      |FROM (
      |  SELECT corpus.doc_id, bench.bench_id, count(*) AS n_shared,
      |    max(bench.bench_sz) AS bench_sz
      |  FROM corpus JOIN bench ON corpus.sh_h = bench.sh_h
      |  GROUP BY 1, 2) t
      |WHERE n_shared >= 3""".stripMargin

  // ---------------------------------------------------------------- dd8

  /** dd8: MinHash estimator CALIBRATION — sim8's "measure, don't
    * guess" discipline applied to the dedup sketch. For every LSH
    * candidate pair (no verify threshold — calibration needs the full
    * candidate range), count matching signature components m (the
    * MinHash Jaccard estimate is m/16) AND compute the exact Jaccard,
    * then bucket pairs by exact-Jaccard decile and report the average
    * estimate per bucket. E[m/16] = J is the MinHash guarantee; this
    * gate shows the measured curve next to it, which is what tells you
    * whether 16 perms are enough before you trust dd3's threshold at
    * corpus scale. Aggregates are exact integers (component matches,
    * intersection/union sums); the single closing division is the only
    * double. */
  private def dd8(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val sig = sh.filter(col("sz") > 0)
      .select(col("doc_id"), expr("minhash_sig(shingles)").as("ms"),
        expr("md5h60_array(shingles)").as("hs"), col("sz"))
    minhashCandidates(sig.select(col("doc_id"), col("ms")))
      .select(col("id1"), col("id2"),
        posexplode(array(col("id1"), col("id2"))).as(Seq("side", "doc_id")))
      .join(sig, "doc_id")
      .groupBy(col("id1"), col("id2"))
      .agg(
        first(when(col("side") === 0, col("ms")), ignoreNulls = true).as("ms1"),
        first(when(col("side") === 1, col("ms")), ignoreNulls = true).as("ms2"),
        first(when(col("side") === 0, col("hs")), ignoreNulls = true).as("h1"),
        first(when(col("side") === 1, col("hs")), ignoreNulls = true).as("h2"),
        min(when(col("side") === 0, col("sz"))).as("sz1"),
        min(when(col("side") === 1, col("sz"))).as("sz2"))
      .withColumn("c", size(array_intersect(col("h1"), col("h2"))).cast("long"))
      .withColumn("u", col("sz1") + col("sz2") - col("c"))
      .withColumn("m", expr(
        "size(filter(zip_with(ms1, ms2, (x, y) -> x = y), b -> b))").cast("long"))
      .withColumn("jacc_decile", expr("(10L * c) div u"))
      .groupBy(col("jacc_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("m")).as("sig_matches"),
        sum(col("c")).as("inter_sum"),
        sum(col("u")).as("union_sum"))
      .withColumn("est_pct",
        col("sig_matches").cast("double") * 100 / (col("n_pairs") * 16))
  }

  private val dd8Sql = {
    val mins = AB.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(hs, h -> ($a*(h % $P) + $b) % $P)) AS m$j"
    }.mkString(",\n    ")
    val bandKeys = (0 until 4).map { bd =>
      val k = (0 until 4).map(r => s"m${bd * 4 + r}").mkString("||'_'||")
      s"WHEN $bd THEN $k"
    }.mkString(" ")
    val matches = (0 until 16)
      .map(j => s"(CASE WHEN s1.m$j = s2.m$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    "WITH " + shingledSql +
      s""", hsx AS (
         |  SELECT doc_id, list_transform(shingles,
         |    s -> ('0x' || substr(md5(s),1,15))::BIGINT) AS hs FROM sh),
         |sig AS (
         |  SELECT doc_id, hs,
         |    $mins
         |  FROM hsx),
         |bands AS (
         |  SELECT doc_id, b.band,
         |    CASE b.band $bandKeys END AS key
         |  FROM sig, (SELECT unnest(range(4)) AS band) b),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT id1, id2,
         |    len(list_intersect(s1.hs, s2.hs)) AS c,
         |    len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs)) AS u,
         |    $matches AS m
         |  FROM cand JOIN sig s1 ON id1 = s1.doc_id JOIN sig s2 ON id2 = s2.doc_id)
         |SELECT (10 * c) // u AS jacc_decile, count(*) AS n_pairs,
         |  CAST(sum(m) AS BIGINT) AS sig_matches,
         |  CAST(sum(c) AS BIGINT) AS inter_sum,
         |  CAST(sum(u) AS BIGINT) AS union_sum,
         |  CAST(sum(m) AS DOUBLE) * 100 / (count(*) * 16) AS est_pct
         |FROM pairs GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- dd9

  /** dd9: intra-corpus chunk dedup — the "line-level" boilerplate
    * removal pass of a web-scale prep pipeline (RefinedWeb/CCNet drop
    * lines repeated across pages: nav bars, cookie banners, license
    * headers). The synthetic corpus has no newlines, so the unit is a
    * fixed 16-token chunk: any chunk whose exact text occurs ≥2 times
    * across the corpus is dropped from every document, and the doc is
    * re-assembled from its surviving chunks in order.
    *
    * Scale shape: chunking is a narrow per-row map (one transform +
    * one generator, no shuffle); the repeated-chunk dim is ONE hash
    * agg on the chunk text, and its output is proportional to
    * corpus redundancy, not corpus size; membership is a left join on
    * the chunk key (high-cardinality → even shuffle, AQE-broadcast
    * when the boilerplate dim is small); reassembly is one
    * collect_list + sort_array per doc — state bounded by the doc's
    * own chunk count. Nothing global anywhere.
    *
    * Output per doc: chunk counts and the md5 of the re-assembled
    * kept text (fp, portable across engines). */
  /** 16-token chunk stream `(doc_id, ci, c)` — dd9's grain, shared
    * with dd17 so the chunk definition can't drift between the dedup
    * pass and the bloom prefilter. */
  private def chunkStream(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Tables.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), ceil(size(col("t")) / 16.0).cast("int") - 1),
        i => struct(i.as("ci"),
          array_join(slice(col("t"), i * 16 + 1, lit(16)), " ").as("c")))).as("u"))
      .select(col("doc_id"), col("u.ci").as("ci"), col("u.c").as("c"))

  /** SQL mirror of [[chunkStream]]: `toks` + `flat(doc_id, ci, c)`
    * CTEs (no trailing comma), shared by the dd9/dd17 oracles. */
  private val chunkCteSql =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |flat AS (
      |  SELECT doc_id, u.ci AS ci, u.c AS c FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(CAST(ceil(len(t) / 16.0) AS BIGINT)),
      |      x -> struct_pack(ci := x,
      |             c := array_to_string(t[x*16+1 : x*16+16], ' ')))) AS u
      |    FROM toks) e)""".stripMargin

  private def dd9(s: SparkSession, d: String): DataFrame = {
    val chunked = chunkStream(s, d)
    val repeated = chunked.groupBy(col("c"))
      .agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
    chunked.join(repeated, Seq("c"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_copies").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("n_copies").isNull,
            struct(col("ci"), col("c"))))),
          x => x.getField("c")), " ")).as("kept_fp"))
  }

  private val dd9Sql =
    s"""WITH $chunkCteSql,
      |repeated AS (
      |  SELECT c, count(*) AS n_copies FROM flat
      |  GROUP BY c HAVING count(*) >= 2)
      |SELECT f.doc_id, count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN r.c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  md5(coalesce(array_to_string(
      |    list(f.c ORDER BY f.ci) FILTER (WHERE r.c IS NULL), ' '), ''))
      |    AS kept_fp
      |FROM flat f LEFT JOIN repeated r ON f.c = r.c
      |GROUP BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- dd10

  /** dd10: QUALITY-canonical selection — the step after cluster
    * resolution in a real prep pipeline: dd6 groups near-duplicates,
    * and the pipeline must then pick WHICH copy survives. Min-id
    * (dd6's `is_canonical`) is arbitrary; production pipelines keep
    * the best-quality member. Keeper per cluster = argmax by (quality
    * bucket priority keep < flag < drop, then token count desc, then
    * doc_id asc — fully deterministic), emitted with the discarded
    * count the dedup report needs.
    *
    * Scale shape: the quality signals are a narrow map over the
    * corpus joined to the cluster table on doc_id (hash join, both
    * sides proportional to the CLUSTERED subset, not the corpus);
    * the per-cluster argmax is a WindowGroupLimit-prunable rank on
    * the cluster key. The cluster table comes from dd6's per-process
    * memo (checkpointed once, shared with the dd6 gate), so this gate
    * never re-runs the propagation rounds. */
  private def dd10(s: SparkSession, d: String): DataFrame = {
    val clusters = dd6(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val quality = Tables.documents(s, d).select(
      col("doc_id"),
      size(Tables.tokens(col("text"))).as("n_tokens"),
      TextAnalysis.qualityBucket(
        size(Tables.tokens(col("text"))),
        regexp_count(col("text"), lit("\\b(the|a)\\b")),
        regexp_count(col("text"), lit("[^a-z0-9\\s]"))).as("bucket"))
      .withColumn("prio",
        when(col("bucket") === "keep", 0)
          .when(col("bucket").startsWith("flag"), 1).otherwise(2))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
          .orderBy(col("prio").asc, col("n_tokens").desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("keep_doc_id"), col("bucket").as("keep_bucket"),
        col("n_tokens").as("keep_n_tokens"),
        (col("cluster_size") - 1).as("n_discarded"))
  }

  private val dd10Sql =
    s"""WITH c AS ($dd6Sql),
       |q AS (
       |  SELECT doc_id,
       |    length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    ${TextAnalysis.qualityBucketSql(
           "length(regexp_split_to_array(trim(text), '\\s+'))",
           "length(regexp_extract_all(text, '\\b(the|a)\\b'))",
           "length(regexp_extract_all(text, '[^a-z0-9\\s]'))")} AS bucket
       |  FROM documents)
       |SELECT cluster_id, cluster_size, doc_id AS keep_doc_id,
       |  bucket AS keep_bucket, n_tokens AS keep_n_tokens,
       |  cluster_size - 1 AS n_discarded
       |FROM (
       |  SELECT c.cluster_id, c.cluster_size, c.doc_id, q.bucket, q.n_tokens,
       |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY
       |      CASE WHEN q.bucket = 'keep' THEN 0
       |           WHEN q.bucket LIKE 'flag%' THEN 1 ELSE 2 END ASC,
       |      q.n_tokens DESC, c.doc_id ASC) AS rk
       |  FROM c JOIN q ON c.doc_id = q.doc_id) r
       |WHERE rk = 1""".stripMargin

  // ---------------------------------------------------------------- dd13

  /** dd13: INCREMENTAL ingest dedup — the shape a production pipeline
    * actually runs daily: a small incoming batch (doc_id ≡ 0 mod 10
    * stands in for today's crawl) checked against the HISTORICAL
    * corpus index, not against itself. Exact duplicates via
    * fingerprint membership, near-duplicates via SimHash band
    * collision + hamming ≤ 3 (dd4's sketch against history's), each
    * incoming doc labeled `dup_exact` / `dup_near` / `new` with its
    * near-match count.
    *
    * Scale shape — the ASYMMETRY is the point: history is
    * corpus-sized but the index columns are tiny (16-byte fp, 8-byte
    * sketch — the persisted artifact, not the text), and the incoming
    * side is batch-sized, so the fp membership probe and the band
    * join both broadcast the INCOMING side and stream history once;
    * nothing corpus-sized ever shuffles, and unlike the self-join
    * gates the candidate volume is |batch| × collision rate, not
    * corpus². */
  private def dd13(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      TextAnalysis.contentFp(col("text")).as("fp"),
      expr("simhash64(split(trim(text), '\\\\s+'))").as("simhash"))
    val inc = base.filter(col("doc_id") % 10 === 0)
    val hist = base.filter(col("doc_id") % 10 =!= 0)
    def bandsOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(bd =>
          expr(s"shiftright(simhash, ${bd * 16}) & 65535")): _*)).as(Seq("band", "key")))
    // exact membership with the ASYMMETRY intact: history's fp column
    // streams once through a semi-join against the broadcast BATCH
    // fps; only the matched set (≤ |batch| by construction) is ever
    // collected for the final probe. broadcast(hist.fps) would drag a
    // corpus-sized relation to the driver — the opposite of the shape
    // this gate exists to demonstrate.
    val matchedFps = hist.select(col("fp"))
      .join(broadcast(inc.select(col("fp")).distinct()), Seq("fp"), "left_semi")
      .distinct()
      .withColumn("hit", lit(1L))
    val exact = inc
      .join(broadcast(matchedFps), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(max(coalesce(col("hit"), lit(0L))).as("is_exact"))
    val near = bandsOf(inc).as("i")
      // incoming is the small side by construction — broadcast it into
      // one pass over history's band stream
      .hint("broadcast")
      .join(bandsOf(hist).as("h"),
        col("i.band") === col("h.band") && col("i.key") === col("h.key"))
      .filter(expr("bit_count(i.simhash ^ h.simhash)") <= 3)
      .select(col("i.doc_id").as("doc_id"), col("h.doc_id").as("hid"))
      .dropDuplicates("doc_id", "hid")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    // assembly joins are batch-proportional on doc_id — hash on the
    // shuffle, never sort-merge (cp7's rule; a "daily batch" is not
    // provably broadcastable at 100 TB)
    inc.select(col("doc_id"))
      .join(exact.hint("shuffle_hash"), Seq("doc_id"))
      .join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("is_exact") === 1L).as("is_exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("is_exact") === 1L, lit("dup_exact"))
          .when(coalesce(col("n_near"), lit(0L)) > 0, lit("dup_near"))
          .otherwise(lit("new")).as("decision"))
  }

  private val dd13Sql =
    s"""WITH $simhashCteSql,
       |fp AS (SELECT doc_id, ${TextAnalysis.contentFpSql} AS fp FROM documents),
       |base AS (SELECT f.doc_id, f.fp, s.simhash FROM fp f JOIN sim s USING (doc_id)),
       |inc AS (SELECT * FROM base WHERE doc_id % 10 = 0),
       |hist AS (SELECT * FROM base WHERE doc_id % 10 <> 0),
       |exact AS (
       |  SELECT i.doc_id,
       |    CAST(max(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS is_exact
       |  FROM inc i LEFT JOIN (SELECT DISTINCT fp FROM hist) h ON i.fp = h.fp
       |  GROUP BY 1),
       |ib AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band*16)) & 65535 AS key
       |       FROM inc, (SELECT unnest(range(4)) AS band) b),
       |hb AS (SELECT doc_id, simhash, b.band, (simhash >> (b.band*16)) & 65535 AS key
       |       FROM hist, (SELECT unnest(range(4)) AS band) b),
       |np AS (
       |  SELECT DISTINCT i.doc_id, h.doc_id AS hid
       |  FROM ib i JOIN hb h ON i.band = h.band AND i.key = h.key
       |  WHERE bit_count(xor(i.simhash, h.simhash)) <= 3),
       |near AS (SELECT doc_id, count(*) AS n_near FROM np GROUP BY 1)
       |SELECT i.doc_id, e.is_exact = 1 AS is_exact_dup,
       |  coalesce(n.n_near, 0) AS n_near,
       |  CASE WHEN e.is_exact = 1 THEN 'dup_exact'
       |       WHEN coalesce(n.n_near, 0) > 0 THEN 'dup_near'
       |       ELSE 'new' END AS decision
       |FROM inc i JOIN exact e ON i.doc_id = e.doc_id
       |LEFT JOIN near n ON i.doc_id = n.doc_id""".stripMargin

  // ---------------------------------------------------------------- dd12

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * scale path dd6's scaladoc names: min-label propagation needs
    * O(diameter) rounds, which is fine for blocking-derived
    * near-cliques but pathological on CHAIN-shaped duplicate graphs
    * (A≈B≈C≈… from drifting shingles — a 64-link chain exceeds dd6's
    * round cap); the star alternation contracts ANY graph in
    * O(log n) rounds. Each round: LARGE-STAR points every
    * greater-than-self neighbor at the neighborhood minimum
    * (including self), SMALL-STAR re-points the ≤-self neighborhood
    * at its minimum — both preserve connectivity, and at the fixpoint
    * every vertex's least(self, min neighbor) IS its component
    * minimum.
    *
    * Convergence probe — FREE, folded into the round's single action:
    * each round checkpoints ONE labeled-edge table (u, v, m) where
    * m = min(Γ(u) ∪ u), with an [[org.apache.spark.sql.Observation]]
    * counting edges whose endpoints disagree on labels riding the
    * same job. Zero disagreements on CURRENT edges is sound: labels
    * are then constant per current-graph component, the star steps
    * preserve connectivity (the paper's invariant), and the constant
    * label L satisfies label(L) = L, so any smaller member w would
    * label ≤ w < L — contradiction; hence L is the component minimum.
    * (Equivalent to probing the original edges, which cost a second
    * join job per round.)
    *
    * Returns (labels (id, lbl), rounds) — package-private so the spec
    * can pin the logarithmic round count on a long chain. */
  private[graft] def ccBigStar(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.Observation
    val orig = pairs.select(col("id1").as("u"), col("id2").as("v"))
    // Label a symmetrized edge set: ONE job (the eager checkpoint)
    // materializes (u, v, m) — the large-star input edges ⋈ labels —
    // and its Observation delivers the violation count as a side
    // effect of that same job.
    def label(e: DataFrame): (DataFrame, Long) = {
      val m1 = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val obs = Observation()
      val labeled = e
        .join(m1, Seq("u"))
        .join(m1.select(col("u").as("v"), col("m").as("mv")), Seq("v"))
        .observe(obs, count(when(col("m") =!= col("mv"), 1)).as("viol"))
        .select(col("u"), col("v"), col("m"))
        .localCheckpoint()
      (labeled, obs.get("viol").asInstanceOf[Long])
    }
    var (cur, viol) = label(
      orig.unionByName(orig.select(col("v").as("u"), col("u").as("v")))
        .distinct())
    var rounds = 0
    while (viol > 0 && rounds < 20) {
      // large-star: (v, m) for every neighbor v > u, m = min(Γ(u) ∪ u)
      // — cur IS edges ⋈ labels, no join needed
      val ls = cur.filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
      val e1 = ls.unionByName(ls.select(col("b").as("a"), col("a").as("b")))
        .distinct().select(col("a").as("u"), col("b").as("v"))
      // small-star over the ≤-self neighborhood: (v, m) ∪ (u, m)
      val small = e1.filter(col("v") < col("u"))
      val m2 = small.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = small.join(m2, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(m2.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
      val e2 = ss.unionByName(ss.select(col("b").as("a"), col("a").as("b")))
        .distinct().select(col("a").as("u"), col("b").as("v"))
      rounds += 1
      val next = label(e2)
      cur = next._1
      viol = next._2
    }
    require(viol == 0L, s"star contraction did not converge in $rounds rounds")
    (cur.select(col("u").as("id"), col("m").as("lbl")).distinct(), rounds)
  }

  /** dd12: dd6's clusters via the star contraction — identical output
    * (and oracle) over dd4's pair graph, different round complexity.
    * The gate proves the two agree on real data; the spec proves the
    * round-count separation on the chain dd6 cannot finish. */
  private def dd12(s: SparkSession, d: String): DataFrame = {
    val (labels, _) = ccBigStar(dd4(s, d).select(col("id1"), col("id2")))
    labels
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
  }

  // ---------------------------------------------------------------- dd11

  /** dd11: SEMANTIC dedup decision (SemDeDup-shaped): the per-document
    * keep/drop verdict from EMBEDDING-space neighbors, the policy that
    * catches paraphrases and re-encodings no shingle sketch sees.
    * Candidates are sim7's IVF-cell-blocked pairs (cosine ≥ 0.45
    * inside one coarse-quantizer cell — the paper's "within k-means
    * cluster" blocking); the verdict is GREEDY domination rather than
    * full component resolution: a document drops iff some semantic
    * partner beats it under dd10's exact keeper triple (quality bucket
    * keep < flag < drop, then tokens desc, then id asc). Greedy is the
    * production trade — one pass, no iteration — and within a
    * duplicate pair exactly one side is dominated, so every group
    * keeps ≥ 1 member; vs dd6+dd10 it may keep one extra member of a
    * long chain (the recall/cost knob, documented not hidden).
    *
    * Scale shape: sim7's pair set is overlap-bounded (slim ids) and
    * AQE broadcasts it into the quality joins when small; the per-doc
    * pair stats are corpus-PROPORTIONAL in a duplicate-heavy corpus
    * (the premise of this gate), so the final left join back onto
    * embeddings is pinned shuffle-hash, never a forced broadcast. */
  private def dd11(s: SparkSession, d: String): DataFrame = {
    val pairs = Similarity.sim7(s, d)
    val sym = pairs
      .select(col("id1").as("vec_id"), col("id2").as("partner"), col("cosine"))
      .unionByName(pairs
        .select(col("id2").as("vec_id"), col("id1").as("partner"), col("cosine")))
    val quality = Tables.documents(s, d).select(
      col("doc_id"),
      size(Tables.tokens(col("text"))).cast("long").as("n_tokens"),
      TextAnalysis.qualityBucket(
        size(Tables.tokens(col("text"))),
        regexp_count(col("text"), lit("\\b(the|a)\\b")),
        regexp_count(col("text"), lit("[^a-z0-9\\s]"))).as("bucket"))
      .withColumn("prio",
        when(col("bucket") === "keep", 0)
          .when(col("bucket").startsWith("flag"), 1).otherwise(2))
      .select("doc_id", "n_tokens", "prio")
    val stats = sym
      .join(quality.select(col("doc_id").as("vec_id"),
        col("n_tokens").as("my_tokens"), col("prio").as("my_prio")), "vec_id")
      .join(quality.select(col("doc_id").as("partner"),
        col("n_tokens").as("p_tokens"), col("prio").as("p_prio")), "partner")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_partners"),
        max(col("cosine")).as("max_cosine"),
        max(when(col("p_prio") < col("my_prio") ||
          (col("p_prio") === col("my_prio") && col("p_tokens") > col("my_tokens")) ||
          (col("p_prio") === col("my_prio") && col("p_tokens") === col("my_tokens")
            && col("partner") < col("vec_id")), 1L).otherwise(0L)).as("dominated"))
    // stats is one row per doc with ANY semantic partner — in the
    // duplicate-heavy corpora this gate targets that is
    // corpus-proportional, so hash it on the shuffle (cp7's rule),
    // never force a broadcast
    Tables.embeddings(s, d).select("vec_id", "label")
      .join(stats.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"),
        col("max_cosine"),
        when(col("dominated") === 1, lit("drop_semantic"))
          .otherwise(lit("keep")).as("decision"))
  }

  private val dd11Sql =
    s"""WITH p AS (${Similarity.sim7Sql}),
       |sym AS (
       |  SELECT id1 AS vec_id, id2 AS partner, cosine FROM p
       |  UNION ALL SELECT id2, id1, cosine FROM p),
       |q AS (
       |  SELECT doc_id,
       |    length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    CASE WHEN ${TextAnalysis.qualityBucketSql(
           "length(regexp_split_to_array(trim(text), '\\s+'))",
           "length(regexp_extract_all(text, '\\b(the|a)\\b'))",
           "length(regexp_extract_all(text, '[^a-z0-9\\s]'))")} = 'keep' THEN 0
      |      WHEN ${TextAnalysis.qualityBucketSql(
           "length(regexp_split_to_array(trim(text), '\\s+'))",
           "length(regexp_extract_all(text, '\\b(the|a)\\b'))",
           "length(regexp_extract_all(text, '[^a-z0-9\\s]'))")} LIKE 'flag%' THEN 1
      |      ELSE 2 END AS prio
      |  FROM documents),
      |st AS (
      |  SELECT s.vec_id, count(*) AS n_partners, max(s.cosine) AS max_cosine,
      |    max(CASE WHEN pq.prio < mq.prio
      |          OR (pq.prio = mq.prio AND pq.n_tokens > mq.n_tokens)
      |          OR (pq.prio = mq.prio AND pq.n_tokens = mq.n_tokens
      |              AND s.partner < s.vec_id) THEN 1 ELSE 0 END) AS dominated
      |  FROM sym s
      |  JOIN q mq ON mq.doc_id = s.vec_id
      |  JOIN q pq ON pq.doc_id = s.partner
      |  GROUP BY s.vec_id)
      |SELECT e.vec_id, e.label,
      |  coalesce(st.n_partners, 0) AS n_partners, st.max_cosine,
      |  CASE WHEN st.dominated = 1 THEN 'drop_semantic' ELSE 'keep' END AS decision
      |FROM embeddings e LEFT JOIN st ON st.vec_id = e.vec_id""".stripMargin

  // --------------------------------------------------------------- dd14

  /** dd14: SOFT dedup — instead of dropping duplicates, every doc is
    * kept and DOWNWEIGHTED by its duplicate multiplicity (the
    * SoftDeDup idea: a training run re-weights repeated content to
    * `1/n` so the loss sees each distinct text once in expectation,
    * preserving data the hard-drop path would discard). Per doc:
    * its exact-fingerprint group size, the integer permille weight
    * `1000 div n_copies`, and whether it is the group's min-id
    * canonical (the doc a hard dedup would have kept — dd1's rule).
    *
    * Scale shape: ONE hash shuffle on the md5 fingerprint (dd1's
    * exchange) with a count window over it — group state is a
    * duplicate group (bounded by multiplicity, not corpus size), and
    * the output is corpus-sized but narrow. At 100 TB this is the
    * cheapest dedup treatment that loses nothing: same cost as dd1,
    * no second pass, and the weight column rides into cp-style
    * sampling as a multiplier. */
  private def dd14(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.contentFp(col("text")).as("fp"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("weight_permille", expr("1000 div n_copies"))
      .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(w))
      .select("doc_id", "fp", "n_copies", "weight_permille", "is_canonical")
  }

  private val dd14Sql =
    """SELECT doc_id, fp,
      |  count(*) OVER (PARTITION BY fp) AS n_copies,
      |  1000 // count(*) OVER (PARTITION BY fp) AS weight_permille,
      |  doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
      |FROM (SELECT doc_id,
      |        """.stripMargin + TextAnalysis.contentFpSql + """ AS fp
      |      FROM documents) t""".stripMargin

  // --------------------------------------------------------------- dd15

  /** dd15: benchmark CONTAMINATION SCORE — the per-document
    * containment metric of the GPT-3/PaLM decontamination appendices:
    * the fraction (permille) of a corpus doc's shingles that appear
    * ANYWHERE in the held-out benchmark set, and the ≥ 700 ‰ flag
    * ("a document is dirty when ≥ 70 % of its n-grams occur in the
    * benchmark"). Complements dd7, which counts per-(doc, bench-doc)
    * shared shingles ≥ 3: dd7 finds which benchmark doc leaked; dd15
    * scores how much of the training doc is leaked — the drop
    * decision a pipeline actually applies is on THIS number.
    *
    * Scale shape: dd7's asymmetry, sharpened — the benchmark shingle
    * UNIVERSE is collapsed to distinct hashes (smaller still than
    * dd7's per-doc exploded side) and broadcast; the corpus explodes
    * once, the inner join hits only matching shingles, and the only
    * exchange is the per-doc hit regroup (corpus-proportional, slim).
    * Zero-hit docs re-enter via a left join of the doc spine — at
    * 100 TB the spine join is doc-keyed and the hits side is tiny. */
  private def dd15(s: SparkSession, d: String): DataFrame = {
    val sh = shingled(s, d)
    val benchU = sh.filter(col("doc_id") % 50 === 0)
      .select(explode(col("shingles")).as("shingle"))
      .select(xxhash64(col("shingle")).as("sh_h")).distinct()
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
    val hits = corpus
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))
      .join(broadcast(benchU), Seq("sh_h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    corpus.select(col("doc_id"), col("sz").cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("CASE WHEN n_shingles > 0 THEN " +
          "(coalesce(n_hit, 0) * 1000) div n_shingles ELSE 0 END")
          .as("containment_permille"))
      .withColumn("contaminated", col("containment_permille") >= 700)
  }

  private[operators] val dd15Sql = "WITH " + shingledSql +
    """, benchu AS (
      |  SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
      |  FROM (SELECT unnest(shingles) AS shingle FROM sh WHERE doc_id % 50 = 0) b),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hit
      |  FROM (
      |    SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
      |    FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh
      |          WHERE doc_id % 50 <> 0) c) x
      |  JOIN benchu USING (sh_h)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_shingles, n_hit, containment_permille,
      |  containment_permille >= 700 AS contaminated
      |FROM (
      |  SELECT s.doc_id, len(s.shingles) AS n_shingles,
      |    coalesce(h.n_hit, 0) AS n_hit,
      |    CASE WHEN len(s.shingles) > 0
      |      THEN (coalesce(h.n_hit, 0) * 1000) // len(s.shingles) ELSE 0 END
      |      AS containment_permille
      |  FROM sh s LEFT JOIN hits h ON h.doc_id = s.doc_id
      |  WHERE s.doc_id % 50 <> 0) t""".stripMargin

  // --------------------------------------------------------------- dd16

  /** dd16: the DEDUP RUN REPORT — the artifact every dedup pass ships
    * to its operators ("how much mass sat in what multiplicities?"):
    * per cluster size, how many clusters, how many documents, and how
    * many a canonical-keeper pass removes (`n_docs − n_clusters`).
    * Size-1 rows are the untouched singletons; the heavy tail up top
    * is what justifies the pass. This is the number a curation team
    * reads before approving the drop.
    *
    * Scale shape: a ≤|distinct sizes|-row rollup over the per-process
    * MEMOIZED cluster table (dd6's checkpoint — no second
    * propagation), with map-side combine; effectively free next to
    * the resolution it reports on. */
  private def dd16(s: SparkSession, d: String): DataFrame =
    dd6(s, d)
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .withColumn("n_dropped", col("n_docs") - col("n_clusters"))

  private val dd16Sql =
    """SELECT cluster_size, count(DISTINCT cluster_id) AS n_clusters,
      |  count(*) AS n_docs,
      |  count(*) - count(DISTINCT cluster_id) AS n_dropped
      |FROM (
      |""".stripMargin + dd6Sql + """
      |) base GROUP BY cluster_size""".stripMargin

  // --------------------------------------------------------------- dd17

  /** dd17: BLOOM-PREFILTERED incremental membership — dd13's
    * daily-ingest scenario at dd9's CHUNK grain, with the exact
    * membership probe replaced by a Bloom filter: the runtime-filter
    * pattern every 100 TB join pipeline leans on, and the right grain
    * for it (the chunk universe is ~10-100× the doc count — exactly
    * where a bitmap probe beats a join). Build: ONE distinct-positions
    * pass over history's chunk universe (k=4 salted-md5 hashes into
    * m = 8·|history| bits — the ~8-bits-per-key production sizing
    * rule, computed FROM the data so the filter never saturates as
    * the corpus grows). The build is DISTRIBUTED: positions are
    * OR-folded into 64-bit words per block (`p DIV 64` →
    * `bit_or(1L << (p % 64))`, a map-side-combinable hash agg) whose
    * output is at most m/64 (block, word) rows — the bitmap itself in
    * block form (m/8 bytes ≈ 2 KiB at sf0.01, 1 bit/position
    * regardless of |history|, bound asserted in TextDedupSpec). The
    * block table never lands on the driver: it BROADCASTS (round-10
    * advice — the old literal-array assembly was driver-memory-sized
    * by the design parameter m; executor-side broadcast removes the
    * one parameter-sized driver structure in main, and Spark reuses
    * ONE exchange across the k probes). Probe: each incoming chunk
    * tests its 4 bits via k broadcast-hash lookups on the block id
    * (shiftright + mask in codegen — no shuffle, no row-count joins;
    * an absent block reads as all-zeros via coalesce); bloom-misses
    * are DEFINITE new (no false negatives, asserted in TextDedupSpec
    * against the exact membership), and only the bloom-hit slice pays
    * the exact verify (dd13's stream-history-once asymmetry). The
    * only driver-side values are the two sizing/receipt scalars
    * (|history| and the bit_count sum). Output:
    * per-decision chunk counts (`definite_new` / `dup` / `bloom_fp`)
    * plus the measured bitmap size and fill — the honest
    * false-positive accounting most bloom deployments skip.
    *
    * Scale shape: the exact-verify join input shrinks by the
    * true-negative rate (~70 % of new chunks never join at 8 b/key);
    * the build is one shuffle at the (m/64)-block grain with map-side
    * OR-combine and the probe stays a narrow codegen map — candidate
    * volume is |batch| · (dup rate + ~2.4 % FP), never
    * |batch| × |history|, and driver transfer is the bitmap itself. */
  /** Bloom position hash: salted-md5 of the chunk string folded into
    * [0, m). Shared by the build and probe sides of dd17. */
  private def bloomPos(m: Long)(c: Column, j: Int): Column =
    pmod(conv(substring(md5(concat(c, lit(s"#$j"))), 1, 15), 16, 10)
      .cast("long"), lit(m))

  /** dd17's DISTRIBUTED bloom build: the k positions per key are
    * OR-folded into 64-bit words at the `p DIV 64` block grain — a
    * map-side-combinable hash agg whose output is at most m/64 rows
    * of (block, word), i.e. the bitmap itself in block form. This is
    * the only thing the driver collects; exposed for the spec's
    * driver-transfer assertion. */
  private[graft] def bloomBlocks(hist: DataFrame, m: Long, k: Int): DataFrame =
    hist
      .select(explode(array(
        (0 until k).map(j => bloomPos(m)(col("c"), j)): _*)).as("p"))
      .groupBy(expr("p DIV 64").as("blk"))
      .agg(expr("bit_or(shiftleft(1L, CAST(p % 64 AS INT)))").as("word"))

  private def dd17(s: SparkSession, d: String): DataFrame = {
    val k = 4
    val chunked = chunkStream(s, d)
    val batch = chunked.filter(col("doc_id") % 10 === 0)
    val hist = chunked.filter(col("doc_id") % 10 =!= 0)
      .select(col("c")).distinct()
    val m = 8L * hist.count() // the sizing pass: ~8 bits per key
    // Degenerate empty history: m=0 would make bloomPos's pmod divide
    // by zero and the bit-count sum come back NULL — every batch chunk
    // is definite_new by construction, so answer that directly.
    if (m == 0L)
      return batch.groupBy(lit("definite_new").as("decision"))
        .agg(count(lit(1)).as("n_chunks"))
        .withColumn("m_bits", lit(0L))
        .withColumn("n_bits_set", lit(0L))
        .withColumn("fill_permille", lit(0L))
    def posCol(c: Column, j: Int): Column = bloomPos(m)(c, j)
    // r15: the fill receipt rides the block materialization as an
    // Observation instead of a second pass (guide §1.2)
    val obsBits = org.apache.spark.sql.Observation()
    val blocks = bloomBlocks(hist, m, k)
      .observe(obsBits, coalesce(sum(expr("bit_count(word)")), lit(0L))
        .as("n_bits"))
      .localCheckpoint()
    val nBitsSet = obsBits.get("n_bits").asInstanceOf[Long]
    // k broadcast-hash lookups on the block id — the bitmap stays
    // executor-side; a missing block means no bit in it is set
    val withBits = (0 until k).foldLeft(
      batch.select(col("doc_id"), col("ci"), col("c"))) { (acc, j) =>
      acc.withColumn(s"p_$j", posCol(col("c"), j))
        .join(broadcast(blocks.select(col("blk").as(s"blk_$j"),
          col("word").as(s"word_$j"))),
          expr(s"p_$j DIV 64") === col(s"blk_$j"), "left")
        .withColumn(s"hit_$j", coalesce(
          expr(s"(shiftright(word_$j, CAST(p_$j % 64 AS INT)) & 1L) = 1L"),
          lit(false)))
        .drop(s"blk_$j", s"word_$j")
    }
    val probed = withBits.select(col("doc_id"), col("ci"), col("c"),
      (0 until k).map(j => col(s"hit_$j")).reduce(_ && _).as("bloom_hit"))
    // exact verify for the bloom-hit slice only: history's chunk
    // universe streams ONCE through a semi-join against the broadcast
    // candidate set (≤|batch| rows)
    val candC = probed.filter(col("bloom_hit")).select(col("c")).distinct()
    val matched = hist
      .join(broadcast(candC), Seq("c"), "left_semi")
      .withColumn("in_hist", lit(true))
    probed.join(broadcast(matched), Seq("c"), "left")
      .select(col("doc_id"), col("ci"),
        when(!col("bloom_hit"), lit("definite_new"))
          .when(coalesce(col("in_hist"), lit(false)), lit("dup"))
          .otherwise(lit("bloom_fp")).as("decision"))
      .groupBy(col("decision")).agg(count(lit(1)).as("n_chunks"))
      .withColumn("m_bits", lit(m))
      .withColumn("n_bits_set", lit(nBitsSet))
      .withColumn("fill_permille", lit(nBitsSet * 1000L / m))
  }

  private val dd17Sql =
    s"""WITH $chunkCteSql,
       |b AS (SELECT doc_id, ci, c FROM flat WHERE doc_id % 10 = 0),
       |h AS (SELECT DISTINCT c FROM flat WHERE doc_id % 10 <> 0),
       |mm AS (SELECT 8 * count(*) AS m FROM h),
       |hpos AS (
       |  SELECT DISTINCT
       |    ('0x' || substr(md5(c || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
       |      % (SELECT m FROM mm) AS p
       |  FROM h, (SELECT unnest(range(4)) AS j) js),
       |bits AS (SELECT count(*) AS n_bits_set FROM hpos),
       |bpos AS (
       |  SELECT doc_id, ci, c, j,
       |    ('0x' || substr(md5(c || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
       |      % (SELECT m FROM mm) AS p
       |  FROM b, (SELECT unnest(range(4)) AS j) js),
       |hitc AS (
       |  SELECT doc_id, ci, count(DISTINCT j) AS nj
       |  FROM bpos JOIN hpos USING (p) GROUP BY doc_id, ci),
       |dec AS (
       |  SELECT b.doc_id, b.ci,
       |    CASE WHEN coalesce(nj, 0) < 4 THEN 'definite_new'
       |         WHEN b.c IN (SELECT c FROM h) THEN 'dup'
       |         ELSE 'bloom_fp' END AS decision
       |  FROM b LEFT JOIN hitc ON b.doc_id = hitc.doc_id AND b.ci = hitc.ci)
       |SELECT decision, count(*) AS n_chunks,
       |  (SELECT m FROM mm) AS m_bits,
       |  (SELECT n_bits_set FROM bits) AS n_bits_set,
       |  (SELECT n_bits_set FROM bits) * 1000 // (SELECT m FROM mm)
       |    AS fill_permille
       |FROM dec GROUP BY decision""".stripMargin

  // --------------------------------------------------------------- dd18

  /** dd18: URL-GRAIN dedup — the C4/web-corpus "dedup by URL" pass,
    * executed on yf10's canonicalizer output instead of asserted as a
    * downstream exercise: the same video arrives under 5 link forms
    * (tracking params, youtu.be, shorts, mobile host, embed — the
    * shared [[YtFormats.VideoIdPat]], so the normalizer and this dedup
    * can never drift); canonicalize, then one hash agg per canonical
    * form: copies seen, distinct raw spellings, the min-event keeper
    * (dd1's convention), how many arrived with tracking params, and
    * the dropped count. The URL universe is synthesized
    * deterministically from event columns with video id = event_id mod
    * 1999 (prime, coprime to the 5-form selector, so every canonical
    * cluster mixes link forms) — yf1/yf10's discipline: both engines
    * build identical inputs, the gate checks normalize→dedup.
    *
    * Scale shape: a narrow canonicalize projection + ONE map-side-
    * combinable hash agg on the canonical key (the distinct-raw count
    * adds the standard partial-distinct expand, still key-local). At
    * 100 TB this is dd1's economics at the URL grain — the cheapest
    * dedup pass a web pipeline runs, and the first. */
  private def dd18(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"))
      .withColumn("raw_url", expr(YtFormats.rawUrlCase("event_id % 1999")))
      .withColumn("canonical_url",
        concat(lit("https://www.youtube.com/watch?v="),
          regexp_extract(col("raw_url"), YtFormats.VideoIdPat, 1)))
      .withColumn("had_tracking",
        col("raw_url").contains("si=") || col("raw_url").contains("feature="))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("raw_url")).as("n_raw_forms"),
        min(col("event_id")).as("keeper_event_id"),
        sum(when(col("had_tracking"), 1L).otherwise(0L)).as("n_tracking"))
      .withColumn("n_dropped", col("n_urls") - 1)

  private val dd18Sql =
    s"""SELECT canonical_url, count(*) AS n_urls,
       |  count(DISTINCT raw_url) AS n_raw_forms,
       |  min(event_id) AS keeper_event_id,
       |  CAST(sum(CASE WHEN had_tracking THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tracking,
       |  count(*) - 1 AS n_dropped
       |FROM (
       |  SELECT event_id,
       |    'https://www.youtube.com/watch?v=' || regexp_extract(raw_url,
       |      '${YtFormats.VideoIdPat}', 1) AS canonical_url,
       |    contains(raw_url, 'si=') OR contains(raw_url, 'feature=')
       |      AS had_tracking,
       |    raw_url
       |  FROM (
       |    SELECT event_id,
       |      ${YtFormats.rawUrlCaseSql("event_id % 1999")} AS raw_url
       |    FROM events) u) c
       |GROUP BY canonical_url""".stripMargin

  // --------------------------------------------------------------- dd19

  /** dd19: REPEATED-SPAN detection — the exact-substring dedup of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2021), restated at the positioned-k-gram grain a
    * distributed engine can shuffle: a maximal token span that appears
    * (at k-gram resolution, k = 8) in ≥ 2 distinct documents is a
    * repeated span — the unit that paper REMOVES from training text,
    * one level finer than dd9's fixed 16-token chunks (spans here are
    * maximal islands of overlapping duplicated k-grams, so a 37-token
    * copied paragraph surfaces as ONE span, not 3 chunks that happen
    * to tile it).
    *
    * Pipeline: tokenize once → positioned k-gram 60-bit hashes (one
    * narrow-map explode, the tx6 generator shape; hashes via the
    * native `md5h60_array` so only 8-byte keys + int positions ever
    * shuffle, never gram text) → corpus-duplicated grams =
    * count(DISTINCT doc_id) ≥ 2 on the gram-hash agg (map-side
    * combined) → per-doc gaps-and-islands over the flagged positions
    * (running max of span ends; a gram starting past prev_end + 1
    * opens a new island) → per-span envelope.
    *
    * Scale: the suffix-array approach of the paper is monolithic;
    * this k-gram restatement is two hash shuffles (gram-hash agg,
    * doc-keyed window), each on fixed-width keys — the shape that
    * survives 100 TB. The window partition is doc_id: per-doc flagged
    * positions are ≤ tokens/doc, bounded state. 60-bit collisions are
    * engine-identical (same md5 prefix both sides). */
  private def dd19(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val positioned = Tables.documents(s, d)
      .select(col("doc_id"), Tables.tokens(col("text")).as("a"))
      .filter(size(col("a")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"md5h60_array(transform(sequence(1, size(a) - ${K - 1}), " +
          s"i -> concat_ws(' ', slice(a, i, $K))))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val dup = positioned.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    positioned.join(dup, "h")
      .withColumn("prev_end",
        max(col("pos") + (K - 1)).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (K - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
  }

  private val dd19Sql =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    unnest(range(1, length(a) - 6)) AS pos,
      |    unnest(list_transform(range(1, length(a) - 6),
      |      i -> ('0x' || substr(md5(array_to_string(a[i:i+7], ' ')),
      |        1, 15))::BIGINT)) AS h
      |  FROM tk WHERE length(a) >= 8),
      |dup AS (
      |  SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CAST(sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS span_id
      |  FROM (
      |    SELECT doc_id, pos,
      |      CASE WHEN prev_end IS NULL OR pos > prev_end + 1
      |        THEN 1 ELSE 0 END AS new_span
      |    FROM (
      |      SELECT p.doc_id, p.pos,
      |        max(p.pos + 7) OVER (PARTITION BY p.doc_id ORDER BY p.pos ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM pos p JOIN dup USING (h)) x) y)
      |SELECT doc_id, span_id, min(pos) AS span_start,
      |  max(pos) + 7 AS span_end, count(*) AS n_grams,
      |  max(pos) + 7 - min(pos) + 1 AS span_tokens
      |FROM isl GROUP BY doc_id, span_id""".stripMargin

  // --------------------------------------------------------------- dd20

  /** dd20: maximal repeated-span REMOVAL — the edit step dd19 stops
    * short of. dd19 detects the repeated spans; production ExactSubstr
    * dedup (Lee et al. 2021, `deduplicate-text-datasets`) REMOVES the
    * duplicated text and must decide which occurrence survives. Policy
    * here: keep-first in corpus order — a positioned k-gram (k = 8) is
    * REDUNDANT iff an occurrence of the same gram hash exists at a
    * strictly smaller (doc_id, pos); the union of the redundant grams'
    * [pos, pos+k-1] windows per doc forms the maximal spans to cut
    * (islands again, so a 37-token re-paste is ONE span), and the doc
    * is re-assembled from the surviving tokens. The FIRST occurrence
    * of every span survives by construction — the corpus keeps exactly
    * one copy of every repeated substring, which is the invariant the
    * paper's dedup enforces.
    *
    * Scale shape vs the paper's monolithic suffix array: first
    * occurrence per gram is ONE map-side-combinable `min` agg on the
    * 60-bit gram hash (skew-safe: no window over the hash partition,
    * a billion-copy boilerplate gram still reduces to one min);
    * redundancy is a join back on that hash; coverage needs NO range
    * join — a redundant gram's reach lands on its start token via a
    * 1:≤1 equi-join on (doc_id, pos), and a per-doc running max turns
    * reach into covered flags (the dd19 island window, state = one
    * long per doc). Occurrence order is encoded as
    * `doc_id * 2^20 + pos` so `min` is the lexicographic first
    * (positions are bounded by tokens/doc « 2^20; the build guards
    * it). Output per doc: token counts, spans cut, and the md5 of the
    * surviving text — the engine-portable fingerprint of the edit. */
  private def dd20(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Tables.tokens(col("text")).as("a"))
    val positioned = toks.filter(size(col("a")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"md5h60_array(transform(sequence(1, size(a) - ${K - 1}), " +
          s"i -> concat_ws(' ', slice(a, i, $K))))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .withColumn("occ", col("doc_id") * lit(1L << 20) + col("pos"))
    val firstOcc = positioned.groupBy(col("h"))
      .agg(min(col("occ")).as("first_occ"))
    val red = positioned.join(firstOcc.hint("shuffle_hash"), Seq("h"))
      .filter(col("occ") > col("first_occ"))
      .select(col("doc_id"), col("pos").as("tpos"),
        (col("pos") + (K - 1)).as("reach"))
    val tokPos = toks
      .select(col("doc_id"), size(col("a")).as("n_tokens"),
        posexplode(col("a")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).as("tpos"), col("col").as("tok"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("tpos").asc)
    tokPos.join(red.hint("shuffle_hash"), Seq("doc_id", "tpos"), "left")
      .withColumn("runreach", max(col("reach")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("covered",
        coalesce(col("runreach") >= col("tpos"), lit(false)))
      .withColumn("new_span",
        when(col("covered") &&
          !coalesce(lag(col("covered"), 1).over(byDoc), lit(false)), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("tokens_removed"),
        sum(col("new_span")).as("n_spans"),
        md5(array_join(transform(
          sort_array(collect_list(when(!col("covered"),
            struct(col("tpos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("kept_fp"))
  }

  private val dd20Sql =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id,
      |    unnest(range(1, length(a) - 6)) AS pos,
      |    unnest(list_transform(range(1, length(a) - 6),
      |      i -> ('0x' || substr(md5(array_to_string(a[i:i+7], ' ')),
      |        1, 15))::BIGINT)) AS h
      |  FROM tk WHERE length(a) >= 8),
      |first_occ AS (
      |  SELECT h, min(doc_id * 1048576 + pos) AS first_occ
      |  FROM pos GROUP BY h),
      |red AS (
      |  SELECT p.doc_id, p.pos AS tpos, p.pos + 7 AS reach
      |  FROM pos p JOIN first_occ f USING (h)
      |  WHERE p.doc_id * 1048576 + p.pos > f.first_occ),
      |tokpos AS (
      |  SELECT doc_id, length(a) AS n_tokens,
      |    unnest(range(1, length(a) + 1)) AS tpos,
      |    unnest(a) AS tok
      |  FROM tk),
      |fl AS (
      |  SELECT doc_id, n_tokens, tpos, tok,
      |    coalesce(max(reach) OVER (PARTITION BY doc_id ORDER BY tpos ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= tpos,
      |      FALSE) AS covered
      |  FROM (
      |    SELECT t.doc_id, t.n_tokens, t.tpos, t.tok, r.reach
      |    FROM tokpos t LEFT JOIN red r
      |      ON t.doc_id = r.doc_id AND t.tpos = r.tpos) j),
      |sp AS (
      |  SELECT doc_id, n_tokens, tpos, tok, covered,
      |    CASE WHEN covered AND NOT coalesce(lag(covered) OVER
      |      (PARTITION BY doc_id ORDER BY tpos ASC), FALSE)
      |      THEN 1 ELSE 0 END AS new_span
      |  FROM fl)
      |SELECT doc_id, max(n_tokens) AS n_tokens,
      |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
      |    AS tokens_removed,
      |  CAST(sum(new_span) AS BIGINT) AS n_spans,
      |  md5(coalesce(array_to_string(
      |    list(tok ORDER BY tpos) FILTER (WHERE NOT covered), ' '), ''))
      |    AS kept_fp
      |FROM sp GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------------- dd21

  /** Core of dd21, parameterized for the spec: ExactSubstr removal at
    * window grain K over any (doc_id, text) frame. A positioned
    * K-token window is DUPLICATED iff its hash occurs ≥ 2 times in
    * the corpus — cross-doc or within-doc, unlike dd19's cross-doc-
    * only count — and EVERY occurrence is cut (the Lee et al. 2021
    * `deduplicate-text-datasets` default: each copy of a repeated
    * ≥K-token substring is itself repeated text, so all copies go;
    * dd20 is the keep-first variant). Coverage is the union of the
    * duplicated windows' [pos, pos+K−1] ranges per doc, merged into
    * maximal islands — a repeated 70-token paragraph is 21 overlapping
    * duplicated 50-windows but ONE 70-token span.
    *
    * Pipeline: tokenize → positioned window hashes (`md5h60_array`,
    * so only 8-byte keys + int positions shuffle) → occurrence-count
    * agg on the hash (map-side combined, skew-safe: a billion-copy
    * boilerplate window still reduces to one count) → join back →
    * per-doc running-max island window (dd19/dd20's shape, state one
    * long per doc) → re-assembly fingerprint of the survivors. */
  private[graft] def exactSubstrRemove(docs: DataFrame, K: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Tables.tokens(col("text")).as("a"))
    val positioned = toks.filter(size(col("a")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"md5h60_array(transform(sequence(1, size(a) - ${K - 1}), " +
          s"i -> concat_ws(' ', slice(a, i, $K))))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val dup = positioned.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("h"))
    val red = positioned.join(dup.hint("shuffle_hash"), Seq("h"))
      .select(col("doc_id"), col("pos").as("tpos"),
        (col("pos") + (K - 1)).as("reach"))
    val tokPos = toks
      .select(col("doc_id"), size(col("a")).as("n_tokens"),
        posexplode(col("a")))
      .select(col("doc_id"), col("n_tokens"),
        (col("pos") + 1).as("tpos"), col("col").as("tok"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("tpos").asc)
    tokPos.join(red.hint("shuffle_hash"), Seq("doc_id", "tpos"), "left")
      .withColumn("runreach", max(col("reach")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("covered",
        coalesce(col("runreach") >= col("tpos"), lit(false)))
      .withColumn("new_span",
        when(col("covered") &&
          !coalesce(lag(col("covered"), 1).over(byDoc), lit(false)), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(when(col("reach").isNotNull, 1L).otherwise(0L)).as("dup_windows"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("tokens_removed"),
        sum(col("new_span")).as("n_spans"),
        md5(array_join(transform(
          sort_array(collect_list(when(!col("covered"),
            struct(col("tpos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("kept_fp"))
  }

  /** dd21: EXACT-SUBSTRING dedup at the paper's own grain — Lee et al.
    * 2021's ExactSubstr with its published 50-token threshold,
    * restated as overlapping 50-token windows whose suffix keys (the
    * window hash = a bounded suffix prefix) group-by instead of a
    * monolithic suffix array. Completes the dedup ladder: dd9 fixed
    * chunks → dd19 cross-doc span DETECTION (k=8) → dd20 keep-first
    * removal → dd21 the all-copies removal the released tool performs
    * at the threshold the paper validated.
    *
    * The oracle is an INDEPENDENT re-derivation, not a restatement:
    * DuckDB groups the raw 50-token window STRINGS — no md5h60, no
    * shared hashing path — so a 60-bit collision on the engine side
    * would hash-fail the gate instead of hiding (window-pair odds
    * ≈ 2e-9 at this sf; a 100 TB deployment widens the key to the
    * full 128-bit digest, same plan).
    *
    * Scale: two fixed-width-key shuffles (window-hash count agg +
    * doc-keyed windows), candidates slim, payloads joined back —
    * identical survival shape to dd19/dd20; K only changes the
    * explode constant. */
  private def dd21(s: SparkSession, d: String): DataFrame =
    exactSubstrRemove(Tables.documents(s, d), 50)

  private val dd21Sql =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents),
      |win AS (
      |  SELECT doc_id,
      |    unnest(range(1, length(a) - 48)) AS pos,
      |    unnest(list_transform(range(1, length(a) - 48),
      |      i -> array_to_string(a[i:i+49], ' '))) AS g
      |  FROM tk WHERE length(a) >= 50),
      |dup AS (
      |  SELECT g FROM win GROUP BY g HAVING count(*) >= 2),
      |red AS (
      |  SELECT w.doc_id, w.pos AS tpos, w.pos + 49 AS reach
      |  FROM win w JOIN dup USING (g)),
      |tokpos AS (
      |  SELECT doc_id, length(a) AS n_tokens,
      |    unnest(range(1, length(a) + 1)) AS tpos,
      |    unnest(a) AS tok
      |  FROM tk),
      |fl AS (
      |  SELECT doc_id, n_tokens, tpos, tok, reach,
      |    coalesce(max(reach) OVER (PARTITION BY doc_id ORDER BY tpos ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= tpos,
      |      FALSE) AS covered
      |  FROM (
      |    SELECT t.doc_id, t.n_tokens, t.tpos, t.tok, r.reach
      |    FROM tokpos t LEFT JOIN red r
      |      ON t.doc_id = r.doc_id AND t.tpos = r.tpos) j),
      |sp AS (
      |  SELECT doc_id, n_tokens, tpos, tok, reach, covered,
      |    CASE WHEN covered AND NOT coalesce(lag(covered) OVER
      |      (PARTITION BY doc_id ORDER BY tpos ASC), FALSE)
      |      THEN 1 ELSE 0 END AS new_span
      |  FROM fl)
      |SELECT doc_id, max(n_tokens) AS n_tokens,
      |  CAST(count(reach) AS BIGINT) AS dup_windows,
      |  CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
      |    AS tokens_removed,
      |  CAST(sum(new_span) AS BIGINT) AS n_spans,
      |  md5(coalesce(array_to_string(
      |    list(tok ORDER BY tpos) FILTER (WHERE NOT covered), ' '), ''))
      |    AS kept_fp
      |FROM sp GROUP BY doc_id""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("dd1_exact_dedup", dd1, Some(dd1Sql),
      "exact dedup by md5 fingerprint, min-id keeper"),
    GateQuery("dd2_jaccard_blocked", dd2, Some(dd2Sql),
      "source-blocked exact bigram-shingle Jaccard >= 0.5 pairs"),
    GateQuery("dd3_minhash_lsh", dd3, Some(dd3Sql),
      "MinHash 16-perm, 4x4 LSH bands, exact-verified Jaccard >= 0.8"),
    GateQuery("dd4_simhash", dd4, Some(dd4Sql),
      "weighted 64-bit SimHash, 16-bit bands, hamming <= 3 pairs"),
    GateQuery("dd5_ensemble_verdict", dd5, Some(dd5Sql),
      "SimHash x embedding-cosine near-dup signals composed into one verdict"),
    GateQuery("dd6_dup_clusters", dd6, Some(dd6Sql),
      "connected-component cluster resolution over the near-dup pair graph"),
    GateQuery("dd7_contamination", dd7, Some(dd7Sql),
      "benchmark decontamination: >=3 shared shingles vs the broadcast holdout"),
    GateQuery("dd8_minhash_calibration", dd8, Some(dd8Sql),
      "measured MinHash Jaccard estimate vs exact, per exact-Jaccard decile"),
    GateQuery("dd9_chunk_dedup", dd9, Some(dd9Sql),
      "corpus-repeated 16-token-chunk removal + doc reassembly (line-level dedup)"),
    GateQuery("dd10_canonical_select", dd10, Some(dd10Sql),
      "quality-canonical keeper per duplicate cluster (keep<flag<drop, tokens, id)"),
    GateQuery("dd11_semantic_dedup", dd11, Some(dd11Sql),
      "SemDeDup decision: IVF-cell-blocked embedding neighbors, greedy quality domination"),
    GateQuery("dd12_cc_bigstar", dd12, Some(dd6Sql),
      "connected components via large-star/small-star: O(log n) rounds on any diameter"),
    GateQuery("dd13_incremental_dedup", dd13, Some(dd13Sql),
      "incremental ingest dedup: batch vs historical index, exact fp + SimHash bands"),
    GateQuery("dd14_soft_dedup", dd14, Some(dd14Sql),
      "soft dedup: keep all, weight 1000 div n_copies, dd1's canonical flagged"),
    GateQuery("dd15_containment_score", dd15, Some(dd15Sql),
      "per-doc benchmark containment permille + the >=70% contamination flag"),
    GateQuery("dd16_dedup_report", dd16, Some(dd16Sql),
      "the run report: clusters/docs/removed per cluster size, off the memoized table"),
    GateQuery("dd17_bloom_history", dd17, Some(dd17Sql),
      "bloom-prefiltered incremental dedup: 16 KiB bitmap probe, exact verify only for hits"),
    GateQuery("dd18_url_dedup", dd18, Some(dd18Sql),
      "URL-grain dedup over the shared canonicalizer: per-canonical copies, forms, keeper"),
    GateQuery("dd19_repeated_spans", dd19, Some(dd19Sql),
      "maximal cross-doc repeated token spans at 8-gram grain (exact-substring dedup)"),
    GateQuery("dd20_span_remove", dd20, Some(dd20Sql),
      "ExactSubstr removal: cut maximal repeated spans, keep-first canonical, kept-text fp"),
    GateQuery("dd21_exact_substring", dd21, Some(dd21Sql),
      "Lee et al. ExactSubstr at the 50-token threshold: all-copies removal, string-grain independent oracle"))
}
