package graft.operators

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators over `documents` — the selection/ordering
  * half of a training-data pipeline (SURVEY §7.5 north-star; the
  * cleaning half is TextAnalysis/Dedup): stratified sampling, weighted
  * source mixture, sequence packing into token-budget bins, and
  * weighted interleave ordering. These generalize the reference's
  * ranking machinery (W1 top-N-by-recency `youtube_api_handler.py:536`,
  * A3 type-distribution quotas `:989-1014`) from "pick the newest" to
  * "pick a reproducible random subset under a budget".
  *
  * Determinism contract: "random" everywhere means rank by
  * `md5('<salt>|' || doc_id)` — a per-gate salted content-free key both
  * engines compute identically, so sampling is reproducible across
  * engines, runs, AND cluster sizes (no rand(), no partition-index
  * dependence). That is exactly how production pipelines make a 100 TB
  * shuffle/sample reproducible: the permutation is a pure function of
  * the record key.
  *
  * Scale shape: every gate's only shuffle is one hash exchange on its
  * stratum key (lang / source / shard); the rank-≤-k filters compile to
  * WindowGroupLimit (Spark 3.5+), which prunes each map partition to
  * its local top-k BEFORE the exchange, so the shuffle carries O(k ×
  * strata) rows, not the corpus. cp4's global head is
  * TakeOrderedAndProject — per-partition top-k, never a global sort.
  */
object CorpusOps {

  /** The reproducible-permutation key: md5 over a salted doc_id. */
  private def rnd(salt: String): Column =
    md5(concat(lit(salt + "|"), col("doc_id").cast("string")))

  private def rndSql(salt: String): String = s"md5('$salt|' || doc_id)"

  /** Per-source weight for mixture/interleave gates, derived from the
    * numeric source suffix so both engines compute the dim without a
    * side file: weights cycle {2, 5, 8, 11} across src0..srcN. Built
    * as a distinct+derive dim (broadcast at join time) — the realistic
    * shape; at 100 TB the weights table is a real curated dim. */
  private def weightsDim(docs: DataFrame): DataFrame =
    docs.select("source").distinct()
      .withColumn("weight",
        lit(2) + (regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4) * 3)

  private val weightsSql =
    """w AS (
      |  SELECT DISTINCT source,
      |    2 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4) * 3 AS weight
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- cp1

  /** cp1: stratified sample — k=20 docs per language, chosen by the
    * reproducible permutation. The workhorse of corpus curation
    * (per-language caps, eval-set carving, mixture rebalancing).
    * Strata with < k docs keep everything (rank ≤ k takes all), so the
    * gate is total at every SF. */
  private def cp1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), rnd("cp1").as("rk"))
      .withColumn("samp_rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("rk"), col("doc_id"))))
      .filter(col("samp_rank") <= 20)
      .select("doc_id", "lang", "samp_rank")

  private val cp1Sql =
    s"""SELECT doc_id, lang, samp_rank FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY ${rndSql("cp1")}, doc_id) AS samp_rank
       |  FROM documents) t
       |WHERE samp_rank <= 20""".stripMargin

  // ---------------------------------------------------------------- cp2

  /** cp2: weighted source mixture — each source contributes its
    * weighted quota of documents (weight w → w picks), selected by the
    * reproducible permutation within the source. This is mixture
    * sampling by rate (the "40% web / 30% code / ..." recipe of every
    * LLM data mix), expressed as one broadcast dim join + one
    * stratum-ranked filter. */
  private def cp2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs
      .select(col("doc_id"), col("source"), rnd("cp2").as("rk"))
      .withColumn("pick_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))))
      .join(broadcast(weightsDim(docs)), "source")
      .filter(col("pick_rank") <= col("weight"))
      .select("doc_id", "source", "weight", "pick_rank")
  }

  private val cp2Sql =
    s"""WITH $weightsSql
       |SELECT doc_id, t.source, weight, pick_rank FROM (
       |  SELECT doc_id, source, row_number() OVER (
       |    PARTITION BY source ORDER BY ${rndSql("cp2")}, doc_id) AS pick_rank
       |  FROM documents) t JOIN w ON t.source = w.source
       |WHERE pick_rank <= weight""".stripMargin

  // ---------------------------------------------------------------- cp3

  /** cp3: sequence packing — the "greedy concat then chunk" packing
    * every trainer runs before batching: documents are dealt into 8
    * shards by the permutation key, ordered within their shard by the
    * same key, and cut into bins of 512 whitespace tokens by the
    * exclusive running total (a doc starting inside a bin belongs to
    * it, so bins overflow by at most one document — the standard
    * approximation that avoids bin-packing's sequential dependency).
    *
    * Scale: the shard is the parallelism unit (100 TB runs thousands
    * of shards); the running total is a per-shard window cumsum — no
    * global ordering anywhere. */
  private def cp3(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(Tables.tokens(col("text"))).as("n_tokens"),
        rnd("cp3").as("rk"))
      .withColumn("shard", pmod(conv(substring(col("rk"), 1, 15), 16, 10).cast("long"), lit(8)))
      .withColumn("pos", row_number().over(ord))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin_id", expr("(cum_tokens - n_tokens) div 512"))
      .select("doc_id", "shard", "pos", "n_tokens", "cum_tokens", "bin_id")
  }

  private val cp3Sql =
    s"""SELECT doc_id, shard, pos, n_tokens, cum_tokens,
       |  (cum_tokens - n_tokens) // 512 AS bin_id
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |    row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS pos,
       |    CAST(sum(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY rk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM (
       |    SELECT doc_id,
       |      length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |      ${rndSql("cp3")} AS rk,
       |      ('0x' || substr(${rndSql("cp3")}, 1, 15))::BIGINT % 8 AS shard
       |    FROM documents) b) t""".stripMargin

  // ---------------------------------------------------------------- cp4

  /** cp4: weighted interleave head — the deterministic merge order of
    * the mixture stream (tf.data-style `sample_from_datasets`): doc i
    * of a weight-w source surfaces at key i/w, so a weight-11 source
    * surfaces 5.5× as often as a weight-2 one; the gate emits the
    * first 100 documents a trainer would consume. The head is a
    * TakeOrderedAndProject (per-partition top-k) — the full stream is
    * never globally sorted; a consumer materializing the whole
    * interleave would instead range-partition on ikey. */
  private def cp4(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs
      .select(col("doc_id"), col("source"), rnd("cp4").as("rk"))
      .withColumn("src_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))))
      .join(broadcast(weightsDim(docs)), "source")
      .withColumn("ikey", col("src_rank").cast("double") / col("weight"))
      .orderBy(col("ikey").asc, col("doc_id").asc)
      .limit(100)
      .select("doc_id", "source", "src_rank", "ikey")
  }

  private val cp4Sql =
    s"""WITH $weightsSql
       |SELECT doc_id, t.source, src_rank,
       |  CAST(src_rank AS DOUBLE) / weight AS ikey
       |FROM (
       |  SELECT doc_id, source, row_number() OVER (
       |    PARTITION BY source ORDER BY ${rndSql("cp4")}, doc_id) AS src_rank
       |  FROM documents) t JOIN w ON t.source = w.source
       |ORDER BY ikey ASC, doc_id ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- cp5

  /** cp5: quality-ordered selection under a token budget — "fill
    * 2000 tokens per language with the best documents": docs are
    * ordered quality-bucket-first (keep < flagged < drop_short,
    * tx2's buckets), then by the reproducible permutation, and
    * selected while the running token total stays within budget (the
    * first over-budget doc is the cut — the data-selection twin of
    * cp3's packing rule). Emits every doc with its running total and
    * kept flag, so the rejected tail is auditable — at 100 TB the
    * sink partitions on `kept`. One shuffle (the lang window). */
  private def cp5(s: SparkSession, d: String): DataFrame = {
    val bucketRank =
      when(col("quality_bucket") === "keep", lit(0))
        .when(col("quality_bucket") === "drop_short", lit(3))
        .otherwise(lit(1)) // the two flag_* buckets tie mid-priority
    val ord = Window.partitionBy(col("lang"))
      .orderBy(col("brank"), col("rk"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(Tables.tokens(col("text"))).as("n_tokens"),
        regexp_count(col("text"), lit("[^a-z0-9\\s]")).as("punct_cnt"),
        regexp_count(col("text"), lit("\\b(the|a)\\b")).as("stopword_cnt"),
        rnd("cp5").as("rk"))
      .withColumn("quality_bucket", TextAnalysis.qualityBucket(
        col("n_tokens"), col("stopword_cnt"), col("punct_cnt")))
      .withColumn("brank", bucketRank)
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("kept", col("cum_tokens") <= 2000)
      .select("doc_id", "lang", "quality_bucket", "n_tokens", "cum_tokens", "kept")
  }

  private val cp5Sql = {
    val bucketSql = TextAnalysis.qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt")
    s"""SELECT doc_id, lang, quality_bucket, n_tokens, cum_tokens,
       |  cum_tokens <= 2000 AS kept
       |FROM (
       |  SELECT doc_id, lang, quality_bucket, n_tokens,
       |    CAST(sum(n_tokens) OVER (
       |      PARTITION BY lang ORDER BY brank, rk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM (
       |    SELECT doc_id, lang, n_tokens, quality_bucket,
       |      CASE quality_bucket WHEN 'keep' THEN 0 WHEN 'drop_short' THEN 3
       |        ELSE 1 END AS brank,
       |      ${rndSql("cp5")} AS rk
       |    FROM (
       |      SELECT doc_id, lang, n_tokens,
       |        $bucketSql AS quality_bucket
       |      FROM (
       |        SELECT doc_id, lang,
       |          length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |          length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt,
       |          length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt
       |        FROM documents) c) q) b) t""".stripMargin
  }

  // ---------------------------------------------------------------- cp6

  /** cp6: packed-sequence MANIFEST — the artifact a trainer actually
    * reads: for every (shard, bin) of cp3's packing, the ordered
    * doc_id list (the concatenation order inside the training
    * sequence), document count, and exact token total. Exercises
    * ordered re-assembly (sort_array over collected (pos, doc_id)
    * structs — the engine-portable spelling of DuckDB's
    * `list(... ORDER BY pos)`), which no other gate covers.
    *
    * Scale shape: one groupBy on (shard, bin_id) downstream of cp3's
    * per-shard window — the group state is a bin's own members (≤ a
    * few docs by construction of the 512-token budget), so collect_
    * list is bounded; the manifest row count is corpus_tokens/512,
    * written once and consumed every epoch. */
  private def cp6(s: SparkSession, d: String): DataFrame =
    cp3(s, d)
      .groupBy(col("shard"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("pos"), col("doc_id")))),
          x => x.getField("doc_id").cast("string"))).as("doc_list"))

  private val cp6Sql =
    s"""SELECT shard, bin_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       |  array_to_string(list(doc_id ORDER BY pos), ',') AS doc_list
       |FROM (${cp3Sql.replace("\n", "\n  ")}) packed
       |GROUP BY shard, bin_id""".stripMargin

  // ---------------------------------------------------------------- cp8

  /** cp8: EPOCH training order — the last artifact between the
    * manifest and the GPUs: every epoch re-shuffles cp6's bins
    * deterministically (order key = md5(epoch|shard|bin), cp4's
    * salted-hash discipline, so the "random" order reproduces across
    * engines, runs, and restarts) and hands each shard reader its own
    * sequence. The sequence is per (epoch, shard) — how distributed
    * loaders actually consume data (shard-parallel readers, one
    * stream each) — NEVER a global row_number: a total order over all
    * bins would be la1's single-partition sort at corpus scale, and
    * no trainer needs it. Two epochs are materialized; the epoch
    * count is a constant fan-out, not a parameter of the plan shape.
    *
    * Scale shape: manifest × epochs is a narrow explode;
    * the only exchange is the (epoch, shard) window partition —
    * thousands of independent partitions at 100 TB. */
  private def cp8(s: SparkSession, d: String): DataFrame =
    cp6(s, d)
      .select(col("shard"), col("bin_id"), col("n_docs"), col("bin_tokens"),
        explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("ekey",
        md5(concat_ws("|", col("epoch"), col("shard"), col("bin_id"))))
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("ekey"), col("bin_id"))))
      .select("epoch", "shard", "seq", "bin_id", "n_docs", "bin_tokens")

  private val cp8Sql =
    s"""SELECT epoch, shard,
       |  row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY md5(epoch || '|' || shard || '|' || bin_id), bin_id) AS seq,
       |  bin_id, n_docs, bin_tokens
       |FROM (${cp6Sql.replace("\n", "\n  ")}) m,
       |  (SELECT unnest(range(2)) AS epoch) e""".stripMargin

  // ---------------------------------------------------------------- cp9

  /** cp9: span-corruption sample generation — the denoising-objective
    * transform (T5/BART family) that turns curated text into (input,
    * target) training pairs: deterministically mask every token at
    * position (pos + doc_id) ≡ 0 (mod 7) — the salt-by-doc_id keeps
    * the mask pattern "random" across docs yet exactly reproducible
    * in any engine, cp4's discipline applied to the objective — emit
    * the masked text as `input`, the masked-out tokens in order as
    * `target`, and the mask count. Pure narrow projection: the
    * index-aware `transform`/`filter` lambdas run per row; nothing
    * shuffles, so the op composes with cp3's packing at any scale. */
  private def cp9(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("tk", Tables.tokens(col("text")))
      .select(col("doc_id"),
        array_join(expr(
          "transform(tk, (x, i) -> CASE WHEN (i + doc_id) % 7 = 0 THEN '<X>' ELSE x END)"),
          " ").as("input"),
        array_join(expr(
          "filter(transform(tk, (x, i) -> CASE WHEN (i + doc_id) % 7 = 0 THEN x END), " +
            "x -> x IS NOT NULL)"), " ").as("target"),
        size(expr("filter(tk, (x, i) -> (i + doc_id) % 7 = 0)")).as("n_masked"),
        size(col("tk")).as("n_tokens"))

  private val cp9Sql =
    """SELECT doc_id,
      |  array_to_string(list_transform(range(len(tk)),
      |    i -> CASE WHEN (i + doc_id) % 7 = 0 THEN '<X>' ELSE tk[i+1] END),
      |    ' ') AS input,
      |  array_to_string(list_filter(list_transform(range(len(tk)),
      |    i -> CASE WHEN (i + doc_id) % 7 = 0 THEN tk[i+1] ELSE NULL END),
      |    x -> x IS NOT NULL), ' ') AS target,
      |  len(list_filter(range(len(tk)), i -> (i + doc_id) % 7 = 0)) AS n_masked,
      |  len(tk) AS n_tokens
      |FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |      FROM documents) t""".stripMargin

  // --------------------------------------------------------------- cp10

  /** cp10: train/validation/test split — the assignment every dataset
    * release ships: each document hashes into one of 100 buckets
    * (salted md5, cp4's reproducible-permutation key, so membership
    * is a pure function of doc_id — stable under corpus growth,
    * re-sharding, and engine choice) and buckets map 98/1/1 to
    * train/validation/test. Emitted per document (the auditable
    * artifact; the 3-row summary is a trivial rollup). Narrow map —
    * at 100 TB the split costs nothing and never needs a shuffle or
    * a registry of past assignments. */
  private def cp10(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        pmod(conv(substring(rnd("split"), 1, 15), 16, 10).cast("long"),
          lit(100)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 98, lit("train"))
          .when(col("bucket") === 98, lit("validation"))
          .otherwise(lit("test")))

  private val cp10Sql =
    s"""SELECT doc_id, bucket,
       |  CASE WHEN bucket < 98 THEN 'train'
       |       WHEN bucket = 98 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id,
       |    ('0x' || substr(${rndSql("split")}, 1, 15))::BIGINT % 100 AS bucket
       |  FROM documents) t""".stripMargin

  // ---------------------------------------------------------------- cp7

  /** cp7: the END-TO-END corpus pipeline as ONE lazy plan — what "a
    * user of the reference switches to this library" actually runs:
    * quality + language-ID + exact-dedup decisions (tx7), benchmark
    * decontamination flags (dd7, applied AFTER dedup — the ordering
    * the dd7 probe proved matters: duplicated corpora inflate
    * contamination quadratically), and the survivors packed into
    * 512-token training bins (cp3's shard-local window). Every doc
    * gets a final_decision; kept docs also get (shard, pos, bin_id).
    * No intermediate materialization — Catalyst sees the whole
    * pipeline and schedules it as one job graph.
    *
    * Scale shape: inherits its stages' shapes — narrow quality maps,
    * one fingerprint window, broadcast benchmark shingles, shard-local
    * packing windows; the final assembly is a left join on doc_id
    * (hash, corpus-proportional both sides). */
  private def cp7(s: SparkSession, d: String): DataFrame = {
    val dec = TextAnalysis.tx7(s, d).select(col("doc_id"), col("decision"))
    // decontaminate AFTER dedup+quality: only survivors reach the
    // shingle join (flags on dropped docs would be discarded below
    // anyway — same labels, ~dedup-ratio× less contamination work)
    val contaminated = Dedup.contamination(s, d,
        corpusKeep = Some(dec.filter(col("decision") === "kept")
          .select(col("doc_id"))))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // cont is overlap-bounded but not provably broadcastable at 100 TB
    // — pin the hash join statically (AQE upgrades it to broadcast at
    // small SF; the Initial Plan must never carry an SMJ either way)
    val labeled = dec.join(contaminated.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("final_decision",
        when(col("decision") === "kept" && col("contaminated"),
          lit("contaminated")).otherwise(col("decision")))
      .select(col("doc_id"), col("final_decision"))
    val ord = Window.partitionBy(col("shard")).orderBy(col("rkk"), col("doc_id"))
    // corpus-proportional × corpus-proportional joins: hash on the
    // shuffle, never sort-merge (same rule as dd2/sim12)
    val packed = labeled.filter(col("final_decision") === "kept")
      .join(Tables.documents(s, d).select(col("doc_id"),
        size(Tables.tokens(col("text"))).as("n_tokens"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("rkk", rnd("cp7"))
      .withColumn("shard",
        pmod(conv(substring(col("rkk"), 1, 15), 16, 10).cast("long"), lit(8)))
      .withColumn("pos", row_number().over(ord))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin_id", expr("(cum_tokens - n_tokens) div 512"))
      .select(col("doc_id"), col("shard"), col("pos"), col("bin_id"))
    labeled.join(packed.hint("shuffle_hash"), Seq("doc_id"), "left")
  }

  private val cp7Sql =
    s"""WITH dec AS (${TextAnalysis.tx7Sql}),
       |cont AS (
       |  SELECT DISTINCT doc_id FROM (${Dedup.dd7Sql}) x
       |  WHERE doc_id IN (SELECT doc_id FROM dec WHERE decision = 'kept')),
       |lab AS (
       |  SELECT d.doc_id,
       |    CASE WHEN d.decision = 'kept' AND c.doc_id IS NOT NULL
       |      THEN 'contaminated' ELSE d.decision END AS final_decision
       |  FROM dec d LEFT JOIN cont c ON d.doc_id = c.doc_id),
       |kept AS (
       |  SELECT l.doc_id, t.n_tokens, md5('cp7|' || l.doc_id) AS rkk,
       |    ('0x' || substr(md5('cp7|' || l.doc_id), 1, 15))::BIGINT % 8 AS shard
       |  FROM lab l JOIN (
       |    SELECT doc_id,
       |      length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
       |    FROM documents) t ON l.doc_id = t.doc_id
       |  WHERE l.final_decision = 'kept'),
       |packed AS (
       |  SELECT doc_id, shard, pos, (cum_tokens - n_tokens) // 512 AS bin_id
       |  FROM (
       |    SELECT doc_id, shard, n_tokens,
       |      row_number() OVER (PARTITION BY shard ORDER BY rkk, doc_id) AS pos,
       |      CAST(sum(n_tokens) OVER (
       |        PARTITION BY shard ORDER BY rkk, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS cum_tokens
       |    FROM kept) w)
       |SELECT l.doc_id, l.final_decision, p.shard, p.pos, p.bin_id
       |FROM lab l LEFT JOIN packed p ON l.doc_id = p.doc_id""".stripMargin

  // ---------------------------------------------------------------- cp11

  /** cp11: TEMPERATURE-sampled mixture allocation — the multilingual
    * sampling law (p_l ∝ n_l^α) every large multilingual run uses to
    * keep head languages from drowning the tail (XLM's α≈0.5, mT5's
    * α=0.3 family). Per language: doc/token counts, the α=0.5 weight
    * `isqrt(n_docs)`, its permille share, the flattened allocation of
    * a 100 000-token budget, and the raw (α=1) share for contrast —
    * the artifact a loader broadcasts to drive sampling.
    *
    * α is fixed at 0.5 deliberately: IEEE-754 `sqrt` is CORRECTLY
    * ROUNDED (the one transcendental-ish op with that guarantee), so
    * `floor(sqrt(bigint))` is bit-identical across engines, where
    * `pow(n, 0.3)` is libm-dependent and would break cross-engine
    * hashing. Shares/allocations are integer `div` — exact.
    *
    * Scale shape: one map-side-combined groupBy to ≈|languages| rows,
    * then a 1-row total anchor broadcast back over the tiny dim —
    * corpus scanned once, nothing corpus-sized ever shuffles. */
  private def cp11(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Tables.tokens(col("text"))).cast("long")).as("n_tokens"))
      .withColumn("weight",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val tot = counts.agg(sum(col("weight")).as("w_sum"),
      sum(col("n_docs")).as("doc_sum"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("weight"),
        expr("(weight * 1000) div w_sum").as("share_permille"),
        expr("(weight * 100000) div w_sum").as("alloc_tokens"),
        expr("(n_docs * 1000) div doc_sum").as("raw_share_permille"))
  }

  private val cp11Sql =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |      AS n_tokens,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM documents GROUP BY lang),
      |tot AS (
      |  SELECT CAST(sum(weight) AS BIGINT) AS w_sum,
      |    CAST(sum(n_docs) AS BIGINT) AS doc_sum FROM counts)
      |SELECT lang, n_docs, n_tokens, weight,
      |  (weight * 1000) // w_sum AS share_permille,
      |  (weight * 100000) // w_sum AS alloc_tokens,
      |  (n_docs * 1000) // doc_sum AS raw_share_permille
      |FROM counts, tot""".stripMargin

  // ---------------------------------------------------------------- cp12

  /** cp12: BALANCED deterministic resampling — cp11 computes the
    * mixture law; this gate EXECUTES a resample: every language is
    * thinned to (approximately) the smallest language's size by
    * deterministic Bernoulli acceptance — a doc is kept iff its
    * salted-md5 permille falls below its language's acceptance
    * threshold `n_min·1000 div n_l`. The per-doc coin is a pure
    * function of doc_id (cp1/cp10's reproducibility discipline), so
    * the SAME docs are accepted on any engine, any cluster size, any
    * re-run — importance-style downsampling without an assignment
    * registry. Every doc is emitted with its coin, threshold, and
    * verdict so the rejected tail is auditable (cp5's pattern).
    *
    * Scale shape: the language-count dim (≈|langs| rows, with the
    * 1-row min folded in) broadcasts back over the corpus; the
    * verdict is then a pure narrow map — the only exchange is the
    * map-side-combined count agg. At 100 TB: one scan + one bounded
    * agg + one broadcast, nothing corpus-sized shuffles. */
  private def cp12(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    val dim = counts.crossJoin(broadcast(nMin))
      .select(col("lang"), col("n_lang"),
        expr("(n_min * 1000) div n_lang").as("accept_permille"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .join(broadcast(dim), Seq("lang"))
      .withColumn("coin_permille",
        pmod(conv(substring(rnd("cp12"), 1, 15), 16, 10).cast("long"),
          lit(1000)))
      .withColumn("accepted", col("coin_permille") < col("accept_permille"))
      .select("doc_id", "lang", "n_lang", "accept_permille", "coin_permille",
        "accepted")
  }

  private val cp12Sql =
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      |dim AS (
      |  SELECT lang, n_lang,
      |    ((SELECT min(n_lang) FROM counts) * 1000) // n_lang AS accept_permille
      |  FROM counts)
      |SELECT doc_id, d.lang, n_lang, accept_permille,
      |  coin_permille, coin_permille < accept_permille AS accepted
      |FROM (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(""".stripMargin + rndSql("cp12") +
    """, 1, 15))::BIGINT % 1000 AS coin_permille
      |  FROM documents) d
      |JOIN dim ON dim.lang = d.lang""".stripMargin

  // ---------------------------------------------------------------- cp13

  /** cp13: JSONL INTERCHANGE round-trip — JSON-lines is the wire
    * format LLM corpora actually move in (every public dataset ships
    * as .jsonl shards), so the engine must prove LOSSLESS passage
    * through it: the documents table is written as JSONL, read back
    * under the explicit schema, and rolled up per source with exact
    * integer text/lang fingerprint sums (md5-prefix mod a prime —
    * order-free, overflow-safe) plus row and char totals. The oracle
    * computes the identical rollup straight from the parquet —
    * equality proves no document was lost, duplicated, or mangled
    * (encoding, escaping, null handling) crossing the format.
    *
    * MUTATING gate (la9's discipline): writes a fresh tmp dir,
    * materializes the ≤|sources|-row rollup, deletes the dir.
    *
    * Scale shape: the write is a narrow scan fanned over input
    * partitions; the read-back is schema-pinned (no sampling
    * inference pass — at 100 TB, inference is a full extra scan);
    * the rollup is one map-side-combined agg to |sources| rows. */
  private def cp13(s: SparkSession, d: String): DataFrame = {
    TmpDirs.withRoot(s, "cp13") { dir =>
    val docs = Tables.documents(s, d)
    docs.write.mode("overwrite").json(dir)
    val back = s.read.schema(docs.schema).json(dir)
    val rolled = back.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("chars"),
      sum(expr("cast(conv(substring(md5(text),1,8),16,10) as bigint) % 1000003")
        .cast("long")).as("text_fp_sum"),
      sum(expr("cast(conv(substring(md5(lang),1,8),16,10) as bigint) % 1000003")
        .cast("long")).as("lang_fp_sum"))
    val out = rolled.collect()
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
    s.createDataFrame(java.util.Arrays.asList(out: _*), rolled.schema)
  }}

  private val cp13Sql =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT % 1000003) AS BIGINT) AS text_fp_sum,
      |  CAST(sum(('0x' || substr(md5(lang), 1, 8))::BIGINT % 1000003) AS BIGINT) AS lang_fp_sum
      |FROM documents GROUP BY source""".stripMargin

  // --------------------------------------------------------------- cp14

  /** cp14: SPLIT-LEAKAGE audit — the check every dataset release runs
    * after cutting cp10's train/validation/test split: how much of
    * each held-out document's shingle set also occurs ANYWHERE in the
    * train split? Hash-stable splits prevent ASSIGNMENT drift, but
    * near-duplicate documents that straddle the cut still leak
    * content from train into the eval sets (the reason dedup runs
    * before splitting); this gate measures that leakage at dd15's
    * containment grain, per held-out doc, with the ≥ 700 ‰ flag.
    *
    * Scale shape: deliberately DIFFERENT from dd15's broadcast
    * asymmetry — the train side is ~98 % of the corpus, so its
    * distinct shingle universe is corpus-sized and can never
    * broadcast. The membership check is a slim BIG-BIG hash join on
    * the shingle hash (two longs per row through the exchange),
    * pinned shuffle-hash; the held-out side is ~2 % of the corpus so
    * the per-doc regroup is small. One shingle definition repo-wide
    * ([[Dedup.shingleCols]]) — a tokenizer change moves this audit
    * with the dedup pass. */
  private def cp14(s: SparkSession, d: String): DataFrame = {
    // Both doc_id joins pinned shuffle-hash: each side is corpus-
    // proportioned (shingle sets / split buckets / per-doc hit counts),
    // so neither broadcasts at scale, and sorting corpus-sized streams
    // for an SMJ buys nothing a hash join doesn't — the suite-wide
    // plan lint (PlanShapeSpec) holds every gate to that standard.
    val tagged = Dedup.shingled(s, d)
      .join(
        Tables.documents(s, d).select(col("doc_id"),
          pmod(conv(substring(rnd("split"), 1, 15), 16, 10).cast("long"),
            lit(100)).as("bucket")).hint("shuffle_hash"),
        Seq("doc_id"))
      .withColumn("split",
        when(col("bucket") < 98, lit("train"))
          .when(col("bucket") === 98, lit("validation"))
          .otherwise(lit("test")))
    val trainU = tagged.filter(col("split") === "train")
      .select(explode(col("shingles")).as("sh"))
      .select(xxhash64(col("sh")).as("sh_h")).distinct()
    val holdout = tagged.filter(col("split") =!= "train")
    val hits = holdout
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("sh_h"))
      .join(trainU.hint("shuffle_hash"), Seq("sh_h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    holdout
      .select(col("doc_id"), col("split"), col("sz").cast("long").as("n_shingles"))
      .join(hits.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("CASE WHEN n_shingles > 0 THEN " +
          "(coalesce(n_hit, 0) * 1000) div n_shingles ELSE 0 END")
          .as("leakage_permille"))
      .withColumn("leaked", col("leakage_permille") >= 700)
  }

  private val cp14Sql = "WITH " + Dedup.shingledSql +
    s""", sp AS (
       |  SELECT doc_id,
       |    ('0x' || substr(${rndSql("split")}, 1, 15))::BIGINT % 100 AS bucket
       |  FROM documents),
       |tagged AS (
       |  SELECT sh.doc_id, sh.shingles,
       |    CASE WHEN bucket < 98 THEN 'train'
       |         WHEN bucket = 98 THEN 'validation' ELSE 'test' END AS split
       |  FROM sh JOIN sp ON sh.doc_id = sp.doc_id),
       |trainu AS (
       |  SELECT DISTINCT ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
       |  FROM (SELECT unnest(shingles) AS shingle FROM tagged
       |        WHERE split = 'train') t),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hit
       |  FROM (
       |    SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h
       |    FROM (SELECT doc_id, unnest(shingles) AS shingle FROM tagged
       |          WHERE split <> 'train') u) x
       |  JOIN trainu USING (sh_h)
       |  GROUP BY doc_id)
       |SELECT doc_id, split, n_shingles, n_hit, leakage_permille,
       |  leakage_permille >= 700 AS leaked
       |FROM (
       |  SELECT t.doc_id, t.split, len(t.shingles) AS n_shingles,
       |    coalesce(h.n_hit, 0) AS n_hit,
       |    CASE WHEN len(t.shingles) > 0
       |      THEN (coalesce(h.n_hit, 0) * 1000) // len(t.shingles) ELSE 0 END
       |      AS leakage_permille
       |  FROM tagged t LEFT JOIN hits h ON h.doc_id = t.doc_id
       |  WHERE t.split <> 'train') z""".stripMargin

  /** cp15: the DATASET CARD — the per-source datasheet a curation team
    * publishes next to a corpus release ("Datasheets for Datasets";
    * every open LLM corpus ships one): volume (docs/tokens/chars),
    * language spread (distinct langs + modal language), quality
    * composition (keep share), and redundancy (exact-dup share), all
    * from the SAME shared definitions the pipeline gates use —
    * [[TextAnalysis.qualityBucket]] thresholds, [[TextAnalysis.contentFp]]
    * dedup key — so the card can never drift from the passes it
    * summarizes. Exact integer permilles; the modal language pins ties
    * by (count desc, lang asc).
    *
    * Scale shape: three corpus scans reduce map-side to source-grain
    * dims (base rollup; (source, lang) counts; (source, fp) dup
    * groups) — the only corpus-sized exchange is the fingerprint one,
    * dd1's cost — and the final assembly joins ≤|sources|-row dims
    * broadcast. Output is |sources| rows: the 100 TB card costs one
    * pass more than the dedup run it reports on. */
  private def cp15(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("lang"), col("n_chars"),
      size(Tables.tokens(col("text"))).as("n_tokens"),
      regexp_count(col("text"), lit("[^a-z0-9\\s]")).as("punct_cnt"),
      regexp_count(col("text"), lit("\\b(the|a)\\b")).as("stopword_cnt"),
      TextAnalysis.contentFp(col("text")).as("fp"))
      .withColumn("quality", TextAnalysis.qualityBucket(
        col("n_tokens"), col("stopword_cnt"), col("punct_cnt")))
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens").cast("long")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("quality") === "keep", 1L).otherwise(0L)).as("keep_docs"))
    val langCnt = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("ln"))
    val topLang = langCnt
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("ln").desc, col("lang").asc)))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    val nLangs = langCnt.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"))
    val dupDocs = docs.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .groupBy(col("source")).agg(sum(col("n")).cast("long").as("dup_docs"))
    base
      .join(broadcast(nLangs), Seq("source"))
      .join(broadcast(topLang), Seq("source"))
      .join(broadcast(dupDocs), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("top_lang"),
        expr("(keep_docs * 1000) div n_docs").as("keep_permille"),
        expr("(coalesce(dup_docs, 0L) * 1000) div n_docs").as("dup_permille"))
  }

  private val cp15Sql =
    s"""WITH docs AS (
       |  SELECT doc_id, source, lang, n_chars,
       |    length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt,
       |    length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt,
       |    ${TextAnalysis.contentFpSql} AS fp
       |  FROM documents),
       |q AS (
       |  SELECT *, ${TextAnalysis.qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt")} AS quality
       |  FROM docs),
       |base AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(CASE WHEN quality = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS keep_docs
       |  FROM q GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS ln FROM docs GROUP BY source, lang),
       |top AS (
       |  SELECT source, lang AS top_lang FROM (
       |    SELECT source, lang, row_number() OVER (PARTITION BY source
       |      ORDER BY ln DESC, lang ASC) AS rk FROM lc) t WHERE rk = 1),
       |nl AS (SELECT source, count(*) AS n_langs FROM lc GROUP BY source),
       |dup AS (
       |  SELECT source, CAST(sum(n) AS BIGINT) AS dup_docs FROM (
       |    SELECT source, fp, count(*) AS n FROM docs GROUP BY source, fp) g
       |  WHERE n > 1 GROUP BY source)
       |SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, nl.n_langs, top.top_lang,
       |  (b.keep_docs * 1000) // b.n_docs AS keep_permille,
       |  (coalesce(dup.dup_docs, 0) * 1000) // b.n_docs AS dup_permille
       |FROM base b
       |JOIN nl ON nl.source = b.source
       |JOIN top ON top.source = b.source
       |LEFT JOIN dup ON dup.source = b.source""".stripMargin

  // --------------------------------------------------------------- cp16

  /** cp16: CURRICULUM PACING — the clean-first training-order policy
    * (quality-ascending curricula à la data-pruning/curriculum-LM
    * setups): documents order by (quality-bucket priority, token
    * count, doc_id) — clean and short first — and the running token
    * total cuts the corpus into 4 equal-budget PHASES; the output is
    * the per-phase audit (docs, tokens, bucket mix) a training run
    * logs before consuming the schedule. The curriculum property —
    * later phases carry the noisier buckets — falls out of the
    * ordering and is visible in the rollup.
    *
    * The SCALE SHAPE is the point: a per-doc global running sum is
    * the classic single-partition-window trap at corpus scale. This
    * gate computes the exact global prefix sum DISTRIBUTED — range-
    * repartition on the (unique) sort key, per-partition running sums
    * under a partition-local window, plus a ≤|partitions|-row offset
    * dim (cumulative per-partition totals, the 1-row-anchor class)
    * broadcast back. With a unique total order, partition boundaries
    * cannot split ties, so offset + local prefix ≡ global prefix
    * EXACTLY regardless of where the sampled range boundaries land —
    * the determinism argument that makes the two-pass prefix sum
    * safe to hash-compare. The oracle is the plain global window.
    *
    * Scale shape: one range exchange (the sort a curriculum needs
    * anyway), partition-local windows, a 32-row offset collect;
    * output is 4 rows. */
  private def cp16(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      size(Tables.tokens(col("text"))).as("n_tokens"),
      TextAnalysis.qualityBucket(
        size(Tables.tokens(col("text"))),
        regexp_count(col("text"), lit("\\b(the|a)\\b")),
        regexp_count(col("text"), lit("[^a-z0-9\\s]"))).as("bucket"))
      .withColumn("prio",
        when(col("bucket") === "keep", 0)
          .when(col("bucket").startsWith("flag"), 1).otherwise(2))
    // materialize the quality signals ONCE before the range exchange:
    // repartitionByRange runs a boundary-SAMPLING pass over its child
    // in addition to the exchange itself, and the offset dim + final
    // pass are two more consumers — on the lazy plan each of the four
    // would re-run the regex scan (measured 100 s at the 100× probe;
    // 24 s with the signals checkpointed). The narrow (doc_id,
    // n_tokens, bucket, prio) rows are the curriculum's working set —
    // payload text never enters the exchange.
    val sig = base.localCheckpoint()
    // the range layout is ALSO checkpointed: every consumer (offset
    // dim, final pass) must read the SAME materialized partitioning —
    // repartitionByRange re-SAMPLES boundaries per execution, and two
    // executions with different boundaries would break the
    // offset + local-prefix ≡ global-prefix identity (observed as a
    // phantom 5th phase at the 100× probe)
    val ranged = sig
      .repartitionByRange(32, col("prio"), col("n_tokens"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // ≤32-row offset dim: cumulative token total of all partitions
    // BEFORE each one (partition order = range order by construction)
    val offsets = ranged.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("ptoks"))
      .withColumn("offset",
        coalesce(sum(col("ptoks")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val wLocal = org.apache.spark.sql.expressions.Window.partitionBy(col("pid"))
      .orderBy(col("prio").asc, col("n_tokens").asc, col("doc_id").asc)
    val total = sig.agg(sum(col("n_tokens"))).head().getLong(0)
    val phaseBudget = total / 4 + 1
    ranged
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("offset") + col("local_cum"))
      .withColumn("phase", expr(s"(cum - n_tokens) div ${phaseBudget}L"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("bucket") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("bucket").startsWith("flag"), 1L).otherwise(0L)).as("n_flag"),
        sum(when(col("prio") === 2, 1L).otherwise(0L)).as("n_drop"))
  }

  private val cp16Sql = {
    val qb = TextAnalysis.qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |    length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt,
       |    length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, n_tokens, $qb AS bucket,
       |    CASE WHEN $qb = 'keep' THEN 0
       |         WHEN $qb LIKE 'flag%' THEN 1 ELSE 2 END AS prio
       |  FROM base),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 4 + 1 AS budget FROM q),
       |c AS (
       |  SELECT *, CAST(sum(n_tokens) OVER (
       |      ORDER BY prio ASC, n_tokens ASC, doc_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM q)
       |SELECT (cum - n_tokens) // budget AS phase,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN bucket = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  CAST(sum(CASE WHEN bucket LIKE 'flag%' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_flag,
       |  CAST(sum(CASE WHEN prio = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop
       |FROM c, tot GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------- cp17

  /** cp17: SYSTEMATIC PPS SAMPLING — draw n documents with inclusion
    * probability proportional to size (the Horvitz-Thompson workhorse
    * for corpus audits, eval-set cuts and per-batch spot checks:
    * sampling docs uniformly UNDER-represents the tokens long docs
    * contribute; sampling ∝ chars makes the sample token-representative
    * with n fixed). The classic sequential algorithm — walk the
    * cumulative-weight line and take one doc at every step-sized grid
    * point — looks inherently serial; here it runs as pure plan
    * algebra on cp16's DISTRIBUTED exact prefix sum: documents take a
    * reproducible md5 permutation order (decorrelated from size, the
    * rnd(salt) discipline), range-repartition + partition-local
    * windows + the ≤32-row offset dim give every doc its exact global
    * cumulative weight `cum`, and doc i is selected with multiplicity
    * = #(grid points in (cum−w, cum]) = min(cum, n·step) div step −
    * min(cum−w, n·step) div step — all BIGINT, so both engines agree
    * bit-for-bit (no u^(1/w) floating-point keys, the cross-engine
    * trap the A-Res spelling would carry). The min(·, n·step) clamp
    * pins EXACTLY n grid points even when total mod n ≠ 0; a doc with
    * w ≥ step is always selected (hits ≥ 1) — the PPS certainty
    * stratum.
    *
    * Scale shape: one narrow scan + one range exchange of (id, w, rk)
    * rows + two bounded aggs; OUTPUT is ≤ n rows at ANY corpus size
    * (the sample, not the corpus, leaves the cluster). At 100 TB the
    * only growing cost is the range exchange of 3-column rows. */
  private def cp17(s: SparkSession, d: String): DataFrame = {
    val n = 100L
    val base = Tables.documents(s, d).select(
      col("doc_id"), col("source"), col("lang"),
      greatest(col("n_chars"), lit(1L)).as("w"),
      rnd("cp17").as("rk"))
    // same two-checkpoint discipline as cp16: the boundary-sampling
    // pass and every downstream consumer must see ONE materialized
    // layout or offset + local-prefix ≠ global-prefix
    val sig = base.localCheckpoint()
    val ranged = sig.repartitionByRange(32, col("rk"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = ranged.groupBy(col("pid"))
      .agg(sum(col("w")).as("pw"))
      .withColumn("offset",
        coalesce(sum(col("pw")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("offset"))
    val total = sig.agg(sum(col("w"))).head().getLong(0)
    val step = total / n
    require(step > 0, s"corpus weight $total below the sample size $n")
    val grid = step * n
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(col("rk").asc, col("doc_id").asc)
    ranged
      .withColumn("local_cum", sum(col("w")).over(wLocal))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("offset") + col("local_cum"))
      .withColumn("hits", expr(
        s"least(cum, ${grid}L) div ${step}L - least(cum - w, ${grid}L) div ${step}L"))
      .filter(col("hits") >= 1)
      .select(col("doc_id"), col("source"), col("lang"),
        col("w"), col("cum"), col("hits"))
  }

  private val cp17Sql =
    s"""WITH w AS (
       |  SELECT doc_id, source, lang,
       |    greatest(n_chars, 1) AS w, ${rndSql("cp17")} AS rk
       |  FROM documents),
       |tot AS (
       |  SELECT CAST(sum(w) AS BIGINT) // 100 AS step FROM w),
       |c AS (
       |  SELECT *, CAST(sum(w) OVER (
       |      ORDER BY rk ASC, doc_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM w)
       |SELECT doc_id, source, lang, CAST(w AS BIGINT) AS w, cum,
       |  least(cum, step * 100) // step
       |    - least(cum - w, step * 100) // step AS hits
       |FROM c, tot
       |WHERE least(cum, step * 100) // step
       |    - least(cum - w, step * 100) // step >= 1""".stripMargin

  // ---------------------------------------------------------------- cp18

  /** cp18: WATER-FILLING token-budget allocation — the capped
    * equal-share fixed point cp11's proportional mixture cannot
    * express: give every source the SAME number of tokens (the water
    * level λ) except sources whose whole corpus fits under λ, which
    * contribute everything they have; their surplus re-floods the
    * rest. This is the standard budget law when small sources must
    * not be over-weighted by proportionality (DoReMi-style mixture
    * tuning starts from exactly this allocation). The fixed point is
    * CLOSED-FORM, no iteration: sort sources by available tokens
    * ascending; the saturated set is a PREFIX (if a bigger source
    * fits under the level, every smaller one did too — monotone in
    * the sort order), and prefix k saturates iff
    * `P(k−1) + a_k·(n−k+1) ≤ B` (all smaller sources fully taken,
    * the rest at least a_k each) — integer-exact, division-free.
    * With j saturated sources the level is `(B − P(j)) div (n−j)`
    * and the floor remainder is reported as `leftover`.
    *
    * Scale shape: the corpus is touched ONCE (the per-source token
    * count, map-side combined to ≤|sources| rows); everything after
    * — the sort window, the prefix sum, the saturation scan — runs
    * on the bounded source dim, so the single-partition window is a
    * dim-grain sort, not a corpus sort (contrast cp16, which needs
    * its prefix sum AT the corpus grain and therefore distributes
    * it). At 100 TB this plan is one scan + one tiny agg. */
  private def cp18(s: SparkSession, d: String): DataFrame = {
    // Everything after the corpus agg is WINDOW algebra over the
    // bounded source dim — one plan branch, so the corpus is scanned
    // ONCE (a multi-branch agg/crossJoin formulation re-scans the
    // corpus per branch); the three Window nodes share the one
    // single-partition (dim-grain) sort.
    val byAvail = Window.orderBy(col("avail").asc, col("source").asc)
    val whole = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(Tables.tokens(col("text"))).cast("long")).as("avail"))
      .withColumn("pos", row_number().over(byAvail).cast("long"))
      .withColumn("prefix", sum(col("avail")).over(byAvail))
      .withColumn("n_src", count(lit(1)).over(whole))
      .withColumn("total_tok", sum(col("avail")).over(whole))
      .withColumn("budget", expr("total_tok div 3"))
      .withColumn("fits",
        expr("prefix - avail + avail * (n_src - pos + 1) <= budget"))
      .withColumn("j", sum(when(col("fits"), 1L).otherwise(0L)).over(whole))
      .withColumn("p_j", sum(when(col("fits"), col("avail"))).over(whole))
      .withColumn("level", expr(
        "CASE WHEN j < n_src THEN (budget - coalesce(p_j, 0L)) div (n_src - j) END"))
      .withColumn("alloc",
        when(col("fits"), col("avail")).otherwise(col("level")))
      .withColumn("leftover", expr(
        """CASE WHEN j < n_src
          |  THEN budget - coalesce(p_j, 0L) - level * (n_src - j)
          |  ELSE budget - p_j END""".stripMargin))
      .select(col("source"), col("avail"), col("pos"),
        col("fits").as("saturated"), col("alloc"), col("budget"),
        col("level"), col("leftover"))
  }

  private val cp18Sql =
    """WITH counts AS (
      |  SELECT source,
      |    CAST(sum(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |      AS avail
      |  FROM documents GROUP BY source),
      |ranked AS (
      |  SELECT source, avail,
      |    CAST(row_number() OVER (ORDER BY avail ASC, source ASC) AS BIGINT)
      |      AS pos,
      |    CAST(sum(avail) OVER (ORDER BY avail ASC, source ASC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      |  FROM counts),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_src,
      |    CAST(sum(avail) AS BIGINT) AS total_tok FROM counts),
      |base AS (
      |  SELECT r.source, r.avail, r.pos, r.prefix, t.n_src,
      |    t.total_tok // 3 AS budget,
      |    r.prefix - r.avail + r.avail * (t.n_src - r.pos + 1)
      |      <= t.total_tok // 3 AS fits
      |  FROM ranked r, tot t),
      |sat AS (
      |  SELECT CAST(sum(CASE WHEN fits THEN 1 ELSE 0 END) AS BIGINT) AS j,
      |    CAST(sum(CASE WHEN fits THEN avail END) AS BIGINT) AS p_j
      |  FROM base)
      |SELECT b.source, b.avail, b.pos, b.fits AS saturated,
      |  CASE WHEN b.fits THEN b.avail
      |       ELSE (b.budget - coalesce(s.p_j, 0)) // (b.n_src - s.j) END
      |    AS alloc,
      |  b.budget,
      |  CASE WHEN s.j < b.n_src
      |    THEN (b.budget - coalesce(s.p_j, 0)) // (b.n_src - s.j) END AS level,
      |  CASE WHEN s.j < b.n_src
      |    THEN b.budget - coalesce(s.p_j, 0)
      |      - ((b.budget - coalesce(s.p_j, 0)) // (b.n_src - s.j))
      |        * (b.n_src - s.j)
      |    ELSE b.budget - s.p_j END AS leftover
      |FROM base b, sat s""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("cp1_stratified_sample", cp1, Some(cp1Sql),
      "deterministic per-language k-sample via salted-md5 permutation"),
    GateQuery("cp2_weighted_mixture", cp2, Some(cp2Sql),
      "weighted source-mixture selection against a broadcast weights dim"),
    GateQuery("cp3_sequence_pack", cp3, Some(cp3Sql),
      "shard-local packing into 512-token bins via window cumsum"),
    GateQuery("cp4_interleave_head", cp4, Some(cp4Sql),
      "weighted interleave order of the mixture stream, first 100 docs"),
    GateQuery("cp5_budget_select", cp5, Some(cp5Sql),
      "quality-ordered per-language selection under a 2000-token budget"),
    GateQuery("cp6_pack_manifest", cp6, Some(cp6Sql),
      "per-bin ordered doc_id manifest of the packed sequences (ordered collect)"),
    GateQuery("cp7_full_pipeline", cp7, Some(cp7Sql),
      "end-to-end prep: quality+dedup decisions, decontamination, survivor packing"),
    GateQuery("cp8_epoch_order", cp8, Some(cp8Sql),
      "per-epoch deterministic bin reshuffle, sequenced per (epoch, shard) reader"),
    GateQuery("cp9_span_corrupt", cp9, Some(cp9Sql),
      "denoising-objective sample generation: salted deterministic masking -> (input, target)"),
    GateQuery("cp10_dataset_split", cp10, Some(cp10Sql),
      "hash-stable 98/1/1 train/validation/test assignment per document"),
    GateQuery("cp11_temperature_mixture", cp11, Some(cp11Sql),
      "alpha=0.5 temperature-sampled language mixture via IEEE-exact isqrt weights"),
    GateQuery("cp12_balanced_resample", cp12, Some(cp12Sql),
      "deterministic Bernoulli thinning to the smallest language's size (auditable)"),
    GateQuery("cp14_split_leakage", cp14, Some(cp14Sql),
      "train->holdout shingle-leakage audit over cp10's split: big-big slim hash join, per-doc permille"),
    GateQuery("cp13_jsonl_interchange", cp13, Some(cp13Sql),
      "MUTATING lossless JSONL round-trip: write + schema-pinned read-back vs the parquet truth"),
    GateQuery("cp15_dataset_card", cp15, Some(cp15Sql),
      "per-source dataset card: volume, language spread, quality + dup shares from shared defs"),
    GateQuery("cp16_curriculum_phases", cp16, Some(cp16Sql),
      "clean-first curriculum pacing via a DISTRIBUTED exact global prefix sum (range partitions + offset dim)"),
    GateQuery("cp17_pps_sample", cp17, Some(cp17Sql),
      "systematic PPS sampling: n grid points over the distributed cumulative-weight line, integer-exact, output ≤ n"),
    GateQuery("cp18_water_fill", cp18, Some(cp18Sql),
      "water-filling budget allocation: capped equal-share fixed point, closed-form saturated prefix, integer-exact"))
}
