package graft.operators

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over `documents` (SURVEY §7.5; generalizes
  * the reference's string machinery P3-P8: regex extraction
  * youtube_api_handler.py:848-860, URL/category normalization :862-889,
  * language analysis :1094-1152) into the LLM-training-data toolkit:
  * token stats, quality scoring, n-gram language-ID, fingerprinting,
  * and n-gram frequency.
  *
  * Everything is built-in string/regex/higher-order-array Column
  * expressions — no UDFs, stays inside whole-stage codegen except the
  * higher-order array ops (explode is a Generator; fine). Narrow
  * per-row maps shuffle only at the final aggregations.
  */
object TextAnalysis {

  /** Whitespace-normalized exact-content fingerprint — THE dedup key,
    * shared by dd1 (Dedup), tx5 and tx7 so the normalization can never
    * drift between the gates that must agree on it. */
  private[graft] def contentFp(text: Column): Column =
    md5(regexp_replace(trim(text), "\\s+", " "))

  /** SQL mirror of [[contentFp]] over a column named `text`. */
  private[operators] val contentFpSql: String =
    "md5(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  /** Quality keep/flag/drop bucket (C4/Gopher-style thresholds),
    * shared by tx2 and tx7. */
  private[graft] def qualityBucket(
      nTokens: Column, stopwordCnt: Column, punctCnt: Column): Column =
    when(nTokens < 10, lit("drop_short"))
      .when(stopwordCnt * 5L > nTokens, lit("flag_stopword_heavy"))
      .when(punctCnt * 4L > nTokens, lit("flag_punct_heavy"))
      .otherwise(lit("keep"))

  /** SQL mirror of [[qualityBucket]]. */
  private[graft] def qualityBucketSql(
      n: String, stop: String, punct: String): String =
    s"CASE WHEN $n < 10 THEN 'drop_short' " +
      s"WHEN $stop * 5 > $n THEN 'flag_stopword_heavy' " +
      s"WHEN $punct * 4 > $n THEN 'flag_punct_heavy' ELSE 'keep' END"

  /** BPE-ish pre-tokenizer regex (the GPT-2 pattern family, minus the
    * apostrophe contractions the synthetic corpus lacks): a token is a
    * letter run, a digit run, or a symbol run, each with an optional
    * leading space. Alternatives are disjoint by first char class, so
    * Java regex (Spark) and RE2 (DuckDB) match identically. */
  private val BpePat = " ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+"

  /** tx1: token statistics (tokenization + counting): whitespace
    * tokens, BPE-ish regex tokens, chars, non-space chars, avg token
    * length (one IEEE division) — the "token counting" primitive of a
    * data pipeline. */
  private def tx1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).as("len_chars"),
      size(Tables.tokens(col("text"))).as("n_tokens"),
      regexp_count(col("text"), lit(BpePat)).as("n_bpe_tokens"),
      length(regexp_replace(col("text"), "\\s", "")).as("nonspace_chars"))
      .withColumn("avg_token_len",
        col("nonspace_chars").cast("double") / col("n_tokens"))

  private val tx1Sql =
    s"""SELECT doc_id, n_chars, length(text) AS len_chars,
      |  length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
      |  length(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+')) AS n_bpe_tokens,
      |  length(regexp_replace(text, '\\s', '', 'g')) AS nonspace_chars,
      |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
      |    / length(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len
      |FROM documents""".stripMargin

  /** tx2: quality scoring (length/punct/stopword heuristics — the
    * C4/Gopher-style filters): per doc, counts of punctuation,
    * digits, stopwords ('the'/'a' in the synthetic vocab), repetition
    * (max single-token share), and a keep/flag/drop bucket. Integer
    * counts + single-division ratios keep it bit-deterministic. */
  private def tx2(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      Tables.tokens(col("text")).as("tk"),
      regexp_count(col("text"), lit("[^a-z0-9\\s]")).as("punct_cnt"),
      regexp_count(col("text"), lit("[0-9]")).as("digit_cnt"),
      regexp_count(col("text"), lit("\\b(the|a)\\b")).as("stopword_cnt"))
      .withColumn("n_tokens", size(col("tk")))
      // repetition: the most frequent single token's count (Gopher's
      // intra-doc repetition family). The distinct×filter fold is
      // O(tokens²) per doc — fine at ≤100 tokens/doc; a long-document
      // corpus would sort-and-run-length instead.
      .withColumn("max_token_cnt", expr(
        "array_max(transform(array_distinct(tk), t -> size(filter(tk, x -> x = t))))"))
      .withColumn("stopword_ratio",
        col("stopword_cnt").cast("double") / col("n_tokens"))
      .withColumn("rep_ratio",
        col("max_token_cnt").cast("double") / col("n_tokens"))
      .withColumn("quality_bucket",
        qualityBucket(col("n_tokens"), col("stopword_cnt"), col("punct_cnt")))
      .drop("tk")
      .select("doc_id", "n_tokens", "punct_cnt", "digit_cnt", "stopword_cnt",
        "max_token_cnt", "stopword_ratio", "rep_ratio", "quality_bucket")

  private val tx2Sql =
    """SELECT doc_id, n_tokens, punct_cnt, digit_cnt, stopword_cnt, max_token_cnt,
      |  CAST(stopword_cnt AS DOUBLE) / n_tokens AS stopword_ratio,
      |  CAST(max_token_cnt AS DOUBLE) / n_tokens AS rep_ratio,
      |  """.stripMargin +
      qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt") +
      """ AS quality_bucket
      |FROM (
      |  SELECT doc_id,
      |    length(a) AS n_tokens,
      |    list_max(list_transform(list_distinct(a),
      |      t -> len(list_filter(a, x -> x = t)))) AS max_token_cnt,
      |    length(regexp_extract_all(text, '[^a-z0-9\s]')) AS punct_cnt,
      |    length(regexp_extract_all(text, '[0-9]')) AS digit_cnt,
      |    length(regexp_extract_all(text, '\b(the|a)\b')) AS stopword_cnt
      |  FROM (SELECT doc_id, text,
      |          regexp_split_to_array(trim(text), '\s+') AS a
      |        FROM documents) s) t""".stripMargin

  /** tx3: n-gram-heuristic language ID (P7/A5 machinery as a
    * classifier): marker-token scores per candidate language, argmax
    * with a fixed precedence tie-break (en > es > de > fr > zh —
    * strict > comparisons make precedence exact). The markers are
    * deliberately overlapping; determinism, not accuracy, is the
    * contract (the synthetic corpus shares one vocab). */
  private def langScores: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|data|fast|query)\\b",
    "es" -> "\\b(table|part|slow)\\b",
    "de" -> "\\b(spark|group|line)\\b",
    "fr" -> "\\b(batch|hash|value)\\b",
    "zh" -> "\\b(big|dup|sort)\\b")

  /** Adds one `score_<lang>` marker-count column per candidate. */
  private def withLangScores(df: DataFrame): DataFrame =
    langScores.foldLeft(df) {
      case (acc, (l, pat)) =>
        acc.withColumn(s"score_$l", regexp_count(col("text"), lit(pat)))
    }

  /** Argmax with precedence over the `score_*` columns: a language
    * wins only if strictly greater than every earlier
    * (higher-precedence) language's score. Shared by tx3 and tx7. */
  private def guessLangCol: Column =
    langScores.map(_._1).zipWithIndex.foldRight(lit("en")) {
      case ((l, i), rest) =>
        val earlier = langScores.map(_._1).take(i)
        val beatsEarlier = earlier.foldLeft(lit(true)) { (acc, e) =>
          acc && col(s"score_$l") > col(s"score_$e")
        }
        val atLeastLater = langScores.map(_._1).drop(i + 1).foldLeft(lit(true)) { (acc, e) =>
          acc && col(s"score_$l") >= col(s"score_$e")
        }
        when(beatsEarlier && atLeastLater, lit(l)).otherwise(rest)
    }

  /** SQL mirror of [[guessLangCol]] (nested CASE). */
  private def guessLangSql: String = {
    val langs = langScores.map(_._1)
    langs.zipWithIndex.foldRight("'en'") { case ((l, i), rest) =>
      val earlier = langs.take(i).map(e => s"score_$l > score_$e")
      val later = langs.drop(i + 1).map(e => s"score_$l >= score_$e")
      val cond = (earlier ++ later).mkString(" AND ")
      if (cond.isEmpty) s"'$l'"
      else s"CASE WHEN $cond THEN '$l' ELSE $rest END"
    }
  }

  private def tx3(s: SparkSession, d: String): DataFrame = {
    val scored = withLangScores(
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")))
    scored
      .withColumn("guess_lang", guessLangCol)
      .withColumn("is_match", col("guess_lang") === col("lang"))
      .drop("text")
  }

  /** SQL score columns mirror (RE2 \b works like Java \b for ASCII). */
  private def scoreColsSql: String =
    langScores.map { case (l, pat) =>
      s"length(regexp_extract_all(text, '$pat')) AS score_$l"
    }.mkString(",\n    ")

  private val tx3Sql =
    s"""SELECT doc_id, lang, score_en, score_es, score_de, score_fr, score_zh,
       |  guess_lang, guess_lang = lang AS is_match
       |FROM (
       |  SELECT *, $guessLangSql AS guess_lang FROM (
       |    SELECT doc_id, lang,
       |    $scoreColsSql
       |    FROM documents) s) g""".stripMargin

  /** tx4: language-ID evaluation — confusion-matrix rollup of tx3
    * (labeled lang × guess), with per-cell share of the labeled
    * language's total. */
  private def tx4(s: SparkSession, d: String): DataFrame =
    tx3(s, d)
      .groupBy(col("lang"), col("guess_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total", sum(col("n")).over(Window.partitionBy(col("lang"))))
      .withColumn("share_pct", col("n").cast("double") * 100 / col("lang_total"))

  private val tx4Sql =
    s"""SELECT lang, guess_lang, n,
       |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
       |  CAST(n AS DOUBLE) * 100 / CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_pct
       |FROM (
       |  SELECT lang, guess_lang, count(*) AS n FROM (${tx3Sql.replace("\n", "\n  ")}) t
       |  GROUP BY lang, guess_lang) c""".stripMargin

  /** tx5: document fingerprinting (P11 md5 cache-key shape → content
    * fingerprints): md5 of whitespace-normalized text, a 60-bit
    * integer fingerprint (hex prefix of the md5 — portable to any
    * engine with md5), and a 256-way shard bucket — the partition key
    * a 100 TB dedup would shuffle on. */
  private def tx5(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), contentFp(col("text")).as("fp_md5"))
      .withColumn("fp64", conv(substring(col("fp_md5"), 1, 15), 16, 10).cast("long"))
      .withColumn("shard", pmod(col("fp64"), lit(256)))
      // Karp-Rabin-style rolling hash over the word stream: per-word
      // value from cheap char features, folded left with base 1000003
      // mod 2^31−1 — an order-SENSITIVE fingerprint (vs the md5 of the
      // full text): engines replicate it as the identical fold.
      .withColumn("fp_roll", expr(
        "aggregate(" +
          "transform(split(trim(text), '\\\\s+'), w -> length(w) * 96L + ascii(substring(w, 1, 1))), " +
          "0L, (acc, v) -> (acc * 1000003L + v) % 2147483647L)"))
      .drop("text")

  private val tx5Sql =
    """SELECT doc_id, fp_md5,
      |  ('0x' || substr(fp_md5, 1, 15))::BIGINT AS fp64,
      |  ('0x' || substr(fp_md5, 1, 15))::BIGINT % 256 AS shard,
      |  list_reduce(
      |    list_concat([CAST(0 AS BIGINT)],
      |      list_transform(regexp_split_to_array(trim(text), '\s+'),
      |        w -> length(w) * 96 + ascii(substr(w, 1, 1)))),
      |    (acc, v) -> (acc * 1000003 + v) % 2147483647) AS fp_roll
      |FROM (
      |  SELECT doc_id, text,
      |    """.stripMargin + contentFpSql + """ AS fp_md5
      |  FROM documents) t""".stripMargin

  /** tx6: top-20 token bigrams corpus-wide (n-gram frequency — the
    * S6/S7 one-row→many-rows generator shape): per-doc bigram arrays
    * via `zip_with` of two slices (measured 8× faster than a
    * `transform(sequence(...), i -> element_at ...)` lambda, see
    * Dedup.shingled), explode, global count, top-20 with bigram
    * tie-break. The explode is the only fan-out; the count is
    * map-side combined. */
  private def tx6(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(Tables.tokens(col("text")).as("toks")) // split ONCE per doc
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
          "(x, y) -> concat(x, ' ', y))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)

  private val tx6Sql =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, length(t.a)),
      |    i -> t.a[i] || ' ' || t.a[i+1])) AS bigram
      |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS a
      |        FROM documents) t) b
      |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- tx7

  /** tx7: the whole training-data prep funnel as ONE pipeline — the
    * composition a pipeline user actually runs: per document, language
    * guess (tx3's scorer), quality bucket (tx2's heuristics), exact
    * content fingerprint (dd1's normalization) and canonical-copy
    * selection, folded into a final keep/drop decision with the drop
    * reason (duplicate beats quality, mirroring "dedup before filter"
    * cost order — a duplicate is dropped as a duplicate regardless of
    * quality).
    *
    * Scale shape: every per-doc column computes in ONE narrow pass
    * over the corpus (no joins between the tx2/tx3/dd1 derivations —
    * composing their gate queries would re-scan the corpus three
    * times); the only shuffle is the fingerprint window for
    * min-doc_id canonical selection, the same single exchange dd1
    * pays. Decision rows are what downstream writers consume
    * (partitionBy(decision) at the sink). */
  private[operators] def tx7(s: SparkSession, d: String): DataFrame = {
    val base = withLangScores(Tables.documents(s, d).select(col("doc_id"), col("text")))
      .withColumn("n_tokens", size(Tables.tokens(col("text"))))
      .withColumn("punct_cnt", regexp_count(col("text"), lit("[^a-z0-9\\s]")))
      .withColumn("stopword_cnt", regexp_count(col("text"), lit("\\b(the|a)\\b")))
      .withColumn("fp", contentFp(col("text")))
    base
      .withColumn("guess_lang", guessLangCol)
      .withColumn("quality_bucket",
        qualityBucket(col("n_tokens"), col("stopword_cnt"), col("punct_cnt")))
      .withColumn("is_canonical",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .withColumn("decision",
        when(!col("is_canonical"), lit("duplicate"))
          .when(col("quality_bucket") =!= "keep", col("quality_bucket"))
          .otherwise(lit("kept")))
      .select("doc_id", "guess_lang", "n_tokens", "quality_bucket",
        "is_canonical", "decision")
  }

  private[operators] val tx7Sql =
    s"""SELECT doc_id, guess_lang, n_tokens, quality_bucket, is_canonical,
       |  CASE WHEN NOT is_canonical THEN 'duplicate'
       |       WHEN quality_bucket <> 'keep' THEN quality_bucket
       |       ELSE 'kept' END AS decision
       |FROM (
       |  SELECT doc_id, guess_lang, n_tokens, quality_bucket,
       |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS is_canonical
       |  FROM (
       |    SELECT doc_id, $guessLangSql AS guess_lang, n_tokens,
       |      ${qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt")}
       |        AS quality_bucket,
       |      fp
       |    FROM (
       |      SELECT doc_id,
       |        $scoreColsSql,
       |        length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |        length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt,
       |        length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt,
       |        $contentFpSql AS fp
       |      FROM documents) s) q) w""".stripMargin

  // ---------------------------------------------------------------- tx8

  /** tx8: KMV (k-minimum-values) cardinality sketch — distinct-count
    * ESTIMATION with a deterministic estimator, next to the exact
    * answer it approximates. At 100 TB `count(distinct fp)` is a
    * corpus-wide exchange; the KMV estimate needs only the k smallest
    * distinct hash values (k = 32 here): if the k-th smallest of D
    * uniform 60-bit hashes is h(k), then D ≈ (k−1)·2^60 / h(k)
    * (Bar-Yossef et al.). Unlike HLL (whose register layout is
    * engine-private, so approx_count_distinct can never oracle-match),
    * KMV over the shared md5-prefix hash is bit-deterministic in any
    * engine. One row: exact vs estimate vs relative error — the gate
    * proves the estimator, the docstring carries the law. Strata with
    * fewer than k distinct values degrade gracefully (k_eff = D and
    * the estimate trends exact-ish).
    *
    * Scale shape: the sketch side is the custom bounded-state
    * `kmv_kmin` aggregate ([[graft.functions.KmvKMin]], a
    * TypedImperativeAggregate): O(k) sorted-set state per partition,
    * k-vs-k merges, one k-long array through a SinglePartition
    * exchange — where the composed `distinct → orderBy → limit(k)`
    * would shuffle EVERY distinct hash corpus-wide before discarding
    * all but k (the output is bit-identical, so the oracle runs the
    * composed SQL). The exact side is the expensive comparator the
    * sketch exists to replace. */
  private def tx8(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.documents(s, d).select(
      conv(substring(contentFp(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    val sketch = fps.agg(expr("kmv_kmin(h, 32)").as("km"))
      .select(size(col("km")).cast("long").as("k_eff"),
        expr("km[size(km) - 1]").as("kth_min"))
    val exact = fps.agg(
      count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_distinct"))
    exact.crossJoin(sketch) // two 1-row anchors
      .withColumn("est_distinct",
        (col("k_eff") - 1).cast("double") * lit(1152921504606846976.0) /
          col("kth_min").cast("double"))
      .withColumn("err_pct",
        abs(col("est_distinct") - col("n_distinct")) * 100 /
          col("n_distinct").cast("double"))
  }

  private val tx8Sql =
    s"""WITH f AS (
       |  SELECT ('0x' || substr($contentFpSql, 1, 15))::BIGINT AS h
       |  FROM documents),
       |sk AS (
       |  SELECT count(*) AS k_eff, max(h) AS kth_min FROM (
       |    SELECT DISTINCT h FROM f ORDER BY h ASC LIMIT 32) km),
       |ex AS (SELECT count(*) AS n_docs, count(DISTINCT h) AS n_distinct FROM f)
       |SELECT n_docs, n_distinct, k_eff, kth_min,
       |  CAST(k_eff - 1 AS DOUBLE) * 1152921504606846976.0
       |    / CAST(kth_min AS DOUBLE) AS est_distinct,
       |  abs(CAST(k_eff - 1 AS DOUBLE) * 1152921504606846976.0
       |    / CAST(kth_min AS DOUBLE) - n_distinct) * 100
       |    / CAST(n_distinct AS DOUBLE) AS err_pct
       |FROM ex, sk""".stripMargin

  /** tx12: GROUPED KMV — tx8's cardinality sketch per language, the
    * shape a curation dashboard actually runs ("distinct docs per
    * stratum" across thousands of strata). The payoff over tx8's
    * single row is structural: `kmv_kmin` as a grouped aggregate
    * keeps O(k) state PER GROUP inside one ordinary hash-agg pass
    * (map-side partials, k-vs-k merges), while the exact
    * count(distinct) comparator must carry every distinct (lang, fp)
    * pair through its exchange — at 100 TB the sketch column costs
    * |strata|·k longs and the exact column is the corpus. Estimator
    * math and the <k degradation are tx8's (shared docstring law). */
  private def tx12(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.documents(s, d).select(col("lang"),
      conv(substring(contentFp(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    val sketch = fps.groupBy(col("lang")).agg(expr("kmv_kmin(h, 32)").as("km"))
      .select(col("lang"), size(col("km")).cast("long").as("k_eff"),
        expr("km[size(km) - 1]").as("kth_min"))
    val exact = fps.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_distinct"))
    exact.join(broadcast(sketch), Seq("lang"))
      .withColumn("est_distinct",
        (col("k_eff") - 1).cast("double") * lit(1152921504606846976.0) /
          col("kth_min").cast("double"))
      .withColumn("err_pct",
        abs(col("est_distinct") - col("n_distinct")) * 100 /
          col("n_distinct").cast("double"))
  }

  private val tx12Sql =
    s"""WITH f AS (
       |  SELECT lang, ('0x' || substr($contentFpSql, 1, 15))::BIGINT AS h
       |  FROM documents),
       |rk AS (
       |  SELECT lang, h, row_number() OVER (
       |      PARTITION BY lang ORDER BY h ASC) AS rn
       |  FROM (SELECT DISTINCT lang, h FROM f) d),
       |sk AS (
       |  SELECT lang, count(*) AS k_eff, max(h) AS kth_min
       |  FROM rk WHERE rn <= 32 GROUP BY lang),
       |ex AS (
       |  SELECT lang, count(*) AS n_docs, count(DISTINCT h) AS n_distinct
       |  FROM f GROUP BY lang)
       |SELECT ex.lang, n_docs, n_distinct, k_eff, kth_min,
       |  CAST(k_eff - 1 AS DOUBLE) * 1152921504606846976.0
       |    / CAST(kth_min AS DOUBLE) AS est_distinct,
       |  abs(CAST(k_eff - 1 AS DOUBLE) * 1152921504606846976.0
       |    / CAST(kth_min AS DOUBLE) - n_distinct) * 100
       |    / CAST(n_distinct AS DOUBLE) AS err_pct
       |FROM ex JOIN sk ON ex.lang = sk.lang""".stripMargin

  // --------------------------------------------------------------- tx18

  /** tx18: KMV sketch MERGE — the property that makes the sketch a
    * DISTRIBUTED primitive, executed as data: per-source sketches
    * (each O(k), buildable shard-local) merge by re-sketching the
    * union of their k-min sets, and the merged estimate is EXACTLY
    * the direct whole-corpus sketch's. That's the KMV mergeability
    * theorem (any global k-min value is also a k-min within its own
    * source, so no information is lost at the shard boundary) — the
    * reason a 1000-executor cluster can sketch 100 TB with one
    * k-long array per shard and a driver-side k-vs-k merge, where
    * count(distinct) must shuffle every distinct value. The gate
    * emits both spellings' (k_eff, kth_min) plus a `merge_lossless`
    * equality flag the oracle re-derives — a false would be a
    * mergeability violation, failing both engines loudly.
    *
    * Scale shape: the per-source leg is tx12's grouped bounded-state
    * agg (O(k) per source); the merge leg explodes |sources|·k longs
    * — sketch-sized, never corpus-sized — through one more kmv_kmin;
    * the direct leg and exact comparator are tx8's. */
  private def tx18(s: SparkSession, d: String): DataFrame = {
    val fps = Tables.documents(s, d).select(col("source"),
      conv(substring(contentFp(col("text")), 1, 15), 16, 10).cast("long").as("h"))
    val perSource = fps.groupBy(col("source"))
      .agg(expr("kmv_kmin(h, 32)").as("km"))
    val merged = perSource
      .select(explode(col("km")).as("h"))
      .agg(expr("kmv_kmin(h, 32)").as("km"))
      .select(size(col("km")).cast("long").as("m_k_eff"),
        expr("km[size(km) - 1]").as("m_kth_min"))
    val direct = fps.agg(expr("kmv_kmin(h, 32)").as("km"))
      .select(size(col("km")).cast("long").as("d_k_eff"),
        expr("km[size(km) - 1]").as("d_kth_min"))
    val nSources = perSource.agg(count(lit(1)).as("n_sources"))
    val exact = fps.agg(countDistinct(col("h")).as("n_distinct"))
    exact.crossJoin(nSources).crossJoin(merged).crossJoin(direct) // 1-row anchors
      .withColumn("est_distinct",
        (col("m_k_eff") - 1).cast("double") * lit(1152921504606846976.0) /
          col("m_kth_min").cast("double"))
      .withColumn("merge_lossless",
        col("m_k_eff") === col("d_k_eff") && col("m_kth_min") === col("d_kth_min"))
  }

  private val tx18Sql =
    s"""WITH f AS (
       |  SELECT source, ('0x' || substr($contentFpSql, 1, 15))::BIGINT AS h
       |  FROM documents),
       |rk AS (
       |  SELECT source, h, row_number() OVER (
       |      PARTITION BY source ORDER BY h ASC) AS rn
       |  FROM (SELECT DISTINCT source, h FROM f) d),
       |mg AS (
       |  SELECT count(*) AS m_k_eff, max(h) AS m_kth_min FROM (
       |    SELECT DISTINCT h FROM rk WHERE rn <= 32
       |    ORDER BY h ASC LIMIT 32) u),
       |dr AS (
       |  SELECT count(*) AS d_k_eff, max(h) AS d_kth_min FROM (
       |    SELECT DISTINCT h FROM f ORDER BY h ASC LIMIT 32) km),
       |ns AS (SELECT count(DISTINCT source) AS n_sources FROM f),
       |ex AS (SELECT count(DISTINCT h) AS n_distinct FROM f)
       |SELECT n_distinct, n_sources, m_k_eff, m_kth_min, d_k_eff, d_kth_min,
       |  CAST(m_k_eff - 1 AS DOUBLE) * 1152921504606846976.0
       |    / CAST(m_kth_min AS DOUBLE) AS est_distinct,
       |  m_k_eff = d_k_eff AND m_kth_min = d_kth_min AS merge_lossless
       |FROM ex, ns, mg, dr""".stripMargin

  // ---------------------------------------------------------------- tx9

  /** tx9: exact per-language length quantiles (p50/p90/p99) by rank
    * selection — the corpus length profile every curation run reads
    * before setting truncation budgets. No percentile_* built-ins
    * (their interpolation rules differ across engines): the selected
    * value is the one AT rank ⌈q·n⌉ under a total (n_tokens, doc_id)
    * order, computed with integer arithmetic only — bit-identical
    * everywhere, and the window rank + count share one exchange on
    * lang. At 100 TB this is the same single shuffle; a skew-prone
    * stratum would sub-aggregate into per-bucket counts first. */
  private def tx9(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    val ranked = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), size(Tables.tokens(col("text"))).as("n_tokens"))
      .withColumn("rk", row_number().over(w.orderBy(col("n_tokens"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
    val quantiles = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
    ranked
      .select(col("lang"), col("n_tokens"), col("rk"), col("n"),
        explode(array(quantiles.map { case (l, qn, qd) =>
          struct(lit(l).as("q"), expr(s"(n * $qn + ${qd - 1}) div $qd").as("target"))
        }: _*)).as("qt"))
      .filter(col("rk") === col("qt.target"))
      .select(col("lang"), col("qt.q").as("quantile"), col("n").as("n_docs"),
        col("rk").as("sel_rank"), col("n_tokens"))
  }

  private val tx9Sql =
    """SELECT lang, q.q AS quantile, n AS n_docs, rk AS sel_rank, n_tokens
      |FROM (
      |  SELECT lang, n_tokens,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM (
      |    SELECT lang, doc_id,
      |      length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      |    FROM documents) b) t,
      |  (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)) q(q, qn, qd)
      |WHERE rk = (n * qn + qd - 1) // qd""".stripMargin

  /** tx10: OOV (out-of-vocabulary) rate against an INDUCED corpus
    * vocabulary — the standard "is this document in-distribution"
    * quality signal: induce the top-K tokens by corpus frequency
    * (tie-broken lexically), then per document count tokens outside
    * it. High OOV = noisy/foreign/garbled text; the signal a tokenizer
    * or filter run consults before spending budget. K is calibrated to
    * the corpus (a production vocab is 10³-10⁵; the synthetic corpus
    * has 31 distinct tokens, so K = 20 keeps the signal non-vacuous —
    * the 11 rarest tokens are the OOV tail).
    *
    * Scale shape: the vocabulary top-k is `orderBy(...).limit(1000)`
    * → TakeOrderedAndProject (per-partition top-k, never a global
    * sort — a `row_number` over an unpartitioned window here would be
    * the la1 scale-killer again), and the induced vocab then
    * broadcasts into the token stream, so the only corpus-wide
    * exchange is the per-doc regroup. */
  private def tx10(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Tables.tokens(col("text"))).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(20)
      .select(col("w"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_pct",
        col("n_oov").cast("double") * 100 / col("n_tokens"))
  }

  private val tx10Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w ASC) AS rk
      |    FROM tok GROUP BY w) r
      |  WHERE rk <= 20)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) * 100
      |    / count(*) AS oov_pct
      |FROM tok t LEFT JOIN vocab v ON t.w = v.w
      |GROUP BY doc_id""".stripMargin

  /** tx11: bigram language-model surprisal scoring — the CCNet-style
    * "score each document against an LM induced from the corpus"
    * quality signal, done with EXACT integer arithmetic so both
    * engines hash-match (no log-prob float summation, whose partial-agg
    * order is nondeterministic): the MLE conditional probability
    * p(w2|w1) = c(w1 w2)/c(w1·) is a ratio of corpus counts, so
    * "rare bigram" (p < 1/64 ⇔ 64·c2 < c1) and the per-doc min/max
    * probability in permille (1000·c2 div c1) are order-independent
    * integers. High rare-bigram share = incoherent/garbled text — the
    * perplexity filter's decision, without its FP hazard.
    *
    * Scale shape: the bigram and left-context count dims are two hash
    * aggs over the exploded stream whose sizes are bounded by vocab²
    * and vocab (not corpus size) — broadcast-able at any corpus scale;
    * the per-doc regroup is the only corpus-wide exchange. The bigram
    * generator guards n<2 docs with an empty array (the `sequence(0,
    * n-2)` descending-range trap, same guard family as mm2). */
  private def tx11(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Tables.tokens(col("text")).as("t"))
    val flat = base
      .select(col("doc_id"), explode(when(size(col("t")) >= 2,
        transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            concat_ws(" ", element_at(col("t"), i + 1),
              element_at(col("t"), i + 2)).as("b"))))
        .otherwise(array().cast("array<struct<w1:string,b:string>>"))).as("u"))
      .select(col("doc_id"), col("u.w1").as("w1"), col("u.b").as("b"))
    val c2 = flat.groupBy(col("b")).agg(count(lit(1)).as("n2"))
    val c1 = flat.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val scored = flat
      .join(broadcast(c2), Seq("b")).join(broadcast(c1), Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n2") * 64 < col("n1"), 1L).otherwise(0L)).as("n_rare"),
        min(expr("(n2 * 1000) div n1")).as("min_p_permille"),
        max(expr("(n2 * 1000) div n1")).as("max_p_permille"))
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        col("min_p_permille"), col("max_p_permille"))
  }

  private val tx11Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |flat AS (
      |  SELECT doc_id, u.w1 AS w1, u.b AS b FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(t) - 1),
      |      x -> struct_pack(w1 := t[x+1], b := t[x+1] || ' ' || t[x+2]))) AS u
      |    FROM toks) e),
      |c2 AS (SELECT b, count(*) AS n2 FROM flat GROUP BY b),
      |c1 AS (SELECT w1, count(*) AS n1 FROM flat GROUP BY w1),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CASE WHEN n2 * 64 < n1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_rare,
      |    min((n2 * 1000) // n1) AS min_p_permille,
      |    max((n2 * 1000) // n1) AS max_p_permille
      |  FROM flat f JOIN c2 USING (b) JOIN c1 USING (w1)
      |  GROUP BY doc_id)
      |SELECT t.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
      |  coalesce(n_rare, 0) AS n_rare, min_p_permille, max_p_permille
      |FROM toks t LEFT JOIN scored s ON t.doc_id = s.doc_id""".stripMargin

  // --------------------------------------------------------------- tx13

  /** tx13: inverted-index build — the retrieval-side artifact a
    * training-data pipeline keeps next to the corpus (search,
    * decontamination lookups, keyword audits): per term, the document
    * frequency, total term frequency, and the posting list (doc_ids
    * ascending). The list is capped at 128 entries (`postings_head`)
    * while df/total_tf stay exact over ALL postings — at 100 TB a
    * full posting list for a stopword is corpus-sized and belongs in
    * term-sharded storage, not one array cell; the cap bounds row
    * size by construction (dd9's bounded-dim discipline).
    *
    * Scale shape: ONE pass after the (term, doc_id) tf aggregation —
    * the rank window and the per-term assembly share a single
    * hash(term) exchange (df/total_tf/postings all aggregate in the
    * same HashAggregate; the earlier two-branch spelling paid the
    * term exchange twice plus a join to glue the halves back). The
    * posting head stays BOUNDED by construction: `collect_list`
    * ignores nulls, so collecting `CASE WHEN rk <= 128 THEN doc_id
    * END` holds at most 128 elements of per-group state while
    * df/total_tf stay exact over ALL postings. `array_sort` (numeric,
    * BEFORE the string cast) pins order against DuckDB's
    * `list(... ORDER BY)`; the head is emitted as a comma-joined
    * STRING — the gate contract hashes scalars only, so no
    * Array/Map/Struct column may reach a gate output (cp6's manifest
    * discipline, enforced by GateRegistrySpec's schema lint). */
  private def tx13(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Tables.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id").asc)))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        expr(
          "array_join(transform(array_sort(" +
            "collect_list(CASE WHEN rk <= 128 THEN doc_id END))," +
            " x -> cast(x AS string)), ',')").as("postings_head"))
      .select("term", "df", "total_tf", "postings_head")

  private val tx13Sql =
    """WITH tf AS (
      |  SELECT term, doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |    FROM documents) t
      |  GROUP BY 1, 2)
      |SELECT term, count(*) AS df,
      |  CAST(sum(tf) AS BIGINT) AS total_tf,
      |  array_to_string((list(doc_id ORDER BY doc_id))[1:128], ',')
      |    AS postings_head
      |FROM tf GROUP BY term""".stripMargin

  // --------------------------------------------------------------- tx14

  /** tx14: scored keyword retrieval over the inverted index — the
    * query path tx13's artifact exists for (benchmark-leak audits,
    * "which documents carry this marker" sweeps): the 5 rarest terms
    * (df ascending, term ascending — the deterministic stand-in for a
    * user query set) each retrieve their top-10 documents by
    * tf·idf. The idf is EXACT integer arithmetic — idf_milli =
    * (N·1000) div df — so both engines rank identical BIGINT scores
    * (the FP-log idf would hash-mismatch on partial-agg order; same
    * discipline as tx11's permille probabilities).
    *
    * Scale shape: the query-term dim is a TakeOrderedAndProject
    * (never a global-sort window) and broadcasts into the tf stream —
    * posting-list traversal is one broadcast-hash semi-join over the
    * (term, doc_id) aggregate; the corpus total is a 1-row broadcast
    * anchor (la4's pattern); the per-term top-10 prunes map-side
    * (WindowGroupLimit). */
  private def tx14(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(Tables.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val queryTerms = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("term").asc)
      .limit(5)
      .crossJoin(broadcast(nDocs))
      .withColumn("idf_milli", expr("(n_docs * 1000) div df"))
      .select("term", "df", "idf_milli")
    tf.join(broadcast(queryTerms), Seq("term"))
      .withColumn("score", col("tf") * col("idf_milli"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rank") <= 10)
      .select("term", "rank", "doc_id", "tf", "df", "idf_milli", "score")
  }

  private val tx14Sql =
    """WITH tf AS (
      |  SELECT term, doc_id, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |    FROM documents) t
      |  GROUP BY 1, 2),
      |q AS (
      |  SELECT term, df, (n_docs * 1000) // df AS idf_milli FROM (
      |    SELECT term, count(*) AS df FROM tf GROUP BY term
      |    ORDER BY df ASC, term ASC LIMIT 5) d,
      |    (SELECT count(*) AS n_docs FROM documents) n)
      |SELECT term, rank, doc_id, tf, df, idf_milli, score FROM (
      |  SELECT q.term, t.doc_id, t.tf, q.df, q.idf_milli,
      |    t.tf * q.idf_milli AS score,
      |    row_number() OVER (PARTITION BY q.term
      |      ORDER BY t.tf * q.idf_milli DESC, t.doc_id ASC) AS rank
      |  FROM tf t JOIN q USING (term)) r
      |WHERE rank <= 10""".stripMargin

  // --------------------------------------------------------------- tx15

  /** tx15: PII span scrub — the privacy pass a corpus runs before
    * training (emails / URLs / long ID runs → typed placeholders,
    * with per-doc counts for the audit log). Generalizes the
    * reference's email regexp (P3, youtube_api_handler.py:848-860)
    * from "extract the first" to "count and redact them all". The
    * synthetic corpus carries no such spans, so the gate embeds them
    * deterministically first (yf2's discipline: every 5th doc an
    * email, every 7th a URL, every 3rd a numeric ID) — the operator
    * under test is the count + redact stage.
    *
    * Replacement order is pinned (emails → URLs → ≥7-digit runs) and
    * identical in the oracle: both emails and URLs can carry digit
    * runs, so the ID pass — and the n_ids AUDIT COUNT, which must
    * agree with the number of '<ID>' tokens actually emitted — runs
    * on text where both earlier passes have already collapsed their
    * spans. Pure narrow projection — regex work scales with the
    * scan, nothing shuffles. */
  private def tx15(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    val idrun = "[0-9]{7,}"
    Tables.documents(s, d)
      .withColumn("raw", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" see https://docs.example.org/item/"), col("doc_id"),
            lit("?ref=corpus"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          concat(lit(" ticket "), col("doc_id") * 1000003 + 1000000))
          .otherwise(lit(""))))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(email)).as("n_emails"),
        regexp_count(col("raw"), lit(url)).as("n_urls"),
        regexp_count(regexp_replace(regexp_replace(col("raw"),
          email, "<EMAIL>"), url, "<URL>"), lit(idrun)).as("n_ids"),
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          email, "<EMAIL>"), url, "<URL>"), idrun, "<ID>").as("redacted"))
  }

  private val tx15Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    s"""WITH raw AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 5 = 0
      |         THEN ' contact user' || doc_id || '@mail.example.org' ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' see https://docs.example.org/item/' || doc_id || '?ref=corpus'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN ' ticket ' || (doc_id * 1000003 + 1000000) ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  length(regexp_extract_all(raw, '$email')) AS n_emails,
      |  length(regexp_extract_all(raw, '$url')) AS n_urls,
      |  length(regexp_extract_all(regexp_replace(regexp_replace(raw,
      |    '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'),
      |    '[0-9]{7,}')) AS n_ids,
      |  regexp_replace(regexp_replace(regexp_replace(raw,
      |    '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'),
      |    '[0-9]{7,}', '<ID>', 'g') AS redacted
      |FROM raw""".stripMargin
  }

  // --------------------------------------------------------------- tx16

  /** tx16: intra-document REPETITION filter — the Gopher/MassiveText
    * rule family (Rae et al. 2021, app. A1.1: documents whose mass
    * concentrates in duplicate n-grams or one dominant token are
    * boilerplate/spam, not prose): per doc, the duplicate-bigram
    * share, the top-bigram share, and the top-token share — exact
    * permille floor-divs — plus the composite `repetitive` flag
    * (thresholds are config constants, pinned identically in both
    * engines). Complements tx2 (surface ratios) and tx11
    * (corpus-level LM surprisal): this one is purely intra-document,
    * so it catches the looped paragraph tx11's corpus counts reward.
    *
    * Scale shape: two explode → (doc, gram) → doc agg chains, all
    * map-side combinable (dd9's bounded-dim discipline is unnecessary
    * — counts regroup per doc, never corpus-wide); the assembly joins
    * are doc-keyed hash joins over doc-proportional frames sharing
    * the doc_id partitioning. The bigram generator carries tx11's
    * empty-array guard (the `sequence(0, n-2)` descending-range
    * trap). */
  private def tx16(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), Tables.tokens(col("text")).as("t"))
    val tokStat = base.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_token"))
    val bgStat = base.select(col("doc_id"), explode(when(size(col("t")) >= 2,
        transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i + 1),
            element_at(col("t"), i + 2))))
        .otherwise(array().cast("array<string>"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"), max(col("c")).as("top_bigram"))
    base.select(col("doc_id"))
      .join(tokStat, Seq("doc_id"), "left")
      .join(bgStat, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        expr("CASE WHEN coalesce(n_bigrams, 0) > 0 THEN " +
          "((n_bigrams - n_distinct_bigrams) * 1000) div n_bigrams ELSE 0 END")
          .as("dup_bigram_permille"),
        expr("CASE WHEN coalesce(n_bigrams, 0) > 0 THEN " +
          "(top_bigram * 1000) div n_bigrams ELSE 0 END")
          .as("top_bigram_permille"),
        expr("CASE WHEN coalesce(n_tokens, 0) > 0 THEN " +
          "(top_token * 1000) div n_tokens ELSE 0 END")
          .as("top_token_permille"))
      .withColumn("repetitive",
        col("dup_bigram_permille") > 200 ||
          col("top_bigram_permille") > 180 || col("top_token_permille") > 300)
  }

  private val tx16Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |ts AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_token
      |  FROM (
      |    SELECT doc_id, w, count(*) AS c
      |    FROM (SELECT doc_id, unnest(t) AS w FROM toks) x GROUP BY 1, 2) tokc
      |  GROUP BY doc_id),
      |bs AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    count(*) AS n_distinct_bigrams, max(c) AS top_bigram
      |  FROM (
      |    SELECT doc_id, b, count(*) AS c
      |    FROM (
      |      SELECT doc_id, unnest(list_transform(range(len(t) - 1),
      |        x -> t[x+1] || ' ' || t[x+2])) AS b
      |      FROM toks) y GROUP BY 1, 2) bgc
      |  GROUP BY doc_id)
      |SELECT t.doc_id,
      |  coalesce(n_tokens, 0) AS n_tokens,
      |  coalesce(n_bigrams, 0) AS n_bigrams,
      |  coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
      |  CASE WHEN coalesce(n_bigrams, 0) > 0
      |    THEN ((n_bigrams - n_distinct_bigrams) * 1000) // n_bigrams
      |    ELSE 0 END AS dup_bigram_permille,
      |  CASE WHEN coalesce(n_bigrams, 0) > 0
      |    THEN (top_bigram * 1000) // n_bigrams ELSE 0 END AS top_bigram_permille,
      |  CASE WHEN coalesce(n_tokens, 0) > 0
      |    THEN (top_token * 1000) // n_tokens ELSE 0 END AS top_token_permille,
      |  CASE WHEN coalesce(n_bigrams, 0) > 0
      |      THEN ((n_bigrams - n_distinct_bigrams) * 1000) // n_bigrams
      |      ELSE 0 END > 200
      |    OR CASE WHEN coalesce(n_bigrams, 0) > 0
      |      THEN (top_bigram * 1000) // n_bigrams ELSE 0 END > 180
      |    OR CASE WHEN coalesce(n_tokens, 0) > 0
      |      THEN (top_token * 1000) // n_tokens ELSE 0 END > 300 AS repetitive
      |FROM toks t
      |LEFT JOIN ts ON t.doc_id = ts.doc_id
      |LEFT JOIN bs ON t.doc_id = bs.doc_id""".stripMargin

  // --------------------------------------------------------------- tx17

  /** tx17: SOURCE-reputation rollup — curation at the DOMAIN grain
    * (the C4/RefinedWeb move of dropping or down-ranking whole hosts,
    * not documents: a source whose docs are mostly junk is junk).
    * Per source: doc count, floor-div mean tokens, the share (‰) of
    * docs in tx2's `keep` bucket and in any `drop_*` bucket, and the
    * three-way verdict — `keep` when ≥ 600 ‰ of docs are clean,
    * `drop` below 300 ‰, `review` between (thresholds are config
    * constants, pinned identically in both engines). The output is a
    * |sources|-row dim a pipeline broadcasts to gate ingest.
    *
    * Scale shape: one narrow scan computes the per-doc signals (tx2's
    * exact counters), then ONE map-side-combined groupBy collapses to
    * the source dim — no joins, no windows, nothing corpus-sized past
    * the exchange. At 100 TB with ~10⁷ hosts the rollup is still a
    * bounded hash agg. */
  private def tx17(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        size(Tables.tokens(col("text"))).as("n_tokens"),
        regexp_count(col("text"), lit("[^a-z0-9\\s]")).as("punct_cnt"),
        regexp_count(col("text"), lit("\\b(the|a)\\b")).as("stopword_cnt"))
      .withColumn("bucket", qualityBucket(
        col("n_tokens"), col("stopword_cnt"), col("punct_cnt")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("tok_sum"),
        sum(when(col("bucket") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("bucket").startsWith("drop"), 1L).otherwise(0L)).as("n_drop"))
      .select(col("source"), col("n_docs"),
        expr("tok_sum div n_docs").as("avg_tokens"),
        col("n_keep"), col("n_drop"),
        expr("(n_keep * 1000) div n_docs").as("keep_permille"),
        expr("(n_drop * 1000) div n_docs").as("drop_permille"))
      .withColumn("source_decision",
        when(col("keep_permille") >= 600, lit("keep"))
          .when(col("keep_permille") >= 300, lit("review"))
          .otherwise(lit("drop")))

  private val tx17Sql = {
    val bucketSql = qualityBucketSql("n_tokens", "stopword_cnt", "punct_cnt")
    s"""SELECT source, n_docs, tok_sum // n_docs AS avg_tokens,
       |  n_keep, n_drop,
       |  (n_keep * 1000) // n_docs AS keep_permille,
       |  (n_drop * 1000) // n_docs AS drop_permille,
       |  CASE WHEN (n_keep * 1000) // n_docs >= 600 THEN 'keep'
       |    WHEN (n_keep * 1000) // n_docs >= 300 THEN 'review'
       |    ELSE 'drop' END AS source_decision
       |FROM (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
       |    CAST(sum(CASE WHEN bucket = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_keep,
       |    CAST(sum(CASE WHEN bucket LIKE 'drop%' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_drop
       |  FROM (
       |    SELECT source, n_tokens, $bucketSql AS bucket
       |    FROM (
       |      SELECT source,
       |        length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       |        length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS punct_cnt,
       |        length(regexp_extract_all(text, '\\b(the|a)\\b')) AS stopword_cnt
       |      FROM documents) c) q
       |  GROUP BY source) t""".stripMargin
  }

  // --------------------------------------------------------------- tx19

  /** tx19: CORPUS DRIFT between two snapshots — the distribution-shift
    * monitor a continuously-ingesting training pipeline runs between
    * crawls ("did the new snapshot's language change under us?"),
    * executed on deterministic hash-split halves of the corpus (the
    * cp10 salted-md5 discipline, salt 'drift' — any engine, any
    * cluster, same halves). Per top-100 corpus token (count-ranked,
    * token tie-break): each half's occurrence count, each half's
    * frequency in exact integer permille of that half's total tokens,
    * and the absolute permille drift — the per-token L1 terms a
    * monitor alerts on and a reviewer reads directly.
    *
    * Scale shape: one token explode → one map-side-combined
    * (token × half) count agg carrying two longs per token; the
    * top-100 cut is TakeOrderedAndProject (no global sort); the
    * half totals are a 1-row broadcast anchor; output is 100 rows.
    * Integer permille (BIGINT div) keeps both engines bit-equal —
    * no FP frequency ratios. */
  private def tx19(s: SparkSession, d: String): DataFrame = {
    val halves = Tables.documents(s, d)
      .withColumn("half", pmod(
        conv(substring(md5(concat(lit("drift|"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long"), lit(2)))
      .select(col("half"), explode(Tables.tokens(col("text"))).as("token"))
    val counts = halves.groupBy(col("token"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
    val totals = counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    counts.orderBy((col("na") + col("nb")).desc, col("token").asc)
      .limit(100)
      .crossJoin(broadcast(totals))
      // greatest(total, 1) floor: if a tiny corpus hashes every doc
      // into one half, the empty half's total is 0 — Spark's div
      // yields NULL where DuckDB errors, so both engines divide by
      // the same guarded denominator instead of diverging
      .select(col("token"), col("na"), col("nb"),
        expr("na * 1000L div greatest(ta, 1L)").as("pa_permille"),
        expr("nb * 1000L div greatest(tb, 1L)").as("pb_permille"),
        abs(expr("na * 1000L div greatest(ta, 1L)") -
          expr("nb * 1000L div greatest(tb, 1L)"))
          .as("drift_permille"))
  }

  private val tx19Sql =
    """WITH tk AS (
      |  SELECT ('0x' || substr(md5('drift|' || doc_id), 1, 15))::BIGINT % 2
      |      AS half,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |counts AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM tk GROUP BY token),
      |tot AS (
      |  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
      |  FROM counts)
      |SELECT token, na, nb,
      |  na * 1000 // greatest(ta, 1) AS pa_permille,
      |  nb * 1000 // greatest(tb, 1) AS pb_permille,
      |  abs(na * 1000 // greatest(ta, 1) - nb * 1000 // greatest(tb, 1))
      |    AS drift_permille
      |FROM counts, tot
      |ORDER BY na + nb DESC, token ASC LIMIT 100""".stripMargin

  // --------------------------------------------------------------- tx20

  /** tx20: HOST CENTRALITY for corpus weighting — the link-graph rank
    * (PageRank with teleport 0.15, 4 power iterations) web-corpus
    * pipelines use to weight sampling by domain authority (Common
    * Crawl publishes exactly this as its harmonic-centrality host
    * ranks; CCNet/RefinedWeb-style curation consumes it as a quality
    * prior). The link graph is EXTRACTED FROM DOCUMENT CONTENT — the
    * Common-Crawl host-graph job shape: every document's tokens are
    * its outbound mentions (each token resolves to a target host via
    * its 60-bit md5 modulo |hosts|, standing in for anchor-URL
    * parsing on this URL-free synthetic corpus), deduplicated to
    * distinct (src host, dst host) pairs, with a pair-grain hash
    * sparsifier ('edge|src|dst' ≡ 0 mod 5, ≈20% density) giving the
    * synthetic graph realistic shape — both engines derive identical
    * structure from the same scan (the yf1/dd18 discipline: build
    * identical inputs, gate the operator). No hosts×hosts cross join
    * anywhere: candidate edges cost one token scan + a distinct at
    * the (src, dst-index) grain, and with real anchors the same
    * pipeline IS the production link-extraction job (the sparsifier
    * drops out).
    *
    * Determinism: fixed-point ×10⁹ integer arithmetic end-to-end —
    * r₀ = S div n; each step r' = (15·S div 100n) + (Σ floor-div
    * contributions)·85 div 100, every sum a BIGINT (order-free), no
    * FP damping. Dangling-node mass leaks identically on both
    * engines (the undamped variant; the leak is part of the law
    * being gated).
    *
    * Scale shape: edge EXTRACTION is scan-linear (explode tokens →
    * narrow hash map → map-side-combinable distinct at the
    * (src, dst-index) grain, ≤ |hosts|² rows out but never |hosts|²
    * candidates in flight); the rank vector and resolved edge list
    * live at the host grain — |hosts| ≪ |docs| by construction (the
    * whole point of domain-grain curation), so every per-iteration
    * join is broadcast-size. The host-numbering window is
    * unpartitioned but frames ≤ |hosts| rows — the ob3/tw11 bounded
    * class. The doc-grain iterative discipline for graphs that DON'T
    * collapse is dd6/dd12 (min-label and star-contraction CC with
    * per-round localCheckpoint), which this gate deliberately does
    * not duplicate. 4 iterations unrolled in one lazy plan. */
  /** Content-derived host link graph shared by tx20 (PageRank) and
    * tx23 (triangles): every document's tokens are its outbound
    * mentions, resolved to target hosts by 60-bit md5 mod |hosts|,
    * distinct'd at the (src, dst-index) grain, 20%-sparsified at the
    * pair grain — see tx20's scaladoc for why this is the production
    * link-extraction job shape with the sparsifier standing in for
    * anchor parsing. Returns (hosts dim, |hosts|, directed edges). */
  private[graft] def hostGraph(s: SparkSession, d: String): (DataFrame, Long, DataFrame) = {
    val docs = Tables.documents(s, d)
    val hosts = docs.select(col("source")).distinct()
    val n = hosts.count() // ≤|hosts| driver anchor (the codebookArr class)
    val hostIdx = hosts.select(col("source").as("dst"),
      (row_number().over(Window.orderBy(col("source"))) - 1).cast("long").as("didx"))
    val mentions = docs
      .select(col("source").as("src"), explode(Tables.tokens(col("text"))).as("tok"))
      .select(col("src"),
        expr(s"CAST(conv(substring(md5(concat('link|', tok)), 1, 15), 16, 10) AS BIGINT) % ${n}L")
          .as("didx"))
      .distinct()
    val edges = mentions.join(broadcast(hostIdx), Seq("didx"))
      .filter(col("src") =!= col("dst"))
      .filter(expr("CAST(conv(substring(md5(concat('edge|', src, '|', dst)), 1, 15), 16, 10) AS BIGINT) % 5 = 0"))
      .select(col("src"), col("dst"))
    (hosts, n, edges)
  }

  /** SQL mirror of [[hostGraph]]: the hosts/nn/hidx/ment/e CTE chain
    * (no leading WITH, no trailing comma) shared by tx20Sql/tx23Sql. */
  private val hostGraphCtes: String =
    """hosts AS (SELECT DISTINCT source FROM documents),
      |nn AS (SELECT count(*) AS n FROM hosts),
      |hidx AS (
      |  SELECT source AS dst,
      |    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS didx
      |  FROM hosts),
      |ment AS (
      |  SELECT DISTINCT source AS src,
      |    ('0x' || substr(md5('link|' || tok), 1, 15))::BIGINT
      |      % (SELECT n FROM nn) AS didx
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents) t),
      |e AS (
      |  SELECT m.src, h.dst
      |  FROM ment m JOIN hidx h USING (didx)
      |  WHERE m.src <> h.dst
      |    AND ('0x' || substr(md5('edge|' || m.src || '|' || h.dst),
      |      1, 15))::BIGINT % 5 = 0)""".stripMargin

  private def tx20(s: SparkSession, d: String): DataFrame = {
    val S = 1000000000L
    val (hosts, n, edges) = hostGraph(s, d)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val teleport = 15L * S / (100L * n)
    var rank = hosts.select(col("source"), lit(S / n).as("r"))
    for (_ <- 1 to 4) {
      // every join side is ≤|hosts| (or |hosts|²-bounded edges) rows —
      // broadcast explicitly: post-crossJoin stats are unknown to the
      // planner, which would otherwise fall back to sort-merge
      val contrib = edges.join(broadcast(rank), col("src") === col("source"))
        .join(broadcast(outdeg), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      rank = hosts
        .join(broadcast(contrib), col("source") === col("dst"), "left")
        .select(col("source"),
          (lit(teleport) + expr("coalesce(in_sum, 0L) * 85L div 100L")).as("r"))
    }
    rank.select(col("source"), col("r").as("rank_scaled"),
      expr(s"r * 1000L div ${S}L").as("weight_permille"))
  }

  private val tx20Sql = {
    def step(k: Int): String =
      s"""r$k AS (
         |  SELECT h.source,
         |    CAST(15 AS BIGINT) * 1000000000 // (100 * (SELECT n FROM nn))
         |      + coalesce(s.in_sum, 0) * 85 // 100 AS r
         |  FROM hosts h LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.r // od.outdeg) AS BIGINT) AS in_sum
         |    FROM e JOIN r${k - 1} p ON e.src = p.source
         |    JOIN od ON od.src = e.src
         |    GROUP BY e.dst) s ON s.dst = h.source)""".stripMargin
    s"""WITH $hostGraphCtes,
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (
       |  SELECT source, CAST(1000000000 AS BIGINT) // (SELECT n FROM nn) AS r FROM hosts),
       |${step(1)},
       |${step(2)},
       |${step(3)},
       |${step(4)}
       |SELECT source, r AS rank_scaled,
       |  CAST(r * 1000 // 1000000000 AS BIGINT) AS weight_permille
       |FROM r4""".stripMargin
  }

  // --------------------------------------------------------------- tx21

  /** tx21: COUNT-MIN frequency sketch — the other half of the sketch
    * toolkit next to tx8/tx12's KMV (distinct counting): bounded-size
    * FREQUENCY estimation (CM of Cormode & Muthukrishnan), the
    * structure a 100 TB pipeline uses for token/n-gram frequencies,
    * heavy-hitter screens and join-size hints when the exact (token,
    * count) dim itself is too big to hold. A d=4 × w=256 counter
    * matrix: each token instance increments one bucket per hash row
    * (salted-md5, the portable formula both engines share); a query's
    * estimate is the MIN over its d buckets — never an underestimate
    * (every bucket holds the true count plus non-negative collision
    * mass; spec-pinned), overestimate bounded by collision mass.
    * Count-Min is LINEAR, the property this gate builds in: the
    * engine constructs PER-SOURCE partial sketches and SUMS them into
    * the global matrix — byte-identical to a one-shot build (tx18's
    * mergeability discipline, here by linearity), which is what makes
    * the sketch shard-, stream- and union-friendly.
    *
    * Query set: the exact top-20 tokens (count desc, token asc — both
    * engines re-derive it), each reported with exact count, estimate,
    * and the overestimate the collisions added.
    *
    * Scale shape: the build is ONE map-side-combinable hash agg to
    * ≤ d·w cells per source (the token explode is the same scan tx6
    * pays); the cell dim (1024 rows) broadcasts into the query probe.
    * The exact comparator needs the full token dim — exactly the
    * exchange the sketch replaces at scale. */
  private def tx21(s: SparkSession, d: String): DataFrame = {
    val (dRows, w) = (4, 256)
    val toksrc = Tables.documents(s, d)
      .select(col("source"), explode(Tables.tokens(col("text"))).as("tok"))
    def bucket(j: Int, c: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"cm$j|"), c)), 1, 15), 16, 10)
        .cast("long"), lit(w))
    // per-source partial sketches, then the LINEAR merge (sum) into
    // the global matrix — provably the sharded build path
    val cells = toksrc
      .select(col("source"), posexplode(array(
        (0 until dRows).map(j => bucket(j, col("tok"))): _*)).as(Seq("j", "b")))
      .groupBy(col("source"), col("j"), col("b"))
      .agg(count(lit(1)).as("pc"))
      .groupBy(col("j"), col("b"))
      .agg(sum(col("pc")).as("cnt"))
    val top = toksrc.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
    val probed = top.select(col("tok"), col("exact_cnt"),
      posexplode(array((0 until dRows).map(j => bucket(j, col("tok"))): _*))
        .as(Seq("j", "b")))
    probed.join(broadcast(cells), Seq("j", "b"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .withColumn("overestimate", col("est_cnt") - col("exact_cnt"))
  }

  private val tx21Sql =
    """WITH tk AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |cells AS (
      |  SELECT j, b, CAST(sum(pc) AS BIGINT) AS cnt FROM (
      |    SELECT source, j, b, count(*) AS pc FROM (
      |      SELECT source, j,
      |        ('0x' || substr(md5('cm' || j || '|' || tok), 1, 15))::BIGINT % 256 AS b
      |      FROM tk, (SELECT unnest(range(4)) AS j) js) q
      |    GROUP BY source, j, b) p
      |  GROUP BY j, b),
      |top AS (
      |  SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY tok
      |  ORDER BY exact_cnt DESC, tok ASC LIMIT 20),
      |probed AS (
      |  SELECT t.tok, t.exact_cnt, js.j,
      |    ('0x' || substr(md5('cm' || js.j || '|' || t.tok), 1, 15))::BIGINT % 256 AS b
      |  FROM top t, (SELECT unnest(range(4)) AS j) js)
      |SELECT p.tok, p.exact_cnt,
      |  CAST(min(c.cnt) AS BIGINT) AS est_cnt,
      |  CAST(min(c.cnt) - p.exact_cnt AS BIGINT) AS overestimate
      |FROM probed p JOIN cells c ON p.j = c.j AND p.b = c.b
      |GROUP BY p.tok, p.exact_cnt""".stripMargin

  // --------------------------------------------------------------- tx22

  /** tx22: HYPERLOGLOG registers — the third sketch of the toolkit
    * (tx8/tx18 KMV for distinct counts, tx21 Count-Min for
    * frequencies): the O(m)-state cardinality estimator every 100 TB
    * profiler actually ships (Flajolet et al. 2007), built with EXACT
    * integer register math so both engines hash-agree on every
    * intermediate. The sketched unit is the word TRIGRAM (the corpus
    * vocabulary is deliberately tiny, ~31 tokens; trigrams carry real
    * cardinality — 16k+ distinct at sf0.01 — so the estimator leaves
    * its small-range regime). m = 64 buckets; each trigram's 60-bit
    * md5 hash splits into bucket (h mod 64) and a 54-bit tail whose
    * leading-zero count (+1, capped at 45 so the harmonic terms stay
    * integral) is the register candidate `rho = least(55 −
    * bitlen(tail), 45)` — `bin()`'s length is the shared bitlen
    * primitive, and tail = 0 needs no special case (bin(0) = "0",
    * len 1 → 54 → capped). Registers are MAX-merged: the gate builds
    * PER-SOURCE partial register sets and max-merges them into the
    * `__all__` row — HLL's merge operator, the property that makes
    * the sketch shard- and stream-friendly (tx18's discipline, here
    * by idempotent max). No doubles anywhere: the harmonic
    * denominator is Σ 2^(45−reg) (a BIGINT ≤ 64·2^45), raw est =
    * C div sum with C = round(α₆₄·m²·2^45) = 102226805116602144, and
    * the paper's SMALL-RANGE branch (raw ≤ 5m/2 with V empty
    * registers → LinearCounting m·ln(m/V)) is a 64-entry
    * PRECOMPUTED integer CASE table shared verbatim by both dialects
    * — the branch the sf0.001 strata actually take, while sf0.01+
    * exercises the raw path. Output per source + merged: exact
    * distinct, estimate, which branch, |err| permille (raw-regime
    * std error 1.04/√64 ≈ 13%).
    *
    * Scale shape: ONE narrow scan (trigrams via the dd-family's
    * zip_with slices — no explode-join) → a map-side-combinable MAX
    * agg to ≤ |sources|·64 cells; the dense-register fill and the
    * merge are |sources|·64-row dim work; the exact comparator pays
    * the full distinct exchange — precisely the cost the sketch
    * replaces at corpus scale. */
  private def tx22(s: SparkSession, d: String): DataFrame = {
    val m = 64
    val C = 102226805116602144L
    // LinearCounting lookup: lc(V) = round(m·ln(m/V)), V = # zero
    // registers — precomputed integers, the identical CASE text is
    // embedded in both dialects (no engine evaluates a logarithm)
    val lcCase = (1 to m)
      .map(v => s"WHEN $v THEN ${math.round(m * math.log(m.toDouble / v))}")
      .mkString("CAST(CASE vz ", " ", " ELSE 0 END AS BIGINT)")
    val docs = Tables.documents(s, d)
    val grams = docs
      .withColumn("a", Tables.tokens(col("text")))
      .withColumn("g", expr(
        // guard: slice() throws on negative length, so docs under 3
        // tokens contribute an empty trigram list (matches range(1,
        // greatest(len-1, 1)) going empty on the oracle side)
        "CASE WHEN size(a) >= 3 THEN " +
          "zip_with(zip_with(slice(a, 1, size(a)-2), slice(a, 2, size(a)-2), " +
          "(x, y) -> concat(x, ' ', y)), slice(a, 3, size(a)-2), " +
          "(x, y) -> concat(x, ' ', y)) " +
          "ELSE CAST(array() AS array<string>) END"))
      .select(col("source"), explode(col("g")).as("tri"))
    val rho = grams
      .select(col("source"),
        conv(substring(md5(concat(lit("hll|"), col("tri"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .select(col("source"), expr(s"h % ${m}L").as("b"),
        expr(s"least(55 - length(bin(h div ${m}L)), 45)").as("rho"))
    // per-source partial registers: the ONLY agg that sees gram grain
    val partials = rho.groupBy(col("source"), col("b"))
      .agg(max(col("rho")).as("reg"))
    // dense 64-register rows per source (empty bucket -> register 0)
    val dense = docs.select(col("source")).distinct()
      .select(col("source"), explode(sequence(lit(0), lit(m - 1))).as("b"))
      .join(broadcast(partials), Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("reg"), lit(0)).as("reg"))
    // the HLL MERGE: per-bucket max over the per-source partials
    val merged = dense.groupBy(col("b")).agg(max(col("reg")).as("reg"))
      .select(lit("__all__").as("source"), col("b"), col("reg"))
    val est = dense.unionByName(merged)
      .groupBy(col("source"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 45 - reg)")).as("den"),
        sum(when(col("reg") === 0, 1).otherwise(0)).as("vz"))
      .select(col("source"), expr(s"${C}L div den").as("raw_est"), col("vz"))
      .select(col("source"),
        expr(s"raw_est <= ${5 * m / 2} AND vz > 0").as("used_lc"),
        expr(s"CASE WHEN raw_est <= ${5 * m / 2} AND vz > 0 " +
          s"THEN $lcCase ELSE raw_est END").as("hll_est"))
    val exact = grams.groupBy(col("source"))
      .agg(countDistinct(col("tri")).as("n_exact"))
      .unionByName(grams.agg(countDistinct(col("tri")).as("n_exact"))
        .select(lit("__all__").as("source"), col("n_exact")))
    exact.join(broadcast(est), Seq("source"))
      .select(col("source"), col("n_exact"), col("hll_est"), col("used_lc"),
        expr("abs(hll_est - n_exact) * 1000L div n_exact").as("err_permille"))
  }

  private val tx22Sql = {
    val lcCase = (1 to 64)
      .map(v => s"WHEN $v THEN ${math.round(64 * math.log(64.0 / v))}")
      .mkString("CAST(CASE vz ", " ", " ELSE 0 END AS BIGINT)")
    s"""WITH tg AS (
       |  SELECT source,
       |    unnest(list_transform(range(1, greatest(length(a) - 1, 1)),
       |      i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS tri
       |  FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS a
       |        FROM documents) t),
       |r AS (
       |  SELECT source, h % 64 AS b,
       |    least(55 - length(bin(h // 64)), 45) AS rho
       |  FROM (SELECT source,
       |          ('0x' || substr(md5('hll|' || tri), 1, 15))::BIGINT AS h
       |        FROM tg) q),
       |part AS (SELECT source, b, max(rho) AS reg FROM r GROUP BY 1, 2),
       |dense AS (
       |  SELECT s.source, g.b, coalesce(p.reg, 0) AS reg
       |  FROM (SELECT DISTINCT source FROM documents) s
       |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) g
       |  LEFT JOIN part p ON p.source = s.source AND p.b = g.b),
       |merged AS (
       |  SELECT '__all__' AS source, b, max(reg) AS reg FROM dense GROUP BY 2),
       |est0 AS (
       |  SELECT source,
       |    102226805116602144 // CAST(sum(CAST(1 AS BIGINT) << (45 - reg))
       |      AS BIGINT) AS raw_est,
       |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS vz
       |  FROM (SELECT * FROM dense UNION ALL SELECT * FROM merged) a
       |  GROUP BY 1),
       |est AS (
       |  SELECT source, (raw_est <= 160 AND vz > 0) AS used_lc,
       |    CASE WHEN raw_est <= 160 AND vz > 0 THEN $lcCase
       |         ELSE raw_est END AS hll_est
       |  FROM est0),
       |ex AS (
       |  SELECT source, count(DISTINCT tri) AS n_exact FROM tg GROUP BY 1
       |  UNION ALL
       |  SELECT '__all__', count(DISTINCT tri) FROM tg)
       |SELECT x.source, x.n_exact, e.hll_est, e.used_lc,
       |  CAST(abs(e.hll_est - x.n_exact) * 1000 // x.n_exact AS BIGINT)
       |    AS err_permille
       |FROM ex x JOIN est e USING (source)""".stripMargin
  }

  // --------------------------------------------------------------- tx23

  /** tx23: TRIANGLE COUNT + local clustering coefficient per host —
    * the graph-density companion to tx20's centrality on the SAME
    * content-derived link graph: clustering coefficient separates
    * organically-linked communities (high cc) from link farms and
    * spam rings (star-shaped, cc ≈ 0), the standard web-graph
    * curation signal next to domain rank. Per host: undirected
    * degree, incident-triangle count, and cc = 2·tri/(deg·(deg−1))
    * in integer permille.
    *
    * The Spark side runs the DEGREE-ORIENTED wedge algorithm (the
    * "forward"/Schank-Wagner form): orient every undirected edge from
    * its (deg, host)-smaller endpoint to the larger, generate wedges
    * only at each edge-pair's common SOURCE in that orientation, and
    * close them against the canonical edge set. Orientation is the
    * whole scale story — out-degree under it is O(√|E|) regardless of
    * hub skew, so wedge volume is Σ outdeg² ≤ arboricity-bounded
    * instead of Σ deg² (a single 10⁶-degree hub would otherwise emit
    * 10¹² wedges; oriented it emits what the graph's density
    * warrants). Every triangle materializes exactly once, at its
    * orientation-minimal corner, then explodes to its 3 corners for
    * the per-host rollup. The oracle is the UNORIENTED textbook
    * 3-way self-join on a<b<c — same triangle set, independently
    * derived. Hint discipline: the host-grain DIMS (degree, per-host
    * triangle counts — tx20's stated |hosts| ≪ |docs| premise) are
    * explicitly broadcast; the two EDGE-grain joins (wedges, closing)
    * are pinned SHUFFLE-HASH — |E|-sized sides must never be
    * broadcast-hinted, so the executed plan at gate scale is exactly
    * the shuffled equi-join shape that survives web scale (pure equi
    * keys: (lo), and the canonical (a, b) pair). */
  private def tx23(s: SparkSession, d: String): DataFrame = {
    val (hosts, _, edges) = hostGraph(s, d)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("h"))
      .unionAll(und.select(col("b").as("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(broadcast(deg.select(col("h").as("a"), col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("h").as("b"), col("deg").as("db"))), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"))
    // EDGE-grain joins are pinned SHUFFLE-HASH, never broadcast: the
    // wedge join and the closing join are the two |E|-sized sides, so
    // the plan executed at gate scale IS the one that survives web
    // scale (hash on the lo / (a,b) keys; sorting corpus-sized edge
    // streams for an SMJ buys nothing — the suite-wide lint). Hints
    // stay broadcast only on the genuine host-grain dims (deg,
    // perHost, hosts).
    val wedges = oriented.as("e1")
      .join(oriented.as("e2").hint("shuffle_hash"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("c0"), col("e1.hi").as("x"), col("e2.hi").as("y"))
    val tri = wedges
      .select(col("c0"), col("x"), col("y"),
        least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .join(und.hint("shuffle_hash"), Seq("a", "b"))
    val perHost = tri
      .select(explode(array(col("c0"), col("x"), col("y"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("tri"))
    hosts.select(col("source").as("host"))
      .join(broadcast(deg.withColumnRenamed("h", "host")), Seq("host"), "left")
      .join(broadcast(perHost.withColumnRenamed("h", "host")), Seq("host"), "left")
      .select(col("host"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("coalesce(tri, 0L) * 2000L div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).as("cc_permille"))
  }

  private val tx23Sql =
    s"""WITH $hostGraphCtes,
       |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |      FROM e),
       |degs AS (
       |  SELECT h, count(*) AS deg
       |  FROM (SELECT a AS h FROM u UNION ALL SELECT b AS h FROM u) x
       |  GROUP BY h),
       |t AS (
       |  SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
       |  FROM u e1
       |  JOIN u e2 ON e2.a = e1.b
       |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tc AS (
       |  SELECT h, count(*) AS tri
       |  FROM (SELECT v1 AS h FROM t UNION ALL SELECT v2 AS h FROM t
       |        UNION ALL SELECT v3 AS h FROM t) x
       |  GROUP BY h)
       |SELECT h.source AS host,
       |  CAST(coalesce(d.deg, 0) AS BIGINT) AS degree,
       |  CAST(coalesce(tc.tri, 0) AS BIGINT) AS triangles,
       |  CAST(CASE WHEN coalesce(d.deg, 0) >= 2
       |    THEN coalesce(tc.tri, 0) * 2000 // (d.deg * (d.deg - 1))
       |    ELSE 0 END AS BIGINT) AS cc_permille
       |FROM hosts h
       |LEFT JOIN degs d ON d.h = h.source
       |LEFT JOIN tc ON tc.h = h.source""".stripMargin

  // --------------------------------------------------------------- tx24

  /** tx24: BPE MERGE TRAINING — the tokenizer-training kernel
    * (Sennrich et al.'s byte-pair encoding, the algorithm behind
    * GPT-2/LLaMA-class vocabularies) as a distributed job: 8 merge
    * rounds over the corpus, each round counting adjacent symbol
    * pairs, choosing the argmax pair (count desc, pair lex — the tie
    * rule pinned), and applying the merge greedily left-to-right to
    * every word. Emits the merge table itself — (iter, lhs, rhs,
    * pair count, words touched) — the artifact a tokenizer ships.
    * End-of-word marker `</w>` per the original formulation, so
    * merges compose into whole subwords (`e r → er`, `er </w> →
    * er</w>` on this corpus).
    *
    * Scale shape: THE classic corpus→dict compression — pair stats
    * live on the WORD-FREQUENCY dict (one corpus scan builds it;
    * every round after is dict-grain, and the dict is
    * replica-INVARIANT: 100 copies of the corpus train the identical
    * tokenizer for one extra scan). Each round is one map-side-
    * combinable pair agg + a 1-row argmax anchor (TakeOrderedAndProject,
    * the codebookArr driver class) + one narrow higher-order
    * projection applying the merge — the greedy left-to-right pass is
    * a single `aggregate()` fold per word (state: built prefix + one
    * held symbol), not a per-position self-join. `localCheckpoint`
    * per round keeps the 8-round lineage flat (the dd12/sim14
    * iterative discipline). The oracle restates greedy application
    * relationally: merge positions = candidate runs kept at even
    * offsets (overlap chains only arise when lhs = rhs), an
    * independently-derived spelling of the same one-pass law.
    * Driver holds only the 8-row merge table and the per-round
    * 1-row argmax — never the dict. */
  /** The 8-round training loop shared by tx24 (merge table) and tx25
    * (corpus tokenization stats): returns the final word dict (word,
    * freq, merged syms) and the per-round merge rows. */
  private def bpeTrain(s: SparkSession, d: String): (DataFrame, Seq[(Int, String, String, Long, Long)]) = {
    val K = 8
    var wd = Tables.documents(s, d)
      .select(explode(Tables.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit("</w>"))).as("syms"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    var k = 1
    var exhausted = false
    while (k <= K && !exhausted) {
      // sequence(1, 0) DESCENDS in Spark — a fully-merged single-symbol
      // word needs the explicit empty branch, not an index clamp
      val best = wd
        .select(col("freq"), explode(expr(
          """CASE WHEN size(syms) < 2
            |  THEN CAST(array() AS array<struct<lhs:string,rhs:string>>)
            |  ELSE transform(sequence(1, size(syms) - 1),
            |    i -> struct(element_at(syms, i) AS lhs,
            |                element_at(syms, i + 1) AS rhs)) END""".stripMargin)).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        val (lc, rc, lr) = (lit(l), lit(r), lit(l + r))
        // one-pass greedy: fold the tail holding (built prefix, one
        // pending symbol); a merge emits lhs||rhs and clears the hold,
        // so a merged symbol can never chain into the next occurrence
        val merged = aggregate(
          expr("slice(syms, 2, size(syms) - 1)"),
          struct(expr("CAST(array() AS array<string>)").as("out"),
            element_at(col("syms"), 1).as("prev")),
          (acc, x) => when(acc.getField("prev") === lc && x === rc,
            struct(concat(acc.getField("out"), array(lr)).as("out"),
              lit(null).cast("string").as("prev")))
            .otherwise(struct(
              when(acc.getField("prev").isNull, acc.getField("out"))
                .otherwise(concat(acc.getField("out"),
                  array(acc.getField("prev")))).as("out"),
              x.as("prev"))),
          acc => when(acc.getField("prev").isNull, acc.getField("out"))
            .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
        // touched = words whose symbol sequence SHRANK under this
        // merge — identical to the old exists(adjacent lhs,rhs) scan
        // (greedy merges ≥1 occurrence whenever the pair is adjacent,
        // and only merges shorten), but delivered by an Observation on
        // the SAME job that materializes the rebuilt dict (r15, guide
        // §1.2: one pass instead of two — the separate count() job per
        // merge round was a third of the training wall)
        val obs = org.apache.spark.sql.Observation()
        wd = wd.select(col("word"), col("freq"), col("syms").as("syms0"),
            merged.as("syms"))
          .observe(obs, count(when(size(col("syms")) < size(col("syms0")), 1))
            .as("touched"))
          .select(col("word"), col("freq"), col("syms"))
          .localCheckpoint()
        val touched = obs.get("touched").asInstanceOf[Long]
        out += ((k, l, r, cnt, touched))
      }
      k += 1
    }
    (wd, out.toSeq)
  }

  private def tx24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d)._2
      .toDF("iter", "lhs", "rhs", "pair_count", "words_touched")
  }

  /** tx25: BPE TOKENIZATION of the corpus with the vocabulary tx24
    * just trained — the serving half of the tokenizer story: per
    * source, word/char totals, the subword-token total after the 8
    * merges, and the compression the vocabulary bought in integer
    * permille (initial symbol count = chars + one end-marker per
    * word, so untrained compression is exactly 1000‰).
    *
    * Scale shape: training already left every word's merged symbol
    * sequence ON THE DICT — tokenizing the corpus is one token scan
    * joined against the broadcast (word → subword count) dim plus a
    * map-side-combined per-source agg; no per-document merge
    * application ever runs (the dict IS the memoized tokenizer, the
    * production shape: train once, serve by lookup). */
  private def tx25(s: SparkSession, d: String): DataFrame = {
    val dict = bpeTrain(s, d)._1
      .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    Tables.documents(s, d)
      .select(col("source"), explode(Tables.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(dict), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        countDistinct(col("word")).as("n_distinct_words"),
        sum(col("n_sub")).as("n_subwords"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("n_distinct_words"), col("n_subwords"),
        expr("n_subwords * 1000L div (n_chars + n_words)")
          .as("compression_permille"))
  }

  /** The w0→w8 training CTE chain (DuckDB) shared by tx24Sql/tx25Sql.
    * MATERIALIZED is load-bearing: each round references its
    * predecessor three times, so inlined CTEs would re-expand the
    * corpus scan 3^8 times. */
  private val bpeCtes: String = {
    def step(k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT syms, freq, unnest(range(1, len(syms))) AS i
         |        FROM w${k - 1}) x
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |cand$k AS MATERIALIZED (
         |  SELECT word, i
         |  FROM (SELECT word, syms, unnest(range(1, len(syms))) AS i
         |        FROM w${k - 1}) x
         |  WHERE syms[i] = (SELECT lhs FROM b$k)
         |    AND syms[i+1] = (SELECT rhs FROM b$k)),
         |keep$k AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, i - min(i) OVER (PARTITION BY word, i - rn) AS off
         |    FROM (SELECT word, i,
         |            row_number() OVER (PARTITION BY word ORDER BY i) AS rn
         |          FROM cand$k) c) x
         |  WHERE off % 2 = 0),
         |w$k AS MATERIALIZED (
         |  SELECT e.word, e.freq,
         |    list(CASE WHEN k1.i IS NOT NULL
         |      THEN (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k)
         |      ELSE e.sym END ORDER BY e.q) AS syms
         |  FROM (SELECT word, freq, unnest(syms) AS sym,
         |          unnest(range(1, len(syms) + 1)) AS q FROM w${k - 1}) e
         |  LEFT JOIN keep$k k1 ON k1.word = e.word AND k1.i = e.q
         |  LEFT JOIN keep$k k2 ON k2.word = e.word AND k2.i = e.q - 1
         |  WHERE k2.i IS NULL
         |  GROUP BY e.word, e.freq)""".stripMargin
    s"""w0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    list_append(
       |      [substr(word, i, 1) for i in range(1, length(word) + 1)],
       |      '</w>') AS syms
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents) t
       |  WHERE word <> ''
       |  GROUP BY word),
       |${(1 to 8).map(step).mkString(",\n")}""".stripMargin
  }

  private val tx24Sql = {
    def tail(k: Int): String =
      s"""t$k AS (SELECT CAST($k AS INT) AS iter, lhs, rhs, cnt AS pair_count,
         |  (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM keep$k)
         |    AS words_touched FROM b$k)""".stripMargin
    s"""WITH $bpeCtes,
       |${(1 to 8).map(tail).mkString(",\n")}
       |SELECT * FROM (${(1 to 8).map(k => s"SELECT * FROM t$k").mkString(" UNION ALL ")}) u""".stripMargin
  }

  private val tx25Sql =
    s"""WITH $bpeCtes,
       |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM w8),
       |inst AS (
       |  SELECT source, word
       |  FROM (SELECT source,
       |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents) t
       |  WHERE word <> '')
       |SELECT source, n_words, n_chars, n_distinct_words, n_subwords,
       |  CAST(n_subwords * 1000 // (n_chars + n_words) AS BIGINT)
       |    AS compression_permille
       |FROM (
       |  SELECT i.source,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(length(i.word)) AS BIGINT) AS n_chars,
       |    CAST(count(DISTINCT i.word) AS BIGINT) AS n_distinct_words,
       |    CAST(sum(e.n_sub) AS BIGINT) AS n_subwords
       |  FROM inst i JOIN enc e ON e.word = i.word
       |  GROUP BY i.source) g""".stripMargin

  // ---------------------------------------------------------------- tx26

  /** tx26: VOCABULARY-GROWTH CURVE (the Heaps-law monitor) — how many
    * NEW token types each successive tenth of the corpus contributes,
    * and the cumulative vocabulary after it. The curve is a standing
    * corpus-health dashboard number: a healthy growing crawl adds
    * types sub-linearly (Heaps' V ∝ Nᵝ, β < 1); a curve that stays
    * LINEAR means unbounded novelty (OCR noise, binary junk — tokens
    * that never repeat), and one that goes FLAT while token volume
    * grows means the new ingest is duplicated content the dedup
    * stage should have caught. Tokenizer-budget planning (how big a
    * BPE vocab the corpus warrants, tx24's training input) reads the
    * same curve.
    *
    * One pass, exact: each token's FIRST-SEEN decile is a min-combined
    * aggregate at the token grain (the only corpus-∝ exchange — the
    * same class as tx1's token counting, map-side combined), the
    * per-decile token volume rides the same explode, and the
    * cumulative vocabulary is a ≤10-row window (ob3-class). No
    * sketch: the driver never sees tokens, just 10 rows — the exact
    * curve costs one exchange where the naive "count distinct over
    * every prefix" costs ten corpus scans. Decile = doc_id·10 div
    * (max_id+1) off a 1-row driver anchor (dense ids; the la4/tw6
    * anchor discipline). */
  private def tx26(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val toks = docs.select(
        expr(s"doc_id * 10 div ${n}L").as("decile"),
        explode(Tables.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val perDecile = toks.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("decile")).as("first_seen"))
      .groupBy(col("first_seen")).agg(count(lit(1)).as("new_types"))
      .withColumnRenamed("first_seen", "decile")
    perDecile.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("vocab_cum", sum(col("new_types")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
  }

  private val tx26Sql =
    """WITH mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
      |toks AS (
      |  SELECT doc_id * 10 // mx.n AS decile, t.tok
      |  FROM documents, mx,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
      |  WHERE length(t.tok) > 0),
      |pd AS (SELECT decile, count(*) AS n_tokens FROM toks GROUP BY 1),
      |nt AS (
      |  SELECT first_seen AS decile, count(*) AS new_types FROM (
      |    SELECT tok, min(decile) AS first_seen FROM toks GROUP BY tok) f
      |  GROUP BY 1)
      |SELECT pd.decile, pd.n_tokens,
      |  coalesce(nt.new_types, 0) AS new_types,
      |  CAST(sum(coalesce(nt.new_types, 0)) OVER (
      |    ORDER BY pd.decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
      |FROM pd LEFT JOIN nt ON nt.decile = pd.decile""".stripMargin

  // ---------------------------------------------------------------- tx27

  /** tx27: per-source LINEAR PROBE — the least-squares fit of tokens
    * against chars, per source, in closed form: the length-law probe
    * a curation team fits per domain to spot machine-generated or
    * boilerplate-heavy sources (a source whose token count is almost
    * perfectly affine in char count — r² ≈ 1000‰ with an anomalous
    * slope — is template output, not prose). No gradient loop, no FP:
    * the normal equations for one feature reduce to integer moment
    * sums (n, Σx, Σy, Σx², Σxy, Σy²), and slope/intercept/r² come out
    * of the centered second moments `D__ = n·Σ__ − Σ_·Σ_` by integer
    * division — slope in micro units, r² in permille. Moments are
    * summed as DECIMAL(38,0) (exact, order-free — DuckDB's HUGEINT
    * twin); the r² quotient pre-floors its operands by 10³ so the
    * squared numerator stays inside 38 digits (exact headroom to
    * ~10¹⁸-scale D values ≈ 10⁹ docs/source; the same defined
    * formula on both engines, so the floor is part of the law).
    * Degenerate sources (constant x or constant y) emit NULL fit
    * columns rather than dividing by zero, and r² is reported only
    * when BOTH floored moments are nonzero (D ≥ 1000) — below that a
    * sample is too small for its r² to mean anything, and the floor
    * would otherwise zero the quotient's denominator.
    *
    * Scale shape: ONE narrow scan computes per-doc (x, y); one
    * map-side-combined hash agg collapses to the source dim; the
    * algebra is a projection on ≤|sources| rows. At 100 TB: one
    * scan, bounded output — tx17's economics with a model on top. */
  private def tx27(s: SparkSession, d: String): DataFrame = {
    val D = "decimal(38,0)"
    Tables.documents(s, d)
      .select(col("source"),
        col("n_chars").cast("long").as("x"),
        size(Tables.tokens(col("text"))).cast("long").as("y"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast(D).as("n"),
        sum(col("x").cast(D)).as("sx"),
        sum(col("y").cast(D)).as("sy"),
        // cast EACH OPERAND to decimal(38,0) BEFORE the multiply: a
        // BIGINT product wraps silently at ~9.2e18 on Spark while the
        // HUGEINT twin errors loudly — pre-casting gives the per-doc
        // products the same exact 38-digit headroom as the aggregated
        // moments (x,y ≤ ~1e9 per doc keeps products ≤ 1e18, but the
        // guarantee should hold by construction, not by data luck)
        sum(expr(s"CAST(x AS $D) * CAST(x AS $D)")).as("sxx"),
        sum(expr(s"CAST(x AS $D) * CAST(y AS $D)")).as("sxy"),
        sum(expr(s"CAST(y AS $D) * CAST(y AS $D)")).as("syy"))
      .withColumn("dxx", expr("n * sxx - sx * sx"))
      .withColumn("dxy", expr("n * sxy - sx * sy"))
      .withColumn("dyy", expr("n * syy - sy * sy"))
      .withColumn("slope_micro",
        expr("CASE WHEN dxx <> 0 THEN (dxy * 1000000) div dxx END"))
      .withColumn("icept_micro",
        expr("CASE WHEN dxx <> 0 THEN (sy * 1000000 - slope_micro * sx) div n END"))
      .withColumn("r2_permille", expr(
        """CASE WHEN dxx div 1000 <> 0 AND dyy div 1000 <> 0 THEN
          |  (CAST(dxy div 1000 AS DECIMAL(38,0))
          |     * CAST(dxy div 1000 AS DECIMAL(38,0)) * 1000)
          |  div (CAST(dxx div 1000 AS DECIMAL(38,0))
          |     * CAST(dyy div 1000 AS DECIMAL(38,0))) END""".stripMargin))
      .select(col("source"), expr("CAST(n AS BIGINT)").as("n_docs"),
        col("slope_micro"), col("icept_micro"), col("r2_permille"))
  }

  private val tx27Sql =
    """WITH rows_ AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS x,
      |    CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS y
      |  FROM documents),
      |s AS (
      |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
      |  FROM rows_ GROUP BY source),
      |d AS (
      |  SELECT source, n, sx, sy,
      |    n * sxx - sx * sx AS dxx,
      |    n * sxy - sx * sy AS dxy,
      |    n * syy - sy * sy AS dyy
      |  FROM s),
      |f AS (
      |  SELECT source, n, sx, sy, dxx, dxy, dyy,
      |    CASE WHEN dxx <> 0 THEN (dxy * 1000000) // dxx END AS slope_micro
      |  FROM d)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |  CAST(slope_micro AS BIGINT) AS slope_micro,
      |  CAST(CASE WHEN dxx <> 0
      |    THEN (sy * 1000000 - slope_micro * sx) // n END AS BIGINT)
      |    AS icept_micro,
      |  CAST(CASE WHEN dxx // 1000 <> 0 AND dyy // 1000 <> 0 THEN
      |    ((dxy // 1000) * (dxy // 1000) * 1000)
      |      // ((dxx // 1000) * (dyy // 1000)) END AS BIGINT) AS r2_permille
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- tx28

  /** tx28: LINEAR-CLASSIFIER INFERENCE as a folded-weights narrow map
    * — the serving half of tx27's fit, and the FineWeb-Edu-style
    * quality scorer every curation pipeline runs over the full corpus:
    * per-doc score = w·features + b with the TRAINED weight vector
    * folded into the projection as literals (sim6's folded-codebook
    * discipline — no weights table, no join, no UDF; the whole scorer
    * is one whole-stage-codegen'd map over the scan), keep/drop at a
    * fixed threshold, then the per-source CALIBRATION rollup a
    * curation team reads to see which domains the scorer guts (the
    * reference's ≥70% A4 classifier is the threshold-decision
    * precedent, youtube_api_handler.py:1073-1092). Integer end-to-end:
    * features are exact counts, weights are integer MICRO units, the
    * score is a BIGINT micro sum — bit-identical on both engines by
    * construction, no FP anywhere (the tx27 moment discipline applied
    * to serving). Both engines' score terms are generated from the
    * SAME (feature, weight) sequence, so the scorer cannot drift from
    * its oracle restatement.
    *
    * Scale shape: ONE narrow scan → per-doc score (zero exchanges) →
    * map-side-combined hash agg to the source dim. At 100 TB this is
    * the cheapest possible full-corpus pass: no state, no join,
    * output ∝ |sources|. Retraining ships new literals, not a new
    * plan. */
  private[graft] val tx28Weights: Seq[(String, Long)] = Seq(
    "n_tokens" -> 2500L,     // length reward (tokens are the budget unit)
    "n_chars" -> -13L,       // verbosity penalty per char
    "punct_cnt" -> -900L,    // symbol-noise penalty
    "digit_cnt" -> -400L,    // table/boilerplate penalty
    "stopword_cnt" -> 1700L) // prose-likeness reward
  private[graft] val tx28Bias = -60000L // micro
  /** keep iff score_micro >= 0 */

  /** Per-doc feature extraction + folded-weights score — shared by the
    * gate and the fixture-pinning spec (TextAnalysisSpec). */
  private[graft] def tx28Score(docs: DataFrame): DataFrame = {
    val feats = docs.select(
      col("source"), col("doc_id"),
      size(Tables.tokens(col("text"))).cast("long").as("n_tokens"),
      col("n_chars").cast("long").as("n_chars"),
      regexp_count(col("text"), lit("[^a-z0-9\\s]")).cast("long").as("punct_cnt"),
      regexp_count(col("text"), lit("[0-9]")).cast("long").as("digit_cnt"),
      regexp_count(col("text"), lit("\\b(the|a)\\b")).cast("long").as("stopword_cnt"))
    val score = tx28Weights.map { case (f, w) => col(f) * lit(w) }
      .reduceLeft(_ + _) + lit(tx28Bias)
    feats.withColumn("score_micro", score)
      .withColumn("keep", col("score_micro") >= 0L)
  }

  private def tx28(s: SparkSession, d: String): DataFrame =
    tx28Score(Tables.documents(s, d))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("score_micro")).as("sum_score"),
        min(col("score_micro")).as("min_score_micro"),
        max(col("score_micro")).as("max_score_micro"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        expr("(n_keep * 1000) div n_docs").as("keep_permille"),
        expr("sum_score div n_docs").as("mean_score_micro"),
        col("min_score_micro"), col("max_score_micro"))

  private val tx28Sql = {
    val terms = tx28Weights.map { case (f, w) => s"$f * ($w)" }
      .mkString(" + ")
    s"""WITH f AS (
       |  SELECT source, doc_id,
       |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    CAST(n_chars AS BIGINT) AS n_chars,
       |    CAST(length(regexp_extract_all(text, '[^a-z0-9\\s]')) AS BIGINT)
       |      AS punct_cnt,
       |    CAST(length(regexp_extract_all(text, '[0-9]')) AS BIGINT)
       |      AS digit_cnt,
       |    CAST(length(regexp_extract_all(text, '\\b(the|a)\\b')) AS BIGINT)
       |      AS stopword_cnt
       |  FROM documents),
       |sc AS (
       |  SELECT source, $terms + (${tx28Bias}) AS score_micro FROM f)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep,
       |  (CAST(sum(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000) // count(*) AS keep_permille,
       |  CAST(sum(score_micro) AS BIGINT) // count(*) AS mean_score_micro,
       |  min(score_micro) AS min_score_micro,
       |  max(score_micro) AS max_score_micro
       |FROM sc GROUP BY source""".stripMargin
  }

  // --------------------------------------------------------------- tx29

  /** tx29: MISRA-GRIES heavy hitters — the FOURTH classic sketch,
    * closing the toolkit (tx8/tx18 KMV distinct-count, tx21 Count-Min
    * frequency, tx22 HLL cardinality, la25 KLL quantiles): the O(k)
    * mergeable summary with the strongest frequency guarantee per
    * byte, and the DETERMINISTIC counterpart to Count-Min — CM never
    * undercounts but its overestimate rides the hash draw; MG never
    * OVERcounts and its undercount is bounded by a counting argument
    * the sketch tracks exactly ([[graft.functions.MgTopKAgg]]: every
    * unit of `err` costs ≥ k+1 units of discarded input mass, so
    * err ≤ n/(k+1) under ANY merge tree — Agarwal et al. 2012).
    *
    * Certificates (the la25 discipline — MG counters are merge-order-
    * dependent and never reach a hashed column): for the exact top-20
    * tokens (both engines re-derive them) the gate emits
    * `certified` (exact − err ≤ mg_counter ≤ exact), `hh_present`
    * (any token with exact > err is IN the summary — the classical
    * no-heavy-hitter-lost law), and `err_law_ok`
    * (err·(k+1) ≤ n). All three are deterministically true; the
    * oracle pins them to TRUE and recomputes the exact counts.
    *
    * Scale shape: the sketch is one ObjectHashAggregate with O(k)
    * state per partition — the (token, count) dim it replaces is the
    * corpus-wide exchange tx21's comparator pays; the audit (exact
    * top-20 + probe) costs exactly that comparator, and drops with it
    * at serving time. */
  private def tx29(s: SparkSession, d: String): DataFrame = {
    val K = 256
    val tk = Tables.documents(s, d).select(explode(Tables.tokens(col("text"))).as("tok"))
    val sk = tk.agg(expr(s"mg_topk(tok, $K)").as("sk"))
    val top = tk.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok").asc).limit(20)
    top.crossJoin(broadcast(sk)) // 1-row sketch anchor, la10's pattern
      .withColumn("mg_cnt", coalesce(
        element_at(filter(col("sk.items"),
          i => i.getField("tok") === col("tok")), 1).getField("cnt"), lit(0L)))
      .select(col("tok"), col("exact_cnt"),
        (col("mg_cnt") >= col("exact_cnt") - col("sk.err") &&
          col("mg_cnt") <= col("exact_cnt")).as("certified"),
        (col("exact_cnt") <= col("sk.err") || col("mg_cnt") > 0)
          .as("hh_present"),
        (col("sk.err") * (K + 1) <= col("sk.n")).as("err_law_ok"))
  }

  private val tx29Sql =
    """WITH tk AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents)
      |SELECT tok, count(*) AS exact_cnt,
      |  TRUE AS certified, TRUE AS hh_present, TRUE AS err_law_ok
      |FROM tk GROUP BY tok
      |ORDER BY exact_cnt DESC, tok ASC LIMIT 20""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("tx1_token_stats", tx1, Some(tx1Sql),
      "token/char counting + avg token length"),
    GateQuery("tx2_quality_score", tx2, Some(tx2Sql),
      "quality heuristics + keep/flag/drop bucket"),
    GateQuery("tx3_langid", tx3, Some(tx3Sql),
      "marker-ngram language ID w/ fixed-precedence argmax (A5/P7)"),
    GateQuery("tx4_langid_eval", tx4, Some(tx4Sql),
      "language-ID confusion matrix rollup"),
    GateQuery("tx5_fingerprint", tx5, Some(tx5Sql),
      "md5 + 60-bit content fingerprints + shard bucket (P11)"),
    GateQuery("tx6_bigram_topk", tx6, Some(tx6Sql),
      "corpus top-20 token bigrams via explode (S6/S7 generator shape)"),
    GateQuery("tx7_corpus_prep", tx7, Some(tx7Sql),
      "full prep funnel: lang-ID + quality + exact-dedup -> keep/drop decision"),
    GateQuery("tx8_kmv_cardinality", tx8, Some(tx8Sql),
      "KMV distinct-count sketch (k=32) vs the exact count, one row"),
    GateQuery("tx9_length_quantiles", tx9, Some(tx9Sql),
      "exact per-language p50/p90/p99 token-length quantiles by rank selection"),
    GateQuery("tx10_oov_rate", tx10, Some(tx10Sql),
      "per-doc OOV rate vs the induced top-K corpus vocabulary"),
    GateQuery("tx11_bigram_surprisal", tx11, Some(tx11Sql),
      "bigram-LM rarity scoring with exact integer probabilities (no FP log-sums)"),
    GateQuery("tx12_grouped_kmv", tx12, Some(tx12Sql),
      "per-language KMV sketch: O(k) state per stratum vs the exact distinct comparator"),
    GateQuery("tx13_inverted_index", tx13, Some(tx13Sql),
      "inverted-index build: per-term df, total tf, bounded posting-list head"),
    GateQuery("tx14_scored_retrieval", tx14, Some(tx14Sql),
      "tf-idf keyword retrieval with exact integer idf (rarest-term query set)"),
    GateQuery("tx15_pii_redact", tx15, Some(tx15Sql),
      "PII scrub: count + redact emails/URLs/ID runs with pinned pass order (P3 generalized)"),
    GateQuery("tx16_repetition", tx16, Some(tx16Sql),
      "Gopher-style intra-doc repetition filter: dup-bigram / top-gram permille shares"),
    GateQuery("tx17_source_reputation", tx17, Some(tx17Sql),
      "domain-grain curation: per-source quality shares + keep/review/drop verdict"),
    GateQuery("tx18_kmv_merge", tx18, Some(tx18Sql),
      "KMV mergeability as data: per-source sketches re-sketched equal the direct global sketch"),
    GateQuery("tx19_token_drift", tx19, Some(tx19Sql),
      "token-distribution drift between hash-split corpus halves over the shared top-100 vocab"),
    GateQuery("tx20_host_centrality", tx20, Some(tx20Sql),
      "PageRank host centrality (4 fixed-point iterations) for domain-weighted sampling"),
    GateQuery("tx21_countmin_freq", tx21, Some(tx21Sql),
      "Count-Min frequency sketch: per-source partials summed by linearity, top-20 probes with overestimates"),
    GateQuery("tx22_hll_registers", tx22, Some(tx22Sql),
      "HyperLogLog cardinality: integer-exact registers, per-source partials max-merged, est = C div harmonic sum"),
    GateQuery("tx23_host_triangles", tx23, Some(tx23Sql),
      "degree-oriented triangle count + clustering coefficient per host, vs the unoriented 3-way join"),
    GateQuery("tx24_bpe_merges", tx24, Some(tx24Sql),
      "BPE tokenizer training: 8 merge rounds on the word-frequency dict, greedy application as a fold"),
    GateQuery("tx25_bpe_tokenize", tx25, Some(tx25Sql),
      "corpus tokenization with the trained BPE vocab: per-source subword totals + compression permille"),
    GateQuery("tx26_vocab_growth", tx26, Some(tx26Sql),
      "vocabulary-growth (Heaps-law) curve: per-decile new types + cumulative vocab in one token-grain pass"),
    GateQuery("tx27_linear_probe", tx27, Some(tx27Sql),
      "per-source least-squares fit of tokens ~ chars in closed form: integer-exact moments, slope/intercept/r2"),
    GateQuery("tx28_classifier_inference", tx28, Some(tx28Sql),
      "folded-weights linear classifier inference: integer micro score + threshold keep/drop + per-source calibration"),
    GateQuery("tx29_mg_heavy_hitters", tx29, Some(tx29Sql),
      "Misra-Gries heavy hitters: O(k) mergeable summary, never-overcount + n/(k+1) laws certified vs exact top-20"))
}
