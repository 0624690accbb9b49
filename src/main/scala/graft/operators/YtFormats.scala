package graft.operators

import graft.{GateQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-format operators — the parse/extract/normalize surface of
  * SURVEY §2.1-2.2 that is specific to the YouTube-shaped data:
  *   S6/S7  RSS/Atom XML → rows  (`_parse_rss_feed`/`_parse_rss_video`,
  *          youtube_api_handler.py:781-838)       → from_xml + regexp
  *   P3     email extraction (:848-860)           → regexp_extract
  *   P4     topic-category beautifier (:862-877)  → filter/transform HOFs
  *   P6     video-id from URL (:805-815)          → regexp_extract
  *   P7/J2  language-name lookup w/ fallback chain (:336-359)
  *                                                → broadcast dim join
  *   P8     handle normalization (:437-441)       → regexp_replace
  *   P11    md5 cache key (:113)                  → md5(to_json-ish)
  *
  * The driver tables carry no XML/emails/URLs, so each query first
  * SYNTHESIZES the reference-shaped input deterministically from table
  * columns, then applies the real operator. The DuckDB oracle builds
  * the same synthetic input and must land on identical output — so the
  * parse/extract logic itself is what's being verified.
  *
  * Scale notes: all of these are narrow per-row maps (no shuffle); the
  * language lookup joins an 83-row-class dimension → broadcast.
  */
object YtFormats {

  // ---------------------------------------------------------------- yf1

  /** yf1 (S6/S7+P5/P6): build an Atom-ish <entry> per event, parse it
    * back with from_xml, pull the video id out of the link URL with the
    * reference's regexp, and classify shorts/long from the URL shape.
    * The oracle computes the same outputs straight from the base
    * columns — any from_xml/regexp divergence shows up as a mismatch. */
  private def yf1(s: SparkSession, d: String): DataFrame = {
    val xmlSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("title", StringType),
      StructField("link", StructType(Seq(StructField("_href", StringType)))),
      StructField("views", LongType)))
    Tables.events(s, d)
      .withColumn("path",
        when(col("event_type") === "click", concat(lit("/shorts/v"), col("event_id")))
          .otherwise(concat(lit("/watch?v=v"), col("event_id"))))
      .withColumn("xml", concat(
        lit("<entry><id>yt:video:v"), col("event_id"),
        lit("</id><title>evt "), col("event_id"),
        lit("</title><link href=\"https://www.youtube.com"), col("path"),
        lit("\"/><views>"), col("user_id"), lit("</views></entry>")))
      .withColumn("e", from_xml(col("xml"), xmlSchema))
      .select(
        col("event_id"),
        col("e.id").as("raw_id"),
        col("e.title").as("title"),
        col("e.link._href").as("url"),
        col("e.views").as("views_from_rss"),
        regexp_extract(col("e.link._href"),
          "(?:/watch\\?v=|/shorts/)([^&?]+)", 1).as("video_id"),
        when(col("e.link._href").contains("/shorts/"), lit("shorts"))
          .when(col("e.link._href").contains("/watch?v="), lit("long"))
          .otherwise(lit("unknown")).as("video_type"))
  }

  private val yf1Sql =
    """SELECT event_id,
      |  'yt:video:v' || event_id AS raw_id,
      |  'evt ' || event_id AS title,
      |  'https://www.youtube.com' || path AS url,
      |  user_id AS views_from_rss,
      |  'v' || event_id AS video_id,
      |  CASE WHEN event_type = 'click' THEN 'shorts' ELSE 'long' END AS video_type
      |FROM (
      |  SELECT event_id, user_id, event_type,
      |    CASE WHEN event_type = 'click' THEN '/shorts/v' || event_id
      |         ELSE '/watch?v=v' || event_id END AS path
      |  FROM events) t""".stripMargin

  // ---------------------------------------------------------------- yf2

  /** yf2 (P3+P10): synthesize a channel description (every third
    * customer embeds an email), extract the first email with the
    * reference regexp (null when absent), and emit the P10-style
    * verification flags. */
  private def yf2(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("handle", regexp_replace(lower(col("c_name")), "[^a-z0-9]+", ""))
      .withColumn("description",
        when(col("c_custkey") % 3 === 0,
          concat(lit("Business inquiries: "), col("handle"),
            lit("@example.com (segment "), col("c_mktsegment"), lit(")")))
          .otherwise(concat(lit("Channel of "), col("c_name"))))
      .select(
        col("c_custkey").as("channel_id"),
        col("description"),
        nullif(regexp_extract(col("description"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", 0), lit("")).as("email"))
      .withColumn("has_email", col("email").isNotNull)
      .withColumn("has_description", length(col("description")) > 0)

  private val yf2Sql =
    """SELECT channel_id, description,
      |  NULLIF(regexp_extract(description,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0), '') AS email,
      |  NULLIF(regexp_extract(description,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0), '') IS NOT NULL AS has_email,
      |  length(description) > 0 AS has_description
      |FROM (
      |  SELECT c_custkey AS channel_id,
      |    CASE WHEN c_custkey % 3 = 0
      |      THEN 'Business inquiries: ' ||
      |        regexp_replace(lower(c_name), '[^a-z0-9]+', '', 'g') ||
      |        '@example.com (segment ' || c_mktsegment || ')'
      |      ELSE 'Channel of ' || c_name END AS description
      |  FROM customer) t""".stripMargin

  // ---------------------------------------------------------------- yf3

  /** yf3 (P4): topic-category beautifier — build a URL array per part
    * (one wiki URL with underscores and parens, one non-wiki URL that
    * must be DROPPED), keep '/wiki/' URLs only, take the segment after
    * /wiki/, '_'→' ', strip '(' and ')'. Higher-order filter+transform,
    * emitted as a joined string (stable scalar output). */
  private def yf3(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .withColumn("urls", array(
        concat(lit("https://en.wikipedia.org/wiki/"),
          regexp_replace(col("p_type"), " ", "_"), lit("_(genre)")),
        concat(lit("https://example.com/c/"), col("p_partkey"))))
      .select(
        col("p_partkey"),
        concat_ws("|", expr(
          "transform(filter(urls, u -> contains(u, '/wiki/')), " +
            "u -> replace(replace(replace(substring_index(u, '/wiki/', -1), '_', ' '), '(', ''), ')', ''))"))
          .as("categories"))

  private val yf3Sql =
    """SELECT p_partkey,
      |  list_aggr(list_transform(list_filter(urls, u -> contains(u, '/wiki/')),
      |    u -> replace(replace(replace(
      |      regexp_extract(u, '/wiki/(.*)$', 1), '_', ' '), '(', ''), ')', '')),
      |    'string_agg', '|') AS categories
      |FROM (
      |  SELECT p_partkey,
      |    ['https://en.wikipedia.org/wiki/' || replace(p_type, ' ', '_') || '_(genre)',
      |     'https://example.com/c/' || p_partkey] AS urls
      |  FROM part) t""".stripMargin

  // ---------------------------------------------------------------- yf4

  /** yf4 (P7/J2/A5 fallback): language-name lookup against a broadcast
    * dimension with the reference's fallback chain — exact code →
    * lowercased → base code before '-' → upper(code) as display
    * fallback; null → 'Unknown'. Messy codes are synthesized from
    * documents.lang (upper-cased, region-suffixed, or nulled by
    * doc_id residue). */
  /** The language dimension (P7's LANGUAGE_MAP analog,
    * youtube_api_handler.py:336-359) — shared with ca7's per-language
    * distribution. Tiny → always broadcast at the join site. */
  private[operators] def langDim(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(
      ("en", "English"), ("es", "Spanish"), ("de", "German"),
      ("fr", "French"), ("zh", "Chinese"))).toDF("code", "name")

  /** VALUES-list mirror of [[langDim]] for oracle SQL. */
  private[operators] val langDimSql =
    """(VALUES ('en','English'),('es','Spanish'),('de','German'),
      |  ('fr','French'),('zh','Chinese')) dim(code, name)""".stripMargin

  private def yf4(s: SparkSession, d: String): DataFrame = {
    val dimDf = langDim(s)
    val docs = Tables.documents(s, d)
      .withColumn("raw_code",
        when(col("doc_id") % 11 === 0, lit(null).cast("string"))
          .when(col("doc_id") % 5 === 0, upper(col("lang")))
          .when(col("doc_id") % 7 === 0, concat(col("lang"), lit("-XX")))
          .otherwise(col("lang")))
      .withColumn("norm_code",
        lower(substring_index(col("raw_code"), "-", 1)))
    docs.join(broadcast(dimDf), docs("norm_code") === dimDf("code"), "left")
      .select(
        col("doc_id"), col("raw_code"),
        when(col("raw_code").isNull, lit("Unknown"))
          .otherwise(coalesce(col("name"), upper(col("raw_code")))).as("language_name"))
  }

  private val yf4Sql =
    """SELECT doc_id, raw_code,
      |  CASE WHEN raw_code IS NULL THEN 'Unknown'
      |       ELSE COALESCE(name, upper(raw_code)) END AS language_name
      |FROM (
      |  SELECT doc_id, raw_code,
      |    lower(CASE WHEN strpos(raw_code, '-') > 0
      |      THEN substr(raw_code, 1, strpos(raw_code, '-') - 1)
      |      ELSE raw_code END) AS norm_code
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 11 = 0 THEN NULL
      |           WHEN doc_id % 5 = 0 THEN upper(lang)
      |           WHEN doc_id % 7 = 0 THEN lang || '-XX'
      |           ELSE lang END AS raw_code
      |    FROM documents) r) n
      |LEFT JOIN (VALUES ('en','English'),('es','Spanish'),('de','German'),
      |  ('fr','French'),('zh','Chinese')) dim(code, name)
      |ON n.norm_code = dim.code""".stripMargin

  // ---------------------------------------------------------------- yf5

  /** yf5 (P8+P11): handle normalization (strip leading '@'s, re-prefix
    * one) and the md5 cache key over the canonical request string. */
  private def yf5(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("raw_handle", concat(
        when(col("c_custkey") % 4 === 0, lit("@@")).otherwise(lit("@")),
        regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "")))
      .select(
        col("c_custkey"),
        col("raw_handle"),
        concat(lit("@"), regexp_replace(col("raw_handle"), "^@+", "")).as("handle"),
        md5(concat(lit("get_channel_by_handle:"),
          regexp_replace(col("raw_handle"), "^@+", ""))).as("cache_key"))

  private val yf5Sql =
    """SELECT c_custkey, raw_handle,
      |  '@' || regexp_replace(raw_handle, '^@+', '') AS handle,
      |  md5('get_channel_by_handle:' || regexp_replace(raw_handle, '^@+', '')) AS cache_key
      |FROM (
      |  SELECT c_custkey,
      |    (CASE WHEN c_custkey % 4 = 0 THEN '@@' ELSE '@' END) ||
      |      regexp_replace(lower(c_name), '[^a-z0-9]+', '', 'g') AS raw_handle
      |  FROM customer) t""".stripMargin

  // ---------------------------------------------------------------- yf6

  /** yf6: ISO-8601 duration parse (`contentDetails.duration`,
    * youtube_api_handler.py:769 — carried opaque there; SURVEY §7.4.10
    * names the parse expression as the worthwhile scalar addition).
    * Synthesizes the reference's duration shapes (PT#M#S, PT#H#M#S,
    * PT#S, P#DT#H, P#W, malformed, NULL) from orders columns, parses
    * with the codegen'd `parse_yt_duration`, and derives the
    * duration-based shorts flag (≤ 60 s). The oracle re-derives seconds
    * with an anchored regexp — any grammar divergence mismatches. */
  private def yf6(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("h", col("o_orderkey") % 24)
      .withColumn("m", col("o_orderkey") % 60)
      .withColumn("sec", col("o_orderkey") % 61)
      .withColumn("dur",
        when(col("o_orderkey") % 7 === 0,
          concat(lit("PT"), col("h"), lit("H"), col("m"), lit("M"), col("sec"), lit("S")))
          .when(col("o_orderkey") % 7 === 1,
            concat(lit("PT"), col("m"), lit("M"), col("sec"), lit("S")))
          .when(col("o_orderkey") % 7 === 2,
            concat(lit("PT"), col("sec"), lit("S")))
          .when(col("o_orderkey") % 7 === 3,
            concat(lit("P"), col("o_orderkey") % 3, lit("DT"), col("h"), lit("H")))
          .when(col("o_orderkey") % 7 === 4, lit("P2W"))
          .when(col("o_orderkey") % 7 === 5, lit("not-a-duration"))
          .otherwise(lit(null).cast("string")))
      .select(
        col("o_orderkey"),
        col("dur"),
        expr("parse_yt_duration(dur)").as("dur_seconds"),
        (expr("parse_yt_duration(dur)") <= 60).as("is_short"))

  private val yf6Sql =
    """SELECT o_orderkey, dur, dur_seconds, dur_seconds <= 60 AS is_short FROM (
      |  SELECT o_orderkey, dur,
      |    CASE WHEN w = '' AND dd = '' AND h = '' AND m = '' AND s = '' THEN NULL
      |         ELSE CASE WHEN w = '' THEN 0 ELSE w::BIGINT END * 604800
      |            + CASE WHEN dd = '' THEN 0 ELSE dd::BIGINT END * 86400
      |            + CASE WHEN h = '' THEN 0 ELSE h::BIGINT END * 3600
      |            + CASE WHEN m = '' THEN 0 ELSE m::BIGINT END * 60
      |            + CASE WHEN s = '' THEN 0 ELSE s::BIGINT END
      |    END AS dur_seconds
      |  FROM (
      |    SELECT o_orderkey, dur,
      |      regexp_extract(dur, '^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$', 1) AS w,
      |      regexp_extract(dur, '^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$', 2) AS dd,
      |      regexp_extract(dur, '^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$', 3) AS h,
      |      regexp_extract(dur, '^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$', 4) AS m,
      |      regexp_extract(dur, '^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?)?$', 5) AS s
      |    FROM (
      |      SELECT o_orderkey,
      |        CASE o_orderkey % 7
      |          WHEN 0 THEN 'PT' || (o_orderkey % 24) || 'H' || (o_orderkey % 60) || 'M' || (o_orderkey % 61) || 'S'
      |          WHEN 1 THEN 'PT' || (o_orderkey % 60) || 'M' || (o_orderkey % 61) || 'S'
      |          WHEN 2 THEN 'PT' || (o_orderkey % 61) || 'S'
      |          WHEN 3 THEN 'P' || (o_orderkey % 3) || 'DT' || (o_orderkey % 24) || 'H'
      |          WHEN 4 THEN 'P2W'
      |          WHEN 5 THEN 'not-a-duration'
      |          ELSE NULL END AS dur
      |      FROM orders) raw) g) p""".stripMargin

  // ---------------------------------------------------------------- yf7

  /** yf7 (S6 multi-entry): ONE Atom feed document per channel → N
    * video rows, the reference's real feed shape (`_parse_rss_feed`
    * iterates `atom:entry` elements, youtube_api_handler.py:781-803;
    * yf1 exercises only the per-entry field extraction). Per channel,
    * a namespaced feed with `c_custkey % 5` entries (0 = empty feed →
    * zero rows, the reference's empty-list path) is synthesized, then
    * parsed back with `from_xml` using an ArrayType entry schema and
    * `explode`d. Per-entry fidelity mirrors `_parse_rss_video`
    * (:805-838): video id from the URL (watch split on '&', shorts on
    * '?'), type from the URL shape, and views from the nested
    * media:group/media:community/media:statistics views attribute
    * with the reference's 0 default when the group is absent (every
    * (k+i) % 7 == 0 entry omits it).
    *
    * Parallelism: the XML parse is the CPU cost here and the input is
    * the small channel dim (the feeds are synthesized per channel), so
    * the rows are spread across cores BEFORE the synth+parse
    * projection — shuffling the few pre-synthesis columns is ~free,
    * while without it a compact single-row-group channel file turns
    * the whole parse into one task (measured 7.3 s → sub-second at
    * sf0.1). A real at-rest feed corpus arrives as many files/row
    * groups whose input splits parallelize the parse for free — this
    * repartition is for the parse-follows-tiny-dim shape only. */
  private def yf7(s: SparkSession, d: String): DataFrame = {
    val statsT = StructType(Seq(StructField("_views", LongType)))
    val grpT = StructType(Seq(StructField("media:community",
      StructType(Seq(StructField("media:statistics", statsT))))))
    val entryT = StructType(Seq(
      StructField("id", StringType),
      StructField("yt:videoId", StringType),
      StructField("title", StringType),
      StructField("link", StructType(Seq(StructField("_href", StringType)))),
      StructField("published", StringType),
      StructField("updated", StringType),
      StructField("media:group", grpT)))
    val feedT = StructType(Seq(
      StructField("title", StringType),
      StructField("entry", ArrayType(entryT))))
    val k = col("c_custkey")
    def vid(i: Column) = concat(lit("v"), k, lit("_"), i)
    val entryXml = (i: Column) => {
      val url = when((k + i) % 3 === 0,
          concat(lit("https://www.youtube.com/shorts/"), vid(i), lit("?feature=share")))
        .otherwise(concat(lit("https://www.youtube.com/watch?v="), vid(i),
          lit("&amp;feature=share")))
      val media = when((k + i) % 7 === 0, lit(""))
        .otherwise(concat(
          lit("<media:group><media:community><media:statistics views=\""),
          k * 31 + i * 7,
          lit("\"/></media:community></media:group>")))
      concat(
        lit("<entry><id>yt:video:"), vid(i),
        lit("</id><yt:videoId>"), vid(i),
        lit("</yt:videoId><title>vid "), k, lit(" "), i,
        lit("</title><link href=\""), url,
        lit("\"/><published>2025-01-"), lpad((i + 1).cast("string"), 2, "0"),
        lit("T00:00:00+00:00</published><updated>2025-01-"),
        lpad((i + 11).cast("string"), 2, "0"),
        lit("T00:00:00+00:00</updated>"), media, lit("</entry>"))
    }
    val n = k % 5
    val entries = when(n === 0, lit(""))
      .otherwise(concat_ws("", transform(sequence(lit(0), (n - 1).cast("int")), entryXml)))
    Tables.customer(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("xml", concat(
        lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"" +
          " xmlns:yt=\"http://www.youtube.com/xml/schemas/2015\"" +
          " xmlns:media=\"http://search.yahoo.com/mrss/\"><title>Channel "),
        k, lit("</title>"), entries, lit("</feed>")))
      .withColumn("f", from_xml(col("xml"), feedT))
      // explode_outer + isNotNull (not plain explode): identical
      // semantics — an empty feed contributes zero rows, matching the
      // reference's empty videos list — but plain explode triggers
      // InferFiltersFromGenerate, whose size(from_xml(..).entry) > 0
      // filter is pushed below the repartition onto the single-task
      // scan, serializing a second full XML parse (measured 2.6 s vs
      // 0.4 s at sf0.1). explode_outer infers no filter, so the parse
      // runs exactly once, after the fan-out.
      .select(k.as("channel_id"), explode_outer(col("f.entry")).as("e"))
      .filter(col("e").isNotNull)
      .select(
        col("channel_id"),
        regexp_extract(col("e.link._href"),
          "(?:/watch\\?v=|/shorts/)([^&?]+)", 1).as("video_id"),
        col("e.title").as("title"),
        col("e.link._href").as("url"),
        when(col("e.link._href").contains("/shorts/"), lit("shorts"))
          .when(col("e.link._href").contains("/watch?v="), lit("long"))
          .otherwise(lit("unknown")).as("video_type"),
        col("e.published").as("published_at"),
        col("e.updated").as("updated_at"),
        coalesce(col("e.media:group.media:community.media:statistics._views"), lit(0L))
          .as("views_from_rss"))
  }

  private val yf7Sql =
    """SELECT c_custkey AS channel_id,
      |  'v' || c_custkey || '_' || i AS video_id,
      |  'vid ' || c_custkey || ' ' || i AS title,
      |  CASE WHEN (c_custkey + i) % 3 = 0
      |    THEN 'https://www.youtube.com/shorts/v' || c_custkey || '_' || i || '?feature=share'
      |    ELSE 'https://www.youtube.com/watch?v=v' || c_custkey || '_' || i || '&feature=share'
      |  END AS url,
      |  CASE WHEN (c_custkey + i) % 3 = 0 THEN 'shorts' ELSE 'long' END AS video_type,
      |  '2025-01-' || lpad(CAST(i + 1 AS VARCHAR), 2, '0') || 'T00:00:00+00:00' AS published_at,
      |  '2025-01-' || lpad(CAST(i + 11 AS VARCHAR), 2, '0') || 'T00:00:00+00:00' AS updated_at,
      |  CAST(CASE WHEN (c_custkey + i) % 7 = 0 THEN 0
      |            ELSE c_custkey * 31 + i * 7 END AS BIGINT) AS views_from_rss
      |FROM customer, range(0, 4) r(i)
      |WHERE r.i < c_custkey % 5""".stripMargin

  // ---------------------------------------------------------------- yf8

  /** The reference's FULL 83-row language dimension
    * (languagelist.json, loaded at youtube_api_handler.py:313-334) —
    * 9 ids are mixed-case region/script variants (en-GB, zh-CN,
    * sr-Latn, …), which is what makes the 4-step fallback order of
    * `_get_full_language_name` observable. [[langDim]]/yf4 keep the
    * 5-row broadcast-join demo (S8/J2); this is the fidelity dim. */
  private[operators] val fullLangDim: Seq[(String, String)] = Seq(
    "af" -> "Afrikaans", "am" -> "Amharic", "ar" -> "Arabic",
    "as" -> "Assamese", "az" -> "Azerbaijani", "be" -> "Belarusian",
    "bg" -> "Bulgarian", "bn" -> "Bangla", "bs" -> "Bosnian",
    "ca" -> "Catalan", "cs" -> "Czech", "da" -> "Danish",
    "de" -> "German", "el" -> "Greek", "en-GB" -> "English (United Kingdom)",
    "en-IN" -> "English (India)", "en" -> "English", "es" -> "Spanish",
    "es-419" -> "Spanish (Latin America)", "es-US" -> "Spanish (United States)",
    "et" -> "Estonian", "eu" -> "Basque", "fa" -> "Persian",
    "fi" -> "Finnish", "fil" -> "Filipino", "fr-CA" -> "French (Canada)",
    "fr" -> "French", "gl" -> "Galician", "gu" -> "Gujarati",
    "hi" -> "Hindi", "hr" -> "Croatian", "hu" -> "Hungarian",
    "hy" -> "Armenian", "id" -> "Indonesian", "is" -> "Icelandic",
    "it" -> "Italian", "iw" -> "Hebrew", "ja" -> "Japanese",
    "ka" -> "Georgian", "kk" -> "Kazakh", "km" -> "Khmer",
    "kn" -> "Kannada", "ko" -> "Korean", "ky" -> "Kyrgyz",
    "lo" -> "Lao", "lt" -> "Lithuanian", "lv" -> "Latvian",
    "mk" -> "Macedonian", "ml" -> "Malayalam", "mn" -> "Mongolian",
    "mr" -> "Marathi", "ms" -> "Malay", "my" -> "Burmese",
    "no" -> "Norwegian", "ne" -> "Nepali", "nl" -> "Dutch",
    "or" -> "Odia", "pa" -> "Punjabi", "pl" -> "Polish",
    "pt" -> "Portuguese", "pt-PT" -> "Portuguese (Portugal)",
    "ro" -> "Romanian", "ru" -> "Russian", "si" -> "Sinhala",
    "sk" -> "Slovak", "sl" -> "Slovenian", "sq" -> "Albanian",
    "sr-Latn" -> "Serbian (Latin)", "sr" -> "Serbian", "sv" -> "Swedish",
    "sw" -> "Swahili", "ta" -> "Tamil", "te" -> "Telugu",
    "th" -> "Thai", "tr" -> "Turkish", "uk" -> "Ukrainian",
    "ur" -> "Urdu", "uz" -> "Uzbek", "vi" -> "Vietnamese",
    "zh-CN" -> "Chinese (China)", "zh-HK" -> "Chinese (Hong Kong)",
    "zh-TW" -> "Chinese (Taiwan)", "zu" -> "Zulu")

  /** 16 synthesized codes covering every branch of the fallback
    * chain: exact hits (incl. mixed-case ids), wrong-case region
    * variants that must SKIP the lowercase step and hit the base code
    * (EN-GB → en; the dim key is en-GB, so step 2 misses), variants
    * whose base is absent (zh-cn → ZH-CN: no plain zh in the dim),
    * unknown codes, null and '' (both → Unknown). */
  private val yf8Variants: Seq[String] = Seq(
    "en", "en-GB", "EN-GB", "zh-CN", "zh-cn", "es-419", "ES", "fr-ca",
    "sr-Latn", "sr-latn", "pt-PT", "xx", "xx-YY", null, "", "de-AT")

  /** yf8 (P7 full fidelity): `_get_full_language_name`'s exact 4-step
    * fallback (youtube_api_handler.py:336-359) over the full 83-row
    * dim — (1) case-SENSITIVE exact lookup, (2) lowercased lookup,
    * (3) base code before '-', (4) upper(code) display fallback;
    * null/'' short-circuit to 'Unknown'. `matched_step` exposes which
    * step fired so the ORDER (not just the final name) is verified.
    * Spark-first shape: the constant dim becomes a literal map with
    * three `element_at` probes inside one codegen'd projection — no
    * join, no shuffle, nothing to broadcast; at 100 TB this is a pure
    * narrow map over the corpus (yf4 keeps the broadcast-join form
    * for when the dim is a real table). */
  private def yf8(s: SparkSession, d: String): DataFrame = {
    val m = typedLit(fullLangDim.toMap)
    val raw = col("raw_code")
    val exact = element_at(m, raw)
    val lowered = element_at(m, lower(raw))
    val base = element_at(m, substring_index(lower(raw), "-", 1))
    Tables.documents(s, d)
      .withColumn("raw_code",
        element_at(array(yf8Variants.map(v => lit(v).cast("string")): _*),
          (col("doc_id") % 16 + 1).cast("int")))
      .select(
        col("doc_id"), raw,
        when(raw.isNull || raw === "", lit("Unknown"))
          .otherwise(coalesce(exact, lowered, base, upper(raw))).as("language_name"),
        when(raw.isNull || raw === "", lit(0))
          .when(exact.isNotNull, lit(1))
          .when(lowered.isNotNull, lit(2))
          .when(base.isNotNull, lit(3))
          .otherwise(lit(4)).as("matched_step"))
  }

  private val yf8Sql = {
    val dimValues = fullLangDim.map { case (c, n) => s"('$c','$n')" }.mkString(",")
    val variants = yf8Variants
      .map(v => if (v == null) "NULL" else s"'$v'").mkString(",")
    s"""WITH dim(code, name) AS (VALUES $dimValues),
       |docs AS (
       |  SELECT doc_id,
       |    ([$variants])[CAST(doc_id % 16 + 1 AS INT)] AS raw_code
       |  FROM documents)
       |SELECT d.doc_id, d.raw_code,
       |  CASE WHEN d.raw_code IS NULL OR d.raw_code = '' THEN 'Unknown'
       |       ELSE COALESCE(d1.name, d2.name, d3.name, upper(d.raw_code)) END
       |    AS language_name,
       |  CASE WHEN d.raw_code IS NULL OR d.raw_code = '' THEN 0
       |       WHEN d1.name IS NOT NULL THEN 1
       |       WHEN d2.name IS NOT NULL THEN 2
       |       WHEN d3.name IS NOT NULL THEN 3
       |       ELSE 4 END AS matched_step
       |FROM docs d
       |LEFT JOIN dim d1 ON d.raw_code = d1.code
       |LEFT JOIN dim d2 ON lower(d.raw_code) = d2.code
       |LEFT JOIN dim d3 ON split_part(lower(d.raw_code), '-', 1) = d3.code""".stripMargin
  }

  // ---------------------------------------------------------------- yf9

  /** yf9: the P12 response envelope as an ORACLED gate (api_server.py
    * standardize_response, :138-156): every API response wraps in
    * `{success, data, meta{cache_status, ...}}`, and this emits that
    * exact JSON per channel over ca4's classifier output —
    * `to_json(struct(...))` on the Spark side, `to_json(struct_pack)`
    * in DuckDB, byte-identical because the payload is integers,
    * strings and booleans only (doubles are deliberately excluded:
    * JSON float formatting is the one place engines' shortest-repr
    * printers may disagree). Serialization is a narrow codegen'd
    * projection — the envelope costs nothing at any scale. */
  private def yf9(s: SparkSession, d: String): DataFrame =
    ChannelMetrics.ca4(s, d).select(
      col("channel_id"),
      to_json(struct(
        lit(true).as("success"),
        struct(col("channel_id"), col("primary_format"),
          col("n_total").as("count")).as("data"),
        struct(lit("fresh").as("cache_status"),
          lit("v1").as("api_version")).as("meta"))).as("body"))

  private val yf9Sql =
    s"""WITH c AS (${ChannelMetrics.ca4Sql})
       |SELECT channel_id,
       |  to_json(struct_pack(
       |    success := true,
       |    data := struct_pack(channel_id := channel_id,
       |      primary_format := primary_format, count := n_total),
       |    meta := struct_pack(cache_status := 'fresh',
       |      api_version := 'v1')))::VARCHAR AS body
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- yf10

  /** The 5-form video-URL id pattern (watch?v= / youtu.be / shorts /
    * embed) — ONE definition shared by yf10's canonicalizer and dd18's
    * URL-grain dedup, so the normalizer and the dedup pass that runs
    * on its output can never drift. */
  private[operators] val VideoIdPat =
    "(?:watch\\?v=|youtu\\.be/|shorts/|embed/)([A-Za-z0-9_-]+)"

  /** The 5-form raw-URL synthesis from event columns, parameterized by
    * the video-id expression (`$vid`) — ONE definition shared by yf10
    * (unique ids: gates the NORMALIZER) and dd18 (mod-1999 ids: gates
    * the DEDUP), Spark-expr spelling. */
  private[operators] def rawUrlCase(vid: String): String =
    s"""CASE event_id % 5
       |  WHEN 0 THEN concat('https://www.youtube.com/watch?v=v', $vid,
       |    '&si=trk', user_id, '&t=42s')
       |  WHEN 1 THEN concat('https://youtu.be/v', $vid, '?si=trk', user_id)
       |  WHEN 2 THEN concat('https://www.youtube.com/shorts/v', $vid)
       |  WHEN 3 THEN concat('https://m.youtube.com/watch?v=v', $vid,
       |    '&feature=share')
       |  ELSE concat('https://www.youtube.com/embed/v', $vid)
       |END""".stripMargin

  /** DuckDB spelling of [[rawUrlCase]]. This fragment interpolates
    * into callers' stripMargin templates, so no line may START with
    * `||` — the outer stripMargin would eat the first pipe. */
  private[operators] def rawUrlCaseSql(vid: String): String =
    s"""CASE event_id % 5
       |      WHEN 0 THEN 'https://www.youtube.com/watch?v=v' || ($vid) ||
       |        '&si=trk' || user_id || '&t=42s'
       |      WHEN 1 THEN 'https://youtu.be/v' || ($vid) || '?si=trk' || user_id
       |      WHEN 2 THEN 'https://www.youtube.com/shorts/v' || ($vid)
       |      WHEN 3 THEN 'https://m.youtube.com/watch?v=v' || ($vid) ||
       |        '&feature=share'
       |      ELSE 'https://www.youtube.com/embed/v' || ($vid)
       |    END""".stripMargin

  /** yf10: URL CANONICALIZATION — P6's video-id extraction generalized
    * to the curation primitive URL-grain dedup runs on: the five ways
    * the same video arrives (`watch?v=` with `si=`/`t=` tracking,
    * `youtu.be/` short links, `/shorts/`, mobile host, `/embed/`) all
    * normalize to ONE canonical `www.youtube.com/watch?v=` form, with
    * the tracking-params and non-canonical-host flags kept for audit.
    * Five URL variants are synthesized deterministically from the
    * event columns (yf1's discipline — both engines build identical
    * raw inputs, so the gate checks the NORMALIZER, not a fixture).
    *
    * Scale shape: a pure narrow projection — regexp extract + string
    * rebuild, no exchange at all; at 100 TB this runs inside the scan
    * stage of whatever pipeline consumes it (URL dedup = dd1 on the
    * canonical column downstream). */
  private def yf10(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"))
      .withColumn("raw_url", expr(rawUrlCase("event_id")))
      .withColumn("video_id", regexp_extract(col("raw_url"), VideoIdPat, 1))
      .withColumn("canonical_url",
        concat(lit("https://www.youtube.com/watch?v="), col("video_id")))
      .withColumn("had_tracking",
        col("raw_url").contains("si=") || col("raw_url").contains("feature="))
      .withColumn("noncanonical_host",
        !col("raw_url").startsWith("https://www.youtube.com/"))
      .select("event_id", "raw_url", "video_id", "canonical_url",
        "had_tracking", "noncanonical_host")

  private val yf10Sql =
    s"""SELECT event_id, raw_url,
       |  regexp_extract(raw_url, '$VideoIdPat', 1) AS video_id,
       |  'https://www.youtube.com/watch?v='
       |    || regexp_extract(raw_url, '$VideoIdPat', 1) AS canonical_url,
       |  contains(raw_url, 'si=') OR contains(raw_url, 'feature=')
       |    AS had_tracking,
       |  NOT starts_with(raw_url, 'https://www.youtube.com/')
       |    AS noncanonical_host
       |FROM (
       |  SELECT event_id,
       |    ${rawUrlCaseSql("event_id")} AS raw_url
       |  FROM events) t""".stripMargin

  // ---------------------------------------------------------------- yf11

  /** yf11: CORRUPT-RESPONSE DEAD-LETTER — the ingest contract every
    * other gate assumes away: an upstream response that is not valid
    * JSON must not kill the batch (the reference wraps every parse in
    * try/except and logs the failure, youtube_api_handler.py:369-416's
    * error branches; at 100 TB "one bad record aborts the job" is an
    * outage class of its own). Each event synthesizes its API response
    * line; a deterministic slice is corrupted two ways (event_id%13=0
    * truncates the tail, %13=1 prepends garbage — both unparseable, so
    * cross-engine semantics never hinge on partial-parse nuances).
    * Spark parses with `from_json` in PERMISSIVE mode with a corrupt-
    * record column: clean rows must recover the exact original values
    * (the ok-slice cent sum re-checks the round-trip), corrupt rows
    * route to the dead-letter disposition with the PAYLOAD PRESERVED
    * byte-for-byte — the gate emits the DLQ's exact byte volume and
    * the oracle rebuilds the same strings and lengths independently,
    * so a parser that mangles or drops a dead letter hash-mismatches.
    *
    * Scale shape: a pure narrow projection (synth + parse + classify
    * inside one codegen stage) feeding a 2-row hash agg — the DLQ
    * split costs nothing beyond the parse the pipeline already pays;
    * dead letters land in the same scan-stage pass, never a second
    * job. */
  private def yf11(s: SparkSession, d: String): DataFrame = {
    val full = concat(
      lit("{\"id\": "), col("event_id"),
      lit(", \"v\": "), Tables.valueCents,
      lit(", \"t\": \""), col("event_type"), lit("\"}"))
    val parseSchema = StructType.fromDDL(
      "id BIGINT, v BIGINT, t STRING, _bad STRING")
    Tables.events(s, d)
      .select(col("event_id"), full.as("full"))
      .withColumn("raw",
        when(pmod(col("event_id"), lit(13)) === 0,
          substring(col("full"), 1, 25)) // truncated mid-record
          .when(pmod(col("event_id"), lit(13)) === 1,
            concat(lit("}{"), col("full"))) // leading garbage
          .otherwise(col("full")))
      .withColumn("p", from_json(col("raw"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad")))
      .select(
        when(col("p._bad").isNull, lit("ok")).otherwise(lit("dead_letter"))
          .as("disposition"),
        col("p.v").as("v"), col("raw"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v")).as("sum_cents"), // ok-slice round-trip; NULL for DLQ
        sum(length(col("raw"))).as("payload_bytes"))
  }

  private val yf11Sql =
    """WITH evs AS (
      |  SELECT event_id, event_type,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events),
      |raw AS (
      |  SELECT event_id, value_cents,
      |    '{"id": ' || event_id || ', "v": ' || value_cents
      |      || ', "t": "' || event_type || '"}' AS body
      |  FROM evs),
      |cls AS (
      |  SELECT
      |    CASE WHEN event_id % 13 IN (0, 1)
      |      THEN 'dead_letter' ELSE 'ok' END AS disposition,
      |    CASE WHEN event_id % 13 IN (0, 1)
      |      THEN NULL ELSE value_cents END AS v,
      |    CASE WHEN event_id % 13 = 0 THEN substr(body, 1, 25)
      |         WHEN event_id % 13 = 1 THEN '}{' || body
      |         ELSE body END AS raw
      |  FROM raw)
      |SELECT disposition, count(*) AS n_rows,
      |  CAST(sum(v) AS BIGINT) AS sum_cents,
      |  CAST(sum(length(raw)) AS BIGINT) AS payload_bytes
      |FROM cls GROUP BY disposition""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("yf1_rss_xml_parse", yf1, Some(yf1Sql),
      "Atom XML round-trip via from_xml + URL id extraction (S6/S7/P5/P6)"),
    GateQuery("yf2_email_extract", yf2, Some(yf2Sql),
      "first-email regexp extraction w/ null default + flags (P3/P10)"),
    GateQuery("yf3_topic_categories", yf3, Some(yf3Sql),
      "wiki-URL category beautifier via filter/transform HOFs (P4)"),
    GateQuery("yf4_language_lookup", yf4, Some(yf4Sql),
      "broadcast language-dim lookup w/ fallback chain (P7/J2)"),
    GateQuery("yf5_handle_cache_key", yf5, Some(yf5Sql),
      "handle normalization + md5 cache key (P8/P11)"),
    GateQuery("yf6_duration_parse", yf6, Some(yf6Sql),
      "codegen'd ISO-8601 duration parse + shorts-by-length flag (§7.3)"),
    GateQuery("yf7_rss_feed_explode", yf7, Some(yf7Sql),
      "multi-entry namespaced Atom feed -> exploded video rows (S6)"),
    GateQuery("yf8_full_language_fallback", yf8, Some(yf8Sql),
      "full 83-row language dim + exact 4-step fallback order (P7)"),
    GateQuery("yf9_response_envelope", yf9, Some(yf9Sql),
      "P12 standardize_response JSON envelope, byte-identical to_json"),
    GateQuery("yf10_url_canonicalize", yf10, Some(yf10Sql),
      "URL canonicalization: 5 link forms -> one watch?v= form + audit flags (P6 grown)"),
    GateQuery("yf11_json_deadletter", yf11, Some(yf11Sql),
      "corrupt-response dead-letter: malformed JSON routed with payload preserved, clean rows parse on — batch never dies"))
}
