package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-gated query: a Spark pipeline over the sfDir tables plus
  * (where SQL-expressible) an equivalent ANSI SQL string the driver runs
  * in DuckDB over the same parquet files. Column names MUST match between
  * the two — the driver sorts columns by name before hashing values.
  *
  * Numeric-determinism policy (so Spark and DuckDB hash-match exactly):
  *   - money-ish doubles are cast to DECIMAL before SUM (exact, order-
  *     independent), then cast back to DOUBLE at the very end;
  *   - or converted to integer cents (BIGINT) and aggregated exactly;
  *   - floor-division averages use integer `div`, never FP division;
  *   - every ORDER BY / row_number has a unique tie-break key.
  *
  * Both DECIMAL and cents spellings run on the scaled-long kernel
  * (`graft.plans.ScaledDecimalRewrite`), bit-identical to Spark's
  * `BigDecimal` path: `CAST(double AS DECIMAL(p ≤ 18, s))` is
  * round(d·10^s) when |d·10^s| < 2^40 and within 0.25 of that
  * integer, else Spark's own Cast (NaN, ±Inf, near-.5 ties, overflow);
  * SUM over DECIMAL(9..18) and over products of such decimals, and
  * `(dec * 100)::BIGINT` cents, stay in longs (128/192-bit sum
  * buffers with Spark's overflow nulls and ANSI errors). DECIMAL(p > 18)
  * casts keep Spark's path.
  */
final case class GateQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object GateQueries {
  /** Full registry, aggregated from the operator modules. Order is the
    * SURVEY §2 walk: relational core, yt-analytics analogs, log
    * analytics, time windows, then the LLM-pipeline extensions. */
  def all: Seq[GateQuery] =
    operators.Connector.queries ++
      operators.Relational.queries ++
      operators.ChannelMetrics.queries ++
      operators.YtFormats.queries ++
      operators.LogAnalytics.queries ++
      operators.TimeWindows.queries ++
      operators.StreamGates.queries ++
      operators.Observability.queries ++
      operators.TextAnalysis.queries ++
      operators.CorpusOps.queries ++
      operators.Dedup.queries ++
      operators.Similarity.queries ++
      operators.Multimodal.queries
}
