package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration.Inf

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

  /** Gates the mains run at once on one session (Bench's concurrent
    * passes, Verify, Diag's plan writers): per-gate job scheduling and
    * AQE planning overlap instead of summing. */
  val Par = 8

  /** The one gate loop of the mains: `f` over `names` on `par` threads,
    * returning per name its seconds and its result or its error
    * (`Class: message`), in input order. A failing call never stops the
    * others. */
  def each[A](names: Seq[String], par: Int)(f: String => A)
      : Seq[(String, Double, Either[String, A])] = {
    val pool = Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try names.map(n => Future {
      val t0 = System.nanoTime()
      val r = try Right(f(n)) catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}") }
      (n, (System.nanoTime() - t0) / 1e9, r: Either[String, A])
    }).map(Await.result(_, Inf))
    finally pool.shutdown()
  }
}
