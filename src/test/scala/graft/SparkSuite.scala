package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.Timestamp

/** Shared test SparkSession + fixture-table writer.
  *
  * One session per JVM (sbt forks one test JVM); fixtures are written
  * as `<tmp>/<table>.parquet` so `Tables`/gate queries run unchanged
  * against a fixture directory exactly as against the driver's
  * testdata dirs.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("4")

  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"

  def gate(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** The result of `body` and the number of Spark jobs it started
    * ([[Diag.jobs]]: by job tag, after the listener bus drained). */
  def jobsStarted[T](body: => T): (T, Int) = {
    val (r, jobs) = Diag.jobs(spark)(body)
    (r, jobs.size)
  }

  /** What one served run of a gate leaves behind: its output schema,
    * served row count ([[Diag.served]], every column materialized),
    * the whole post-execution `executedPlan.toString` (AQE's Final
    * Plan and its Initial Plan) and its [[Diag.planText]]. Strings
    * only: holding the frame would keep its broadcast relations and
    * query stages alive. */
  final case class Served(schema: StructType, rows: Long, executedPlan: String, planText: String)

  /** Every gate run once at sf0.001 through the mains' gate loop, per
    * gate its [[Served]] or its error. The schema and rows lints, the
    * suite-wide join sweep, the plan-shape law table and the plan tests
    * that read only the executed plan all read this one run. Building a
    * gate executes its side effects for the MUTATING gates (la9 writes +
    * drops partitions + deletes its dir, la11 publishes + drops a sink
    * table, dd6/dd12 checkpoint), so each is built exactly once here. */
  lazy val served: Map[String, Either[String, Served]] = {
    // the pool threads must not touch `spark` while this initializer
    // holds the object's lazy-val lock: start the session here first
    val s = spark
    GateQueries.each(GateQueries.all.map(_.name), GateQueries.Par) { g =>
      val df = SparkEntry.queries(g)(s, sf0001)
      val rows = Diag.served(df)
      Served(df.schema, rows, df.queryExecution.executedPlan.toString, Diag.planText(g, df))
    }.map { case (g, _, r) => g -> r }.toMap
  }

  /** Count SHUFFLE exchanges in a plan string. Plan lines carry tree
    * prefixes (`+-`, `:`), so `trim.startsWith("Exchange")` silently
    * matches nothing — match the operator token itself, excluding
    * BroadcastExchange (broadcasts are the point, not the cost). */
  def shuffleCount(plan: String): Int =
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
      .r.findAllIn(plan).length

  /** True if any shuffle exchange appears in the plan string. */
  def hasShuffle(plan: String): Boolean = shuffleCount(plan) > 0

  /** Write fixture tables into a fresh temp dir; returns the dir. */
  def fixtureDir(tables: (String, DataFrame)*): String = {
    val dir = Files.createTempDirectory("graft_fixture").toFile.getAbsolutePath
    tables.foreach { case (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** (event_id, epochMicros, user_id, event_type, value, k) → events rows. */
  def eventsDf(rows: Seq[(Long, Long, Long, String, Double, Int)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, us, u, et, v, k) =>
        Row(id, ts(us), u, et, v, s"""{"k": $k}""")
      }: _*), eventsSchema)

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  def customerDf(rows: Seq[(Long, Double)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, bal) =>
        Row(k, s"cust$k", 0, bal, "SEG")
      }: _*), customerSchema)

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documentsDf(rows: Seq[(Long, String, String, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, text, lang, src) =>
        Row(id, text, lang, src, text.length.toLong)
      }: _*), documentsSchema)

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embeddingsDf(rows: Seq[(Long, Seq[Float], Int)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v, l) => Row(id, v, l) }: _*),
      embeddingsSchema)
}
