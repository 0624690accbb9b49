package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** `Tables`' schema memo: the schema it passes is exactly what
  * inference returns, a repeat read starts no Spark job, and a conf
  * that changes the type mapping or a rewritten file is re-inferred. */
class TablesSpec extends AnyFunSuite {
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("the memoized schema equals inference for every sf0.001 table") {
    for (t <- names) {
      assert(Tables.table(spark, sf0001, t).schema ==
        spark.read.parquet(s"$sf0001/$t.parquet").schema, t)
      // the second read is served from the memo
      assert(Tables.table(spark, sf0001, t).schema ==
        spark.read.parquet(s"$sf0001/$t.parquet").schema, t)
    }
  }

  test("a repeat Tables.events read starts no Spark job") {
    Tables.events(spark, sf0001).schema
    val (schema, jobs) = jobsStarted(Tables.events(spark, sf0001).schema)
    assert(jobs == 0)
    assert(schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // and inference does start one: the count is not vacuous
    assert(jobsStarted(spark.read.parquet(s"$sf0001/events.parquet").schema)._2 == 1)
  }

  test("binaryAsString or a rewrite at the same path re-infers") {
    Tables.documents(spark, sf0001).schema
    val iso = spark.newSession()
    iso.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(jobsStarted(Tables.documents(iso, sf0001).schema)._2 == 1)
    assert(jobsStarted(Tables.documents(iso, sf0001).schema)._2 == 0)

    val d = fixtureDir("region" -> spark.range(3).toDF("r_regionkey"))
    assert(Tables.region(spark, d).columns.toSeq == Seq("r_regionkey"))
    assert(jobsStarted(Tables.region(spark, d).schema)._2 == 0)
    spark.range(3).toDF("r_regionkey").withColumn("r_name", lit("x"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/region.parquet")
    val (schema, jobs) = jobsStarted(Tables.region(spark, d).schema)
    assert(jobs == 1)
    assert(schema.fieldNames.toSeq == Seq("r_regionkey", "r_name"))
  }
}
