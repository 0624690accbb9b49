package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import TestSpark._

/** `Tables`' schema memo: the schema it passes is exactly what
  * inference returns, a repeat read starts no Spark job, and a conf
  * that changes the type mapping or a rewritten file is re-inferred.
  * `Tables.files` lists what a scan reads, and the lakehouse gates'
  * day table stages inside its gate's scratch root. */
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

  test("Tables.files lists exactly the files a scan of the table reads") {
    val d = java.nio.file.Files.createTempDirectory("graft_files").toString
    spark.range(40).selectExpr("id", "id % 4 AS day", "id % 3 AS _k")
      .repartition(2).write.partitionBy("day", "_k").parquet(s"$d/t")
    val listed = Tables.files(spark, s"$d/t").map(_.getPath.toUri.getPath).toSet
    assert(listed.size >= 12) // every (day, _k) partition, `_k=` dirs included
    assert(listed == spark.read.parquet(s"$d/t").inputFiles
      .map(new org.apache.hadoop.fs.Path(_).toUri.getPath).toSet)
    assert(Tables.files(spark, s"$sf0001/region.parquet").map(_.getPath.getName) ==
      Seq("region.parquet"))
    intercept[java.io.FileNotFoundException](Tables.files(spark, s"$d/missing"))
  }

  test("a failure after a day-table stage write leaves nothing under the scratch root") {
    import graft.operators.{LogAnalytics, Scratch, TmpDirs}
    val tag = s"stageleak_${java.util.UUID.randomUUID().toString.take(8)}"
    val df = spark.range(6).selectExpr("id", "id % 2 AS day_us")
    val err = intercept[IllegalStateException] {
      TmpDirs.withRoot(spark, tag) { root =>
        val t = new LogAnalytics.DayTable(spark, root)
        t.write(df)
        t.staged("x", df) { stage =>
          assert(t.fs.exists(stage))
          throw new IllegalStateException("after staging")
        }
      }
    }
    assert(err.getMessage == "after staging")
    val left = new java.io.File(Scratch.root).list().filter(_.startsWith(s"graft_$tag"))
    assert(left.isEmpty, left.mkString(", "))
  }
}
