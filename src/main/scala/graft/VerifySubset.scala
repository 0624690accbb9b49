package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Builder-side iteration tool: dump ONLY the named gates (plus their
  * oracle SQL) in the exact layout `tools/check.py` consumes, so a new
  * gate can be oracle-compared without re-dumping the whole registry.
  *
  * `runMain graft.VerifySubset <gate>[,<gate>...] <sfDir> <outDir>`
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: VerifySubset <gate>[,<gate>...] <sfDir> <outDir>")
    val names = args(0).split(",").toSeq
    val (sfDir, outDir) = (args(1), args(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    // a gate that throws must FAIL the process (and stay out of
    // oracle_sql.json) — otherwise check.py sees a missing parquet dir
    // for an "expected" gate instead of a failing exit code
    val failed = names.filterNot { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown gate '$name'"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify-subset] $name failed: ${e.getMessage}")
        false
      }
    }
    val ok = names.filterNot(failed.contains)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Verify.jsonObject(SparkEntry.oracleSql.filter(kv => ok.contains(kv._1)).toSeq))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify-subset] FAILED gates: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
