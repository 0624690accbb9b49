package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-16 optimization evidence: writes plans/r16/<gate>_<suffix>.txt —
  * `.explain("formatted")` of each named gate's RETURNED frame. Run it on
  * the pre-change tree (a worktree at the r15 HEAD) with suffix `before`
  * and on the changed tree with suffix `after`, so the before plan is the
  * real old plan, not a prose claim. Multi-action gates (sim22, la14)
  * additionally run staging jobs before the returned frame; their job
  * counts are in OPTIMIZATION_r16.md.
  *
  * Usage: sbt "runMain graft.R16Plans <suffix> g1,g2,..." — exits 1,
  * naming them, when any requested gate could not be dumped.
  */
object R16Plans {
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: R16Plans <suffix> g1,g2,...")
    val (suffix, gates) = (args(0), args(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = java.nio.file.Paths.get("plans/r16")
    java.nio.file.Files.createDirectories(outDir)
    val names = gates.split(",").toSeq
    val skipped = names.filterNot { g =>
      try {
        val df = SparkEntry.queries(g)(spark, sfDir)
        java.nio.file.Files.writeString(outDir.resolve(s"${g}_$suffix.txt"),
          s"== $g ($suffix) — formatted explain of the gate's returned frame ==\n" +
            "(multi-action gates additionally run staging jobs before this plan;\n" +
            " job counts are in OPTIMIZATION_r16.md)\n\n" + fmt(df))
        println(s"dumped ${g}_$suffix")
        true
      } catch { case e: Throwable =>
        println(s"SKIP $g: ${e.getMessage.take(200)}")
        false
      }
    }
    spark.stop()
    if (skipped.nonEmpty) {
      System.err.println(
        s"[r16plans] ${skipped.size}/${names.size} gates skipped (failed): ${skipped.mkString(", ")}")
      sys.exit(1)
    }
  }
}
