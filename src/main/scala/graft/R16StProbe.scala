package graft

import org.apache.spark.sql.SparkSession

/** Round-16 measurement tool (guide §1, verdict item 1): run a LIST of
  * gates N reps each in ONE JVM and print per-rep walls — the A/B
  * instrument for replay-session knob experiments
  * (SPARK_GRAFT_STREAM_CONFS="k=v;..." is read by StreamGates.runReplay).
  * Usage:
  *
  *   sbt "runMain graft.R16StProbe st3_stream_scd2,st6_stream_join [sfDir] [reps]"
  *
  * Diagnostic only; not part of the driver contract (Bench/Verify
  * unchanged). First rep per gate is labeled cold (staging + codegen);
  * compare the warm reps.
  */
object R16StProbe {
  def main(args: Array[String]): Unit = {
    val gates = args.headOption.getOrElse(
      sys.error("usage: R16StProbe <gate,gate,...> [sfDir] [reps]")).split(",")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConfs)
    // session-conf A/B knob (GateProfile's SPARK_GRAFT_PROF_CONFS,
    // same syntax) — for the per-action-floor experiments
    val spark = GraftSession.envConfs("SPARK_GRAFT_PROF_CONFS")
      .foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val confNote = sys.env.getOrElse("SPARK_GRAFT_STREAM_CONFS", "<default>")
    println(s"== R16StProbe confs: $confNote parts=${
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4")} profConfs=${
      sys.env.getOrElse("SPARK_GRAFT_PROF_CONFS", "<none>")} ==")
    gates.foreach { gate =>
      val fn = SparkEntry.queries(gate)
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"gate=$gate%-28s " +
        walls.map(w => f"$w%.3f").mkString(" ") +
        f"  warm-min=${walls.tail.minOption.getOrElse(walls.head)}%.3f")
    }
    spark.stop()
  }
}
