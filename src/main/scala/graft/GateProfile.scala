package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Round-15 measurement tool (guide §1): run ONE named gate and dump
  * every Spark job it spawns — start offset, duration, description —
  * so a multi-action gate's wall-clock is attributable to its phases
  * before anything is changed. Usage:
  *
  *   sbt "runMain graft.GateProfile <gate> [sfDir] [reps]"
  *
  * Prints one line per job plus a totals line. Diagnostic only; not
  * part of the driver contract (Bench/Verify are unchanged).
  */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val gate = args.headOption.getOrElse(sys.error("usage: GateProfile <gate> [sfDir] [reps]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConfs)
    // experiment knob: SPARK_GRAFT_PROF_CONFS="k=v;k2=v2" (diagnostic
    // only — the bench/driver never sets it)
    val spark = GraftSession.envConfs("SPARK_GRAFT_PROF_CONFS")
      .foldLeft(b0) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(gate)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    var t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, (js.time, desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (start, desc) =>
          done.add((je.jobId, start, je.time, desc))
        }
      }
    })

    (1 to reps).foreach { rep =>
      done.clear()
      jobs.clear() // a straggler from the last rep must not leak in
      t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: wait until every started job reported
      // its end (bounded), not a fixed beat
      var waited = 0
      while (!jobs.isEmpty && waited < 2000) { Thread.sleep(100); waited += 100 }
      Thread.sleep(200)
      val rows = done.toArray(Array.empty[(Int, Long, Long, String)]).sortBy(_._1)
      val wallStartMs = rows.headOption.map(_._2).getOrElse(0L)
      println(f"== $gate rep $rep: wall $wall%.3f s, rows=$n, jobs=${rows.length} ==")
      rows.foreach { case (id, s, e, desc) =>
        println(f"  job $id%4d  +${(s - wallStartMs) / 1e3}%7.3f  ${(e - s) / 1e3}%7.3f s  ${desc.take(100)}")
      }
      println(f"  job-time sum ${rows.map(r => r._3 - r._2).sum / 1e3}%.3f s over ${rows.length} jobs")
    }
    spark.stop()
  }
}
