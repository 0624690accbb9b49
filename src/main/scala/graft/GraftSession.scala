package graft

import org.apache.spark.sql.SparkSession

/** The one session bootstrap: every main (Bench, Verify, Diag), the
  * perfbench harness and the test suites build their session here.
  * Defaults to `local[cpus]`; two env knobs exist for the DISTRIBUTION
  * smoke:
  *
  *   - `SPARK_GRAFT_MASTER=local-cluster[2,2,2048]` runs the same
  *     gates against separate executor JVMs, so any same-JVM
  *     assumption (a static map an executor mutates, driver-side
  *     state executors can't see) breaks loudly instead of silently
  *     passing in local mode. Requires SPARK_HOME (the worker
  *     launches executor processes from the distribution).
  *   - `SPARK_GRAFT_JARS=<path.jar>` ships the packaged gate classes
  *     to those executor processes (`sbt package` output).
  *
  * See README "local-cluster distribution smoke" for the receipt.
  */
object GraftSession {
  /** Local cores and shuffle width: `$SPARK_GRAFT_CPUS`, else every
    * core of the host. The only place the variable is read. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** `confs` are extra builder settings (Diag's `--conf`); they reach
    * every `newSession()` child through the SparkContext conf. */
  def build(cpus: String, confs: Seq[(String, String)] = Nil): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.requiredConfs)
    val b1 = sys.env.get("SPARK_GRAFT_JARS").filter(_.nonEmpty)
      .fold(b0)(j => b0.config("spark.jars", j))
    val spark = confs.foldLeft(b1) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Parses `k=v;k2=v2` (`source` names where it came from). Blank
    * entries between `;` are skipped; an entry without `=` or with an
    * empty key fails naming the entry, the source and the syntax. */
  def parseConfs(spec: String, source: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"$source: malformed entry '$kv' (expected k=v;k2=v2)")
      }
    }
}
