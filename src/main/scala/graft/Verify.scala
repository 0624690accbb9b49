package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare (tools/check.py),
  * and failed.json (gate → error, `{}` when every gate dumped). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    new java.io.File(outDir).mkdirs()
    // Dump queries CONCURRENTLY (each to its own directory): the
    // registry is ~100 gates whose per-query cost at sf0.01 is mostly
    // fixed planning overhead, so 8 query threads cut the driver's
    // verify wall ~4× (same scheduler-sharing shape as Bench).
    // Failures print per-gate, never abort the dump, and are named in
    // <out>/failed.json (gate → error) and a one-line summary.
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.put(name, s"${e.getClass.getName}: ${e.getMessage}")
          }
        }
      }
      futures.foreach(Await.result(_, Duration.Inf))
      pool.shutdown()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql.toSeq))
    val failures = failed.asScala.toSeq.sortBy(_._1)
    Files.writeString(Paths.get(s"$outDir/failed.json"), jsonObject(failures))
    val n = SparkEntry.queries.size
    System.err.println(s"[verify] ${n - failures.size}/$n gates dumped, ${failures.size} failed" +
      (if (failures.isEmpty) "" else s": ${failures.map(_._1).mkString(", ")}"))
    spark.stop()
  }

  /** A flat JSON object of strings. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in a gate's SQL would otherwise
    * make the reader's json.load fail and silently zero the
    * correctness check. */
  def jsonObject(kv: Seq[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
