package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** The benchmark's JVM side. It drives the gates only through
  * `graft.SparkEntry.queries(name)(spark, sfDir)`; `perfbench/run.py`
  * starts it, times its set-up and turns its result file into metrics.
  *
  * Arguments are `key=value` pairs:
  *   - `mode=run`: set up, then run the workload's passes (one cold,
  *     `warmup_passes` warm-up, then measured ones until `seconds` have
  *     passed and there are at least `min_passes`), one gate after the
  *     other, and write every gate execution's timing and output
  *     fingerprint to `out`. With `trace=1` the [[JobTrace]] listener is
  *     registered too.
  *   - `mode=record`: run each gate once, write its output as parquet
  *     under `record_dir` (for the DuckDB check) and its fingerprint to
  *     `out`.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
    val trace = args.get("trace").contains("1")
    val spark = setup(arg("sf"), arg("cores"), trace)
    // READY and the CPU time the JVM has used since it started.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    println(s"READY ${os.getProcessCpuTime / 1e9}")
    Console.out.flush()
    arg("mode") match {
      case "run" => new Run(spark, args).apply()
      case "record" => record(spark, args)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    spark.stop()
  }

  /** Session with graft's extensions, ready once its first table scan
    * returns. Listener classes go in through Spark's static confs so that
    * `newSession()` children load them too. */
  def setup(sf: String, cores: String, trace: Boolean): SparkSession = {
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamTrace].getName)
    if (trace) System.setProperty("spark.extraListeners", classOf[JobTrace].getName)
    val spark = graft.GraftSession.build(cores)
    graft.Tables.region(spark, sf).collect()
    spark
  }

  /** Row count, an order-insensitive hash over every column (columns
    * sorted by name, each value hashed with its null flag) and the
    * sorted schema. Computing it consumes the gate's whole output. */
  def fingerprint(df: DataFrame): (Long, String, String) = {
    val names = df.columns
    val order = names.indices.sortBy(i => names(i))
    val cols = names.indices.map(i => s"c$i")
    val parts = order.flatMap(i => Seq(col(cols(i)).isNull, col(cols(i))))
    val hash = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = df.toDF(cols: _*)
      .agg(count(lit(1)), sum(hash.cast(DecimalType(20, 0)))).head()
    val h = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val schema = order.map(i => s"${names(i)}:${df.schema(i).dataType.simpleString}")
    (r.getLong(0), h, schema.mkString(","))
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def writeFile(path: String, body: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, body + "\n")
  }

  private def record(spark: SparkSession, args: Map[String, String]): Unit = {
    val sf = args("sf")
    val dir = args("record_dir")
    val fns = graft.SparkEntry.queries
    val gates = args("gates").split(",").toSeq
    val out = gates.map { g =>
      val row = try {
        val df = fns(g)(spark, sf)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$g")
        val (rows, hash, schema) = fingerprint(df)
        val again = fingerprint(spark.read.parquet(s"$dir/$g"))
        Map("rows" -> rows, "hash" -> hash, "schema" -> schema,
          "parquet_matches" -> (again._1 == rows && again._2 == hash))
      } catch { case e: Throwable => Map("error" -> errorText(e)) }
      g -> row
    }.toMap
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => gates.contains(k) }
    writeFile(s"$dir/oracle_sql.json", Json.render(oracles))
    writeFile(args("out"), Json.render(out))
  }
}

/** One `mode=run` execution: passes over the workload's gates by one
  * closed-loop client. */
final class Run(spark: SparkSession, args: Map[String, String]) {
  private val sf = args("sf")
  private val gates = args("gates").split(",").toSeq
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val warmupPasses = args("warmup_passes").toInt
  private val minPasses = args("min_passes").toInt
  private val fns = {
    val all = graft.SparkEntry.queries
    gates.map(g => g -> all.getOrElse(g,
      throw new IllegalArgumentException(s"unknown gate $g"))).toMap
  }
  private var execId = 0L
  private val execs = mutable.ArrayBuffer[Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()

  private def now(): Double = System.nanoTime() / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads. Unlike wall time it excludes time
    * the host gave to other machines' work. */
  private def cpu(): Double = os.getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads, from `/proc` (the JVM runs with
    * a fixed set of them, so none exits and takes its time along). The
    * passes after the cold one still spend much of their CPU compiling,
    * and how much varies with the gate order. */
  private def jit(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = java.nio.file.Files.readString(new java.io.File(t, "comm").toPath)
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0.0
        else {
          val stat = java.nio.file.Files.readString(new java.io.File(t, "stat").toPath)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  private def runGate(gate: String, phase: String, pass: Int): Unit = {
    val sc = spark.sparkContext
    execId += 1
    val tag = Ledger.TagPrefix + execId
    sc.addJobTag(tag)
    val startMs = System.currentTimeMillis()
    val (c0, j0) = (cpu(), jit())
    val t0 = System.nanoTime()
    var buildMs = -1.0
    val rec = try {
      val df = fns(gate)(spark, sf)
      buildMs = (System.nanoTime() - t0) / 1e6
      val (rows, hash, schema) = Harness.fingerprint(df)
      Map[String, Any]("rows" -> rows, "hash" -> hash, "schema" -> schema)
    } catch {
      case e: Throwable => Map[String, Any]("error" -> Harness.errorText(e))
    } finally sc.removeJobTag(tag)
    execs += rec ++ Map("exec" -> execId, "gate" -> gate, "phase" -> phase,
      "pass" -> pass, "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(),
      "build_ms" -> buildMs, "latency_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (cpu() - c0), "jit_s" -> (jit() - j0))
  }

  private def pass(phase: String, index: Int): Unit = {
    // The cold pass keeps the listed order, as a one-shot job would; the
    // seed permutes every later pass.
    val order =
      if (phase == "cold") gates
      else new scala.util.Random(seed * 1000003L + index).shuffle(gates)
    val (c0, j0) = (cpu(), jit())
    val t0 = now()
    order.foreach(runGate(_, phase, index))
    val wall = now() - t0
    passes += Map("phase" -> phase, "pass" -> index, "wall_s" -> wall,
      "cpu_s" -> (cpu() - c0), "jit_s" -> (jit() - j0))
  }

  def apply(): Unit = {
    var index = 0
    def next(phase: String): Unit = { pass(phase, index); index += 1 }
    next("cold")
    (1 to warmupPasses).foreach(_ => next("warmup"))
    val m0 = now()
    var measured = 0
    while (measured < minPasses || now() - m0 < seconds) { next("measured"); measured += 1 }
    val mWall = now() - m0
    ListenerBusDrain(spark.sparkContext)
    val result = Map(
      "execs" -> execs.toList,
      "passes" -> passes.toList,
      "measured" -> Map("passes" -> measured, "wall_s" -> mWall),
      "regime" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism),
      "peak_rss_kb" -> peakRssKb(),
      "retained_mb" -> retainedMb(),
      "ledger" -> Ledger.snapshot())
    Harness.writeFile(args("out"), Json.render(result))
  }

  /** Heap and non-heap memory still in use after a full collection at the
    * end of the run: what the session, its caches and the loaded code
    * hold. Unlike the peak resident set it does not depend on when the
    * collector happened to run. */
  private def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** `VmHWM` of this JVM: its peak resident set. */
  private def peakRssKb(): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
}
