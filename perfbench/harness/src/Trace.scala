package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SqlExecutionEndQuery}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory ledger behind the benchmark's Spark listeners.
  *
  * Every gate execution runs under the job tag `perfbench-<exec>`. Spark
  * copies a thread's job tags into each job's properties, each SQL
  * execution's start event, and every thread the gate starts (stream
  * execution threads included), so jobs, stages, tasks, query executions
  * and stream queries are attributed to the gate execution that caused
  * them. Listener callbacks arrive on listener-bus threads; the harness
  * reads the ledger only after draining the bus.
  */
object Ledger {
  val TagPrefix = "perfbench-"

  def execOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong
    }.getOrElse(-1L)

  private def execOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(s => execOf(s.split(",").toSeq)).getOrElse(-1L)

  /** Task totals of one stage attempt. */
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var shWriteBytes = 0L; var shReadBytes = 0L
    var shRecords = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
    var outRecords = 0L
    def toMap: Map[String, Long] = Map(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "sched_ms" -> schedMs,
      "shuffle_write_bytes" -> shWriteBytes,
      "shuffle_read_bytes" -> shReadBytes, "shuffle_records" -> shRecords,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
      "bytes_read" -> inBytes, "records_read" -> inRecords,
      "bytes_written" -> outBytes, "records_written" -> outRecords)
  }

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val stageAgg = mutable.Map[(Int, Int), StageAgg]()
  private val sqlExecs = mutable.LinkedHashMap[Long, mutable.Map[String, Any]]()
  private val streams = mutable.LinkedHashMap[String, mutable.Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "exec" -> execOf(e.properties),
      "sql" -> sql, "start_ms" -> e.time, "end_ms" -> e.time,
      "stages" -> e.stageIds)
  }

  def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  def stageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = mutable.Map(
      "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "exec" -> execOf(e.properties), "num_tasks" -> i.numTasks,
      "start_ms" -> i.submissionTime.getOrElse(System.currentTimeMillis()),
      "end_ms" -> -1L)
  }

  def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s("end_ms") = i.completionTime.getOrElse(System.currentTimeMillis())
      s("failed") = i.failureReason.isDefined
    }
  }

  def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        overhead - e.taskInfo.gettingResultTime)
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shRecords += m.shuffleWriteMetrics.recordsWritten
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
  }

  def sqlStart(e: SparkListenerSQLExecutionStart): Unit = synchronized {
    sqlExecs(e.executionId) = mutable.Map("sql" -> e.executionId,
      "exec" -> execOf(e.jobTags), "root" -> e.rootExecutionId.getOrElse(e.executionId),
      "start_ms" -> e.time, "end_ms" -> e.time)
  }

  def sqlEnd(e: SparkListenerSQLExecutionEnd): Unit = synchronized {
    sqlExecs.get(e.executionId).foreach { s =>
      s("end_ms") = e.time
      SqlExecutionEndQuery(e).foreach(qe => s ++= planning(qe))
    }
  }

  /** Catalyst phase times and graft's own optimizer-rule times of one
    * finished query execution. */
  private def planning(qe: QueryExecution): Map[String, Double] = {
    val t = qe.tracker
    def phase(n: String): Double =
      t.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val graftNs = t.rules.iterator
      .collect { case (name, r) if name.startsWith("graft.") => r.totalTimeNs }.sum
    Map("analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"), "graft_rules_ms" -> graftNs / 1e6)
  }

  def streamStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    // Called synchronously on the stream's own thread, which inherited
    // the starting gate's job tags.
    val exec = execOf(SparkSession.active.sparkContext.getJobTags())
    synchronized {
      streams(e.runId.toString) = mutable.Map("run" -> e.runId.toString,
        "exec" -> exec, "start_ms" -> System.currentTimeMillis(), "end_ms" -> -1L)
    }
  }

  def streamProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // Idle heartbeats carry no addBatch phase: only executed batches count.
    if (d.contains("addBatch")) {
      val ops = p.stateOperators.toSeq
      val rec = Map[String, Any]("run" -> p.runId.toString, "batch" -> p.batchId,
        "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> d, "rows" -> p.numInputRows,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum)
      synchronized { batches += rec }
    }
  }

  def streamTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized {
      streams.get(e.runId.toString).foreach(_("end_ms") = System.currentTimeMillis())
    }

  /** Everything recorded so far, for the result file. */
  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.map { case (k, s) =>
        s.toMap ++ stageAgg.get(k).map(_.toMap).getOrElse(Map.empty)
      }.toList,
      "sql" -> sqlExecs.values.map(_.toMap).toList,
      "streams" -> streams.values.map(_.toMap).toList,
      "batches" -> batches.toList)
  }
}

/** Jobs, stages, tasks, and SQL executions with their Catalyst phases.
  * The phases come from the same `QueryExecution` a
  * `QueryExecutionListener` receives, read off the SQL-execution end
  * event because the listener callback does not carry the execution id
  * that ties the query to its jobs and its gate. */
class JobTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Ledger.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Ledger.jobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Ledger.stageSubmitted(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Ledger.stageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Ledger.taskEnd(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Ledger.sqlStart(s)
    case s: SparkListenerSQLExecutionEnd => Ledger.sqlEnd(s)
    case _ =>
  }
}

/** Micro-batch progress of every stream query, including those started
  * in `newSession()` children: it is registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`, which every session's
  * query manager loads. */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Ledger.streamStarted(e)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Ledger.streamProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Ledger.streamTerminated(e)
}
