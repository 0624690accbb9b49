package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The diagnostics entry point; no contract output depends on it. Tables
  * come from `$SPARK_GRAFT_SF_DIR`, extra builder settings from `--conf`
  * (they also reach the streaming replays' `newSession()` children).
  *
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] plan <outDir> <suffix> <gate,...>"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] profile <gate,...> [reps]"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] replica <outDir> <factor> [grown]"
  *   sbt "runMain graft.Diag [--conf k=v;k2=v2] scale [check,...]"
  *
  * `plan` writes each gate's plan ([[planText]]) to
  * `<outDir>/<gate>_<suffix>.txt`: run it before a change with `before`
  * and after it with `after`. A gate that fails, or that the tree lacks,
  * is named and the run exits 1. PlanShapeSpec checks the plan-shape
  * laws on the same text.
  * `profile` runs each gate `reps` times (default 3) and prints per rep
  * the rows, wall and every Spark job the gate spawned ([[jobs]]: by job
  * tag, so a stream thread's jobs count and a straggler from the last
  * rep does not), then the gate's walls and their warm (rep ≥ 2) minimum.
  * `replica` writes the tables `factor`× into `outDir` ([[Replica.write]]);
  * `scale` runs the named [[Replica.checks]] (all when none is named)
  * and exits 1 naming every check that failed. Point
  * `SPARK_GRAFT_SF_DIR` at a replica to profile, bench or verify any
  * gate at that scale. */
object Diag {
  sealed trait Cmd
  final case class Plan(outDir: String, suffix: String, gates: Seq[String]) extends Cmd
  final case class Profile(gates: Seq[String], reps: Int) extends Cmd
  final case class Replicate(outDir: String, factor: Int, grown: Boolean) extends Cmd
  final case class Scale(checks: Seq[String]) extends Cmd

  private val usage = "usage: Diag [--conf k=v;k2=v2] plan <outDir> <suffix> <gate,...> | " +
    "profile <gate,...> [reps] | replica <outDir> <factor> [grown] | scale [check,...]"

  /** The command and its `--conf` settings; pure, so a bad command
    * line fails before any session exists. */
  def parse(args: Seq[String]): (Cmd, Seq[(String, String)]) = args match {
    case "--conf" +: spec +: rest => (command(rest), GraftSession.parseConfs(spec, "--conf"))
    case _ => (command(args), Nil)
  }

  /** `plan` takes gate names as given (the tree before a change may
    * lack a gate); `profile` rejects unknown ones. */
  private def command(args: Seq[String]): Cmd = args match {
    case Seq("plan", outDir, suffix, gates) =>
      Plan(outDir, suffix, gates.split(",").toSeq.filter(_.nonEmpty))
    case Seq("profile", gates, reps @ _*) if reps.size <= 1 =>
      val n = reps.headOption.fold(Option(3))(_.toIntOption).filter(_ > 0)
        .getOrElse(throw new IllegalArgumentException(s"reps must be a positive integer; $usage"))
      Profile(Verify.gateList(gates), n)
    case Seq("replica", outDir, factor, grown @ _*) if grown.isEmpty || grown == Seq("grown") =>
      val n = factor.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"factor must be a positive integer; $usage"))
      Replicate(outDir, n, grown.nonEmpty)
    case Seq("scale") => Scale(Replica.checks.keys.toSeq)
    case Seq("scale", names) => Scale(Verify.nameList(names, Replica.checks.keys.toSeq, "check"))
    case _ => throw new IllegalArgumentException(usage)
  }

  def main(args: Array[String]): Unit = {
    val (cmd, confs) = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the tables' directory"))
    val spark = GraftSession.build(GraftSession.cpus, confs)
    val failed = try cmd match {
      case p: Plan => plan(spark, sfDir, p)
      case p: Profile => profile(spark, sfDir, p); Nil
      case r: Replicate =>
        val rows = Replica.write(spark, sfDir, r.factor, r.outDir, r.grown)
        println(s"replica ${r.outDir}: ${r.factor} x $sfDir${if (r.grown) ", grown" else ""};" +
          rows.map { case (t, n) => s" $t=$n" }.mkString)
        Nil
      case s: Scale => scale(spark, sfDir, s)
    } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The plan of a gate's frame after [[served]] ran it: the gate's
    * [[Receipts]] line, if any, over the AQE-final formatted explain.
    * JVM-global counters are masked in both (expression ids `#12`,
    * exchange `plan_id`s, lambda variables `x_30`) so two dumps of
    * unchanged code diff cleanly. */
  def planText(gate: String, df: DataFrame): String =
    (Receipts.get(gate).fold("")(r => s"-- RECEIPT: $r\n\n") +
      df.queryExecution.explainString(FormattedMode).trim)
      .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(lambda \\w+_)\\d+", "$1N")

  /** Serves each gate and writes its plan ([[planText]], through the
    * gate loop); returns (and names) the gates it could not dump. */
  private def plan(spark: SparkSession, sfDir: String, p: Plan): Seq[String] = {
    val out = Paths.get(p.outDir)
    Files.createDirectories(out)
    val runs = GateQueries.each(p.gates, GateQueries.Par) { g =>
      val df = SparkEntry.queries.getOrElse(g, sys.error(s"unknown gate '$g'"))(spark, sfDir)
      served(df)
      planText(g, df)
    }
    runs.foreach {
      case (g, _, Right(text)) =>
        Files.writeString(out.resolve(s"${g}_${p.suffix}.txt"),
          s"== $g (${p.suffix}) — the gate's served plan, AQE-final ==\n" +
            "(multi-action gates additionally run staging jobs before this plan)\n\n" +
            text + "\n")
        println(s"dumped ${g}_${p.suffix}")
      case (g, _, Left(e)) => println(s"SKIP $g: $e")
    }
    val failed = runs.collect { case (g, _, Left(_)) => g }
    if (failed.nonEmpty) System.err.println(
      s"[diag] ${failed.size}/${p.gates.size} gates skipped: ${failed.mkString(", ")}")
    failed
  }

  /** Runs each check; returns (and names) the ones that failed. */
  private def scale(spark: SparkSession, sfDir: String, s: Scale): Seq[String] = {
    val failed = GateQueries.each(s.checks, 1) { name =>
      val (line, secs) = Replica.timed(Replica.checks(name)(spark, sfDir))
      println(f"[scale] $name ($secs%.1f s)\n$line")
    }.collect { case (name, _, Left(e)) => println(s"FAIL $name: $e"); name }
    if (failed.nonEmpty) System.err.println(
      s"[diag] ${failed.size}/${s.checks.size} checks failed: ${failed.mkString(", ")}")
    failed
  }

  /** The gate's row count, materializing EVERY output column: a bare
    * `count()` lets Catalyst prune columns and eliminate unique-key
    * outer joins, timing a plan the gate never serves (mm11 at the 100×
    * replica: 1.1 s counted vs 17.5 s served). */
  def served(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** A Spark job: id, start and end (epoch ms; end -1 if no end event
    * came), and its description or else its first stage's call site. */
  final case class Job(id: Int, start: Long, end: Long, desc: String)

  /** `body`'s result and the jobs it started, by id: attributed by a job
    * tag (threads `body` starts, a stream's, inherit it; other threads'
    * jobs lack it), read after the listener bus delivered every event. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val (sc, tag) = (spark.sparkContext, s"graft-jobs-${java.util.UUID.randomUUID}")
    val seen = scala.collection.concurrent.TrieMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.split(",").contains(tag)))
          seen(js.jobId) = Job(js.jobId, js.time, -1, prop("spark.job.description")
            .orElse(js.stageInfos.headOption.map(_.name)).getOrElse(""))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        seen.updateWith(je.jobId)(_.map(_.copy(end = je.time)))
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try { val r = body; GraftSqlShims.drainListenerBus(sc); (r, seen.values.toSeq.sortBy(_.id)) }
    finally { sc.removeJobTag(tag); sc.removeSparkListener(listener) }
  }

  private def profile(spark: SparkSession, sfDir: String, p: Profile): Unit = p.gates.foreach { gate =>
    val walls = (1 to p.reps).map { rep =>
      val ((n, wall), js) = jobs(spark)(Replica.timed(served(SparkEntry.queries(gate)(spark, sfDir))))
      val first = js.headOption.fold(0L)(_.start)
      println(f"== $gate rep $rep: wall $wall%.3f s, rows=$n, jobs=${js.length} ==")
      js.foreach { j => // a stream batch's description spans lines: one line per job
        println(f"  job ${j.id}%4d  +${(j.start - first) / 1e3}%7.3f  ${(j.end - j.start) / 1e3}%7.3f s  " +
          j.desc.trim.replaceAll("\\s+", " ").take(100))
      }
      println(f"  job-time sum ${js.map(j => j.end - j.start).sum / 1e3}%.3f s over ${js.length} jobs")
      wall
    }
    println(f"gate=$gate%-28s " + walls.map(w => f"$w%.3f").mkString(" ") +
      f"  warm-min=${walls.tail.minOption.getOrElse(walls.head)}%.3f")
  }
}
