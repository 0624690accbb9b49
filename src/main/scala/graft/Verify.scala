package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare (tools/check.py),
  * and failed.json (gate → error, `{}` when every gate dumped).
  *
  * `runMain graft.Verify <sfDir> <outDir> [gate,...]` — the optional
  * third argument dumps only the named gates (and writes only their
  * oracles), the per-gate iteration loop for `tools/check.py`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, gates) = parse(args.toSeq)
    val spark = GraftSession.build(GraftSession.cpus)
    dump(spark, sfDir, outDir, gates)
    spark.stop()
  }

  /** `<sfDir> <outDir> [gate,...]`; pure, so an unknown gate fails
    * before any session exists. No filter means every gate. */
  def parse(args: Seq[String]): (String, String, Seq[String]) = args match {
    case Seq(sfDir, outDir) => (sfDir, outDir, SparkEntry.queries.keys.toSeq)
    case Seq(sfDir, outDir, spec) => (sfDir, outDir, gateList(spec))
    case _ => throw new IllegalArgumentException(
      "usage: Verify <sfDir> <outDir> [gate,...]")
  }

  /** The gate names of `a,b,c`; fails naming every unknown one. */
  def gateList(spec: String): Seq[String] =
    nameList(spec, SparkEntry.queries.keys.toSeq.sorted, "gate")

  /** The names of `a,b,c`, each one of `known`; fails naming every
    * unknown one and listing the known. */
  def nameList(spec: String, known: Seq[String], kind: String): Seq[String] = {
    val names = spec.split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(known.contains)
    if (names.isEmpty || unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown $kind(s) '${unknown.mkString(",")}' in '$spec'; known: ${known.mkString(", ")}")
    names
  }

  /** Dumps `gates` to `<outDir>/<gate>` and writes their oracles,
    * `failed.json` and a one-line stderr summary; returns the failures
    * (gate → error), sorted. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      gates: Seq[String]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    // Dump CONCURRENTLY, each gate to its own directory: a gate's cost
    // at sf0.01 is mostly fixed planning overhead, so the gate loop's
    // threads cut the verify wall ~4×. A failing gate is named on
    // stderr and in <out>/failed.json; it never aborts the dump.
    val queries = SparkEntry.queries
    val failures = GateQueries.each(gates, GateQueries.Par) { name =>
      queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }.collect { case (name, _, Left(e)) =>
      System.err.println(s"[verify] $name failed: $e")
      name -> e
    }.sortBy(_._1)
    val selected = gates.toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObject(SparkEntry.oracleSql.toSeq.filter(kv => selected(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failed.json"), jsonObject(failures))
    val n = gates.size
    System.err.println(s"[verify] ${n - failures.size}/$n gates dumped, ${failures.size} failed" +
      (if (failures.isEmpty) "" else s": ${failures.map(_._1).mkString(", ")}"))
    failures
  }

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in a gate's SQL would otherwise make
    * the reader's json.load fail and silently zero the correctness
    * check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat JSON object of strings. */
  def jsonObject(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
}
