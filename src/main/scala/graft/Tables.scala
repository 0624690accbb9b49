package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Readers for the driver-provided synthetic tables (TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning reach the file source (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`). At 100 TB
  * these become partitioned/bucketed tables; nothing downstream assumes
  * a single file.
  *
  * Reads are inference-free after the first: `spark.read.parquet(path)`
  * launches a Spark job per call to infer the schema from the footers,
  * so each table's inferred schema is memoized and later reads pass it
  * back with `spark.read.schema(s)`. Contract: a table file is
  * immutable while it keeps its length and mtime (a rewrite at the same
  * path changes them and is re-inferred).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** SQL confs that change how parquet types map to Spark types. */
  private val schemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** path → (stamp, the schema inference returned for it). The stamp is
    * (path, length, mtime) of every file under the path plus the values
    * of `schemaConfs`; one entry per path, replaced when the stamp moves. */
  private val schemas = new ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** The files that make up the table at `path`: the path itself when
    * it is a file, else every file below it, skipping the names Spark's
    * file index hides (a leading `.`, or `_` outside a `k=v` partition
    * name: `_SUCCESS`, `_temporary`, `.crc`). The one directory walk of
    * a table in this library: schema stamps, summary fingerprints and
    * the lakehouse gates' manifests all read it. getFileStatus/
    * listStatus, not listFiles: a LocatedFileStatus reads owner and
    * permission, which the local filesystem forks `ls -ld` for. Throws
    * FileNotFoundException when `path` is missing. */
  def files(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else fs.listStatus(f.getPath).toSeq
        .filterNot { c =>
          val n = c.getPath.getName
          n.startsWith(".") || n.startsWith("_") && !n.contains("=")
        }.flatMap(leaves)
    leaves(fs.getFileStatus(p))
  }

  /** The memoized inferred schema of `path`; None when the path cannot
    * be listed, so the plain read raises Spark's own error. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val stamp = try {
      val stats = files(spark, path)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      Some(stats.sortBy(_._1) ++ schemaConfs.map(spark.conf.getOption))
    } catch { case _: FileNotFoundException => None }
    stamp.map { st =>
      Option(schemas.get(path)).collect { case (`st`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(path, (st, s))
        s
      }
    }
  }

  /** Session configs every entry point (Verify/Bench/tests) must set
    * before reading the driver tables. `nanosAsLong` because
    * events.parquet carries TIMESTAMP(NANOS) which Spark 4 otherwise
    * rejects ([PARQUET_TYPE_ILLEGAL]); we then truncate ns→µs, which is
    * exactly DuckDB's `epoch_us(ts)`. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // The default whole-stage-codegen class cache (100 entries) is
    // smaller than this library's query suite (46 queries × several
    // codegen stages each) — under it, every suite pass recompiles
    // evicted stages with janino DURING execution, adding multi-second
    // sporadic stalls (measured 2-6× wall-clock variance at sf0.1).
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // native graft expressions (dot_f64) — see graft.functions
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // Honor the per-bucket sort order of bucketed tables (q10 / the
    // Bucketing helper): off by default because it is only sound when
    // every bucket is a single file — which writeBucketed guarantees
    // by pre-repartitioning on the bucket key (same Murmur3-pmod hash
    // as the bucket-file assignment). With it, a key-matched SMJ over
    // bucket-sorted tables carries neither Exchange nor Sort.
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // The local filesystem without chmod/readlink forks, for both the
    // FileSystem API (file writes, reads) and the FileContext API
    // (Spark's streaming checkpoint manager) — see graft.sources.LocalFs
    "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.sources.GraftLocalFs")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts arrives as nanos-since-epoch LONG (see requiredConfs);
    * exposed as a true µs TimestampType so downstream window/ordering
    * logic is plain timestamp algebra. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // files written by other engines (e.g. DuckDB) often carry NTZ;
      // under the pinned UTC session the wall time is identical
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** events.value as exact cents, `(value AS DECIMAL(18,2)) × 100` cast
    * to BIGINT: the money unit gates aggregate in (the oracles spell it
    * `(CAST(value AS DECIMAL(18,2)) * 100)::BIGINT`). It runs on the
    * scaled-long kernel ([[graft.plans.ScaledDecimalRewrite]]). */
  def valueCents: Column = {
    import org.apache.spark.sql.functions.col
    (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
  }
  /** A text column's whitespace tokens: the unit the text, dedup and
    * corpus gates count in. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.trim(text), "\\s+")
  /** The hour and day grains of `ts_us`-style microsecond timestamps. */
  val HourUs: Long = 3600L * 1000000
  val DayUs: Long = 24L * HourUs
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
