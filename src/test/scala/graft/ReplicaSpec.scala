package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** `Replica.write` at factor 2 over sf0.001: fact tables doubled with
  * their id residues kept, the rest linked to the base, rewrites in
  * place, a grown vocabulary, and every at-scale check passing. */
class ReplicaSpec extends AnyFunSuite {
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_replica").toString
    Replica.write(spark, sf0001, 2, d)
    d
  }

  private def counts(d: String): Seq[Long] =
    Replica.facts.map(t => Tables.table(spark, d, t).count())

  test("fact tables are 2x the base; the other seven link to absolute base paths") {
    assert(counts(dir) == counts(sf0001).map(_ * 2))
    Replica.linked.foreach { t =>
      val p = Paths.get(dir, s"$t.parquet")
      assert(Files.isSymbolicLink(p), t)
      assert(Files.readSymbolicLink(p) == Paths.get(sf0001, s"$t.parquet").toAbsolutePath)
    }
  }

  test("ids keep their residues mod 100 and events span 2x the base's time") {
    def residues(d: String, t: String, id: String): Map[Long, Long] =
      Tables.table(spark, d, t).groupBy(pmod(col(id), lit(100L))).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((t, id) <- Seq("events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id"))
      assert(residues(dir, t, id) == residues(sf0001, t, id).map { case (k, n) => k -> 2 * n }, t)
    def span(d: String): Long = {
      val r = Tables.events(spark, d)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      r.getLong(1) - r.getLong(0) + 1
    }
    assert(span(dir) == 2 * span(sf0001))
  }

  test("a second write into the same dir replaces stale links and gives the same counts") {
    val d = Files.createTempDirectory("graft_replica_rw").toString
    Replica.write(spark, sf0001, 2, d)
    val region = Paths.get(d, "region.parquet")
    Files.delete(region)
    Files.createSymbolicLink(region, Paths.get(d, "nowhere.parquet")) // dangling
    val events: Path = Paths.get(d, "events.parquet")
    Replica.write(spark, sf0001, 2, d)
    assert(counts(d) == counts(sf0001).map(_ * 2))
    assert(Files.readSymbolicLink(region) == Paths.get(sf0001, "region.parquet").toAbsolutePath)
    assert(!Files.isSymbolicLink(events))
  }

  test("grown text has strictly more distinct tokens than the exact replica") {
    val d = Files.createTempDirectory("graft_replica_grown").toString
    Replica.write(spark, sf0001, 2, d, grown = true)
    def tokens(d: String): Long = Tables.documents(spark, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0).agg(countDistinct(col("t"))).head().getLong(0)
    assert(counts(d) == counts(dir))
    assert(tokens(d) > tokens(dir))
  }

  test("every at-scale check passes on the replica") {
    Replica.checks.foreach { case (name, check) =>
      assert(check(spark, dir).nonEmpty, name)
    }
  }
}
