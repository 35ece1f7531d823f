package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The round-9 lesson as a spec: a query that throws during the dump
  * must leave a LOUD artifact (errors.json), not silently vanish from
  * the correctness surface. */
class VerifyFailureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def readJsonMap(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, String]])
      .asScala.toMap
  }

  test("a throwing query lands in errors.json; healthy queries still dump") {
    val out = Files.createTempDirectory("verify_fail_").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_query" -> ((s, dir) => Tables(s, dir, "nation")),
      "boom_query" -> ((_, _) => sys.error("injected \"quoted\"\tfailure")))
    val oracles = Map("ok_query" -> "SELECT * FROM nation",
      "odd_query" -> "SELECT '\"q\"\t\u0001' AS odd")
    val failed = Verify.run(spark, sf, out, queries, oracles)
    assert(failed.keySet == Set("boom_query"))
    // healthy query dumped parquet; oracle json intact
    assert(Files.list(Paths.get(s"$out/ok_query")).count() > 0)
    assert(Files.readString(Paths.get(s"$out/oracle_sql.json")).contains("ok_query"))
    // the failure marker is a top-level FILE with the message, and its
    // JSON survives quotes/tabs in the exception text (driver json.load
    // must not choke on it)
    val errs = Files.readString(Paths.get(s"$out/errors.json"))
    assert(errs.contains("boom_query"))
    assert(errs.contains("injected"))
    // both files parse back to exactly the maps that were written
    assert(readJsonMap(s"$out/oracle_sql.json") == oracles)
    assert(readJsonMap(s"$out/errors.json") ==
      Map("boom_query" -> "RuntimeException: injected \"quoted\"\tfailure"))
    assert(!Files.exists(Paths.get(s"$out/boom_query")),
      "failed query must not leave a pseudo-output directory")
  }

  test("a MID-write failure deletes the partial output directory") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("verify_midfail_").toString
    // the UDF throws on a late row, so the write task starts (committer
    // creates $out/mid_query with _temporary) and THEN dies — the
    // executor-failure-mid-write shape ADVICE flagged
    val boom = udf { (id: Long) =>
      if (id > 40L) sys.error(s"injected mid-write failure at $id") else id
    }
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "mid_query" -> ((s, _) => s.range(50).select(boom(col("id")).as("v"))))
    val failed = Verify.run(spark, sf, out, queries, Map.empty)
    assert(failed.keySet == Set("mid_query"))
    assert(!Files.exists(Paths.get(s"$out/mid_query")),
      "partial output dir (with _temporary leftovers) must be deleted")
    assert(Files.readString(Paths.get(s"$out/errors.json")).contains("mid_query"))
  }

  test("no failures → no errors.json") {
    val out = Files.createTempDirectory("verify_ok_").toString
    val failed = Verify.run(spark, sf, out,
      Map("ok_query" -> ((s: SparkSession, dir: String) => Tables(s, dir, "region"))),
      Map.empty)
    assert(failed.isEmpty)
    assert(!Files.exists(Paths.get(s"$out/errors.json")))
  }
}
