package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Writes a string → string map as one JSON object (`oracle_sql.json`,
    * `errors.json`). Jackson escapes quotes, backslashes and every control
    * character, so a tab or CR in oracle SQL or an exception message
    * cannot make the reader's `json.load` fail. */
  def writeJsonMap(path: String, m: collection.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(path), json.writeValueAsString(m.asJava))
  }

  /** One JSON string literal, escaped like [[writeJsonMap]]'s values. */
  def jsonString(s: String): String = json.writeValueAsString(s)

  /** The dump loop, parameterized over the query map so the failure
    * path is testable (VerifyFailureSpec injects a throwing query).
    * Returns the failed-query map. Failures must be LOUD: a query that
    * throws would otherwise just be absent from the driver's
    * CORRECTNESS artifact — round 9 lost three regressions that way
    * (they read as "surface shrank", not "err"). Failures collect into
    * errors.json (a FILE, not a per-query directory, so a driver glob
    * over output dirs can never mistake it for a query dump) plus a
    * stderr summary. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, (SparkSession, String) => DataFrame],
          oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        failed(name) = msg
        // a MID-write failure (executor dies after the committer created
        // the dir) leaves a partial $outDir/$name with _temporary
        // leftovers — delete it so a failed query can never be read as a
        // (truncated) query dump by the driver's glob
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
        }
        System.err.println(s"[verify] FAILED $name: $msg")
      }
    }
    writeJsonMap(s"$outDir/oracle_sql.json", oracleSql)
    if (failed.nonEmpty) writeJsonMap(s"$outDir/errors.json", failed)
    System.err.println(
      s"[verify] done: ${queries.size - failed.size} ok, ${failed.size} failed" +
        (if (failed.nonEmpty) failed.keys.mkString(" (", ", ", ")") else ""))
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify", GraftSession.envCores)
    // dev-loop filter: SPARK_GRAFT_ONLY=key1,key2 dumps just those
    // queries (and just their oracle entries) — e.g. proving one new
    // key at sf1 without re-running the whole surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty).toSet)
    val qs = only.map(k => SparkEntry.queries.view.filterKeys(k).toMap)
      .getOrElse(SparkEntry.queries)
    val os = only.map(k => SparkEntry.oracleSql.view.filterKeys(k).toMap)
      .getOrElse(SparkEntry.oracleSql)
    run(spark, sfDir, outDir, qs, os)
    spark.stop()
  }
}
