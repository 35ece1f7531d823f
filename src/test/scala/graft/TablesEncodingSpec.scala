package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the `Tables` timestamp seam.
  *
  * Round 9 regression: the driver regenerated /root/testdata with
  * `events.ts` as parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (pandas/pyarrow default) instead of TIMESTAMP(NANOS); Spark 4 read it
  * as TIMESTAMP_NTZ, the LongType-only normalization didn't fire, and
  * three queries plus the streaming spec surface silently broke. A 100 TB
  * corpus WILL mix parquet writers, so `Tables` must yield TimestampType
  * (and identical rows) from every encoding a writer plausibly produces.
  *
  * The three encodings exercised:
  *  - INT64 nanos: Spark can't author TIMESTAMP(NANOS) parquet, but with
  *    spark.sql.legacy.parquet.nanosAsLong=true a real NANOS column
  *    surfaces as LongType — byte-identical, from Tables' dispatch point
  *    of view, to a plain INT64 column holding nanos, which is what this
  *    spec writes.
  *  - TIMESTAMP(MICROS, NTZ): authored via timestamp_ntz cast.
  *  - TIMESTAMP(MICROS, UTC-adjusted): Spark's default TimestampType
  *    output with outputTimestampType=TIMESTAMP_MICROS.
  */
class TablesEncodingSpec extends AnyFunSuite {
  import TablesEncodingSpec.writeVariant
  lazy val spark: SparkSession = TestSpark.spark

  test("Tables normalizes all three ts encodings to TimestampType with identical rows") {
    val variants = TablesEncodingSpec.Encodings.map(writeVariant(spark, _))
    val dfs = variants.map(d => Tables(spark, d, "events"))
    dfs.foreach(df => assert(df.schema("ts").dataType == TimestampType,
      s"ts not normalized: ${df.schema("ts").dataType}"))
    val collected = dfs.map(
      _.select(col("event_id"), col("ts")).orderBy("event_id").collect().toSeq)
    assert(collected(0) == collected(1), "int64_nanos rows differ from micros_ntz")
    assert(collected(1) == collected(2), "micros_ntz rows differ from micros_utc")
  }

  test("q25 sessionize yields identical results from every encoding") {
    val variants = TablesEncodingSpec.Encodings.map(writeVariant(spark, _))
    val results = variants.map(d =>
      queries.Declared2.q25(spark, d).collect().toSeq)
    assert(results(0).nonEmpty)
    assert(results(0) == results(1), "q25 differs: int64_nanos vs micros_ntz")
    assert(results(1) == results(2), "q25 differs: micros_ntz vs micros_utc")
  }
}

object TablesEncodingSpec {
  val Encodings: Seq[String] = Seq("int64_nanos", "micros_ntz", "micros_utc")
  private val sf = "/root/testdata/sf0.001"

  /** Write the sf0.001 events table (ts re-encoded per variant) as
    * `events.parquet` under a fresh temp dir; return the dir. */
  def writeVariant(spark: SparkSession, encode: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft-enc-$encode").toFile
    dir.deleteOnExit()
    val base = Tables(spark, sf, "events") // normalized TimestampType
    val out = encode match {
      case "int64_nanos" =>
        base.withColumn("ts", unix_micros($"ts") * 1000L)
      case "micros_ntz" =>
        base.withColumn("ts", $"ts".cast("timestamp_ntz"))
      case "micros_utc" =>
        base // TimestampType as-is
    }
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // one file named exactly like the driver's layout: <dir>/events.parquet
    val tmp = new java.io.File(dir, "_stage").toString
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new java.io.File(dir, "events.parquet").toPath)
    dir.toString
  }
}
