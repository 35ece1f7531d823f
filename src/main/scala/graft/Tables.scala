package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (`/root/repo/TESTDATA.md`). One parquet file per table under the
  * scale-factor directory passed to every query.
  *
  * Reads go through [[parquet]]: Catalyst's parquet source with the
  * schema read from one footer on the driver, so column pruning and
  * predicate pushdown are Spark's own, building a table's DataFrame runs
  * no Spark job, and at cluster scale the same call reads a (partitioned)
  * directory tree unchanged.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A parquet read of `path`, a file or a directory of files that share
    * one schema, with that schema passed to the reader. An inferring
    * `spark.read.parquet(path)` reads footers in a Spark job on every
    * call; [[GraftParquetFooter.schema]] reads one footer on the driver
    * and converts it as the inference does. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftParquetFooter.schema(spark, path)).parquet(path)

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // (set before the footer is read: the conf decides how it converts)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, parquet(spark, s"$sfDir/$name.parquet"))
  }

  /** Normalize events.ts to TimestampType regardless of how the writer
    * encoded it — a 100 TB corpus WILL mix parquet writers:
    *  - INT64 TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp;
    *    with nanosAsLong it surfaces as LongType nanos, truncated here to
    *    micros (same truncation DuckDB applies for TIMESTAMP_NS →
    *    TIMESTAMP). `ts div 1000` stays integer: a double division would
    *    lose precision above 2^53 ns.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (pandas/pyarrow + DuckDB
    *    default): Spark 4 reads TIMESTAMP_NTZ; cast to TimestampType. The
    *    session TZ is pinned UTC everywhere (Verify/Bench/specs), so the
    *    naive wall-clock is interpreted exactly as DuckDB interprets its
    *    naive TIMESTAMP — no shift.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TimestampType. */
  private[graft] def normalize(name: String, raw: DataFrame): DataFrame = {
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // NTZ normalization applies to EVERY timestamp column of every
    // table, not just events.ts — the next generator drift shouldn't
    // need another seam patch
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Stream-read the events table with the SAME normalization as
    * [[apply]]. A streaming file source needs a user-supplied schema, so
    * the writer's encoding is discovered from the file's footer, read on
    * the driver (no Spark job), and [[normalize]] is applied to the
    * stream: a new writer encoding is handled in ONE place for both
    * batch and streaming readers. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = GraftParquetFooter.schema(spark, s"$sfDir/events.parquet")
    normalize("events", spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Register every table as a temp view (for spark.sql users). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
}
