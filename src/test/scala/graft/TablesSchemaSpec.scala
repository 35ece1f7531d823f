package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** `Tables` passes the reader a schema read from one parquet footer on the
  * driver instead of letting `spark.read.parquet` infer it in a Spark job.
  * For every layout it reads, the schema must be the one an inferring read
  * reports after the same normalization, and building the DataFrame (batch
  * or stream) must run no job, counted by job group as `Probe.measure`
  * counts construction. */
class TablesSchemaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** What a plain inferring read of the table reports, normalized. */
  private def inferred(sfDir: String, name: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalize(name, spark.read.parquet(s"$sfDir/$name.parquet")).schema
  }

  private def inferredStream(sfDir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    Tables.normalize("events", spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)).schema
  }

  private def builtWithoutJobs(what: String)(body: => DataFrame): DataFrame = {
    val (df, phase) = Probe.phase(spark, what)(body)
    assert(phase.jobs == 0, s"building $what ran ${phase.jobs} jobs")
    df
  }

  test("every sf0.001 table: the inferred schema, and no job to build it") {
    Tables.all.foreach { name =>
      val df = builtWithoutJobs(name)(Tables(spark, sf, name))
      assert(df.schema == inferred(sf, name), name)
    }
  }

  test("every ts encoding: the inferred schema in batch and stream, no job") {
    TablesEncodingSpec.Encodings.foreach { enc =>
      val dir = TablesEncodingSpec.writeVariant(spark, enc)
      val batch = builtWithoutJobs(s"$enc batch")(Tables(spark, dir, "events"))
      assert(batch.schema == inferred(dir, "events"), enc)
      val stream = builtWithoutJobs(s"$enc stream")(Tables.eventsStream(spark, dir))
      assert(stream.isStreaming)
      assert(stream.schema == inferredStream(dir), enc)
    }
    val stream = builtWithoutJobs("sf0.001 stream")(Tables.eventsStream(spark, sf))
    assert(stream.schema == inferredStream(sf))
  }

  test("a Spark-written directory with _SUCCESS and .crc files reads its data files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-dir").toFile
    dir.deleteOnExit()
    val rows = spark.range(0, 50, 1, 3)
      .select($"id", ($"id" % 7).cast("string").as("s"),
        $"id".cast("timestamp").cast("timestamp_ntz").as("t"))
    rows.write.parquet(s"$dir/t.parquet")
    val names = new java.io.File(dir, "t.parquet").list().toSeq
    assert(names.contains("_SUCCESS"), names)
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names)
    val df = builtWithoutJobs("directory")(Tables(spark, dir.toString, "t"))
    assert(df.schema == inferred(dir.toString, "t"))
    assert(df.count() == 50)
    assert(df.orderBy("id").collect().toSeq ==
      Tables.normalize("t", rows).orderBy("id").collect().toSeq)
  }

  test("a partitioned directory reads a leaf file's footer; Spark adds the partition column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-part").toFile
    dir.deleteOnExit()
    spark.range(0, 20, 1, 2).select($"id", ($"id" % 3).as("k"))
      .write.partitionBy("k").parquet(s"$dir/p.parquet")
    val df = builtWithoutJobs("partitioned")(Tables(spark, dir.toString, "p"))
    assert(df.schema == inferred(dir.toString, "p"))
    assert(df.schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND naming the path") {
    val missing = "/nonexistent-graft-sf"
    val e = intercept[AnalysisException](Tables(spark, missing, "orders"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    assert(e.getMessage.contains(s"$missing/orders.parquet"), e.getMessage)
    val s = intercept[AnalysisException](Tables.eventsStream(spark, missing))
    assert(s.getCondition == "PATH_NOT_FOUND", s.getMessage)
  }

  test("a directory with no data file fails as an inferring read does") {
    val dir = Files.createTempDirectory("graft-tables-empty").toFile
    dir.deleteOnExit()
    val table = new java.io.File(dir, "e.parquet")
    table.mkdir()
    new java.io.File(table, "_SUCCESS").createNewFile()
    val want = intercept[AnalysisException](spark.read.parquet(table.toString))
    val got = intercept[AnalysisException](Tables(spark, dir.toString, "e"))
    assert(got.getCondition == want.getCondition, got.getMessage)
  }
}
