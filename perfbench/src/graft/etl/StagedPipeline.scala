package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.perfbench.Tracer

/** The traced form of [[EntityPipeline.run]] in v2 mode with scale sinks
  * (`fidelity = false`): the same calls, driven one layer at a time so
  * each layer's work lands in its own span. Each stage's result is
  * cached and counted before the next stage starts,
  * so a layer's span covers its own jobs and nothing later; the extra
  * materialisation is part of the tracing overhead the benchmark
  * reports. Lives in package `etl` for the sink projections.
  *
  * This is a copy of `EntityPipeline.process`'s composition: a change to
  * that composition must be made here too, in the same change, or the
  * per-layer metrics describe the old pipeline. Drift shows as a growing
  * `trace.overhead_s` (traced pass minus the untraced `EntityPipeline.run`
  * pass of the same run). */
object StagedPipeline {

  def run(spark: SparkSession, conf: EntityConf, errorLogFile: String,
          span: Tracer): EtlMetrics = {
    val prevOpenCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
    try {
      val schema = SchemaCompiler.compile(conf.schemaFile)
      val raw = span("etl.read") {
        val r = JsonDirSource.read(spark, conf.dataDir).cache()
        span.count("files", r.count().toDouble)
        r
      }
      val checked = span("etl.validate") {
        val v = raw.withColumn("v", Validator.validateCol(schema)(col("value"))).cache()
        v.count()
        v
      }
      val validated = span("etl.parse") {
        val p = checked.withColumn("data", from_json(col("value"), schema.envelopeStruct))
          .cache()
        p.count()
        p
      }
      raw.unpersist()
      checked.unpersist()

      val m = validated.agg(
        count(lit(1)).as("files"),
        count_if(col("v.errClass") === "ok").as("valid")).collect()(0)
      val files = m.getLong(0)
      val valid = m.getLong(1)

      val invalidDf = validated.filter(col("v.errClass") =!= "ok")
        .select(col("src_path"), col("v.errMsg").as("errMsg"))
      span("etl.sink.errorlog") {
        ErrorLogSink.appendDistributed(invalidDf, errorLogFile + ".d")
      }
      span("etl.sink.quarantine") {
        QuarantineSink.copyAllDistributed(invalidDf.select("src_path").distinct(),
          conf.quarantineDir)
      }

      val emit =
        if (conf.replaceMissingData)
          validated.filter(col("v.errClass") === "ok" ||
            col("v.errMsg").contains("is a required property"))
        else validated.filter(col("v.errClass") === "ok")
      span("etl.sink.csv") {
        CsvSink.appendScale(
          EntityPipeline.project(emit, schema, schema.v2PayloadColumns, v2 = true),
          conf.outputFile + ".d")
        CsvSink.appendScale(EntityPipeline.projectMetadata(emit, schema),
          conf.metadataFile.get + ".d")
      }
      validated.unpersist()
      EtlMetrics(files, valid, files - valid)
    } finally prevOpenCost match {
      case Some(v) => spark.conf.set("spark.sql.files.openCostInBytes", v)
      case None => spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
