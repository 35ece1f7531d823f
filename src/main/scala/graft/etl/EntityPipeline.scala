package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ETL output-format generation: v1 (one flat CSV per entity,
  * `main.py`) or v2 (normalized payload CSV + unified metadata CSV,
  * `main2.py`). */
sealed trait EtlMode
case object V1 extends EtlMode
case object V2 extends EtlMode

final case class EtlMetrics(files: Long, valid: Long, invalid: Long)

/** The §2.2 dataflow, one lazy DataFrame plan per entity:
  *
  * {{{
  * scan → parse ─→ validate ─┬─ ok ────────────────────────────┐
  *                           ├─ required → log+quarantine ──┐  │ (flag on)
  *                           └─ other    → log+quarantine, dropped
  *                                                          ▼  ▼
  *        flatten+project → event_id FK (v2) → address → job → name parts
  *        → CSV sink(s); counters
  * }}}
  *
  * Everything up to the sinks is one Catalyst plan over the cached
  * validated scan — parse (from_json), validation (UDF), routing
  * (filters), transforms (built-in Columns) all pipeline in a single
  * whole-stage-codegen pass per branch. The counters job and the sink
  * jobs (error log with quarantine copy, payload CSV, v2 metadata CSV)
  * each read that cached scan and write their own paths, so they run
  * concurrently ([[ConcurrentActions]]). The counters are per-partition
  * sums added up on the driver, so scale mode has no exchange at all: an
  * entity is four single-stage jobs in v2, three in v1. Fidelity mode
  * adds the sorts for divergence D1's deterministic order.
  */
object EntityPipeline {

  final case class Result(metrics: EtlMetrics)

  def run(spark: SparkSession, conf: EntityConf, mode: EtlMode,
          errorLogFile: String, fidelity: Boolean = true): Result = {
    // Missing data dir: the reference crashes (next(os.walk) raises
    // StopIteration) — we degrade to a zero-file run (divergence in the
    // D2/D4 spirit: availability over crash-parity). An EXISTING empty
    // dir flows through normally and produces header-only CSVs, exactly
    // like the reference's open-and-writeheader behavior.
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(conf.dataDir)))
      return Result(EtlMetrics(0, 0, 0))
    // JsonDirSource tunes openCostInBytes for the small-file corpus; the
    // conf is consulted at ACTION time, so restore the session's previous
    // value only after this pipeline's actions complete — unrelated
    // queries on the same session keep the default.
    val prevOpenCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
    try {
      val raw = JsonDirSource.read(spark, conf.dataDir)
      process(raw, conf, mode, errorLogFile, fidelity)
    } finally prevOpenCost match {
      case Some(v) => spark.conf.set("spark.sql.files.openCostInBytes", v)
      case None => spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  /** Batch body over an already-read (src_path, value) frame — shared by
    * the batch runner and the Structured Streaming port's foreachBatch
    * (graft.streaming.StreamingEtl), which is exactly the reference
    * pipeline's shape: it was always an incremental append. */
  def process(raw: DataFrame, conf: EntityConf, mode: EtlMode,
              errorLogFile: String, fidelity: Boolean = true): Result = {
    if (mode == V2 && conf.metadataFile.isEmpty)
      sys.error(s"v2 entity ${conf.name} needs metadata_file")
    val schema = SchemaCompiler.compile(conf.schemaFile)
    val validated = raw
      .withColumn("v", Validator.validateCol(schema)(col("value")))
      .withColumn("data", from_json(col("value"), schema.envelopeStruct))
      .cache()

    // O6 error log + O7 quarantine. FIDELITY: one collect of the
    // invalid set in deterministic src_path order (D1) — the
    // reference-shaped single log file + driver-side copy, sound because
    // fidelity mode already implies a driver-sized corpus. SCALE: both
    // sinks are one executor-side job: each task copies its rows' files
    // as the rows stream into the distributed text append, so
    // a majority-invalid corpus — a bad upstream at 100 TB — flows
    // through with bounded driver memory. `src_path` is unique per file,
    // so no dedup is needed.
    val invalidDf = validated.filter(col("v.errClass") =!= "ok")
      .select(col("src_path"), col("v.errMsg").as("errMsg"))
    val errorSinks: () => Unit =
      if (fidelity) () => {
        val invalidRows = invalidDf.orderBy("src_path").collect()
        ErrorLogSink.append(
          invalidRows.map(r => (r.getString(0), r.getString(1))).toIndexedSeq,
          errorLogFile)
        QuarantineSink.copyAll(raw.sparkSession,
          invalidRows.map(_.getString(0)).distinct.toSeq, conf.quarantineDir)
      }
      else () => ErrorLogSink.appendDistributed(
        QuarantineSink.copying(invalidDf, conf.quarantineDir), errorLogFile + ".d")

    // O5 routing: valid, plus recoverable-invalid when the
    // replace_missing_data gate is on. The recoverability test is the
    // reference's literal SUBSTRING check on the error message
    // (`'is a required property' in message`, main.py:183) — not the
    // error class — so a type-error message whose embedded VALUE happens
    // to contain that text routes exactly as the reference would.
    val emit0 = if (conf.replaceMissingData)
      validated.filter(col("v.errClass") === "ok" ||
        col("v.errMsg").contains("is a required property"))
    else validated.filter(col("v.errClass") === "ok")
    // D1 deterministic ordering is a FIDELITY-mode contract (single
    // golden CSV); scale mode keeps source order per part — a global sort
    // of the corpus would be a pure-overhead shuffle at 100 TB.
    val emit = if (fidelity) emit0.orderBy("src_path") else emit0

    // fidelity: reference-faithful single growing CSV (driver-side
    // append); scale: distributed part-file append under <output>.d/ —
    // the cluster-shaped sink with no driver bottleneck.
    def sink(df: DataFrame, outFile: String): () => Unit =
      if (fidelity) () => CsvSink.appendFidelity(df, outFile)
      else () => CsvSink.appendScale(df, outFile + ".d")

    val csvSinks = mode match {
      case V1 =>
        Seq(sink(project(emit, schema, schema.v1Columns, v2 = false), conf.outputFile))
      case V2 =>
        Seq(sink(project(emit, schema, schema.v2PayloadColumns, v2 = true), conf.outputFile),
          sink(projectMetadata(emit, schema), conf.metadataFile.get))
    }

    // Both counters as one (files, valid) pair per partition, summed on
    // the driver: one shuffle-free job, where an aggregate runs three
    // under AQE (materialise the cache, map stage, result). It and every
    // sink read the cached frame and write different paths, so they run
    // as concurrent jobs; whichever job reaches a partition first caches it.
    var counts = (0L, 0L)
    val countersJob = () => counts = validated.select(col("v.errClass") === "ok")
      .mapPartitions { (rows: Iterator[Row]) =>
        var files, valid = 0L
        rows.foreach { r => files += 1; if (r.getBoolean(0)) valid += 1 }
        Iterator((files, valid))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft((0L, 0L)) { case ((f, v), (pf, pv)) => (f + pf, v + pv) }
    try ConcurrentActions.runAll(countersJob +: errorSinks +: csvSinks)
    finally validated.unpersist()
    val (files, valid) = counts
    Result(EtlMetrics(files, valid, files - valid))
  }

  /** O8/O9/O10-O13: flatten the envelope, apply transforms, stringify to
    * the derived output column order.
    *
    * Known divergence (D7): draft-07 treats zero-fraction floats as
    * integers, and the validator faithfully accepts `"id": 3.0` — but
    * from_json parses integer fields as LongType, so such a value emits
    * blank where the reference would write "3.0". Pathological input
    * (no generator produces float-typed ids); accepted rather than
    * widening every integer column to double. */
  private[etl] def project(df: DataFrame, schema: CompiledSchema,
                           columns: Seq[String], v2: Boolean): DataFrame = {
    val payloadNames = schema.payloadFields.map(_.name).toSet
    val metaNames = schema.metadataFields.map(_.name).toSet

    // v1 semantics: merged dict with metadata keys winning on collision
    // (`main.py:104-107`); v2 keeps payload/metadata separate but the
    // payload table only reads payload fields + the event_id FK.
    def src(name: String): Column =
      if (!v2 && metaNames.contains(name)) col(s"data.metadata.$name")
      else if (payloadNames.contains(name)) col(s"data.payload.$name")
      else col(s"data.metadata.$name")

    val hasAddress = payloadNames.contains("address")
    val hasJob = payloadNames.contains("job")
    val nameColOpt = Seq("name", "created_by_name").find(payloadNames.contains)

    // Per-row entity guard (`main.py:110`): transforms fire only when the
    // record HAS an address key (absent ⇔ null for emitted rows — present
    // non-string values are type errors and were dropped).
    val addressPresent = if (hasAddress) col("data.payload.address").isNotNull else lit(false)
    val nameStruct = nameColOpt.map(nc => Transforms.nameParts(col(s"data.payload.$nc")))

    def valueOf(name: String): Column = name match {
      case "address" if hasAddress =>
        when(addressPresent, Transforms.addressClean(col("data.payload.address")))
          .otherwise(col("data.payload.address"))
      case "job" if hasAddress && hasJob =>
        when(addressPresent, Transforms.fixJob(col("data.payload.job")))
          .otherwise(col("data.payload.job"))
      case "event_id" if v2 => Transforms.eventIdFk(col("data.metadata.event_id"))
      case "prefix" => nameStruct.map(_.getField("prefix")).getOrElse(lit(""))
      case "suffix" => nameStruct.map(_.getField("suffix")).getOrElse(lit(""))
      case n if v2 && nameColOpt.contains(n) => nameStruct.get.getField("name")
      case n => src(n)
    }

    def jsonTypeOf(name: String): String = name match {
      case "prefix" | "suffix" => "string"
      case "event_id" if v2 => "string"
      case n => schema.fieldType("payload", n)
        .orElse(schema.fieldType("metadata", n)).getOrElse("string")
    }

    df.select(columns.map(n => stringify(valueOf(n), jsonTypeOf(n)).as(n)): _*)
  }

  /** v2 unified metadata projection: metadata required columns only. */
  private[etl] def projectMetadata(df: DataFrame, schema: CompiledSchema): DataFrame =
    df.select(schema.v2MetadataColumns.map { n =>
      val t = schema.fieldType("metadata", n).getOrElse("string")
      stringify(col(s"data.metadata.$n"), t).as(n)
    }: _*)

  private val pyFloat = udf((d: Double) => PyFormat.pyFloatRepr(d))

  /** CSV text per JSON type: ints as digits, floats Python-repr style,
    * booleans True/False (Python capitalization — verified reference
    * behavior, SURVEY §1.2), missing → '' (DictWriter restval). The
    * boolean null check must come FIRST: when(c,..).otherwise(..) never
    * yields null, so a missing required boolean would otherwise be
    * fabricated as "False" instead of the reference's blank. */
  private def stringify(c: Column, jsonType: String): Column = jsonType match {
    case "boolean" => when(c.isNull, "").when(c, "True").otherwise("False")
    case "number"  => coalesce(when(c.isNotNull, pyFloat(c)), lit(""))
    case _         => coalesce(c.cast(StringType), lit(""))
  }
}
