package graft.storage

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{GraftParquetIO, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The `txlog` DataSource V2 — [[TxLog]] tables through Spark's
  * connector API, replacing the DSv1 seam (whose `RDD[Row]` bridge
  * forwent vectorized scans; the documented r11 cost note):
  *
  * {{{
  *   df.write.format("txlog").mode("append").save(path)       // one txn
  *   spark.read.format("txlog").load(path)                     // snapshot
  *   spark.sql(s"CREATE TABLE t USING txlog OPTIONS (path '$p')")
  *   spark.sql("SELECT ... FROM t WHERE ...")                  // pruned scan
  *   spark.sql("DELETE FROM t WHERE ...")                      // native V2 DML
  *   spark.readStream/writeStream.format("txlog")...           // exactly-once
  * }}}
  *
  * Read path: [[TxLogScanBuilder]] receives Spark's pushed Filters and
  * required columns; the Filters drive MANIFEST zone-map file skipping
  * ([[TxStats]]) before any data file opens, every filter stays
  * residual (Spark re-applies — pruning can only drop provably-dead
  * I/O), and execution hands the pruned file list to Spark's OWN
  * vectorized parquet reader factory ([[GraftParquetIO.readerFactory]])
  * — ColumnarBatch into whole-stage codegen, parquet row-group
  * skipping, native split sizing. At 100 TB the scan plan is built
  * from O(live-files) log metadata: no directory listing, no footer
  * reads (file sizes ride in the manifest), and a selective predicate
  * on a clustered table schedules a handful of splits.
  *
  * Write path: executor-side parquet writers stage into an invisible
  * `data/<uuid>/` directory; the driver commit publishes ONE manifest
  * (append or atomic overwrite-checkpoint) — [[TxLog]]'s protocol with
  * the data write distributed instead of driver-orchestrated. The
  * streaming sink keys each epoch's manifest with a (writerId, epochId)
  * idempotence token — the writer id derives from the streaming query's
  * STABLE id (checkpoint-persisted), so at-least-once epoch replays
  * are no-ops iff the original published: exactly-once contents.
  *
  * Row-level DML: [[SupportsRowLevelOperations]] with group-based
  * copy-on-write — Spark itself plans DELETE/UPDATE/MERGE (any
  * condition shape, multiple actions, subqueries) into a ReplaceData
  * of the affected groups; groups are FILES, narrowed by Spark's
  * runtime group filtering over the `_file` metadata column
  * ([[SupportsRuntimeV2Filtering]]), and the commit publishes
  * {removes = scanned files, files = rewritten} serializably at the
  * exact snapshot head the operation read ([[TxLog.publishRewrite]]).
  * This retires the injected SQL-resolution rule (r11's
  * `plans/TxLogSqlDml`) and its equi-key-only MERGE restriction. */
class TxLogV2Source extends TableProvider with DataSourceRegister {

  override def shortName(): String = "txlog"

  /** The df-writer and explicit-schema readStream paths hand us the
    * query's schema instead of forcing inference — required for the
    * FIRST write to a brand-new table (nothing to infer yet). */
  override def supportsExternalMetadata(): Boolean = true

  private def tablePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("txlog source needs a 'path' option"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = tablePath(options)
    val spark = SparkSession.active
    val schema = TxLogV2.branchOf(options) match {
      // a branch relation serves the BRANCH lineage's schema
      case Some(b) => TxLog.onBranch(b)(TxLog.tableSchema(spark, path))
      case None => TxLogV2.resolvedAsOf(spark, path, options) match {
        // time travel serves the schema AS OF the pinned version — an
        // evolved column must not appear in a pre-evolution snapshot
        case Some(v) => TxLog.tableSchemaAt(spark, path, v)
        case None => TxLog.tableSchema(spark, path)
      }
    }
    val base = schema.getOrElse(throw new IllegalArgumentException(
      s"txlog table $path is empty or absent — schema unknowable " +
        "(pass an explicit schema, or write to it first)"))
    if (TxLogV2.readChangeFeed(options)) {
      if (TxLogV2.cdfWithRowIds(options)) TxLogCdf.withRowIdMeta(base)
      else TxLogCdf.withMeta(base)
    } else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val cdf = TxLogV2.readChangeFeed(opts)
    val asOf = TxLogV2.resolvedAsOf(SparkSession.active, tablePath(opts), opts)
    require(!(cdf && asOf.isDefined),
      "readChangeFeed and versionAsOf/timestampAsOf are mutually exclusive — " +
        "the feed is version-windowed by startingVersion/endingVersion instead")
    val branch = TxLogV2.branchOf(opts)
    require(branch.isEmpty || (asOf.isEmpty && !cdf),
      "the branch option is a plain lineage read — combine it with neither " +
        "time travel nor readChangeFeed")
    val cdfRowIds = TxLogV2.cdfWithRowIds(opts)
    require(!cdfRowIds || cdf,
      "withRowIds is a change-feed reader option (the plain scan serves " +
        "_row_id as a metadata column — just select it)")
    TxLogTable(tablePath(opts), Option(schema).filter(_.nonEmpty), asOf, cdf,
      branch, cdfRowIds)
  }
}

object TxLogV2 {
  /** The `_file` metadata column: the manifest-relative data file path
    * of each row — the GROUP identity Spark's row-level runtime
    * filtering narrows rewrites with. Served as a constant-per-file
    * partition-value vector (zero per-row cost). */
  val FileCol = "_file"
  val FileField: StructField = StructField(FileCol, StringType, nullable = false)

  /** The `_pos` metadata column: the row's ABSOLUTE parquet row index
    * within its data file — with [[FileCol]] it is the stable row
    * identity delta-based DML addresses deletion vectors by (the
    * Iceberg `_file`/`_pos` convention). Served from the parquet
    * reader's row-index mechanism; indexes stay absolute under
    * row-group/page skipping, the same soundness the DV read path
    * relies on. */
  val PosCol = "_pos"
  val PosField: StructField = StructField(PosCol, LongType, nullable = false)

  /** (kept, total) of the most recent batch planInputPartitions on this
    * JVM — the spec/bench observable for real file skipping through the
    * opaque V2 seam (the DSv1 `TxLogRelation.lastPrune` contract). */
  val lastPrune = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** File length for split planning: manifest `bytes` when recorded
    * (zero-I/O), getFileStatus for legacy manifests. */
  private[storage] def fileBytes(spark: SparkSession, table: String, rel: String,
                                 stats: Map[String, TxStats.FileStats]): Long =
    stats.get(rel).map(_.bytes).filter(_ > 0L).getOrElse {
      val p = new Path(new Path(table), rel)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }

  /** The `versionAsOf` read option — TIME TRAVEL through the production
    * `format("txlog")` door (the Delta reader-option surface): pins the
    * scan to the log prefix `≤ v` with [[TxLog.snapshotAt]]'s exact
    * contract (version beyond head / vacuumed = loud). The pinned
    * relation is READ-ONLY: batch writes, row-level DML and the
    * streaming tail all reject it. */
  private[storage] def versionAsOf(spark: SparkSession, path: String,
                                   options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map(s =>
      // a numeric version, or a NAMED TAG (r16, [[TxLog.tag]])
      TxLog.resolveVersionRef(spark, path, s))

  /** The `timestampAsOf` read option — TIME TRAVEL by wall clock.
    * Accepts epoch millis or a `java.sql` timestamp/date literal
    * (`yyyy-MM-dd[ HH:mm:ss[.fff]]`, interpreted in the JVM default
    * zone, like the manifest clocks it addresses). Resolved ONCE at
    * table resolution to a concrete version via
    * [[TxLog.versionAtTimestamp]]'s monotonized rule, then identical
    * to `versionAsOf` (same read-only pin, same schema-as-of). */
  private[storage] def timestampAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("timestampAsOf")).map(parseTsMillis(_, "timestampAsOf"))

  /** Epoch millis or a `java.sql` timestamp/date literal (JVM default
    * zone, like the manifest clocks it addresses). */
  private[storage] def parseTsMillis(raw: String, opt: String): Long = {
    val s = raw.trim
    if (s.matches("-?\\d+")) s.toLong
    else try java.sql.Timestamp.valueOf(s).getTime catch {
      case _: IllegalArgumentException =>
        try java.sql.Date.valueOf(s).getTime catch {
          case _: IllegalArgumentException => throw new IllegalArgumentException(
            s"$opt must be epoch millis, 'yyyy-MM-dd HH:mm:ss[.fff]' " +
              s"or 'yyyy-MM-dd', got '$raw'")
        }
    }
  }

  /** The stream-start / feed-window bounds, with the r12 timestamp
    * variants resolved to concrete versions at table-resolution time:
    * `startingTimestamp` → the first version committed at or after the
    * instant ([[TxLog.firstVersionAtOrAfter]] — loud past the head),
    * `endingTimestamp` → the last version at or before it
    * ([[TxLog.versionAtTimestamp]]'s monotonized rule). Version and
    * timestamp forms of the same bound are mutually exclusive. */
  private[storage] def resolveStart(spark: SparkSession, table: String,
                                    options: CaseInsensitiveStringMap): Option[String] = {
    val byV = Option(options.get("startingVersion"))
    val byT = Option(options.get("startingTimestamp"))
    require(byV.isEmpty || byT.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    // a numeric version, the stream's 'latest' sentinel, or a NAMED
    // TAG (r16) — `startingVersion 'cut-1'` windows a change feed or
    // starts a tail at the pinned version
    byV.map(v =>
      if (v.trim.equalsIgnoreCase("latest")) v
      else TxLog.resolveVersionRef(spark, table, v).toString)
    .orElse(byT.map { raw =>
      val t = parseTsMillis(raw, "startingTimestamp")
      TxLog.firstVersionAtOrAfter(TxLog.manifests(spark, table), t, table).toString
    })
  }

  /** `maxVersionsPerTrigger`: cap how many log versions one
    * micro-batch may cover (admission control — a restarted stream far
    * behind the head catches up in bounded batches instead of one
    * giant plan; the version is the txlog analogue of Delta's
    * maxFilesPerTrigger, matched to our whole-version offsets). */
  private[storage] def maxVersionsPerTrigger(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map { s =>
      val v = try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"maxVersionsPerTrigger must be a positive long, got '$s'")
      }
      require(v > 0L, s"maxVersionsPerTrigger must be positive, got $v")
      v
    }

  private[storage] def resolveEnd(spark: SparkSession, table: String,
                                  options: CaseInsensitiveStringMap): Option[String] = {
    val byV = Option(options.get("endingVersion"))
    val byT = Option(options.get("endingTimestamp"))
    require(byV.isEmpty || byT.isEmpty,
      "endingVersion and endingTimestamp are mutually exclusive")
    byV.map(v => TxLog.resolveVersionRef(spark, table, v).toString)
      .orElse(byT.map { raw =>
        val t = parseTsMillis(raw, "endingTimestamp")
        TxLog.versionAtTimestamp(TxLog.manifests(spark, table), t, table).toString
      })
  }

  /** The version a read pins to, from whichever time-travel option is
    * present (both at once is ambiguous — rejected). */
  private[storage] def resolvedAsOf(spark: SparkSession, path: String,
                                    options: CaseInsensitiveStringMap): Option[Long] = {
    val byV = versionAsOf(spark, path, options)
    val byT = timestampAsOf(options)
    require(byV.isEmpty || byT.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    byV.orElse(byT.map(t =>
      TxLog.versionAtTimestamp(TxLog.manifests(spark, path), t, path)))
  }

  /** The `withRowIds` CDF reader option (r18): add `_row_id` to the
    * feed's SCHEMA — the readStream door to the id-paired feed (batch
    * readers may select the metadata column instead). */
  private[storage] def cdfWithRowIds(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("withRowIds")).exists(_.trim.equalsIgnoreCase("true"))

  /** The `readChangeFeed` reader option: serve the table's CHANGE
    * DATA FEED (row-level deltas per committed version) instead of its
    * snapshot — see [[TxLogCdf]]. */
  private[storage] def readChangeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.trim.equalsIgnoreCase("true"))

  /** The `branch` reader option (r17, [[TxLog.createBranch]]): read
    * the named branch's lineage through the production V2 door. A
    * branch relation is READ-ONLY and snapshot-shaped: writes/DML go
    * through `TxLog.onBranch` (which scopes every library and V2
    * write door), and time travel / change feed / streaming on a
    * branch relation are refused. */
  private[storage] def branchOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)

  /** The manifest sequence a (possibly branch-scoped) relation reads. */
  private[storage] def lineageManifests(spark: SparkSession, table: String,
                                        branch: Option[String]): Seq[TxLog.Manifest] =
    branch match {
      case Some(b) =>
        TxLog.branchLineage(TxLog.allManifests(spark, table), b, table)
      case None => TxLog.manifests(spark, table)
    }

  /** `startingVersion` for a STREAM: begin the tail at version v
    * INCLUSIVE instead of snapshotting first (the Delta option) — the
    * initial offset becomes v−1. "latest" = only post-start commits.
    * Only a checkpoint's FIRST batch consults this; restarts resume
    * from the checkpointed offset. */
  private[storage] def streamStart(spark: SparkSession, table: String,
                                   raw: Option[String]): Option[Long] =
    raw.map {
      case s if s.equalsIgnoreCase("latest") =>
        TxLog.headVersionByName(spark, table)
      case s =>
        val v = try s.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be a log version (long) or 'latest', got '$s'")
        }
        val head = TxLog.headVersionByName(spark, table)
        require(v >= 0L && v <= head + 1,
          s"startingVersion $v outside $table's log (head = $head)")
        v - 1L
    }
}

object TxLogFileColumn extends MetadataColumn {
  override def name: String = TxLogV2.FileCol
  override def dataType: org.apache.spark.sql.types.DataType = StringType
  override def isNullable: Boolean = false
  override def comment: String = "manifest-relative data file path of the row"
}

object TxLogPosColumn extends MetadataColumn {
  override def name: String = TxLogV2.PosCol
  override def dataType: org.apache.spark.sql.types.DataType = LongType
  override def isNullable: Boolean = false
  override def comment: String = "absolute parquet row index of the row within its data file"
}

object TxLogRowIdColumn extends MetadataColumn {
  override def name: String = TxRowId.RowIdCol
  override def dataType: org.apache.spark.sql.types.DataType = LongType
  override def isNullable: Boolean = true // null only for pre-lineage files
  override def comment: String =
    "stable row id (row lineage): survives rewrites and compaction"
  // split-update REINSERT rows keep the scanned id (Spark nullifies
  // reinsert metadata by default) — the delta writer adopts it onto
  // the post-image so SQL MoR UPDATE/MERGE preserve lineage
  override def metadataInJSON(): String =
    s"""{"${MetadataColumn.PRESERVE_ON_REINSERT}": true}"""
}

case class TxLogTable(table: String, givenSchema: Option[StructType],
                      asOf: Option[Long] = None, cdf: Boolean = false,
                      branch: Option[String] = None,
                      cdfRowIds: Boolean = false)
    extends Table
    with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with SupportsRowLevelOperations with TruncatableTable {

  private def spark = SparkSession.active

  override def name(): String =
    table + asOf.map(v => s"@v$v").getOrElse("") +
      branch.map(b => s"@branch=$b").getOrElse("") +
      (if (cdf) "@changes" else "")

  override lazy val schema: StructType = {
    val base = givenSchema
      // an explicit/readStream schema still serves initial defaults —
      // without the metadata a pre-evolution file would silently read
      // null where every other path reads the default. A PINNED read
      // resolves names through the mapping AS OF that version (the
      // given schema speaks that era's logical names — the current
      // mapping may have renamed them since)
      .map { g =>
        val ms0 = TxLogV2.lineageManifests(spark, table, branch)
        val ms = asOf.map(v => TxLog.manifestsAt(ms0, v, table)).getOrElse(ms0)
        TxLog.withDefaults(g, TxLog.colMapFrom(ms), TxLog.propsFrom(ms))
      }
      .orElse((asOf, branch) match {
        case (Some(v), _) => TxLog.tableSchemaAt(spark, table, v)
        case (None, Some(b)) => TxLog.onBranch(b)(TxLog.tableSchema(spark, table))
        case _ => TxLog.tableSchema(spark, table)
      })
      .getOrElse(throw new IllegalArgumentException(
        s"txlog table $table is empty or absent — schema unknowable"))
    // the catalog/SQL surface also carries CURRENT_DEFAULT so the
    // analyzer fills INSERTs that omit a defaulted column, and the
    // generation-expression metadata so DESCRIBE shows derivations;
    // manifest DDL records strip both back out (TxLog.ddlOf)
    val withWrite = {
      val ms0 = TxLogV2.lineageManifests(spark, table, branch)
      val ms = asOf.map(v => TxLog.manifestsAt(ms0, v, table)).getOrElse(ms0)
      TxLog.withGeneration(TxLog.withWriteDefaults(base),
        TxLog.colMapFrom(ms), TxLog.propsFrom(ms))
    }
    // CDF relations append the change metadata; idempotent so an
    // explicit user schema may come with or without the meta columns.
    // `withRowIds` (r18) adds `_row_id` to the feed SCHEMA — the
    // stream door; batch readers can also just select the metadata
    // column
    if (cdf) {
      if (cdfRowIds) TxLogCdf.withRowIdMeta(withWrite)
      else TxLogCdf.withMeta(withWrite)
    } else withWrite
  }

  // NOTE the capability set stays full even when version-pinned: Spark
  // rejects a missing BATCH_WRITE capability with a misleading
  // "does not allow create table as select" INTERNAL_ERROR (the path
  // save falls back to CTAS planning), whereas the requires below name
  // the actual contract — a version-pinned relation is a READ of
  // history, never a write target and never a stream tail.
  override def capabilities(): java.util.Set[TableCapability] = {
    import TableCapability._
    Set(BATCH_READ, BATCH_WRITE, TRUNCATE, MICRO_BATCH_READ, STREAMING_WRITE).asJava
  }

  // the change-feed relation's meta columns (_change_type,
  // _commit_version) are part of its SCHEMA, and its scan has no
  // serving path for _file/_pos — but it DOES serve `_row_id` (r18):
  // change files store each d/i row's id and append commits derive
  // them, so a consumer can maintain an id-keyed downstream table
  // purely from the feed
  override def metadataColumns(): Array[MetadataColumn] =
    if (cdf) Array(TxLogRowIdColumn)
    else Array(TxLogFileColumn, TxLogPosColumn, TxLogRowIdColumn)

  /** Declared partition layout (identity/days/months/years/hours/
    * bucket, [[TxPart]]) — DESCRIBE and the catalog round-trip read
    * it; the WRITE path re-reads the log itself (the layout is sticky,
    * so the two always agree). */
  override lazy val partitioning: Array[Transform] = {
    // recorded specs speak PHYSICAL source names; report the LOGICAL
    // ones (DESCRIBE must show the names users can query)
    val cm = TxLog.colMapOf(spark, table)
    val rev = cm.map.collect { case (l, p) if l != p => p -> l }.toMap
    TxPart.toV2Transforms(TxPart.mapSources(
      TxLog.partitionColumns(spark, table), p => rev.getOrElse(p, p)))
  }

  /** Table properties as recorded in the log (versioned: a pinned read
    * reports the properties in force at that version). */
  override lazy val properties: java.util.Map[String, String] = {
    val props = asOf match {
      case Some(v) => TxLog.propertiesAt(spark, table, v)
      case None => TxLog.properties(spark, table)
    }
    (props + (TableCatalog.PROP_PROVIDER -> "txlog")).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (cdf)
      new TxLogChangeScanBuilder(spark, table, schema,
        startRaw = TxLogV2.resolveStart(spark, table, options),
        endRaw = TxLogV2.resolveEnd(spark, table, options),
        maxVersions = TxLogV2.maxVersionsPerTrigger(options))
    else
      new TxLogScanBuilder(spark, table, schema, op = None, asOf = asOf,
        startingVersion = TxLogV2.resolveStart(spark, table, options),
        maxVersions = TxLogV2.maxVersionsPerTrigger(options),
        branch = branch)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"txlog relation pinned at versionAsOf=${asOf.get} is read-only")
    require(!cdf, "a txlog change-feed relation is read-only")
    require(branch.isEmpty,
      "a branch-option relation is read-only — write/DML on a branch " +
        "through TxLog.onBranch")
    new TxLogWriteBuilder(table, info)
  }

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    require(asOf.isEmpty,
      s"txlog relation pinned at versionAsOf=${asOf.get} is read-only")
    require(!cdf, "a txlog change-feed relation is read-only")
    require(branch.isEmpty,
      "a branch-option relation is read-only — write/DML on a branch " +
        "through TxLog.onBranch")
    // graft.dml.mode=mergeOnRead switches Spark-planned DML to the
    // delta-based (deletion-vector) operation — the SAME dispatch the
    // library DML paths make, so the property governs both doors. ONE
    // manifest listing serves both the mode lookup and the operation's
    // pinned snapshot (every scan of the statement reuses it).
    () => {
      val ms = TxLog.manifests(spark, table)
      val op =
        if (TxLog.propsFrom(ms).get(TxLog.DmlModeProp).contains(TxLog.DmlModeMor))
          new TxLogDeltaRowLevelOperation(table, schema, info.command)
        else new TxLogRowLevelOperation(table, schema, info.command)
      op.seedSnapshot(ms)
      op
    }
  }

  /** SQL `TRUNCATE TABLE`: one atomic empty checkpoint
    * ([[TxLog.truncate]] — schema/layout/props survive, history and
    * pinned readers keep the pre-truncation generations until vacuum). */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty,
      s"txlog relation pinned at versionAsOf=${asOf.get} is read-only")
    require(!cdf, "a txlog change-feed relation is read-only")
    require(branch.isEmpty,
      "a branch-option relation is read-only — write/DML on a branch " +
        "through TxLog.onBranch")
    TxLog.truncate(spark, table)
    true
  }
}

/** Pushdown seam: records Spark's Filters (used ONLY to skip files and
  * row groups — all stay residual, Spark re-applies) and the pruned
  * column set; and answers whole-table aggregates from the MANIFEST
  * ([[metaAgg]]) when that is provably exact. */
class TxLogScanBuilder(spark: SparkSession, table: String, tableSchema: StructType,
                       op: Option[TxLogRowLevelOperation],
                       asOf: Option[Long] = None,
                       startingVersion: Option[String] = None,
                       maxVersions: Option[Long] = None,
                       branch: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var agg: Option[(StructType, Array[Any])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: we only skip provably-dead I/O, never rows
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- METADATA-ONLY AGGREGATES: count(*) / count(col) / min / max of
  // the whole table answered from manifest stats — zero data files
  // opened, O(live-files) driver work. `SELECT count(*) FROM t` on a
  // 100 TB txlog table is a log read, exactly Delta's/Iceberg's
  // metadata-count optimization. Spark only offers an Aggregation when
  // no un-pushed filter sits between the agg and the scan, and every
  // filter of ours is residual by contract — so this path is only ever
  // reached for whole-table aggregates (the guards re-check).
  // Spark probes supportCompletePushDown and pushAggregation with the
  // SAME Aggregation instance — memoize so one manifest listing+parse
  // serves both planner calls
  private var memo: Option[(Aggregation, Option[(StructType, Array[Any])])] = None
  private def metaAggMemo(a: Aggregation): Option[(StructType, Array[Any])] =
    memo match {
      case Some((prev, r)) if prev eq a => r
      case _ => val r = metaAgg(a); memo = Some((a, r)); r
    }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metaAggMemo(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    agg = metaAggMemo(aggregation)
    agg.isDefined // partial pushdown is never claimed: complete or nothing
  }

  /** Translate an Aggregation into (output schema, the one result row),
    * or None when manifest stats cannot answer it EXACTLY:
    *  - count(*): Σ rows — always exact (every manifest records rows);
    *  - count(col): Σ (rows − nulls) — needs a recorded null count for
    *    the column in EVERY live file;
    *  - min/max(col): zone-map bounds are the true extrema only for
    *    integral-family tags ("i": int/long/short/byte/date/
    *    timestamp-micros), booleans, and (r16) STRINGS whose every
    *    contributing bound carries the exact marker — commit-time
    *    collection over this library's truncation-pinned writers, so
    *    the footer bound IS the true extremum. Doubles are refused (a
    *    file containing NaN can footer-report finite bounds, but
    *    Spark's max orders NaN above everything) and unmarked string
    *    bounds are refused (an uncertified writer may truncate binary
    *    footer bounds — sound for range PRUNING, not for extrema).
    * Any file without usable stats, a DISTINCT, a GROUP BY, a pushed
    * filter, or a row-level-op scan refuses the push — Spark then runs
    * the ordinary scan + aggregate, bit-identical semantics. */
  private def metaAgg(aggregation: Aggregation)
      : Option[(StructType, Array[Any])] = {
    if (op.isDefined || pushed.nonEmpty) return None
    if (aggregation.groupByExpressions.nonEmpty) return None
    val ms0 = TxLogV2.lineageManifests(spark, table, branch)
    val ms = asOf.map(TxLog.manifestsAt(ms0, _, table)).getOrElse(ms0)
    // EQUALITY DELETES ([[TxEqDel]]): a live keyed-delete entry hides an
    // UNKNOWN number of rows from the files it applies to (key-match
    // counts are unknowable without reading), so no aggregate — not even
    // count(*) — is answerable from footer stats while debt is live.
    // compact()/materializeEqDels() clears it and restores the push.
    if (TxLog.liveEqDels(ms).nonEmpty) return None
    val stats = TxLog.liveStats(ms)
    val fs = TxLog.liveFiles(ms).map(stats.get)
    if (fs.exists(_.isEmpty)) return None // legacy manifest: no stats
    val files = fs.flatten
    // deletion vectors: count(*) stays EXACT (Σ rows − Σ dv
    // cardinality); count(col)/min/max are refused — the deleted rows'
    // null counts and extrema contributions are unknowable from footer
    // stats (the max row may be exactly the deleted one)
    val dvDeleted = TxLog.liveDvs(ms).values.map(_.n).sum
    val anyDv = dvDeleted > 0L || TxLog.liveDvs(ms).nonEmpty

    def field(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, org.apache.spark.sql.types.DataType)] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name == r.fieldNames.head)
          .map(f => f.name -> f.dataType)
      case _ => None
    }
    /** Zone-map bound -> Catalyst internal value of the column's type.
      * Tags and types are written by the same code path (TxStats.tagOf
      * over our own parquet files), so a mismatch = refuse, not cast. */
    def internal(tag: String, v: Any,
                 dt: org.apache.spark.sql.types.DataType): Option[Any] =
      (tag, dt) match {
        case ("i", LongType | TimestampType) => Some(v.asInstanceOf[Long])
        case ("i", IntegerType | DateType) => Some(v.asInstanceOf[Long].toInt)
        case ("i", ShortType) => Some(v.asInstanceOf[Long].toShort)
        case ("i", ByteType) => Some(v.asInstanceOf[Long].toByte)
        case ("b", BooleanType) => Some(v.asInstanceOf[Boolean])
        case ("s", StringType) =>
          Some(org.apache.spark.unsafe.types.UTF8String
            .fromString(v.asInstanceOf[String]))
        case _ => None
      }
    // manifest stats speak PHYSICAL column names; the agg speaks logical
    val cm = TxLog.colMapFrom(ms)
    def extremum(name: String, dt: org.apache.spark.sql.types.DataType,
                 wantMin: Boolean): Option[Any] = {
      val sts = files.map(_.byCol.get(TxLog.physicalName(cm, name)))
      if (sts.exists(_.isEmpty)) return None // a file w/o stats for col
      val present = sts.flatten.filter(_.has) // all-null files contribute nothing
      // strings serve ONLY when every contributing bound carries the
      // r16 exact marker (commit-time collection over the pinned
      // writer, or an exact synthesis) — a legacy/backfilled bound is
      // pruning-grade, possibly truncated, and refuses as before.
      // Doubles stay refused (a NaN row hides behind finite bounds).
      if (present.exists(s => s.tag match {
        case "i" | "b" => false
        case "s" => !s.exact
        case _ => true
      })) return None
      if (present.isEmpty) return Some(null) // every row null -> SQL null
      val tag = present.head.tag
      val bounds = present.map(s => TxStats.parseVal(tag, if (wantMin) s.min else s.max))
      val best = bounds.reduce((a, b) =>
        if ((TxStats.cmp(tag, a, b) < 0) == wantMin) a else b)
      internal(tag, best, dt)
    }

    val cols = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          files.map(_.rows).sum - dvDeleted: Any))
      case c: Count if !c.isDistinct && !anyDv =>
        field(c.column).flatMap { case (name, _) =>
          val sts = files.map(_.byCol.get(TxLog.physicalName(cm, name)))
          if (sts.exists(s => s.isEmpty || s.get.nulls < 0)) None
          else Some((StructField(s"count_$name", LongType, nullable = false),
            files.zip(sts.flatten).map { case (f, s) => f.rows - s.nulls }.sum: Any))
        }
      case m: Min if !anyDv =>
        field(m.column).flatMap { case (name, dt) =>
          extremum(name, dt, wantMin = true)
            .map(v => (StructField(s"min_$name", dt, nullable = true), v))
        }
      case m: Max if !anyDv =>
        field(m.column).flatMap { case (name, dt) =>
          extremum(name, dt, wantMin = false)
            .map(v => (StructField(s"max_$name", dt, nullable = true), v))
        }
      case _ => None // sum/avg/distinct/UDAF: not answerable from bounds
    }
    if (cols.exists(_.isEmpty)) None
    else {
      val done = cols.flatten
      Some((StructType(done.map(_._1)), done.map(_._2).toArray))
    }
  }

  override def build(): Scan = agg match {
    case Some((schema, row)) => new TxLogMetaAggScan(table, asOf, schema, row)
    case None => new TxLogScan(spark, table, tableSchema, required, pushed, op,
      asOf, startingVersion, maxVersions, branch)
  }
}

/** The one-row result of a completely-pushed metadata aggregate: no
  * data file is opened — the "scan" IS the answer, computed on the
  * driver from O(live-files) manifest stats at plan time. */
class TxLogMetaAggScan(table: String, asOf: Option[Long],
                       schema: StructType, row: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(TxLogMetaAggPartition(row))
  override def createReaderFactory(): PartitionReaderFactory =
    TxLogMetaAggReaderFactory
  override def description(): String =
    s"txlog $table${asOf.map(v => s"@v$v").getOrElse("")} " +
      s"MetaAgg: ${schema.fieldNames.mkString(", ")} (manifest-only, 0 data files)"
}

case class TxLogMetaAggPartition(row: Array[Any]) extends InputPartition

object TxLogMetaAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val vs = p.asInstanceOf[TxLogMetaAggPartition].row
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(vs)
      override def close(): Unit = ()
    }
  }
}

/** One snapshot scan: the manifests are listed ONCE at build, the zone
  * maps prune the file list (not for row-level-op scans — see filter
  * soundness note in the class body), and execution reuses Spark's own
  * parquet reader machinery. */
class TxLogScan(spark: SparkSession, table: String, tableSchema: StructType,
                required: StructType, pushed: Array[Filter],
                op: Option[TxLogRowLevelOperation],
                asOf: Option[Long] = None,
                startingVersion: Option[String] = None,
                maxVersions: Option[Long] = None,
                branch: Option[String] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  import TxLogV2._

  /** One row-level operation plans TWO scans (the runtime group-filter
    * subquery scan and the ReplaceData scan). Each listing the log
    * independently would let a commit landing between the two listings
    * hand them DIFFERENT snapshots — the subquery's `_file` IN-set
    * would exclude a newly-committed file while `headAtScan` advanced
    * to the new head, so the rewrite would publish cleanly yet silently
    * skip matching rows in that file. The op therefore pins the
    * manifest list at its FIRST scan construction and every later scan
    * of the same op reuses it, making the conflict check airtight:
    * any commit after the pin ≠ the head at publish → loud conflict. */
  private val ms = op match {
    case Some(o) => o.pinnedSnapshot(spark, table)
    case None =>
      val all = TxLogV2.lineageManifests(spark, table, branch)
      asOf.map(TxLog.manifestsAt(all, _, table)).getOrElse(all)
  }
  private val allFiles = TxLog.liveFiles(ms)
  private val stats = TxLog.liveStats(ms)
  op.foreach(_.headAtScan = ms.lastOption.map(_.version).getOrElse(-1L))

  /** Column mapping: the scan's user-facing schema speaks LOGICAL
    * names, the files/stats/filters-on-disk speak PHYSICAL. Rows are
    * positional, so handing the parquet machinery the physical-renamed
    * schemas (same field order/types) while [[readSchema]] reports the
    * logical ones keeps every consumer aligned. */
  private val cm = TxLog.colMapFrom(ms)
  private val physPushed: Array[Filter] =
    TxLog.renameSourceFilters(pushed.toSeq, cm).toArray

  /** Zone-map static pruning — SKIPPED for GROUP-BASED row-level-op
    * scans: a COW DELETE's rewritten query pushes the KEPT-rows
    * predicate (NOT cond), and file-pruning with it would drop a file
    * whose rows ALL match cond from the scan — the file would never be
    * read, never listed in `removes`, and its rows would silently
    * survive the delete. Row-group skipping inside a scanned file
    * stays sound (the file is still removed; unread rows are exactly
    * the deleted ones), so the filters still flow to the reader
    * factory. Group-based op scans are narrowed by Spark's runtime
    * `_file` group filtering instead.
    *
    * DELTA-BASED op scans prune like plain reads: the scan feeds the
    * MATCHING rows (the delete predicate itself is pushed, not its
    * negation), so a pruned file provably holds nothing to delete —
    * this is what makes a MoR point-DELETE on a clustered 100 TB table
    * open one file instead of all of them. */
  @volatile private var files: Seq[String] =
    if (op.exists(!_.deltaMode)) allFiles
    else {
      val zoned = TxLog.pruneSourceFilters(physPushed.toSeq,
        TxLog.partitionColsFrom(ms), TxLog.physicalSchemaFrom(ms), allFiles, stats)
      // bloom membership on the zone-map survivors — point lookups on
      // opted-in high-cardinality columns skip files ranges can't
      TxBloom.pruneFilters(spark, table, TxLog.propsFrom(ms), physPushed.toSeq, zoned)
    }

  private val wantsFile = required.fieldNames.contains(FileCol)
  private val wantsPos = required.fieldNames.contains(PosCol)
  private val wantsRowId = required.fieldNames.contains(TxRowId.RowIdCol)
  private val readDataSchema = StructType(
    required.fields.filterNot(f => f.name == FileCol || f.name == PosCol ||
      f.name == TxRowId.RowIdCol))
  private val partitionSchema =
    if (wantsFile) StructType(Seq(FileField)) else StructType(Nil)

  /** Live deletion vectors ([[TxDv]]) keyed by data-file rel path —
    * DV'd files are read through a row-index filter (their rows at
    * deleted positions never leave the reader), CLEAN files keep the
    * vectorized columnar path untouched. */
  private val liveDvEntries = TxLog.liveDvs(ms)
  private val dvByFile: Map[String, String] =
    liveDvEntries.view.mapValues(_.p).toMap
  private val dvCards: Map[String, Long] =
    liveDvEntries.view.mapValues(_.n).toMap

  /** Live EQUALITY DELETES ([[TxEqDel]]) + per-file add versions: an
    * entry committed at version v filters rows of files ADDED at
    * seq < v (the upsert's own files survive their delete; a later
    * re-insert of a deleted key is never filtered). Files with a DV or
    * any applicable probe leave the clean vectorized path; everything
    * else is untouched. */
  private val liveEq = TxLog.liveEqDels(ms)
  private val eqSeqs: Map[String, Long] =
    if (liveEq.isEmpty) Map.empty else TxLog.fileSeqs(ms)
  private def eqEntriesFor(rel: String): Seq[(Long, TxLog.EqDelEntry)] =
    if (liveEq.isEmpty) Seq.empty
    else liveEq.filter(_._1 > eqSeqs.getOrElse(rel, Long.MaxValue))
  private def needsWork(rel: String): Boolean =
    dvByFile.contains(rel) || eqEntriesFor(rel).nonEmpty

  /** Physical row layout: data columns, then the parquet row-index
    * column when `_pos` is requested, then the `_file` partition-value
    * constant — Spark reconciles this order with the query's via the
    * projection above the scan. */
  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++
      (if (wantsRowId) Seq(TxRowId.RowIdField) else Nil) ++
      (if (wantsPos) Seq(PosField) else Nil) ++
      (if (wantsFile) Seq(FileField) else Nil))

  // ---- runtime group filtering (row-level DML narrows to matched files).
  // Advertised ONLY when the scan actually outputs _file: generic DPP
  // rules resolve filterAttributes against the scan output and error on
  // a column that is not there.
  override def filterAttributes(): Array[NamedReference] =
    if (wantsFile) Array(Expressions.column(FileCol)) else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    val keepSets = predicates.toSeq.flatMap(inFileSet)
    if (keepSets.nonEmpty)
      files = files.filter(f => keepSets.forall(_.contains(f)))
  }

  /** Extract the file set of an `IN(_file, ...)` / `=(_file, v)` runtime
    * predicate; None for anything else (no narrowing — conservative). */
  private def inFileSet(p: Predicate): Option[Set[String]] = {
    def refIsFile(e: org.apache.spark.sql.connector.expressions.Expression) = e match {
      case r: NamedReference => r.fieldNames.toSeq == Seq(FileCol)
      case _ => false
    }
    def strOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.dataType == StringType => Option(l.value).map(_.toString)
      case _ => None
    }
    val kids = p.children()
    p.name match {
      case "IN" if kids.nonEmpty && refIsFile(kids.head) =>
        val vs = kids.tail.toSeq.map(strOf)
        if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
      case "=" if kids.length == 2 && refIsFile(kids.head) =>
        strOf(kids(1)).map(Set(_))
      case _ => None
    }
  }

  // ---- batch execution
  override def toBatch: Batch = this

  /** STORAGE-PARTITIONED JOIN eligibility: the layout is PURE bucket
    * transforms, every live file carries its full bucket tuple in pv,
    * no deletion vectors (DV'd files must pack alone today), the scan
    * is a plain read (no row-level op, no `_file` runtime narrowing
    * that could re-plan a different file set), and the user opted into
    * `spark.sql.sources.v2.bucketing.enabled` — that flag gates the
    * GROUPING too, because one-partition-per-bucket trades scan
    * parallelism for exchange elimination and must be the user's
    * choice, not a default. Temporal+bucket compound layouts are out
    * of v1 scope (they'd need join-keys-subset + pushed part values). */
  private lazy val spjFields: Seq[TxPart.Bucket] = {
    val pf = TxPart.parseAll(TxLog.partitionColsFrom(ms))
    if (pf.nonEmpty && pf.forall(_.isInstanceOf[TxPart.Bucket]))
      pf.map(_.asInstanceOf[TxPart.Bucket])
    else Seq.empty
  }
  private def spjGroups(fs: Seq[String]): Option[Seq[(Seq[Int], Seq[String])]] = {
    val enabled = op.isEmpty && !wantsFile && !wantsRowId && spjFields.nonEmpty &&
      dvByFile.isEmpty && liveEq.isEmpty &&
      spark.sessionState.conf
        .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (!enabled) return None
    val keyed = fs.map { rel =>
      stats.get(rel).map(st => spjFields.map(b => st.byPart.get(b.phys))) match {
        case Some(vals) if vals.forall(_.exists(_.toIntOption.isDefined)) =>
          Some(vals.map(_.get.toInt) -> rel)
        case _ => None // a file without its bucket tuple (legacy/compacted)
      }
    }
    if (keyed.exists(_.isEmpty)) None
    else Some(keyed.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .sortBy(_._1.mkString(",")))
  }

  /** Report the bucket layout as a [[KeyGroupedPartitioning]] so two
    * co-bucketed txlog tables JOIN WITHOUT AN EXCHANGE — Spark resolves
    * the `bucket` transform through the table's catalog
    * ([[GraftFunctions.BucketUnbound]]) and matches both sides by the
    * function's canonical name + bucket count. Sources report their
    * LOGICAL names (the scan's output namespace). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjGroups(files) match {
      case Some(groups) =>
        val rev = TxLog.logicalNameMap(cm)
        val clustering = TxPart.toV2Transforms(TxPart.mapSources(
          spjFields.map(_.spec), p => rev.getOrElse(p, p)))
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          clustering.map(t => t: org.apache.spark.sql.connector.expressions.Expression),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    TxLogV2.lastPrune.set((files.size, allFiles.size))
    op.foreach(_.scannedFiles = files)
    def pf(rel: String) = {
      val pv =
        if (wantsFile) InternalRow(UTF8String.fromString(rel)) else InternalRow.empty
      GraftParquetIO.partitionedFile(TxLog.absPath(table)(rel),
        fileBytes(spark, table, rel, stats), pv)
    }
    spjGroups(files) match {
      case Some(groups) =>
        // one keyed input partition PER FILE — Spark's exec groups
        // same-key splits itself (DataSourceV2ScanExecBase
        // .groupPartitions), which keeps the r14 zero-exchange join AND
        // unlocks partially-clustered distribution: under
        // spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
        // .enabled (+ pushPartValues) the planner leaves the larger
        // side's splits UNGROUPED and replicates the other side over
        // them, so one skewed hot bucket fans across its files' tasks
        // instead of serializing the join on a single partition.
        var i = -1
        return groups.flatMap { case (key, rels) =>
          rels.map { rel =>
            i += 1
            GraftParquetIO.keyedFilePartition(i, Seq(pf(rel)),
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                key.toArray[Any]))
          }
        }.toArray
      case None => ()
    }
    // ROW-ID scans carry each file's firstRowId as a hidden LEADING
    // partition-value constant (__rid — [[TxRowId.Spec.ridPvOrd]]), so
    // CLEAN files coalesce into shared partitions like any other scan
    // (task count ∝ bytes, not files); only files needing row filters
    // pack alone (the factory's per-partition DV/probe decision is
    // head-file-exact)
    if (wantsRowId) {
      def rpf(rel: String) = {
        val rid: Any = stats.get(rel).filter(_.firstRowId >= 0L)
          .map(st => java.lang.Long.valueOf(st.firstRowId)).orNull
        val tail: Seq[Any] =
          if (wantsFile) Seq(UTF8String.fromString(rel)) else Seq.empty
        GraftParquetIO.partitionedFile(TxLog.absPath(table)(rel),
          fileBytes(spark, table, rel, stats),
          InternalRow.fromSeq(rid +: tail))
      }
      val (ridWork, ridClean) = files.partition(needsWork)
      return (GraftParquetIO.filePartitions(spark, ridClean.map(rpf)) ++
        ridWork.flatMap(rel =>
          GraftParquetIO.filePartitions(spark, Seq(rpf(rel))))).toArray
    }
    val (workFiles, cleanFiles) = files.partition(needsWork)
    if (workFiles.isEmpty) GraftParquetIO.filePartitions(spark, files.map(pf))
    else
      // DV'd / equality-deleted files are packed ALONE (one file per
      // partition, still split-able within the file) so the reader
      // factory's per-partition filtering decision is exact; clean
      // files pack as usual
      GraftParquetIO.filePartitions(spark, cleanFiles.map(pf)) ++
        workFiles.flatMap(rel => GraftParquetIO.filePartitions(spark, Seq(pf(rel))))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val riField = org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)
    // `_pos` is served by reading WITH the row-index temp column in
    // the position [[readSchema]] promises it at — indexes stay
    // ABSOLUTE under row-group/page skipping (PageReadStore offsets),
    // the same soundness the DV filter relies on
    val physReadData = TxLog.physicalSchemaOf(readDataSchema, cm)
    val physTable = TxLog.physicalSchemaOf(tableSchema, cm)
    // `_row_id` ([[TxRowId]]): EVERY file reads through the augmented
    // factory — [visible data] ++ [grid, row-index, probe keys] — and
    // the wrapper serves coalesce(stored grid, firstRowId + pos),
    // composing any DV / equality-delete row filters in the same pass
    if (wantsRowId) {
      val gridField = org.apache.spark.sql.types.StructField(
        TxRowId.GridCol, org.apache.spark.sql.types.LongType, nullable = true)
      val physByName = physTable.fields.map(f => f.name -> f).toMap
      val keyCols = liveEq.flatMap(_._2.cols).distinct
        .filterNot(physReadData.fieldNames.toSet)
      val augSchema = StructType(physReadData.fields ++
        Seq(gridField, riField) ++ keyCols.map(physByName(_)))
      // the partitions carry firstRowId as a hidden LEADING pv column
      // (see planInputPartitions) — prepend it to the real pv schema
      val ridPvField = org.apache.spark.sql.types.StructField(
        "__rid", org.apache.spark.sql.types.LongType, nullable = true)
      val aug = GraftParquetIO.readerFactory(spark,
        StructType(physTable.fields :+ gridField), augSchema,
        StructType(ridPvField +: partitionSchema.fields), physPushed)
      val ordOf = augSchema.fieldNames.zipWithIndex.toMap
      val probeOf: Map[String, TxEqDel.ProbeSpec] = liveEq.map { case (_, e) =>
        e.p -> TxEqDel.ProbeSpec(e.p, e.cols.map(ordOf(_)).toArray,
          e.cols.map(c => physByName(c).dataType).toArray)
      }.toMap
      val work: Map[String, TxEqDel.FileWork] = files.filter(needsWork).map { rel =>
        graft.storage.TxDv.tailKey(rel) -> TxEqDel.FileWork(
          dvByFile.get(rel), eqEntriesFor(rel).map(e => probeOf(e._2.p)))
      }.toMap
      return TxRowId.RowIdReaderFactory(aug,
        TxRowId.Spec(
          gridOrd = physReadData.length,
          riOrd = physReadData.length + 1,
          visibleLen = physReadData.length,
          ridPvOrd = augSchema.length,
          visibleTypes = physReadData.fields.map(_.dataType),
          pvTypes = partitionSchema.fields.map(_.dataType),
          emitPos = wantsPos),
        work, table,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    }
    val dataRead =
      if (wantsPos) StructType(physReadData.fields :+ riField) else physReadData
    val clean = GraftParquetIO.readerFactory(spark, physTable, dataRead,
      partitionSchema, physPushed)
    val workedFiles = files.filter(needsWork)
    if (workedFiles.isEmpty) clean
    else if (liveEq.isEmpty) {
      // DV partitions read WITH the row-index column appended as the
      // last data column (already there when `_pos` was requested)
      val withRi =
        if (wantsPos) clean
        else GraftParquetIO.readerFactory(spark, physTable,
          StructType(physReadData.fields :+ riField), partitionSchema, physPushed)
      val dvRel = files.filter(dvByFile.contains)
        .map(rel => graft.storage.TxDv.tailKey(rel) -> dvByFile(rel)).toMap
      graft.storage.TxDv.DvReaderFactory(clean, withRi, dvRel, table,
        riOrdinal = readDataSchema.length,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()),
        keepRi = wantsPos)
    } else {
      // EQUALITY DELETES live: worked partitions read through the
      // unified [[TxEqDel.EqDelReaderFactory]] — the same parquet
      // factory with a WORKING BLOCK appended after the visible
      // columns: the row-index column (when a DV needs it and `_pos`
      // didn't already place it) plus any probe key columns the query
      // didn't request. Key fields are taken from the PHYSICAL table
      // schema so evolution metadata (EXISTS_DEFAULT fills) rides
      // along — a default-valued key matches rows in pre-evolution
      // files exactly like the library read's anti-join does.
      val anyDv = workedFiles.exists(dvByFile.contains)
      val visible = dataRead
      val visNames = visible.fieldNames.toSet
      val physByName = physTable.fields.map(f => f.name -> f).toMap
      val keyCols = liveEq.flatMap(_._2.cols).distinct.filterNot(visNames)
      val block = (if (!wantsPos && anyDv) Seq(riField) else Seq.empty) ++
        keyCols.map(physByName(_))
      val augSchema = StructType(visible.fields ++ block)
      val aug = GraftParquetIO.readerFactory(spark, physTable, augSchema,
        partitionSchema, physPushed)
      val ordOf = augSchema.fieldNames.zipWithIndex.toMap
      val probeOf: Map[String, TxEqDel.ProbeSpec] = liveEq.map { case (_, e) =>
        e.p -> TxEqDel.ProbeSpec(e.p, e.cols.map(ordOf(_)).toArray,
          e.cols.map(c => physByName(c).dataType).toArray)
      }.toMap
      val work: Map[String, TxEqDel.FileWork] = workedFiles.map { rel =>
        graft.storage.TxDv.tailKey(rel) -> TxEqDel.FileWork(
          dvByFile.get(rel), eqEntriesFor(rel).map(e => probeOf(e._2.p)))
      }.toMap
      val riOrdinal =
        if (wantsPos) physReadData.length
        else if (anyDv) visible.length
        else -1 // never consulted: no worked file carries a DV
      TxEqDel.EqDelReaderFactory(clean, aug, work, table,
        hideFrom = visible.length, hideCount = block.length,
        riOrdinal = riOrdinal,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    }
  }

  // ---- stream execution (version-offset tail; see TxLogMicroBatchStream)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(asOf.isEmpty,
      s"txlog relation pinned at versionAsOf=${asOf.get} cannot be a stream " +
        "source — the tail is by definition unpinned")
    require(branch.isEmpty,
      "a branch-option relation cannot be a stream source — branches are " +
        "staging refs; tail main (or fast-forward first)")
    // the stream's parquet readers also read PHYSICAL (its output rows
    // are positional against this scan's logical readSchema); physical
    // names are immutable, so a rename mid-stream cannot desync it
    new TxLogMicroBatchStream(spark, table,
      TxLog.physicalSchemaOf(tableSchema, cm),
      TxLog.physicalSchemaOf(readDataSchema, cm),
      TxLogV2.streamStart(spark, table, startingVersion), maxVersions)
  }

  /** Real statistics from the manifest (post static pruning), so the
    * optimizer can broadcast a small txlog table instead of defaulting
    * to "unknown = huge" — and, with CBO enabled, PER-COLUMN stats
    * (null counts, integral/boolean min/max, a distinct-count bound)
    * so FilterEstimation can cut a filtered scan's cardinality and
    * flip a join's build side WITHOUT any ANALYZE TABLE: the manifest
    * zone maps are the statistics store.
    *
    * Exactness discipline mirrors the meta-agg push: min/max only for
    * integral-family/boolean tags (double NaN and string truncation
    * refused), null counts only when every live file recorded one and
    * no DV hides rows. The distinct count is the DENSE-KEY BOUND
    * min(range width, non-null rows) — exact for dense surrogate keys
    * (the common join-key shape), an upper bound otherwise; an upper
    * bound over-divides equality selectivity, which UNDER-estimates
    * result rows — acceptable for estimates, never for answers (the
    * meta-agg contract stays untouched). r15: columns opted into
    * `graft.stats.ndv.cols` carry per-file KMV sketches in the manifest
    * ([[TxStats.attachKmv]] — each commit pays one column-pruned scan of
    * its OWN files), and the estimator folds them into a real distinct
    * count (strings included) whenever every live file has one; UTF-8
    * string bounds are served too (truncated footer bounds are fine for
    * a cost model, unlike the meta-agg's exact-extrema contract). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = files.map(f => fileBytes(spark, table, f, stats)).sum
    private val rows = files.flatMap(stats.get).map(_.rows).sum -
      files.flatMap(dvCards.get).sum // DV'd rows never leave the reader
    override def sizeInBytes() = java.util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows() =
      if (files.forall(stats.contains)) java.util.OptionalLong.of(math.max(rows, 0L))
      else java.util.OptionalLong.empty()

    override def columnStats()
        : java.util.Map[NamedReference,
                        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import java.util.{Optional, OptionalLong}
      import org.apache.spark.sql.connector.read.colstats.{ColumnStatistics => V2ColStat}
      import org.apache.spark.sql.types._
      val out = new java.util.HashMap[NamedReference, V2ColStat]()
      if (!files.forall(stats.contains)) return out
      val fsts = files.map(stats(_))
      val anyDv = files.exists(dvByFile.contains)
      val nonNullTotal = math.max(rows, 0L)
      def internal(tag: String, v: Any, dt: DataType): Option[Any] = (tag, dt) match {
        case ("i", LongType | TimestampType) => Some(v.asInstanceOf[Long])
        case ("i", IntegerType | DateType) => Some(v.asInstanceOf[Long].toInt)
        case ("i", ShortType) => Some(v.asInstanceOf[Long].toShort)
        case ("i", ByteType) => Some(v.asInstanceOf[Long].toByte)
        case ("b", BooleanType) => Some(v.asInstanceOf[Boolean])
        // r15: string bounds serve the ESTIMATOR (unlike the meta-agg
        // push, which refuses them — parquet writers may truncate
        // binary footer bounds, unsound for exact extrema but exactly
        // the kind of bound a cost model wants)
        case ("s", StringType) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(
            v.asInstanceOf[String]))
        case _ => None
      }
      readDataSchema.fields.foreach { f =>
        val phys = TxLog.physicalName(cm, f.name)
        val per = fsts.map(_.byCol.get(phys))
        if (per.forall(_.isDefined)) {
          val cs = per.flatten
          val nullCount: OptionalLong =
            if (!anyDv && cs.forall(_.nulls >= 0L))
              OptionalLong.of(cs.map(_.nulls).sum)
            else OptionalLong.empty()
          val present = cs.filter(_.has)
          val tagOk = present.nonEmpty &&
            present.forall(c => c.tag == present.head.tag &&
              (c.tag == "i" || c.tag == "b" || c.tag == "s"))
          var mn: Optional[Object] = Optional.empty()
          var mx: Optional[Object] = Optional.empty()
          var ndv: OptionalLong = OptionalLong.empty()
          if (tagOk) {
            val t = present.head.tag
            val lo = present.map(c => TxStats.parseVal(t, c.min))
              .reduce((a, b) => if (TxStats.cmp(t, a, b) < 0) a else b)
            val hi = present.map(c => TxStats.parseVal(t, c.max))
              .reduce((a, b) => if (TxStats.cmp(t, a, b) > 0) a else b)
            mn = internal(t, lo, f.dataType)
              .map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
            mx = internal(t, hi, f.dataType)
              .map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
            ndv = t match {
              case "i" =>
                val width = hi.asInstanceOf[Long] - lo.asInstanceOf[Long] + 1L
                if (width > 0L) OptionalLong.of(math.min(width, math.max(nonNullTotal, 1L)))
                else OptionalLong.empty() // overflowed range: unknowable
              case "b" => OptionalLong.of(math.min(2L, math.max(nonNullTotal, 1L)))
              case _ => OptionalLong.empty()
            }
          }
          // KMV NDV (r15, opt-in sketches): a REAL distinct estimate —
          // replaces the dense-key bound whenever EVERY live file
          // carries a sketch for the column (an all-null file's
          // complete-but-empty sketch counts as present). Deletion
          // vectors can only shrink true NDV, so the estimate stays an
          // upper bound, capped at the DV-adjusted non-null row count.
          if (cs.nonEmpty && cs.forall(c => c.kmv.nonEmpty || !c.has)) {
            val est = TxStats.kmvNdv(cs.map(_.kmv))
            if (est > 0L)
              ndv = OptionalLong.of(math.min(est, math.max(nonNullTotal, 1L)))
          }
          val (fMn, fMx, fNdv, fNulls) = (mn, mx, ndv, nullCount)
          if (fNulls.isPresent || fMn.isPresent || fNdv.isPresent)
            out.put(Expressions.column(f.name), new V2ColStat {
              override def distinctCount(): OptionalLong = fNdv
              override def min(): Optional[Object] = fMn
              override def max(): Optional[Object] = fMx
              override def nullCount(): OptionalLong = fNulls
            })
        }
      }
      out
    }
  }

  override def description(): String =
    s"txlog $table${asOf.map(v => s"@v$v").getOrElse("")} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().catalogString}"
}

/** Streaming SOURCE: tail the manifest log as an unbounded append
  * stream — offsets are log VERSIONS (exact, restart-safe), the first
  * batch is the table snapshot as of the start offset, maintenance
  * checkpoints are transparent, and non-append history (DML/overwrite
  * in the tail range, vacuumed versions) fails LOUDLY rather than
  * silently dropping or duplicating rows. Port of the DSv1
  * `TxLogStreamSource` semantics onto the V2 seam. */
class TxLogMicroBatchStream(spark: SparkSession, table: String,
                            tableSchema: StructType, readDataSchema: StructType,
                            start: Option[Long] = None,
                            maxVersions: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private case class V(v: Long) extends Offset { override def json: String = v.toString }
  private def versionOf(o: Offset): Long = o match {
    case V(v) => v
    case other => other.json.trim.toLong
  }

  /** −1 (full snapshot first) unless `startingVersion` moved the start
    * of the tail; only consulted on a checkpoint's FIRST batch. */
  override def initialOffset(): Offset = V(start.getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Name-only head probe: the idle poll costs one listing, zero reads. */
  override def latestOffset(): Offset = V(TxLog.headVersionByName(spark, table))

  // ---- admission control + Trigger.AvailableNow: the batch end is the
  // head, capped by `maxVersionsPerTrigger` versions past the start
  // (bounded catch-up) and, under AvailableNow, by the head observed at
  // query start (drain-and-terminate; later commits wait for the next run)
  @volatile private var drainTo: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit =
    drainTo = TxLog.headVersionByName(spark, table)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start0: Offset, limit: ReadLimit): Offset = {
    val head = math.min(TxLog.headVersionByName(spark, table), drainTo)
    V(maxVersions.fold(head)(m => math.min(head, versionOf(start0) + m)))
  }
  override def reportLatestOffset(): Offset =
    V(TxLog.headVersionByName(spark, table))

  override def planInputPartitions(start0: Offset, end: Offset): Array[InputPartition] = {
    val from = versionOf(start0); val to = versionOf(end)
    val ms = TxLog.manifests(spark, table)
    def vacuumedError(what: String): Nothing =
      throw new IllegalStateException(
        s"$what of $table was vacuumed before this stream read it — " +
          "raise the vacuum retention above the stream's lag")
    // offset −1 is the snapshot sentinel ONLY when no startingVersion
    // was given: an explicit startingVersion=0 also lands at −1
    // (inclusive start v ⇒ offset v−1) but must take the per-version
    // range path, which serves v0's append and stays LOUD on any
    // rewrite in the history — the same guard the change-feed stream
    // applies, keeping the two stream sources' semantics consistent.
    val files: Seq[String] =
      if (from < 0L && start.isEmpty) {
        // initial snapshot as of `to`. Log truncation is all-or-nothing
        // below the newest checkpoint, so the prefix ≤ to is complete iff
        // it still reaches a checkpoint or version 0
        val past = ms.filter(_.version <= to)
        if (past.isEmpty || !(past.exists(_.checkpoint) || past.head.version == 0L))
          vacuumedError(s"the initial snapshot (≤ v$to)")
        // deletion vectors AND equality-delete debt in force at `to`
        // apply to the snapshot batch (the tail after it stays
        // append-only — a later DV or keyed-delete commit is a rewrite
        // and fails loudly below)
        snapshotDvs = TxLog.liveDvs(past).view.mapValues(_.p).toMap
        snapshotEq = TxLog.liveEqDels(past)
        snapshotSeqs =
          if (snapshotEq.isEmpty) Map.empty else TxLog.fileSeqs(past)
        val snap = TxLog.liveFiles(past)
        snapshotFiles = snap
        snap
      } else {
        val range = ms.filter(m => m.version > from && m.version <= to)
        // contiguity is judged against the FULL log listing: a version
        // absent from `ms` but present on disk belongs to another
        // lineage (a branch commit) — the main tail serves nothing for
        // it; truly absent = vacuum truncated the range (loud). ONE
        // exception: while main's v0 still survives, main was never
        // truncated (the lineage cut is all-or-nothing below the
        // checkpoint), so a version absent from BOTH the listing and
        // main provably belonged to a dropped branch whose manifests
        // vacuum collected independently — the tail serves nothing for
        // it, exactly as if the foreign manifest were still on disk.
        val have = TxLog.logVersions(spark, table)
        val mainIntact = ms.headOption.exists(_.version == 0L)
        val missing = ((from + 1) to to)
          .filterNot(v => have(v) || mainIntact)
        if (missing.nonEmpty) vacuumedError(s"versions ${missing.mkString(",")}")
        // an INCREMENTAL OPTIMIZE (compactSmall) is a non-checkpoint
        // rewrite whose row MULTISET is unchanged — its outputs repack
        // rows this stream already served from the removed files'
        // own versions — so the tail SKIPS it (serves zero rows)
        // instead of dying, exactly like full compact's checkpoint.
        // Structural trust: `compact-` is a reserved writer-id prefix
        // (guardWriterId) and this library is the format's only
        // writer; a dvs-carrying commit is never layout-only.
        def layoutOnly(m: TxLog.Manifest): Boolean =
          !m.checkpoint && m.writerId.startsWith("compact-") &&
            m.dvs.isEmpty && m.eqdels.isEmpty
        range.find(m => !layoutOnly(m) && (m.removes.nonEmpty || m.dvs.nonEmpty ||
            m.eqdels.nonEmpty ||
            (m.checkpoint && (m.writerId.startsWith("overwrite-") ||
              m.writerId.startsWith("restore-"))))).foreach { m =>
          // overwrite/restore detected STRUCTURALLY by the writer-id
          // class — this library is the format's only writer — so even
          // one replacing an empty table (removes = ∅) stays loud;
          // a merge-on-read DML (dvs, removes possibly empty) is a
          // rewrite all the same
          throw new IllegalStateException(
            s"txlog stream source is append-only, but v${m.version} of $table " +
              (if (m.checkpoint && m.writerId.startsWith("restore-"))
                 "RESTORED the table to an earlier version"
               else if (m.checkpoint) "OVERWROTE the table"
               else if (m.eqdels.nonEmpty)
                 "deleted/replaced rows by key (equality delete)"
               else "rewrote rows (DML)") +
              " — tail from a fresh start or keep the streamed table append-only")
        }
        // tail batches never carry deletion vectors or key debt (the
        // guard above): restore the columnar fast path a filtered
        // snapshot batch demoted
        snapshotDvs = Map.empty
        snapshotEq = Seq.empty
        snapshotSeqs = Map.empty
        snapshotFiles = Seq.empty
        val rel = range.filterNot(m => m.checkpoint || layoutOnly(m)).flatMap(_.files)
        // a lagging tail's files can be compacted away and data-vacuumed
        // while their manifests survive — turn the eventual FileNotFound
        // into retention guidance (cheap: incremental ranges are small)
        val root = new Path(table)
        val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        rel.find(r => !f.exists(new Path(root, r)))
          .foreach(r => vacuumedError(s"data file $r"))
        rel
      }
    val stats = TxLog.liveStats(ms)
    def pf(rel: String) =
      GraftParquetIO.partitionedFile(TxLog.absPath(table)(rel),
        TxLogV2.fileBytes(spark, table, rel, stats), InternalRow.empty)
    def worked(rel: String): Boolean = snapshotDvs.contains(rel) ||
      snapshotEq.exists(_._1 > snapshotSeqs.getOrElse(rel, Long.MaxValue))
    val (workFiles, cleanFiles) = files.partition(worked)
    if (workFiles.isEmpty) GraftParquetIO.filePartitions(spark, files.map(pf))
    else
      GraftParquetIO.filePartitions(spark, cleanFiles.map(pf)) ++
        workFiles.flatMap(rel => GraftParquetIO.filePartitions(spark, Seq(pf(rel))))
  }

  /** DV pointers / equality-delete debt of the INITIAL-snapshot batch,
    * set by its planInputPartitions — tail batches are append-only by
    * the loud guard above, so these are the only row filters a stream
    * ever reads. */
  @volatile private var snapshotDvs: Map[String, String] = Map.empty
  @volatile private var snapshotEq: Seq[(Long, TxLog.EqDelEntry)] = Seq.empty
  @volatile private var snapshotSeqs: Map[String, Long] = Map.empty
  @volatile private var snapshotFiles: Seq[String] = Seq.empty

  override def createReaderFactory(): PartitionReaderFactory = {
    val clean = GraftParquetIO.readerFactory(spark, tableSchema, readDataSchema,
      StructType(Nil), Array.empty)
    if (snapshotDvs.isEmpty && snapshotEq.isEmpty) return clean
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val riField = org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)
    if (snapshotEq.isEmpty) {
      val withRi = GraftParquetIO.readerFactory(spark, tableSchema,
        StructType(readDataSchema.fields :+ riField), StructType(Nil), Array.empty)
      TxDv.DvReaderFactory(clean, withRi,
        snapshotDvs.map { case (f, p) => TxDv.tailKey(f) -> p },
        table, riOrdinal = readDataSchema.length,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    } else {
      // snapshot batch under equality-delete debt: the unified factory
      // (same layout contract as the V2 scan's — the stream's schemas
      // are already PHYSICAL, as are the entries' key columns)
      val anyDv = snapshotDvs.nonEmpty
      val physByName = tableSchema.fields.map(f => f.name -> f).toMap
      val keyCols = snapshotEq.flatMap(_._2.cols).distinct
        .filterNot(readDataSchema.fieldNames.toSet)
      val block = (if (anyDv) Seq(riField) else Seq.empty) ++
        keyCols.map(physByName(_))
      val augSchema = StructType(readDataSchema.fields ++ block)
      val aug = GraftParquetIO.readerFactory(spark, tableSchema, augSchema,
        StructType(Nil), Array.empty)
      val ordOf = augSchema.fieldNames.zipWithIndex.toMap
      val probeOf = snapshotEq.map { case (_, e) =>
        e.p -> TxEqDel.ProbeSpec(e.p, e.cols.map(ordOf(_)).toArray,
          e.cols.map(c => physByName(c).dataType).toArray)
      }.toMap
      val work = snapshotFiles.flatMap { rel =>
        val probes = snapshotEq
          .filter(_._1 > snapshotSeqs.getOrElse(rel, Long.MaxValue))
          .map(e => probeOf(e._2.p))
        val dv = snapshotDvs.get(rel)
        if (dv.isEmpty && probes.isEmpty) None
        else Some(TxDv.tailKey(rel) -> TxEqDel.FileWork(dv, probes))
      }.toMap
      TxEqDel.EqDelReaderFactory(clean, aug, work, table,
        hideFrom = readDataSchema.length, hideCount = block.length,
        riOrdinal = if (anyDv) readDataSchema.length else -1,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    }
  }
}

// ----------------------------------------------------------------------
// change data feed
// ----------------------------------------------------------------------

/** CHANGE DATA FEED: the table's row-level deltas, per committed
  * version, as a readable relation —
  * `spark.read.format("txlog").option("readChangeFeed", "true")` with
  * `startingVersion`/`endingVersion` (batch, both INCLUSIVE), or
  * `readStream` for a LIVE feed. Output schema = table schema +
  * `_change_type` ("insert" | "delete") + `_commit_version` — the
  * retract/add model: an UPDATE is a delete+insert pair at one
  * version. Both meta columns are constants per file served from the
  * partition-value vector (zero per-row storage or compute).
  *
  * Version semantics (enforced in [[expand]]):
  *  - append commit → its data files, type "insert";
  *  - row-level DML → the change files [[TxLog]] captured at commit
  *    (`changeFeed` table property); DML from before the property was
  *    set fails LOUDLY (the delta was never recorded — versioned
  *    props distinguish that from a legitimately empty change set);
  *  - compact / cluster checkpoints → SKIPPED (layout, not data: the
  *    feed is invariant under maintenance);
  *  - overwrite → loud (a wholesale replacement has no row-level
  *    delta; start a fresh snapshot instead);
  *  - vacuumed versions → loud (log truncation bounds feed retention).
  *
  * This is what makes a DML-curated 100 TB table INCREMENTALLY
  * consumable: the plain stream source must fail on a rewrite (its
  * rows would double-count), while the feed hands downstream exactly
  * the retract/add rows needed to stay consistent. */
object TxLogCdf {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TypeField: StructField = StructField(TypeCol, StringType, nullable = false)
  val VersionField: StructField = StructField(VersionCol, LongType, nullable = false)
  private[storage] val MetaNames = Set(TypeCol, VersionCol)

  /** The CDF relation schema for a data schema (idempotent). */
  def withMeta(base: StructType): StructType =
    StructType(base.fields.filterNot(f => MetaNames(f.name)) :+
      TypeField :+ VersionField)

  /** The `withRowIds` variant: `_row_id` sits BETWEEN the data columns
    * and the meta constants — the scan's physical emission order
    * (visible ++ id ++ pv), which a STREAM's row layout must match
    * positionally (batch readers project by name either way). */
  def withRowIdMeta(base: StructType): StructType =
    StructType(base.fields.filterNot(f =>
      MetaNames(f.name) || f.name == TxRowId.RowIdCol) :+
      TxRowId.RowIdField :+ TypeField :+ VersionField)

  /** One feed file: manifest-relative path + its constant change type
    * and version. */
  final case class Entry(rel: String, change: String, version: Long)

  /** Change type from the staged dir name (`<uuid>-d` / `<uuid>-i` /
    * `<uuid>-i2`) — structural, see [[TxLog]] captureChanges. */
  private def typeOf(rel: String): String = {
    val dir = rel.split('/')(1)
    if (dir.endsWith("-d")) "delete" else "insert"
  }

  /** An `-i2` insert entry carries the commit-relative offset column
    * ([[TxRowId.GoffCol]]) for fresh-mint rows: its ids resolve at
    * read as `manifest.nrid + offset` (r19 — rebase-safe captures). */
  private[storage] def isI2(rel: String): Boolean =
    rel.split('/')(1).endsWith("-i2")

  /** The `__rid` partition-value constant per feed entry, for
    * `withRowIds` reads: data files serve their firstRowId (derive
    * id = __rid + position); `-i2` change entries serve the publishing
    * manifest's recorded allocation base (derive id = __rid + stored
    * offset for fresh mints); `-d`/`-i` change entries stay null —
    * their ids are STORED absolute. */
  private[storage] def ridPvMap(ms: Seq[TxLog.Manifest],
                                entries: Seq[Entry]): Map[String, Long] = {
    val fromStats: Map[String, Long] = ms.flatMap(m =>
      m.stats.filter(_.firstRowId >= 0L)
        .map(st => st.file -> st.firstRowId)).toMap
    val nridOf: Map[Long, Long] =
      ms.filter(_.nextRid >= 0L).map(m => m.version -> m.nextRid).toMap
    fromStats ++ entries.filter(e => isI2(e.rel)).map { e =>
      e.rel -> nridOf.getOrElse(e.version, throw new IllegalStateException(
        s"change entry ${e.rel} (v${e.version}) derives fresh row ids but " +
          "its manifest records no allocation base (nrid) — corrupt log?"))
    }
  }

  private[storage] def expand(ms: Seq[TxLog.Manifest], from: Long, to: Long,
                              table: String): Seq[Entry] =
    ms.filter(m => m.version >= from && m.version <= to).flatMap { m =>
      if (m.checkpoint && m.writerId.startsWith("overwrite-"))
        throw new IllegalStateException(
          s"v${m.version} of $table OVERWROTE the table — a wholesale " +
            "replacement has no row-level delta; restart the feed from a snapshot")
      else if (m.checkpoint && m.writerId.startsWith("restore-")) {
        // a RESTORE captures its row-level effect when the feed is on —
        // serve it; a restore from before the feed has no recorded
        // delta and must fail like pre-feed DML, not read as no-change
        if (m.changes.isEmpty && !TxLog.changeFeedAt(ms, m.version))
          throw new IllegalStateException(
            s"v${m.version} of $table RESTORED the table BEFORE the change feed " +
              s"was enabled — the delta was never recorded (set " +
              s"${TxLog.ChangeFeedProp}=true before restoring)")
        m.changes.map(rel => Entry(rel, typeOf(rel), m.version))
      }
      else if (m.checkpoint) Seq.empty // compact/cluster: layout only
      else if (!m.checkpoint && m.writerId.startsWith("compact-") &&
          m.dvs.isEmpty && m.changes.isEmpty)
        // incremental OPTIMIZE (compactSmall): a non-checkpoint rewrite
        // whose row multiset is unchanged — feed-invariant like the
        // maintenance checkpoints above (and exempt from the pre-feed
        // loudness below: there never was a delta to record)
        Seq.empty
      else if (m.removes.nonEmpty || m.dvs.nonEmpty || m.changes.nonEmpty ||
          m.eqdels.nonEmpty || m.eqdrops.nonEmpty) {
        // dvs: a merge-on-read DML is a rewrite with possibly EMPTY
        // removes — its captured change files carry the delta.
        // eqdels: a keyed write (deleteByKeys/upsertByKeys) captures
        // its retract/add delta at commit on feed tables — its data
        // files must NOT also serve as plain inserts (the `-i` change
        // files are the insert half, post-cancelation). eqdrops: a
        // materialization is row-invariant and serves its (empty)
        // capture — never the rewritten layout.
        if (m.changes.isEmpty && m.eqdels.isEmpty && m.eqdrops.isEmpty &&
            !TxLog.changeFeedAt(ms, m.version))
          throw new IllegalStateException(
            s"v${m.version} of $table rewrote rows BEFORE the change feed was " +
              s"enabled — the delta was never recorded (set ${TxLog.ChangeFeedProp}" +
              "=true before running DML)")
        if (m.changes.isEmpty && (m.eqdels.nonEmpty || m.eqdrops.nonEmpty) &&
            !TxLog.changeFeedAt(ms, m.version))
          throw new IllegalStateException(
            s"v${m.version} of $table committed equality deletes BEFORE the " +
              "change feed was enabled — the delta was never recorded " +
              s"(materialize the debt, then set ${TxLog.ChangeFeedProp}=true)")
        m.changes.map(rel => Entry(rel, typeOf(rel), m.version))
      } else m.files.map(rel => Entry(rel, "insert", m.version))
    }
}

/** Column pruning only — the feed is version-windowed (small by
  * construction), so filters stay entirely Spark-side. */
class TxLogChangeScanBuilder(spark: SparkSession, table: String,
                             fullSchema: StructType,
                             startRaw: Option[String], endRaw: Option[String],
                             maxVersions: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new TxLogChangeScan(spark, table, fullSchema, required, startRaw, endRaw,
      maxVersions)
}

class TxLogChangeScan(spark: SparkSession, table: String, fullSchema: StructType,
                      required: StructType,
                      startRaw: Option[String], endRaw: Option[String],
                      maxVersions: Option[Long] = None)
    extends Scan with Batch {

  import TxLogCdf._

  private[storage] val baseSchema =
    StructType(fullSchema.fields.filterNot(f =>
      MetaNames(f.name) || f.name == TxRowId.RowIdCol))
  // `_row_id` metadata column (r18): change files STORE each d/i row's
  // id (captures materialize the coalesce at write time); append
  // entries derive firstRowId + position — one reader rule, so a feed
  // consumer keys a downstream table by id across any rewrite history
  private[storage] val wantsRowId =
    required.fieldNames.contains(TxRowId.RowIdCol)
  private[storage] val readDataSchema =
    StructType(required.fields.filterNot(f =>
      MetaNames(f.name) || f.name == TxRowId.RowIdCol))
  // requested meta columns, in relation order (_change_type first)
  private[storage] val metaFields = required.fields.filter(f => MetaNames(f.name))

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++
      (if (wantsRowId) Seq(TxRowId.RowIdField) else Nil) ++ metaFields)

  /** Row filters of a STREAM's initial-snapshot batch, set by
    * [[TxLogChangeStream.planInputPartitions]] — DV'd or keyed-deleted
    * rows must not be served as snapshot "insert"s. Range reads never
    * set these (change files are net data; DV'd / keyed versions serve
    * their captures). */
  @volatile private[storage] var snapshotDvs: Map[String, String] = Map.empty
  @volatile private[storage] var snapshotEq: Seq[(Long, TxLog.EqDelEntry)] = Seq.empty
  @volatile private[storage] var snapshotSeqs: Map[String, Long] = Map.empty
  @volatile private[storage] var snapshotFiles: Seq[String] = Seq.empty

  private def snapshotWorked(rel: String): Boolean =
    snapshotDvs.contains(rel) ||
      snapshotEq.exists(_._1 > snapshotSeqs.getOrElse(rel, Long.MaxValue))

  private[storage] def partitions(entries: Seq[Entry],
                                  stats: Map[String, TxStats.FileStats],
                                  rids: Map[String, Long] = Map.empty)
      : Array[InputPartition] = {
    def pf(e: Entry) = {
      val meta: Seq[Any] = metaFields.toSeq.map(_.name match {
        case TypeCol => UTF8String.fromString(e.change)
        case _ => e.version
      })
      // row-id reads lead the pv with a per-entry constant (__rid, the
      // [[TxRowId.Spec]] contract): data files served as inserts carry
      // their firstRowId (derive id = __rid + position); `-i2` change
      // entries carry their commit's allocation base (fresh mints
      // derive id = __rid + stored offset); `-d`/`-i` entries carry
      // null — their ids are STORED. One rule serves every class.
      val pv = InternalRow.fromSeq(
        if (!wantsRowId) meta
        else rids.get(e.rel).map(java.lang.Long.valueOf).orNull +: meta)
      // change files carry no manifest stats — fileBytes falls back to
      // one getFileStatus each; feed windows are small by construction
      GraftParquetIO.partitionedFile(TxLog.absPath(table)(e.rel),
        TxLogV2.fileBytes(spark, table, e.rel, stats), pv)
    }
    val (workE, cleanE) = entries.partition(e => snapshotWorked(e.rel))
    if (workE.isEmpty) GraftParquetIO.filePartitions(spark, entries.map(pf))
    else
      GraftParquetIO.filePartitions(spark, cleanE.map(pf)) ++
        workE.flatMap(e => GraftParquetIO.filePartitions(spark, Seq(pf(e))))
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val ms = TxLog.manifests(spark, table)
    if (ms.isEmpty) return Array.empty
    def parse(k: String, raw: String): Long =
      try raw.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$k must be a log version (long), got '$raw'")
      }
    val from = startRaw.map(parse("startingVersion", _)).getOrElse(ms.head.version)
    val to = endRaw.map(parse("endingVersion", _)).getOrElse(ms.last.version)
    // both ends must still BE in the log: beyond-head is user error and
    // below-oldest means vacuum truncated the range — neither reads empty
    // membership against the FULL listing: a branch commit's version is
    // a valid window bound (the main feed serves nothing for it), and
    // while main's v0 survives a version missing from the listing is a
    // COLLECTED foreign manifest (dropped-branch, swept independently
    // of the all-or-nothing lineage cut) — equally valid, equally empty
    val present = TxLog.logVersions(spark, table)
    val mainIntact = ms.headOption.exists(_.version == 0L)
    def in(k: String, v: Long): Unit = require(
      (present(v) || (mainIntact && v <= ms.last.version)) && v >= 0L,
      s"$k $v not in $table's log (retained: ${ms.head.version}..${ms.last.version})")
    in("startingVersion", from); in("endingVersion", to)
    require(from <= to, s"startingVersion $from > endingVersion $to")
    val entries = expand(ms, from, to, table)
    // historical data files can be vacuumed while their manifests
    // survive (aged non-live data, un-aged log) — the same loud
    // retention guidance both stream paths give, not an executor FNF
    val root = new Path(table)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.map(_.rel).find(r => !f.exists(new Path(root, r))).foreach(r =>
      throw new IllegalStateException(
        s"file $r of $table was vacuumed before this change-feed read — " +
          "narrow the version window or raise the vacuum retention"))
    // `__rid` per entry, from EVERY manifest (window files may be
    // non-live by read time; the allocation is immutable): data files
    // their firstRowId, `-i2` change entries their manifest's recorded
    // allocation base ([[TxLogCdf.ridPvMap]])
    val rids: Map[String, Long] =
      if (!wantsRowId) Map.empty
      else TxLogCdf.ridPvMap(ms, entries)
    partitions(entries, TxLog.liveStats(ms), rids)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // data AND change files are physical-named; the feed's output rows
    // are positional against the logical readSchema
    val cm = TxLog.colMapFrom(TxLog.manifests(spark, table))
    val physBase = TxLog.physicalSchemaOf(baseSchema, cm)
    val physRead = TxLog.physicalSchemaOf(readDataSchema, cm)
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    if (wantsRowId) {
      // one augmented factory serves BOTH entry classes: change files
      // read their STORED ids (null __rid pv), append data files
      // derive firstRowId + position ([[TxRowId.RowIdReaderFactory]]).
      // A STREAM's initial-snapshot row filters (DVs / key debt)
      // compose in the same pass — the factory was built for exactly
      // that on the main scan; worked files pack alone (partitions)
      val riFieldW = org.apache.spark.sql.types.StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true)
      val gridField = org.apache.spark.sql.types.StructField(
        TxRowId.GridCol, org.apache.spark.sql.types.LongType, nullable = true)
      // the fresh-mint offset column of `-i2` change files — absent
      // from every other file class (reads null there)
      val goffField = org.apache.spark.sql.types.StructField(
        TxRowId.GoffCol, org.apache.spark.sql.types.LongType, nullable = true)
      val ridPvField = org.apache.spark.sql.types.StructField(
        "__rid", org.apache.spark.sql.types.LongType, nullable = true)
      val physByNameW = physBase.fields.map(f => f.name -> f).toMap
      val keyColsW = snapshotEq.flatMap(_._2.cols).distinct
        .filterNot(physRead.fieldNames.toSet)
      val augSchema = StructType(physRead.fields ++
        Seq(gridField, goffField, riFieldW) ++ keyColsW.map(physByNameW(_)))
      val aug = GraftParquetIO.readerFactory(spark,
        StructType(physBase.fields ++ Seq(gridField, goffField)), augSchema,
        StructType(ridPvField +: metaFields), Array.empty)
      val ordOfW = augSchema.fieldNames.zipWithIndex.toMap
      val probeOfW = snapshotEq.map { case (_, e) =>
        e.p -> TxEqDel.ProbeSpec(e.p, e.cols.map(ordOfW(_)).toArray,
          e.cols.map(c => physByNameW(c).dataType).toArray)
      }.toMap
      val workW: Map[String, TxEqDel.FileWork] = snapshotFiles.flatMap { rel =>
        val probes = snapshotEq
          .filter(_._1 > snapshotSeqs.getOrElse(rel, Long.MaxValue))
          .map(e => probeOfW(e._2.p))
        val dv = snapshotDvs.get(rel)
        if (dv.isEmpty && probes.isEmpty) None
        else Some(TxDv.tailKey(rel) -> TxEqDel.FileWork(dv, probes))
      }.toMap
      return TxRowId.RowIdReaderFactory(aug,
        TxRowId.Spec(
          gridOrd = physRead.length,
          riOrd = physRead.length + 2,
          visibleLen = physRead.length,
          ridPvOrd = augSchema.length,
          visibleTypes = physRead.fields.map(_.dataType),
          pvTypes = metaFields.map(_.dataType),
          emitPos = false,
          goffOrd = physRead.length + 1),
        work = workW, table,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    }
    val clean = GraftParquetIO.readerFactory(spark, physBase, physRead,
      StructType(metaFields), Array.empty)
    if (snapshotDvs.isEmpty && snapshotEq.isEmpty) return clean
    val riField = org.apache.spark.sql.types.StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)
    if (snapshotEq.isEmpty) {
      val withRi = GraftParquetIO.readerFactory(spark, physBase,
        StructType(physRead.fields :+ riField), StructType(metaFields),
        Array.empty)
      TxDv.DvReaderFactory(clean, withRi,
        snapshotDvs.map { case (f, p) => TxDv.tailKey(f) -> p },
        table, riOrdinal = readDataSchema.length,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    } else {
      // snapshot batch under equality-delete debt: the unified factory
      // (the V2 scan's layout contract — missing key columns appended
      // as a hidden working block; the meta partition constants sit
      // PAST the block and stay visible)
      val anyDv = snapshotDvs.nonEmpty
      val physByName = physBase.fields.map(f => f.name -> f).toMap
      val keyCols = snapshotEq.flatMap(_._2.cols).distinct
        .filterNot(physRead.fieldNames.toSet)
      val block = (if (anyDv) Seq(riField) else Seq.empty) ++
        keyCols.map(physByName(_))
      val augSchema = StructType(physRead.fields ++ block)
      val aug = GraftParquetIO.readerFactory(spark, physBase, augSchema,
        StructType(metaFields), Array.empty)
      val ordOf = augSchema.fieldNames.zipWithIndex.toMap
      val probeOf = snapshotEq.map { case (_, e) =>
        e.p -> TxEqDel.ProbeSpec(e.p, e.cols.map(ordOf(_)).toArray,
          e.cols.map(c => physByName(c).dataType).toArray)
      }.toMap
      val work = snapshotFiles.flatMap { rel =>
        val probes = snapshotEq
          .filter(_._1 > snapshotSeqs.getOrElse(rel, Long.MaxValue))
          .map(e => probeOf(e._2.p))
        val dv = snapshotDvs.get(rel)
        if (dv.isEmpty && probes.isEmpty) None
        else Some(TxDv.tailKey(rel) -> TxEqDel.FileWork(dv, probes))
      }.toMap
      TxEqDel.EqDelReaderFactory(clean, aug, work, table,
        hideFrom = physRead.length, hideCount = block.length,
        riOrdinal = if (anyDv) physRead.length else -1,
        GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(endRaw.isEmpty,
      "endingVersion is a batch-window option — a STREAM tails the live feed " +
        "(bound the batch reader instead)")
    new TxLogChangeStream(spark, table, this,
      TxLogV2.streamStart(spark, table, startRaw), maxVersions)
  }

  override def description(): String =
    s"txlog $table ChangeFeed[${startRaw.getOrElse("oldest")}.." +
      s"${endRaw.getOrElse("head")}] ReadSchema: ${readSchema().catalogString}"
}

/** The LIVE feed: version-offset tail like the plain stream source,
  * but DML versions stream their captured change files instead of
  * failing, and maintenance checkpoints are skipped. The initial
  * snapshot (no `startingVersion`) is the live file set as "insert"
  * rows at the snapshot version — state + subsequent deltas is the
  * complete materialization recipe. */
class TxLogChangeStream(spark: SparkSession, table: String,
                        scan: TxLogChangeScan, start: Option[Long],
                        maxVersions: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import TxLogCdf._

  private case class V(v: Long) extends Offset { override def json: String = v.toString }
  private def versionOf(o: Offset): Long = o match {
    case V(v) => v
    case other => other.json.trim.toLong
  }

  override def initialOffset(): Offset = V(start.getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def latestOffset(): Offset = V(TxLog.headVersionByName(spark, table))

  // admission control + AvailableNow (see TxLogMicroBatchStream):
  // bounded catch-up batches, drain-to-prepared-head termination
  @volatile private var drainTo: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit =
    drainTo = TxLog.headVersionByName(spark, table)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start1: Offset, limit: ReadLimit): Offset = {
    val head = math.min(TxLog.headVersionByName(spark, table), drainTo)
    V(maxVersions.fold(head)(m => math.min(head, versionOf(start1) + m)))
  }
  override def reportLatestOffset(): Offset =
    V(TxLog.headVersionByName(spark, table))

  override def planInputPartitions(start0: Offset, end: Offset): Array[InputPartition] = {
    val from = versionOf(start0); val to = versionOf(end)
    val ms = TxLog.manifests(spark, table)
    def vacuumedError(what: String): Nothing =
      throw new IllegalStateException(
        s"$what of $table was vacuumed before this stream read it — " +
          "raise the vacuum retention above the stream's lag")
    val entries: Seq[Entry] =
      // offset −1 is the snapshot sentinel ONLY when no startingVersion
      // was given: an explicit startingVersion=0 also lands at −1 but
      // asks for the per-version HISTORY from v0 (deletes and true
      // commit versions included) — the range path below, which the
      // batch reader takes for the same option. Conflating them would
      // silently serve the net head state instead of the feed.
      if (from < 0L && start.isEmpty) {
        val past = ms.filter(_.version <= to)
        if (past.isEmpty || !(past.exists(_.checkpoint) || past.head.version == 0L))
          vacuumedError(s"the initial snapshot (≤ v$to)")
        // deletion vectors AND equality-delete debt in force at `to`:
        // deleted rows must not be served as snapshot inserts
        scan.snapshotDvs = TxLog.liveDvs(past).view.mapValues(_.p).toMap
        scan.snapshotEq = TxLog.liveEqDels(past)
        scan.snapshotSeqs =
          if (scan.snapshotEq.isEmpty) Map.empty else TxLog.fileSeqs(past)
        scan.snapshotFiles = TxLog.liveFiles(past)
        scan.snapshotFiles.map(Entry(_, "insert", to))
      } else {
        val range = ms.filter(m => m.version > from && m.version <= to)
        // full-listing contiguity, as in the plain stream: a branch
        // commit's version is present-but-foreign (serves nothing),
        // and while main's v0 survives a version missing from the
        // listing is a COLLECTED foreign manifest, not truncation
        // (main's lineage cut is all-or-nothing — see the plain
        // stream's check)
        val have = TxLog.logVersions(spark, table)
        val mainIntact = ms.headOption.exists(_.version == 0L)
        val missing = ((from + 1) to to)
          .filterNot(v => have(v) || mainIntact)
        if (missing.nonEmpty) vacuumedError(s"versions ${missing.mkString(",")}")
        // tail windows serve captured change files / appends, never
        // DV'd or keyed-deleted data files — restore the columnar
        // factory a filtered snapshot batch demoted
        scan.snapshotDvs = Map.empty
        scan.snapshotEq = Seq.empty
        scan.snapshotSeqs = Map.empty
        scan.snapshotFiles = Seq.empty
        val es = expand(ms, from + 1, to, table)
        // a lagging tail's files can be compacted/vacuumed away while
        // their manifests survive — loud retention guidance, not FNF
        val root = new Path(table)
        val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        es.map(_.rel).find(r => !f.exists(new Path(root, r)))
          .foreach(r => vacuumedError(s"file $r"))
        es
      }
    // `withRowIds` streams: each data-file entry's firstRowId rides as
    // the leading __rid pv (snapshot inserts and tail appends alike);
    // `-i2` change entries ride their manifest's allocation base,
    // `-d`/`-i` stay null — their ids are stored absolute
    val rids: Map[String, Long] =
      if (!scan.wantsRowId) Map.empty
      else TxLogCdf.ridPvMap(ms, entries)
    scan.partitions(entries, TxLog.liveStats(ms), rids)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
}

// ----------------------------------------------------------------------
// write path
// ----------------------------------------------------------------------

class TxLogWriteBuilder(table: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new TxLogWrite(table, info, overwrite)
}

/** The required shuffle/sort of a PARTITIONED write: cluster rows by
  * the partition columns (all rows of one tuple land in one task) and
  * sort within tasks, so the rolling executor writer stages one file
  * per tuple per task — the layout [[TxLog.commitPartitioned]]
  * produces, without the driver in the data path. Advisory
  * (`distributionStrictlyRequired=false`): AQE may coalesce or skip
  * the exchange for small writes; the writer stays correct either way
  * (it ROLLS on tuple change), the distribution is the file-count
  * optimization. */
trait TxLogPartitionedWrite extends RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.SortOrder

  protected def writePcols: Seq[String]

  /** Cluster/sort on the SOURCE columns of the partition specs, not
    * the transforms: translating a days()/bucket() V2 expression into
    * the exchange would require a FunctionCatalog lookup Spark cannot
    * do for a path-addressed table, while source clustering needs only
    * column references and is correct for any transform (a source
    * value maps to exactly one partition tuple, so no tuple straddles
    * tasks because of a row — only because distinct source values of
    * one tuple hash apart, which the bounded multi-open writer absorbs
    * without a file-per-row explosion). */
  /** The recorded specs speak PHYSICAL source names; the incoming
    * query's attributes are LOGICAL — translate for the exchange. */
  protected def logicalOfPhysical(p: String): String = p
  private def writeSources: Seq[String] =
    TxPart.sources(writePcols).map(logicalOfPhysical)

  override def requiredDistribution(): Distribution =
    if (writePcols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      writeSources.map(c => Expressions.column(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[SortOrder] =
    if (writePcols.isEmpty) Array.empty
    else writeSources.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
}

class TxLogWrite(table: String, info: LogicalWriteInfo, overwrite: Boolean)
    extends Write with TxLogPartitionedWrite {
  override protected val writePcols: Seq[String] =
    TxLog.partitionColumns(SparkSession.active, table)
  private val rev =
    TxLog.logicalNameMap(TxLog.colMapOf(SparkSession.active, table))
  override protected def logicalOfPhysical(p: String): String = rev.getOrElse(p, p)

  override def toBatch: BatchWrite =
    new TxLogBatchWrite(table, info.schema(), overwrite)

  override def toStreaming: StreamingWrite = {
    require(!overwrite,
      "txlog streaming sink supports Append output mode only")
    // writer identity must be PER QUERY and DURABLE across restarts: the
    // streaming query's id is minted once and persisted in the checkpoint
    // metadata — same checkpoint = same id = same epoch token namespace;
    // a fresh checkpoint = fresh id = fresh namespace. An explicit
    // writerId option still overrides (pipeline-controlled identity).
    val writerId = Option(info.options.get("writerId"))
      .getOrElse("txlog-stream-q-" + info.queryId())
    new TxLogStreamingWrite(table, info.schema(), writerId)
  }
}

/** One batch write = one transaction: executors stage parquet into an
  * invisible uuid dir, the driver publishes the manifest (append) or
  * the overwrite checkpoint. Abort leaves only vacuum-collectable
  * garbage — the commit point is the manifest put, nothing else. */
class TxLogBatchWrite(table: String, schema: StructType, overwrite: Boolean)
    extends BatchWrite {
  private val spark = SparkSession.active
  private val uuid = UUID.randomUUID().toString
  // ONE layout+mapping read drives the executor staging, the commit's
  // sticky-layout check AND the drift guard — no window to disagree
  private val pcols = TxLog.partitionColumns(spark, table)
  private val cmAtPlan =
    // an overwrite REPLACES the contract — files under the new
    // schema's own names, mapping reset at the checkpoint
    if (overwrite) TxLog.ColMap(Seq.empty, Seq.empty)
    else TxLog.colMapOf(spark, table)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    TxLogWriterFactory.create(spark, table, uuid, schema, pcols,
      cmOverride = Some(cmAtPlan),
      // an overwrite REPLACES the contract: only generation
      // declarations that survive the re-key against the replacement
      // schema are enforced (the publish strips the rest)
      gensOverride =
        if (overwrite) Some(TxGen.survivingProps(spark, schema,
          TxLog.colMapOf(spark, table), TxLog.properties(spark, table)))
        else None,
      replaceContract = overwrite)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap { case m: TxLogCommitMessage => m.files }.toSeq.sorted
    val msC = TxLog.manifests(spark, table)
    // sketches read the staged files under the mapping they were
    // WRITTEN with (the drift guard rejects any divergence at publish)
    val stats = TxLog.collectStats(spark, table, rel, TxLog.propsFrom(msC),
      cmAtPlan)
    if (overwrite) TxLog.overwriteStaged(spark, table, rel, stats, TxLog.ddlOf(schema))
    else TxLog.commitStaged(spark, table, rel, stats,
      writerId = s"batch-$uuid", batchId = 0L, incoming = schema,
      stagedPcols = pcols, cmAtStaging = Some(cmAtPlan))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxLogWriterFactory.deleteStaged(spark, table, messages)
}

/** Exactly-once streaming sink: each epoch's staged files publish under
  * the (writerId, epochId) token — an at-least-once replay of a
  * committed epoch re-stages files (vacuum garbage) but the manifest
  * publish is a no-op, so the table holds every epoch exactly once. */
class TxLogStreamingWrite(table: String, schema: StructType, writerId: String)
    extends StreamingWrite {
  private val spark = SparkSession.active
  private val uuid = UUID.randomUUID().toString
  private val pcols = TxLog.partitionColumns(spark, table)
  // the stream's factory is minted ONCE — every epoch stages under this
  // mapping, and the per-epoch drift guard conflicts if it moves
  private val cmAtPlan = TxLog.colMapOf(spark, table)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    TxLogWriterFactory.create(spark, table, uuid, schema, pcols,
      cmOverride = Some(cmAtPlan))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap { case m: TxLogCommitMessage => m.files }.toSeq.sorted
    val msC = TxLog.manifests(spark, table)
    val stats = TxLog.collectStats(spark, table, rel, TxLog.propsFrom(msC),
      cmAtPlan)
    // EMPTY epochs commit too: the token records the epoch as done, so a
    // replay after a crash between this commit and the checkpoint write
    // cannot re-apply a later, different batch under the same id
    TxLog.commitStaged(spark, table, rel, stats, writerId, epochId,
      incoming = schema, stagedPcols = pcols,
      cmAtStaging = Some(cmAtPlan))
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    TxLogWriterFactory.deleteStaged(spark, table, messages)
}

final case class TxLogCommitMessage(files: Seq[String]) extends WriterCommitMessage

object TxLogWriterFactory {
  def create(spark: SparkSession, table: String, uuid: String,
             schema: StructType,
             pcols: Seq[String] = Seq.empty,
             propsOverride: Option[Map[String, String]] = None,
             cmOverride: Option[TxLog.ColMap] = None,
             gensOverride: Option[Map[String, String]] = None,
             genRecompute: Boolean = false,
             replaceContract: Boolean = false,
             withGrid: Boolean = false)
      : TxLogWriterFactory = {
    // propsOverride: a staged CREATE/REPLACE writes under the NEW
    // table contract (blooms, CHECK constraints) before any manifest
    // records it — its column mapping is identity by the same logic
    // (cmOverride); an overwrite resets the mapping likewise.
    // fail-fast before any executor stages a byte (commitManifest's
    // guard is the authoritative backstop)
    TxLog.guardReservedCols(schema)
    val props = propsOverride.getOrElse(TxLog.properties(spark, table))
    val cm = cmOverride.getOrElse(
      if (propsOverride.isDefined) TxLog.ColMap(Seq.empty, Seq.empty)
      else TxLog.colMapOf(spark, table))
    // the ROWS arrive logical-named and positional; the FILES are
    // written physical-named — a positional rename of the schema is
    // the whole translation. `withGrid` appends the hidden lineage
    // column LAST (after the reserved-name guard — it is reserved for
    // exactly this writer): rows then arrive one field wider, carrying
    // each row's preserved id or null ([[RowIdAppendingWriter]])
    val schemaW =
      if (!withGrid) schema
      else StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
        TxRowId.GridCol, org.apache.spark.sql.types.LongType, nullable = true))
    val physSchema = TxLog.physicalSchemaOf(schemaW, cm)
    val (owf, conf, ext) = GraftParquetIO.writerFactory(spark, physSchema,
      LocalFs.WriteOptions ++ TxBloom.writeOptions(props))
    // CHECK constraints ride to the executors as bound predicates —
    // every V2 path (append, streaming epoch, Spark-planned DML
    // rewrite) validates per row BEFORE its file is staged; they bind
    // against the LOGICAL schema (same positions)
    val checks = TxCheck.bound(spark, schema, props)
    // GENERATED ALWAYS AS columns ride likewise: a serializable per-row
    // transform that fills NULLs from the expression and refuses
    // contradicting non-null values (or RECOMPUTES outright for DML
    // post-image writes, `genRecompute`) — bound against the LOGICAL
    // schema, applied BEFORE the checks so they see the filled values
    // bound against schemaW: the gens projection rebuilds the full row,
    // so a grid-carrying write must keep the extra field in the buffer
    val gens = TxGen.bound(spark, schemaW, gensOverride.getOrElse(props),
      cm, genRecompute)
    // NOT NULL enforcement for the PATH-based V2 doors (df.write /
    // writeStream against a table path, r16 — found by the
    // TxNullDefaultProps battery): a catalog INSERT gets Spark's own
    // null check from the relation's declared nullability, but a path
    // append plans against the DataFrame's schema alone, so the
    // RECORDED contract must bind here, per row, before any file
    // stages. A replacement write (staged CREATE/REPLACE, overwrite)
    // binds its own declared schema — the old contract doesn't
    // survive. Only claimed-nullable columns are checked (a
    // non-nullable incoming schema already cannot carry nulls) —
    // the [[TxLog]] notNullGuard rule, executor-side.
    val nnContract =
      if (propsOverride.isDefined || replaceContract) schema
      else TxLog.tableSchema(spark, table).getOrElse(schema)
    val nnRequired = nnContract.fields.filter(!_.nullable).map(_.name)
    val nnPairs = schema.fields.zipWithIndex.collect {
      case (f, i) if f.nullable &&
        nnRequired.exists(_.equalsIgnoreCase(f.name)) => (i, f.name)
    }
    // partitioned tables: executors stage hive-style `__p_<phys>=<v>`
    // layouts themselves (the multi-open writer below) — identity
    // fields render the source value, transform fields its days/
    // months/years/hours/bucket value ([[TxPart]]) — so the staged
    // paths carry the partition VALUES the manifest records; same
    // contract as the driver's stagePartitioned, distributed. `pcols`
    // is the layout the OWNING write saw at planning; the commit
    // re-checks it against the recorded one ([[TxLog.commitStaged]]).
    // partition specs speak PHYSICAL source names — resolve against
    // the physical-renamed schema (same positions as the rows)
    val fields = TxPart.parseAll(pcols)
    val pidx = fields.map { f =>
      val i = physSchema.fieldNames.indexOf(f.source)
      require(i >= 0,
        s"write schema of $table is missing partition source ${f.source}: $physSchema")
      i
    }
    fields.zip(pidx).foreach { case (f, i) => f.validate(physSchema(i).dataType) }
    TxLogWriterFactory(table, uuid, physSchema, owf, conf, ext, fields, pidx,
      checks, gens, nnIdx = nnPairs.map(_._1), nnNames = nnPairs.map(_._2))
  }

  /** Abort cleanup: delete the files the completed tasks reported.
    * Files of tasks that died before commit are unreferenced orphans —
    * vacuum's territory, same as any crashed writer. */
  def deleteStaged(spark: SparkSession, table: String,
                   messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(table)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case TxLogCommitMessage(files) =>
        files.foreach(r => f.delete(new Path(root, r), false))
      case _ => ()
    }
  }
}

/** Serializable executor-side writer factory: one parquet file per
  * non-empty task, named with partition/task/epoch for uniqueness under
  * speculative retries (the commit coordinator picks one winner; losers
  * abort and delete, or die and leave vacuum-collectable orphans). */
case class TxLogWriterFactory(table: String, uuid: String, schema: StructType,
                              owf: OutputWriterFactory,
                              conf: SerializableConfiguration, ext: String,
                              pfields: Seq[TxPart.Field] = Seq.empty,
                              pidx: Seq[Int] = Seq.empty,
                              checks: Seq[TxCheck.BoundCheck] = Seq.empty,
                              gens: Option[TxGen.BoundGens] = None,
                              nnIdx: Array[Int] = Array.empty,
                              nnNames: Array[String] = Array.empty)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TxLogDataWriter(this, partitionId, taskId, epoch = None)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new TxLogDataWriter(this, partitionId, taskId, epoch = Some(epochId))
}

/** Executor-side writer. Unpartitioned: one parquet file per non-empty
  * task. Partitioned: a bounded MULTI-OPEN writer — up to [[MaxOpen]]
  * partition tuples hold an open file at once (LRU-evicted beyond
  * that), so the sorted-input case still stages one file per tuple per
  * task, and an input whose partition VALUES interleave under the
  * source-column sort (a bucket() transform destroys source order by
  * construction) reuses its tuples' open writers instead of rolling a
  * new file per consecutive change. An adversarial input (more live
  * tuples than MaxOpen, revisited round-robin) stays CORRECT — every
  * eviction-then-revisit just stages an extra file. */
class TxLogDataWriter(fac: TxLogWriterFactory, partitionId: Int, taskId: Long,
                      epoch: Option[Long]) extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** Concurrently open parquet writers per task. Each buffers up to a
    * row group in memory, so the cap bounds writer memory at MaxOpen
    * row groups — the same trade Spark's own
    * `maxConcurrentOutputFileWriters` makes. */
  private val MaxOpen = 16

  private def relFor(partDirs: Seq[String], seq: Int): String = {
    val e = epoch.map(x => s"e$x-").getOrElse("")
    val dirs = if (partDirs.isEmpty) "" else partDirs.mkString("", "/", "/")
    f"data/${fac.uuid}/${dirs}part-$e$partitionId%05d-$taskId-s$seq${fac.ext}"
  }

  /** Hive path segment for one partition field of the current row —
    * exactly the rendering Spark's own partitioned writer uses
    * (escapePathName + the default-partition token for null/empty), so
    * the driver-staged and executor-staged layouts are
    * indistinguishable to the manifest's pv parser. Transform fields
    * render their [[TxPart.Field.render]] value (always a plain
    * integer, identical to the driver staging SQL's output). */
  private def partDir(row: InternalRow, pf: TxPart.Field, i: Int): String = {
    import org.apache.spark.sql.types._
    val dt = fac.schema(i).dataType
    val raw: Any =
      if (row.isNullAt(i)) null
      else dt match {
        case StringType => row.getUTF8String(i)
        case ByteType => row.getByte(i)
        case ShortType => row.getShort(i)
        case IntegerType => row.getInt(i)
        case LongType => row.getLong(i)
        case BooleanType => row.getBoolean(i)
        case DateType => row.getInt(i)
        case TimestampType => row.getLong(i)
        case other => throw new IllegalStateException(
          s"unpartitionable type survived factory validation: ${pf.spec}: $other")
      }
    val rendered = if (raw == null) null else pf.render(raw, dt)
    val v =
      if (rendered == null || rendered.isEmpty)
        ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(rendered)
    s"__p_${pf.phys}=$v"
  }

  // created lazily on the first row of each tuple: empty partitions
  // write NO file, so the manifest never accumulates empty parquet
  // (the commitRewrite zero-row policy, enforced at the source here).
  // LinkedHashMap in ACCESS order = LRU eviction.
  private val open =
    new java.util.LinkedHashMap[String, (OutputWriter, String)](16, 0.75f, true)
  private var seq = 0
  private val staged = Seq.newBuilder[String]

  private def writerFor(dirs: Seq[String]): OutputWriter = {
    val key = dirs.mkString("/")
    val existing = open.get(key)
    if (existing != null) existing._1
    else {
      if (open.size >= MaxOpen) {
        val it = open.entrySet().iterator()
        val eldest = it.next().getValue
        eldest._1.close()
        staged += eldest._2
        it.remove()
      }
      val rel = relFor(dirs, seq)
      seq += 1
      val w = GraftParquetIO.newOutputWriter(fac.owf, fac.conf,
        new Path(new Path(fac.table), rel).toString, fac.schema,
        partitionId, taskId)
      open.put(key, (w, rel))
      w
    }
  }

  override def write(row0: InternalRow): Unit = {
    // generated columns transform FIRST (fill/validate or recompute) —
    // the checks, the partition rendering and the file all see the
    // final values; the projection reuses a buffer, consumed below
    val row = fac.gens match {
      case Some(g) => g(row0)
      case None => row0
    }
    var ni = 0
    while (ni < fac.nnIdx.length) {
      if (row.isNullAt(fac.nnIdx(ni))) throw new IllegalArgumentException(
        s"NOT NULL column ${fac.nnNames(ni)}: write contains a null row")
      ni += 1
    }
    var ci = 0
    while (ci < fac.checks.length) { fac.checks(ci).check(row); ci += 1 }
    val dirs =
      if (fac.pfields.isEmpty) Seq.empty
      else fac.pfields.zip(fac.pidx).map { case (pf, i) => partDir(row, pf, i) }
    writerFor(dirs).write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.forEach { case (w, rel) => w.close(); staged += rel }
    open.clear()
    TxLogCommitMessage(staged.result())
  }

  override def abort(): Unit = {
    val rels = Seq.newBuilder[String]
    open.values.forEach { case (w, rel) =>
      try w.close() catch { case _: Exception => () }
      rels += rel
    }
    open.clear()
    (staged.result() ++ rels.result()).foreach { r =>
      val p = new Path(new Path(fac.table), r)
      p.getFileSystem(fac.conf.value).delete(p, false)
    }
  }

  override def close(): Unit = ()
}

/** Wraps the staged-file writer of a grid-carrying COW rewrite
  * ([[TxLogWriterFactory.create]] `withGrid`): rows arriving WITH a
  * metadata row (carried and updated rows — ReplaceData projects the
  * scan's `_row_id` there) append their preserved id as the hidden
  * grid field; plain rows (merge inserts) append null and mint fresh
  * at commit ([[TxRowId]]). */
case class RowIdTaggingFactory(inner: TxLogWriterFactory, ridMetaOrd: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RowIdAppendingWriter(inner.createWriter(partitionId, taskId), ridMetaOrd)
}

class RowIdAppendingWriter(inner: DataWriter[InternalRow], ridMetaOrd: Int)
    extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
  private val tail = new GenericInternalRow(1)
  private val joined = new JoinedRow()
  override def write(row: InternalRow): Unit = {
    tail.setNullAt(0)
    inner.write(joined(row, tail))
  }
  override def write(meta: InternalRow, row: InternalRow): Unit = {
    if (meta.isNullAt(ridMetaOrd)) tail.setNullAt(0)
    else tail.setLong(0, meta.getLong(ridMetaOrd))
    inner.write(joined(row, tail))
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

// ----------------------------------------------------------------------
// row-level DML (group-based copy-on-write)
// ----------------------------------------------------------------------

/** One DELETE/UPDATE/MERGE statement. Spark's rewrite plans the
  * statement as ReplaceData over this operation's scan; the scan
  * records which files (groups) it read — narrowed by runtime `_file`
  * group filtering — and the write's commit atomically publishes
  * {removes = those files, files = the rewritten output} at exactly
  * the snapshot head the scan saw. A concurrent commit in between is a
  * serialization conflict (loud), never a lost update. */
class TxLogRowLevelOperation(table: String, tableSchema: StructType,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Set by the LAST planInputPartitions of the operation scan — after
    * runtime group filtering, that is exactly the executed read set,
    * which is the set of groups the rewrite replaces. */
  @volatile private[storage] var scannedFiles: Seq[String] = Seq.empty
  @volatile private[storage] var headAtScan: Long = -1L

  /** The ONE manifest listing all scans of this operation share — see
    * the snapshot-pinning note in [[TxLogScan]]. Listed lazily at the
    * first scan's construction, under a lock so the group-filter scan
    * and the ReplaceData scan can never race to two listings. */
  private var snapshot: Option[Seq[TxLog.Manifest]] = None
  private[storage] def pinnedSnapshot(spark: SparkSession,
                                      table: String): Seq[TxLog.Manifest] =
    synchronized {
      if (snapshot.isEmpty) snapshot = Some(TxLog.manifests(spark, table))
      snapshot.get
    }

  /** Pre-seed the pin from a listing the builder already made (one
    * listing serves the dml-mode dispatch AND the snapshot). */
  private[storage] def seedSnapshot(ms: Seq[TxLog.Manifest]): Unit =
    synchronized { if (snapshot.isEmpty) snapshot = Some(ms) }

  override def command: RowLevelOperation.Command = cmd

  /** False = group-based copy-on-write (rewrite whole touched files);
    * true ([[TxLogDeltaRowLevelOperation]]) = delta-based merge-on-read
    * (per-row deletes become deletion vectors). Consulted by the op
    * scan: group-based scans must not statically prune (NOT-cond
    * pushdown), delta scans prune like plain reads. */
  def deltaMode: Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxLogScanBuilder(SparkSession.active, table, tableSchema, op = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // the `_row_id` metadata attribute rides back through the
        // rewrite (ReplaceData hands it to the writer as the metadata
        // row — [[RowIdAppendingWriter]]), so carried AND updated rows
        // keep their ids through SQL COW DML exactly like the library
        // door ([[TxRowId]]); merge inserts arrive metadata-less and
        // mint fresh at commit
        val ridOrd = {
          val ms = info.metadataSchema()
          if (ms.isPresent && ms.get().fieldNames.contains(TxRowId.RowIdCol))
            ms.get().fieldIndex(TxRowId.RowIdCol)
          else -1
        }
        new TxLogReplaceWrite(table, info.schema(), TxLogRowLevelOperation.this,
          ridOrd)
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(TxLogV2.FileCol),
      Expressions.column(TxRowId.RowIdCol))

  override def description(): String = s"txlog $cmd $table"
}

/** DELTA-BASED row-level DML ([[SupportsDelta]]) — the merge-on-read
  * twin of [[TxLogRowLevelOperation]], chosen when the table sets
  * `graft.dml.mode=mergeOnRead`: Spark plans DELETE/UPDATE/MERGE as a
  * per-row delta addressed by (`_file`, `_pos`), the executors record
  * deleted positions (and stage ordinary data files for the
  * insert/post-image rows), and the commit publishes DELETION VECTORS
  * instead of rewritten files — the statement costs O(affected rows),
  * not O(touched file bytes), through the SQL door exactly as through
  * the library one. Updates arrive split as delete + reinsert
  * ([[representUpdateAsDeleteAndInsert]]), so one writer shape covers
  * all three commands. */
class TxLogDeltaRowLevelOperation(table: String, tableSchema: StructType,
                                  cmd: RowLevelOperation.Command)
    extends TxLogRowLevelOperation(table, tableSchema, cmd) with SupportsDelta {

  override def deltaMode: Boolean = true

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(TxLogV2.FileCol), Expressions.column(TxLogV2.PosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  // rowId addresses the delete side; `_row_id` rides as the one extra
  // metadata attribute so UPDATE/MERGE post-images can ADOPT the
  // scanned row's lineage id (Spark hands it to reinsert() per row) —
  // the SQL merge-on-read door then preserves ids exactly like the
  // library MoR update and the COW doors ([[TxRowId]])
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(TxRowId.RowIdCol))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val ridOrd = {
          val ms = info.metadataSchema()
          if (ms.isPresent && ms.get().fieldNames.contains(TxRowId.RowIdCol))
            ms.get().fieldIndex(TxRowId.RowIdCol)
          else -1
        }
        new TxLogDeltaWrite(table, info.schema(), TxLogDeltaRowLevelOperation.this,
          ridOrd)
      }
    }

  override def description(): String = s"txlog $cmd $table (merge-on-read)"
}

class TxLogDeltaWrite(table: String, rowSchema: StructType,
                      op: TxLogDeltaRowLevelOperation, ridMetaOrd: Int = -1)
    extends DeltaWrite with TxLogPartitionedWrite {
  /** Post-image/insert rows of a partitioned table must arrive
    * clustered + sorted on the partition columns or the rolling staged
    * writer opens a new file on every consecutive tuple change — a
    * broad MoR UPDATE over interleaved partitions would commit one
    * tiny file per switch, defeating O(affected rows). A pure DELETE
    * projects no data columns (rowSchema empty), so there is nothing
    * to cluster on — distribution stays unspecified (deletes buffer
    * per (file, positions) in any task, order-free). */
  private val pinnedCm =
    TxLog.colMapFrom(op.pinnedSnapshot(SparkSession.active, table))
  override protected def logicalOfPhysical(p: String): String =
    TxLog.logicalNameMap(pinnedCm).getOrElse(p, p)
  override protected val writePcols: Seq[String] = {
    // from the operation's PINNED snapshot — no extra manifest listing,
    // and the layout is the one the op scan saw. The row schema speaks
    // LOGICAL names; compare translated sources.
    val pcols = TxLog.partitionColsFrom(
      op.pinnedSnapshot(SparkSession.active, table))
    if (TxPart.sources(pcols).map(logicalOfPhysical)
        .forall(rowSchema.fieldNames.contains)) pcols
    else Seq.empty
  }

  override def toBatch: DeltaBatchWrite =
    new TxLogDeltaBatchWrite(table, rowSchema, op, ridMetaOrd)
}

/** The delta write: executors buffer deleted (file, pos) pairs and
  * stage insert rows as ordinary data files; the driver unions the
  * positions into cumulative deletion vectors ([[TxLog.mergeDvs]] —
  * fully-covered files are removed outright) and publishes ONE
  * manifest {dvs, files, removes} under the same serializable /
  * write-serializable contract as every other rewrite. Change capture
  * reads back exactly the newly-deleted positions (the op scan served
  * only live rows, so fresh positions are disjoint from existing DVs)
  * and the staged insert files. */
class TxLogDeltaBatchWrite(table: String, rowSchema: StructType,
                           op: TxLogDeltaRowLevelOperation,
                           ridMetaOrd: Int = -1) extends DeltaBatchWrite {
  private val spark = SparkSession.active
  private val uuid = UUID.randomUUID().toString
  // layout from the op's PINNED snapshot — one listing per statement
  private val pcols = TxLog.partitionColsFrom(op.pinnedSnapshot(spark, table))
  require(!rowSchema.fieldNames.contains(TxLogV2.FileCol) &&
    !rowSchema.fieldNames.contains(TxLogV2.PosCol),
    s"delta write row schema unexpectedly carries metadata columns: $rowSchema")

  // a pure DELETE has no data-row projection — no insert writer needed.
  // With a `_row_id` metadata ordinal the staged post-image files carry
  // the hidden grid column: reinsert rows store the scanned row's
  // ADOPTED id, merge-insert rows store null and mint fresh at read
  // (firstRowId + position — [[TxRowId]])
  private val innerFactory: Option[TxLogWriterFactory] =
    if (rowSchema.fields.isEmpty) None
    else Some(TxLogWriterFactory.create(spark, table, uuid, rowSchema, pcols,
      cmOverride = Some(TxLog.colMapFrom(op.pinnedSnapshot(spark, table))),
      // MoR insert rows are DML post-images — recompute, as in the
      // COW rewrite path
      genRecompute = true,
      withGrid = ridMetaOrd >= 0))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    TxLogDeltaWriterFactory(table,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      innerFactory, ridMetaOrd)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = op.pinnedSnapshot(spark, table)
    val rel = messages.flatMap { case m: TxLogDeltaCommitMessage => m.files }.toSeq.sorted
    // group per-task sidecar FRAGMENT references by data file — the
    // messages carry (file, staged sidecar path, cardinality) only,
    // never position bytes (executors staged the GDV1 files already)
    val perFile: Seq[(String, Seq[(String, Long)])] = messages
      .flatMap { case m: TxLogDeltaCommitMessage => m.dvs }
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSeq.sorted)
      .toSeq.sortBy(_._1)
    if (rel.isEmpty && perFile.isEmpty) return // matched nothing: clean no-op
    val (removes, entries) = TxLog.mergeDvRefs(spark, table, ms, perFile)
    val schemaDdl = TxLog.ddlOf(TxLog.tableSchemaFrom(ms).getOrElse(rowSchema))
    val stats = TxLog.collectStats(spark, table, rel, TxLog.propsFrom(ms),
      TxLog.colMapFrom(ms))
    TxLog.publishRewrite(spark, table, rel, stats, removes,
      expectedHead = op.headAtScan,
      writerId = s"sql-${op.command.toString.toLowerCase}-$uuid", batchId = 0L,
      schemaDdl = schemaDdl, readSet = op.scannedFiles, dvs = entries,
      captureOverride = Some(offs => stageDeltaChanges(
        perFile.map { case (r, frags) => r -> frags.map(_._1) }, rel, schemaDdl,
        offs)))
    ()
  }

  /** Change-feed capture: old = the rows at the freshly-deleted
    * positions (read back by row index from the touched files — each
    * executor decodes the fresh sidecar FRAGMENTS itself), new = the
    * staged insert/post-image rows. Both the touched data files and the
    * freshly staged inserts hold PHYSICAL column names (the writer
    * factory translates through the snapshot's column mapping), so both
    * reads go through the physical schema and project back to logical
    * AFTER the `_metadata` position filter — selecting first would drop
    * `_metadata` resolvability, and reading logical names that aren't
    * in the files would silently null every renamed column's images. */
  private def stageDeltaChanges(perFile: Seq[(String, Seq[String])],
                                rel: Seq[String], schemaDdl: String,
                                addedOffsets: Map[String, Long]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, udf}
    val snap = op.pinnedSnapshot(spark, table)
    val cm = TxLog.colMapFrom(snap)
    // initial defaults fill the capture's pre/post-images exactly like
    // the live read (physicalSchemaOf preserves the field metadata)
    val sch = TxLog.withDefaults(StructType.fromDDL(schemaDdl), cm,
      TxLog.propsFrom(snap))
    val physSch = TxLog.physicalSchemaOf(sch, cm)
    val gridField = org.apache.spark.sql.types.StructField(TxRowId.GridCol,
      org.apache.spark.sql.types.LongType, nullable = true)
    val physGrid = StructType(physSch.fields :+ gridField)
    def logicalGrid(df: org.apache.spark.sql.DataFrame) = {
      val lineageCols = col(TxRowId.GridCol) +:
        (if (df.columns.contains(TxRowId.GoffCol)) Seq(col(TxRowId.GoffCol))
         else Seq.empty)
      if (cm.isIdentity) df
      else df.select(sch.fields.toSeq.map(fd =>
        col(TxLog.quoted(TxLog.physicalName(cm, fd.name))).as(fd.name)) ++
        lineageCols: _*)
    }
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(sch.fields :+ gridField))
    val deleted =
      if (perFile.isEmpty) empty
      else {
        val tableStr = table
        val freshB = spark.sparkContext.broadcast(perFile.toMap)
        val confB = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        val hit = udf((f: String, pos: Long) => {
          val rel = TxDv.tailKey(f)
          freshB.value.get(rel).exists(_.exists(frag =>
            // cache keyed by the fragment's uuid-unique rel path
            TxDv.cachedDecode(frag,
              TxDv.readBytes(confB.value.value, tableStr, frag)).contains(pos)))
        })
        // d-side ids from the touched files' committed stats ([[TxRowId]])
        val stats = TxLog.liveStats(snap)
        val delRids: Map[String, Long] = perFile.flatMap { case (r, _) =>
          stats.get(r).filter(_.firstRowId >= 0L).map(r -> _.firstRowId) }.toMap
        val hitRows = TxLog.attachGrid(
            spark.read.schema(physGrid)
              .parquet(perFile.map(p => TxLog.absPath(table)(p._1)): _*),
            delRids)
          .withColumn("__gf", col("_metadata.file_path"))
          .withColumn("__gri", col("_metadata.row_index"))
          .where(hit(col("__gf"), col("__gri")))
          .drop("__gf", "__gri")
        logicalGrid(hitRows)
      }
    // i-side: reinsert rows carry their ADOPTED ids in the stored grid
    // ([[TxLogDeltaWriter]]); fresh merge inserts derive at read from
    // the publish allocation — the capture stores only the offset
    val inserted =
      if (rel.isEmpty) empty
      else logicalGrid(TxLog.attachGoff(
        spark.read.schema(physGrid).parquet(rel.map(TxLog.absPath(table)): _*),
        addedOffsets))
    TxLog.stageChangePair(spark, table, deleted, inserted,
      math.max(perFile.size, rel.size))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(table)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.foreach {
      case TxLogDeltaCommitMessage(files, dvs) =>
        files.foreach(r => f.delete(new Path(root, r), false))
        dvs.foreach { case (_, frag, _) => f.delete(new Path(root, frag), false) }
      case _ => ()
    }
  }
}

/** Per-task result: staged data files plus (data file, staged sidecar
  * FRAGMENT path, cardinality) triples — the task wrote its GDV1
  * fragments itself, so no position bytes ride through the message. */
final case class TxLogDeltaCommitMessage(files: Seq[String],
                                         dvs: Seq[(String, String, Long)])
    extends WriterCommitMessage

case class TxLogDeltaWriterFactory(table: String,
                                   conf: SerializableConfiguration,
                                   inner: Option[TxLogWriterFactory],
                                   ridMetaOrd: Int = -1)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new TxLogDeltaWriter(table, conf, inner, partitionId, taskId, ridMetaOrd)
}

/** Executor side: deletes buffer (rel file → positions) and flush as
  * GDV1 sidecar fragments at task commit; inserts roll through the
  * ordinary staged-parquet writer. The rowId row is
  * ([[TxLogV2.FileCol]] string, [[TxLogV2.PosCol]] long) in declared
  * order. */
class TxLogDeltaWriter(table: String, conf: SerializableConfiguration,
                       innerFactory: Option[TxLogWriterFactory],
                       partitionId: Int, taskId: Long, ridMetaOrd: Int = -1)
    extends DeltaWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}

  private val positions =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private var inner: DataWriter[InternalRow] = null
  // grid tail for withGrid post-image staging ([[RowIdAppendingWriter]]
  // shape): adopted id for reinserts, null for fresh merge inserts
  private val tail = new GenericInternalRow(1)
  private val joined = new JoinedRow()

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val rel = id.getUTF8String(0).toString
    positions.getOrElseUpdate(rel, scala.collection.mutable.ArrayBuffer.empty[Long]) +=
      id.getLong(1)
  }

  private def writeRow(row: InternalRow): Unit = {
    if (inner == null)
      inner = innerFactory.getOrElse(throw new IllegalStateException(
        "delta write received an insert row but has no data-row schema")).
        createWriter(partitionId, taskId)
    inner.write(row)
  }

  override def insert(row: InternalRow): Unit =
    if (ridMetaOrd < 0) writeRow(row)
    else { tail.setNullAt(0); writeRow(joined(row, tail)) }

  /** An UPDATE/MERGE post-image ADOPTS the scanned row's `_row_id`
    * (the metadata row carries it — [[TxLogDeltaRowLevelOperation
    * .requiredMetadataAttributes]]): the retract/add pair then shares
    * one id through the SQL merge-on-read door, like every other
    * UPDATE door ([[TxRowId]]). */
  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    if (ridMetaOrd < 0) writeRow(row)
    else {
      if (metadata.isNullAt(ridMetaOrd)) tail.setNullAt(0)
      else tail.setLong(0, metadata.getLong(ridMetaOrd))
      writeRow(joined(row, tail))
    }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+reinsert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val files = if (inner == null) Seq.empty[String]
      else inner.commit() match { case TxLogCommitMessage(fs) => fs }
    val dvs = positions.toSeq.map { case (rel, buf) =>
      val dv = TxDv.fromPositions(buf.toArray)
      (rel, TxDv.writeWithConf(conf.value, table, dv), dv.cardinality)
    }
    TxLogDeltaCommitMessage(files, dvs)
  }

  override def abort(): Unit = if (inner != null) inner.abort()

  override def close(): Unit = if (inner != null) inner.close()
}

class TxLogReplaceWrite(table: String, writeSchema: StructType,
                        op: TxLogRowLevelOperation, ridMetaOrd: Int = -1)
    extends Write with TxLogPartitionedWrite {
  // a DML rewrite of a partitioned table restages clustered by the
  // partition columns — copy-on-write keeps the one-tuple-per-file
  // layout (the stagePartitioned contract, through the V2 door)
  override protected val writePcols: Seq[String] =
    TxLog.partitionColumns(SparkSession.active, table)
  private val rev = TxLog.logicalNameMap(
    TxLog.colMapFrom(op.pinnedSnapshot(SparkSession.active, table)))
  override protected def logicalOfPhysical(p: String): String = rev.getOrElse(p, p)

  override def toBatch: BatchWrite =
    new TxLogReplaceBatchWrite(table, writeSchema, op, writePcols, ridMetaOrd)
}

class TxLogReplaceBatchWrite(table: String, writeSchema: StructType,
                             op: TxLogRowLevelOperation,
                             pcols: Seq[String],
                             ridMetaOrd: Int = -1) extends BatchWrite {
  private val spark = SparkSession.active
  private val uuid = UUID.randomUUID().toString
  require(!writeSchema.fieldNames.contains(TxLogV2.FileCol),
    s"row-level write schema unexpectedly carries ${TxLogV2.FileCol}: $writeSchema")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val inner = TxLogWriterFactory.create(spark, table, uuid, writeSchema, pcols,
      cmOverride = Some(TxLog.colMapFrom(op.pinnedSnapshot(spark, table))),
      // COW rewrite rows are DML post-images: an UPDATE to a source
      // column regenerates the derived value instead of refusing on
      // the stale one (kept rows recompute to their stored values)
      genRecompute = true,
      withGrid = ridMetaOrd >= 0)
    if (ridMetaOrd < 0) inner
    else RowIdTaggingFactory(inner, ridMetaOrd)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rel = messages.flatMap { case m: TxLogCommitMessage => m.files }.toSeq.sorted
    val removes = op.scannedFiles
    if (rel.isEmpty && removes.isEmpty) return // matched nothing: clean no-op
    val msC = op.pinnedSnapshot(spark, table)
    val stats = TxLog.collectStats(spark, table, rel, TxLog.propsFrom(msC),
      TxLog.colMapFrom(msC))
    val r = TxLog.publishRewrite(spark, table, rel, stats, removes,
      expectedHead = op.headAtScan,
      writerId = s"sql-${op.command.toString.toLowerCase}-$uuid", batchId = 0L,
      schemaDdl = TxLog.ddlOf(writeSchema))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxLogWriterFactory.deleteStaged(spark, table, messages)
}
