package graft.storage

import java.util.{Collections => JCollections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Spark `TableCatalog` over a warehouse of [[TxLog]] tables — the
  * NAMED front door to the storage layer:
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.storage.GraftCatalog
  *   spark.sql.catalog.graft.warehouse  = /data/warehouse
  *
  *   CREATE NAMESPACE graft.prod
  *   CREATE TABLE graft.prod.events (id BIGINT, region STRING, v STRING)
  *     USING txlog PARTITIONED BY (region)
  *     TBLPROPERTIES ('graft.changeFeed' = 'true')
  *   INSERT INTO graft.prod.events ...           -- one transaction
  *   DELETE FROM graft.prod.events WHERE ...     -- native row-level DML
  *   SELECT * FROM graft.prod.events VERSION AS OF 3      -- time travel
  *   SELECT * FROM graft.prod.events TIMESTAMP AS OF '2026-08-14 12:00:00'
  *   ALTER TABLE graft.prod.events ADD COLUMN score DOUBLE
  *   CALL graft.system.optimize(table => 'prod.events')   -- maintenance
  * }}}
  *
  * Layout: one directory per namespace level under the warehouse, one
  * directory per table inside its namespace; a directory IS a table
  * iff it contains a `_txlog` log. All tables are MANAGED — the table
  * is its directory, DROP deletes it; external `location`s are
  * rejected (point `format("txlog").load(path)` at foreign paths
  * instead). Namespace properties live in a `_namespace` sidecar of
  * `key=value` lines.
  *
  * Catalog metadata ops are O(1) directory probes + one manifest-log
  * listing — no directory walks over data; at 100 TB the catalog cost
  * is the log read, same as every other txlog entry point.
  *
  * Time travel: `VERSION AS OF v` resolves through
  * `loadTable(ident, version)` to the same pinned [[TxLogTable]] the
  * `versionAsOf` reader option builds (read-only, schema-as-of);
  * `TIMESTAMP AS OF t` arrives as epoch MICROS and resolves through
  * [[TxLog.versionAtTimestamp]]'s monotonized rule — catalog reads and
  * option reads can never disagree.
  *
  * The `system` namespace is RESERVED for maintenance procedures
  * ([[GraftProcedures]]); a table namespace of that name is rejected
  * at create. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with FunctionCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark = SparkSession.active
  private def fs: FileSystem =
    warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must point at the warehouse directory")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  /** Declares SQL `DEFAULT` support (CREATE TABLE (c INT DEFAULT 5),
    * ALTER TABLE ADD COLUMN ... DEFAULT) and `GENERATED ALWAYS AS
    * (expr)` — without these Spark's parser rejects the clauses for
    * this catalog's tables. Initial-default READ semantics live in
    * [[TxLog.DefaultPropPrefix]]; generated-column write semantics in
    * [[TxGen]] (Spark itself validates the declared expressions at
    * CREATE under this capability). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)
  override def defaultNamespace(): Array[String] = Array("default")

  // ------------------------------------------------------------------
  // path mapping
  // ------------------------------------------------------------------

  /** Path-segment guard: catalog identifiers become directory names, so
    * a segment that could escape the warehouse (`..`, separators) or
    * collide with engine files (`_txlog`, `_namespace`, leading `_`/`.`)
    * is rejected before it touches the filesystem. */
  private def segment(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != ".." && !part.startsWith("_") && !part.startsWith("."),
      s"illegal catalog identifier segment '$part'")
    part
  }

  private def nsDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, seg) => new Path(p, segment(seg)))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), segment(ident.name))

  private def isTable(dir: Path): Boolean = fs.exists(new Path(dir, TxLog.LogDir))
  private def nsPropsFile(dir: Path): Path = new Path(dir, "_namespace")

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  // ------------------------------------------------------------------
  // SQL views ([[GraftViews]]) — ViewCatalog over per-namespace JSON
  // documents; CREATE/DROP/SHOW and reference resolution are planned
  // by [[graft.plans.GraftViewRules]] (OSS Spark parses the commands
  // but ships no V2 view exec)
  // ------------------------------------------------------------------

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.read(spark, nsDir(ident.namespace), segment(ident.name)).isDefined

  override def loadView(ident: Identifier): View =
    GraftViews.read(spark, nsDir(ident.namespace), segment(ident.name))
      .map(GraftView(ident, _))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    require(!tableExists(ident),
      s"cannot CREATE VIEW $ident: a TABLE with that name exists")
    val stored = GraftViews.Stored(info.sql, info.currentCatalog,
      info.currentNamespace.toSeq, TxLog.ddlOf(info.schema),
      info.queryColumnNames.toSeq, info.columnAliases.toSeq,
      info.columnComments.toSeq.map(c => if (c == null) "" else c),
      info.properties.asScala.toMap)
    if (!GraftViews.write(spark, nsDir(ident.namespace), segment(ident.name),
        stored, replace = false))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    GraftView(ident, stored)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    if (!orCreate && !viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    require(!tableExists(ident),
      s"cannot REPLACE VIEW $ident: a TABLE with that name exists")
    val stored = GraftViews.Stored(info.sql, info.currentCatalog,
      info.currentNamespace.toSeq, TxLog.ddlOf(info.schema),
      info.queryColumnNames.toSeq, info.columnAliases.toSeq,
      info.columnComments.toSeq.map(c => if (c == null) "" else c),
      info.properties.asScala.toMap)
    GraftViews.write(spark, nsDir(ident.namespace), segment(ident.name),
      stored, replace = true)
    GraftView(ident, stored)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val cur = GraftViews.read(spark, nsDir(ident.namespace), segment(ident.name))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val props = changes.foldLeft(cur.properties) {
      case (p, s: ViewChange.SetProperty) => p + (s.property -> s.value)
      case (p, r: ViewChange.RemoveProperty) => p - r.property
      case (_, other) => throw new UnsupportedOperationException(
        s"ALTER VIEW change $other is not supported")
    }
    val next = cur.copy(properties = props)
    GraftViews.write(spark, nsDir(ident.namespace), segment(ident.name),
      next, replace = true)
    GraftView(ident, next)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.delete(spark, nsDir(ident.namespace), segment(ident.name))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val cur = GraftViews.read(spark, nsDir(from.namespace), segment(from.name))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(from))
    if (viewExists(to) || tableExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    GraftViews.write(spark, nsDir(to.namespace), segment(to.name), cur,
      replace = false)
    GraftViews.delete(spark, nsDir(from.namespace), segment(from.name))
    ()
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    GraftViews.list(spark, nsDir(ns))
      .map(n => Identifier.of(ns, n)).toArray
  }

  // ------------------------------------------------------------------
  // tables
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(st => st.isDirectory && isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName)).sortBy(_.name)
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    TxLogTable(dir.toString, None)
  }

  /** `VERSION AS OF` — the pinned read-only relation. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // a numeric version or a NAMED TAG (r16, [[TxLog.tag]]) — SQL
    // `VERSION AS OF 'nightly-cut'` reads the pinned snapshot by name
    val v = TxLog.resolveVersionRef(spark, dir.toString, version)
    TxLogTable(dir.toString, None, asOf = Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark hands epoch MICROS; resolved through the
    * same monotonized rule as the `timestampAsOf` reader option. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = TxLog.versionAtTimestamp(TxLog.manifests(spark, dir.toString),
      Math.floorDiv(timestampMicros, 1000L), dir.toString)
    TxLogTable(dir.toString, None, asOf = Some(v))
  }

  /** Shared CREATE/REPLACE validation: reserved namespace, namespace
    * existence (the default one materializes on first use), identity
    * partition columns, provider/location guards, Spark-internal
    * property filtering. */
  private def parseSpec(ident: Identifier, partitions: Array[Transform],
                        properties: JMap[String, String])
      : (Path, Seq[String], Map[String, String]) = {
    require(!ident.namespace.headOption.contains("system"),
      "the 'system' namespace is reserved for maintenance procedures")
    val dir = tableDir(ident)
    if (!namespaceExists(ident.namespace)) {
      // the default namespace materializes on first use (no ceremony
      // for `USE graft; CREATE TABLE t ...`); others must be created
      if (ident.namespace.sameElements(defaultNamespace())) fs.mkdirs(nsDir(ident.namespace))
      else throw new NoSuchNamespaceException(ident.namespace)
    }
    // identity columns plus the days/months/years/hours/bucket
    // transforms ([[TxPart]] — `PARTITIONED BY (days(ts), bucket(32,
    // k))` lays out and PRUNES natively); anything else is loud
    val pcols = partitions.map(TxPart.fromV2Transform).toSeq
    val props = properties.asScala.toMap
    props.get(TableCatalog.PROP_PROVIDER).foreach(p => require(
      p.equalsIgnoreCase("txlog"),
      s"catalog $catalogName manages txlog tables; USING $p is not supported"))
    require(!props.contains(TableCatalog.PROP_LOCATION) &&
      !props.contains(TableCatalog.PROP_EXTERNAL),
      s"catalog $catalogName tables are MANAGED (the table is its warehouse " +
        "directory); read external paths via format(\"txlog\").load(path)")
    val userProps = props -- Seq(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_IS_MANAGED_LOCATION)
    (dir, pcols, userProps)
  }

  /** CREATE TABLE (c INT DEFAULT 5): Spark encodes the defaults as
    * EXISTS_DEFAULT/CURRENT_DEFAULT field metadata — extract them into
    * the initial-default properties (physical == logical at create,
    * canonicalized literal) so the v0 manifest carries schema and
    * defaults as one transaction; ddlOf strips the metadata itself. */
  private def defaultProps(dir: Path, schema: StructType): Map[String, String] =
    schema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("EXISTS_DEFAULT")) None
      else Some(TxLog.DefaultPropPrefix + f.name ->
        TxLog.renderDefaultLiteral(spark, dir.toString, f.name, f.dataType,
          f.metadata.getString("EXISTS_DEFAULT")))
    }.toMap

  /** `GENERATED ALWAYS AS (expr)` columns arrive from Spark's parser as
    * generation-expression field metadata (validated by Spark under the
    * declared capability) — extract them into the physical-keyed
    * [[TxGen.Prefix]] properties (at CREATE, physical == logical). */
  private def genProps(schema: StructType): Map[String, String] =
    schema.fields.toSeq.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(e => TxGen.Prefix + f.name -> e)
    }.toMap

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Map.empty)

  /** The V2 `Column[]` door Spark actually calls for SQL CREATE: the
    * generation expressions live on the COLUMNS (the StructType
    * conversion drops them), so extract here and delegate. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val schema = org.apache.spark.sql.connector.catalog.GraftV2Columns
      .toStructType(columns)
    createTableImpl(ident, schema, partitions, properties,
      genPropsOf(columns))
  }

  private def genPropsOf(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : Map[String, String] =
    columns.toSeq.flatMap(c => Option(c.generationExpression())
      .map(e => TxGen.Prefix + c.name -> e)).toMap

  private def createTableImpl(ident: Identifier, schema: StructType,
                              partitions: Array[Transform],
                              properties: JMap[String, String],
                              gens: Map[String, String]): Table = {
    val (dir, pcols, userProps) = parseSpec(ident, partitions, properties)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    require(!viewExists(ident),
      s"cannot CREATE TABLE $ident: a VIEW with that name exists")
    TxLog.createTable(spark, dir.toString, schema, pcols,
      userProps ++ defaultProps(dir, schema) ++ genProps(schema) ++ gens)
    TxLogTable(dir.toString, Some(schema))
  }

  // ------------------------------------------------------------------
  // staging: atomic CTAS / RTAS / CREATE OR REPLACE
  // ------------------------------------------------------------------

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, allowExisting = false, requireExisting = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, allowExisting = true, requireExisting = true)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, allowExisting = true, requireExisting = false)

  /** One implementation for all three stage entry points. CREATE
    * stages data files under the (not-yet-existing) table directory —
    * invisible until the single put-if-absent v0 manifest names them —
    * and REPLACE publishes one atomic overwrite checkpoint carrying
    * the NEW schema/partitioning/properties, so in both shapes the
    * query's data and the DDL are one transaction: a failed write
    * leaves the old table byte-identical (REPLACE) or no table at all
    * (CREATE), never a dropped-then-empty window. */
  private def staged(ident: Identifier, info: TableInfo,
                     allowExisting: Boolean, requireExisting: Boolean): StagedTable = {
    val (dir, pcols, userProps) = parseSpec(ident, info.partitions, info.properties)
    val exists = isTable(dir)
    if (!allowExisting && exists) throw new TableAlreadyExistsException(ident)
    if (requireExisting && !exists) throw new NoSuchTableException(ident)
    if (exists && pcols.isEmpty &&
        TxLog.partitionColumns(spark, dir.toString).nonEmpty)
      throw new UnsupportedOperationException(
        s"REPLACE cannot drop $ident's partitioning (the layout record is " +
          "newest-wins) — DROP and re-CREATE to unpartition")
    TxCheck.validateDeclared(spark, info.schema, TxCheck.checksIn(userProps))
    val allProps = userProps ++ defaultProps(dir, info.schema) ++
      genProps(info.schema) ++ genPropsOf(info.columns())
    TxGen.validateDeclared(spark, info.schema,
      TxLog.ColMap(Seq.empty, Seq.empty), allProps)
    new GraftStagedTable(spark, ident, dir, info.schema, pcols,
      allProps, replaceExisting = exists)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val t = dir.toString
    val sets = changes.collect { case s: TableChange.SetProperty => s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty => r.property }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val widens = changes.collect { case u: TableChange.UpdateColumnType => u }
    val unsupported = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty |
           _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.UpdateColumnType => false
      case _ => true
    }
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"unsupported ALTER on txlog table $ident: ${unsupported.mkString(", ")} — " +
          "supported: ADD COLUMN (top-level, nullable), RENAME COLUMN, " +
          "DROP COLUMN, ALTER COLUMN TYPE (lossless widenings), " +
          "SET/UNSET TBLPROPERTIES")
    // VALIDATE the whole change set up front against the current
    // snapshot, simulating the sequence on a local schema copy — an
    // ALTER must fully apply or fully fail, never stop mid-sequence
    // with half its changes committed. The per-transaction guards in
    // TxLog remain the authoritative (concurrency-safe) backstop; this
    // pass catches every statically-decidable refusal first.
    // Target columns resolve CASE-INSENSITIVELY (Spark's analyzer
    // default — and the same rule the minting/collision checks below
    // already follow); the RESOLVED stored spellings feed the
    // executors, which match exactly.
    val renamesR = scala.collection.mutable.Buffer[(String, String)]()
    val dropsR = scala.collection.mutable.Buffer[String]()
    val widensR = scala.collection.mutable.Buffer[(String, org.apache.spark.sql.types.DataType)]()
    if (renames.nonEmpty || drops.nonEmpty || adds.nonEmpty || widens.nonEmpty) {
      var sim = TxLog.tableSchema(spark, t).getOrElse(
        throw new IllegalStateException(s"table $t has no recorded schema"))
      val psrc = TxPart.sources(TxLog.partitionColumns(spark, t))
      val cm = TxLog.colMapOf(spark, t)
      // track each simulated column back to its PRE-ALTER logical name,
      // so partition-source checks resolve through renames applied
      // earlier in the same change set (rename k->id, widen id: the
      // physical lookup must still see k)
      var orig: Map[String, String] = sim.fieldNames.map(n => n -> n).toMap
      def physOf(n: String): String =
        TxLog.physicalName(cm, orig.getOrElse(n, n))
      def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
      def existing(kind: String, n: Seq[String]): String = {
        require(n.length == 1,
          s"$kind on nested field ${n.mkString(".")} is not supported")
        sim.fieldNames.find(_.equalsIgnoreCase(n.head)).getOrElse(
          throw new IllegalArgumentException(
            s"$kind: column ${n.head} not in ${sim.fieldNames.toSeq}"))
      }
      renames.foreach { r =>
        val from = existing("RENAME COLUMN", r.fieldNames.toSeq)
        require(!sim.fieldNames.exists(x =>
          x != from && lower(x) == lower(r.newName)),
          s"RENAME COLUMN: ${r.newName} already exists")
        renamesR += ((from, r.newName))
        orig = (orig - from) + (r.newName -> orig.getOrElse(from, from))
        sim = StructType(sim.fields.map(f =>
          if (f.name == from) f.copy(name = r.newName) else f))
      }
      drops.foreach { d =>
        val n = existing("DROP COLUMN", d.fieldNames.toSeq)
        require(sim.fields.length > 1, s"DROP COLUMN: $n is the table's last column")
        require(!psrc.contains(physOf(n)),
          s"DROP COLUMN: $n is a partition source column")
        dropsR += n
        sim = StructType(sim.fields.filterNot(_.name == n))
      }
      widens.foreach { u =>
        val n = existing("ALTER COLUMN TYPE", u.fieldNames.toSeq)
        val from = sim(n).dataType
        require(TxLog.isWidening(from, u.newDataType),
          s"ALTER COLUMN TYPE: ${from.simpleString} -> " +
            s"${u.newDataType.simpleString} on $n is not a supported lossless " +
            "widening")
        require(!psrc.contains(physOf(n)),
          s"ALTER COLUMN TYPE: $n is a partition source column")
        widensR += ((n, u.newDataType))
        sim = StructType(sim.fields.map(f =>
          if (f.name == n) f.copy(dataType = u.newDataType) else f))
      }
      adds.foreach { a =>
        require(a.fieldNames.length == 1,
          s"ADD COLUMN on nested field ${a.fieldNames.mkString(".")} is not supported")
        require(a.isNullable || a.defaultValue() != null,
          s"ADD COLUMN ${a.fieldNames.head} must be nullable: existing rows " +
            "backfill null — declare a DEFAULT to add it NOT NULL")
        require(a.position == null,
          "ADD COLUMN ... FIRST/AFTER is not supported: evolved columns APPEND")
        require(!sim.fieldNames.exists(x => lower(x) == lower(a.fieldNames.head)),
          s"ADD COLUMN: ${a.fieldNames.head} already exists")
        // a DEFAULT must validate BEFORE any change of the set applies
        // (the all-or-nothing contract): constant, non-null, castable
        if (a.defaultValue() != null) {
          require(a.defaultValue().getSql != null,
            s"ADD COLUMN ${a.fieldNames.head}: expression-only DEFAULT is " +
              "not supported — declare it as SQL text")
          TxLog.renderDefaultLiteral(spark, t, a.fieldNames.head,
            a.dataType, a.defaultValue().getSql)
        }
        sim = StructType(sim.fields :+
          StructField(a.fieldNames.head, a.dataType, nullable = a.isNullable))
      }
      // the FINAL schema must still satisfy the table's declared
      // contracts (CHECK constraints bind by name; bloom columns must
      // keep their on-disk names and types)
      val props = TxLog.properties(spark, t)
      TxCheck.validateDeclared(spark, sim, TxCheck.checksIn(props))
      val blooms = TxBloom.colsFrom(props)
      val gone = blooms -- sim.fieldNames.toSet
      require(gone.isEmpty,
        s"ALTER touches bloom-filtered column(s) ${gone.mkString(", ")} — " +
          s"unset ${TxBloom.BloomColsProp} first, re-set it after")
    }
    // RENAME/DROP/WIDEN COLUMN: metadata-only transactions through the
    // column mapping ([[TxLog.renameColumn]]/[[TxLog.dropColumn]]/
    // [[TxLog.widenColumnType]]) — zero data bytes move at any table size
    renamesR.foreach { case (from, to) => TxLog.renameColumn(spark, t, from, to) }
    dropsR.foreach(n => TxLog.dropColumn(spark, t, n))
    widensR.foreach { case (n, dt) => TxLog.widenColumnType(spark, t, n, dt) }
    if (adds.nonEmpty) {
      // defaulted columns commit one-at-a-time (each default rides
      // atomically in its own evolve manifest); plain adds fold into
      // one evolve transaction as before
      val (defaulted, plain) = adds.partition(_.defaultValue() != null)
      if (plain.nonEmpty) {
        val current = TxLog.tableSchema(spark, t).getOrElse(
          throw new IllegalStateException(s"table $t has no recorded schema"))
        val newFields = plain.map(a =>
          StructField(a.fieldNames.head, a.dataType, nullable = true))
        TxLog.evolveSchema(spark, t, StructType(current.fields ++ newFields))
      }
      defaulted.foreach(a => TxLog.addColumnWithDefault(spark, t,
        a.fieldNames.head, a.dataType, a.defaultValue().getSql,
        nullable = a.isNullable))
    }
    if (sets.nonEmpty) TxLog.setProperties(spark, t, sets.toMap)
    if (removes.nonEmpty) TxLog.removeProperties(spark, t, removes)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else fs.delete(dir, true)
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    // manifests name data files RELATIVE to the table root, so a rename
    // is one metadata move — no path rewrite, any size
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ------------------------------------------------------------------
  // namespaces
  // ------------------------------------------------------------------

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val dir = nsDir(namespace)
    fs.exists(dir) && fs.getFileStatus(dir).isDirectory && !isTable(dir)
  }

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir)
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") && !isTable(st.getPath))
      .map(st => namespace :+ st.getPath.getName).sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    val stored =
      if (namespace.isEmpty || !fs.exists(nsPropsFile(dir))) Map.empty[String, String]
      else readProps(nsPropsFile(dir))
    (stored + (SupportsNamespaces.PROP_LOCATION -> dir.toString)).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    require(namespace.nonEmpty, "cannot create the root namespace")
    require(namespace.head != "system",
      "the 'system' namespace is reserved for maintenance procedures")
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    val dir = nsDir(namespace)
    fs.mkdirs(dir)
    val props = metadata.asScala.toMap - SupportsNamespaces.PROP_OWNER
    require(!props.contains(SupportsNamespaces.PROP_LOCATION),
      s"catalog $catalogName namespaces are warehouse directories; LOCATION " +
        "is not supported")
    if (props.nonEmpty) writeProps(nsPropsFile(dir), props)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    require(namespace.nonEmpty, "cannot alter the root namespace")
    val f = nsPropsFile(nsDir(namespace))
    val current = if (fs.exists(f)) readProps(f) else Map.empty[String, String]
    val updated = changes.foldLeft(current) {
      case (m, s: NamespaceChange.SetProperty) => m + (s.property -> s.value)
      case (m, r: NamespaceChange.RemoveProperty) => m - r.property
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported namespace change: $other")
    }
    writeProps(f, updated)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.nonEmpty, "cannot drop the root namespace")
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && (listTables(namespace).nonEmpty || listNamespaces(namespace).nonEmpty))
      throw NonEmptyNamespaceException(namespace, "drop without CASCADE", None)
    fs.delete(nsDir(namespace), true)
  }

  // namespace props: one k=v line each, manifest-style quoting is
  // overkill here — keys/values are catalog property strings; newlines
  // in either are rejected at write
  private def writeProps(f: Path, props: Map[String, String]): Unit = {
    props.foreach { case (k, v) =>
      require(!k.contains("\n") && !v.contains("\n"),
        s"namespace property with newline: $k")
    }
    val out = fs.create(f, true)
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readProps(f: Path): Map[String, String] = {
    val in = fs.open(f)
    val text = try {
      val b = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { b.write(buf, 0, n); n = in.read(buf) }
      new String(b.toByteArray, "UTF-8")
    } finally in.close()
    text.split('\n').filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed namespace property line: $line")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap
  }

  // ------------------------------------------------------------------
  // procedures (CALL graft.system.<proc>)
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // functions: the partition-transform functions Spark resolves for
  // storage-partitioned joins (V2ExpressionUtils loads `bucket` from
  // the table's catalog to prove two scans co-partitioned)
  // ------------------------------------------------------------------

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftFunctions.BucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got: $ident")
    GraftProcedures.byName.getOrElse(ident.name.toLowerCase,
      throw new UnsupportedOperationException(
        s"unknown procedure $ident — available: " +
          GraftProcedures.byName.keys.toSeq.sorted.mkString(", ")))
      .apply(this)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else GraftProcedures.byName.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  /** Resolve a procedure's `table` argument: a path when it contains a
    * separator, otherwise a (possibly namespace-qualified) identifier
    * in THIS catalog. */
  private[storage] def resolveTableArg(raw: String): String =
    if (raw.contains("/")) raw
    else {
      val parts = raw.split('.')
      val ident =
        if (parts.length == 1) Identifier.of(defaultNamespace(), parts.head)
        else Identifier.of(parts.init, parts.last)
      val dir = tableDir(ident)
      if (!isTable(dir)) throw new NoSuchTableException(ident)
      dir.toString
    }
}

/** The staged half of an atomic CTAS / RTAS / CREATE OR REPLACE.
  *
  * Nothing this table stages is visible until ONE manifest put: the
  * v0 create manifest (CREATE — the directory holds staged parquet but
  * no `_txlog`, so it is not yet a table) or the overwrite checkpoint
  * (REPLACE — old snapshot intact for pinned readers and time travel).
  * `commitStagedChanges` publishes the empty form when no write ran
  * (plain `CREATE OR REPLACE TABLE` without AS SELECT);
  * `abortStagedChanges` sweeps a never-created directory and leaves a
  * REPLACE's staged orphans to vacuum. */
private[storage] class GraftStagedTable(spark: SparkSession, ident: Identifier,
                                        dir: Path, tableSchema: StructType,
                                        pcols: Seq[String],
                                        props: Map[String, String],
                                        replaceExisting: Boolean)
    extends StagedTable with SupportsWrite {

  @volatile private var written = false

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = TxPart.toV2Transforms(pcols)
  override def properties(): JMap[String, String] = props.asJava
  override def capabilities(): java.util.Set[TableCapability] = {
    import TableCapability._
    java.util.EnumSet.of(BATCH_WRITE, TRUNCATE)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      // the staged write IS whole-table by construction — truncate is
      // the same write
      override def truncate(): WriteBuilder = this
      override def build(): Write = new StagedWrite(info.schema())
    }

  private class StagedWrite(writeSchema: StructType)
      extends Write with TxLogPartitionedWrite {
    override protected val writePcols: Seq[String] = pcols
    override def toBatch: BatchWrite = new StagedBatchWrite(writeSchema)
  }

  private class StagedBatchWrite(writeSchema: StructType) extends BatchWrite {
    private val uuid = java.util.UUID.randomUUID().toString

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      TxLogWriterFactory.create(spark, dir.toString, uuid, writeSchema,
        pcols, propsOverride = Some(props))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val rel = messages.flatMap { case m: TxLogCommitMessage => m.files }.toSeq.sorted
      // the declared props ride in directly: a CTAS declaring
      // graft.stats.ndv.cols collects sketches for its initial data,
      // before any manifest exists (mapping is identity at birth)
      val stats = TxLog.collectStats(spark, dir.toString, rel, props,
        TxLog.ColMap(Seq.empty, Seq.empty))
      publish(rel, stats, writeSchema)
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      TxLogWriterFactory.deleteStaged(spark, dir.toString, messages)
  }

  private def publish(rel: Seq[String], stats: Seq[TxStats.FileStats],
                      schema: StructType): Unit = {
    if (replaceExisting)
      TxLog.overwriteStaged(spark, dir.toString, rel, stats, TxLog.ddlOf(schema),
        pcolsOverride = Some(pcols), propsOverride = Some(props))
    else
      TxLog.publishV0(spark, dir.toString, rel, stats, schema, pcols, props)
    written = true
  }

  override def commitStagedChanges(): Unit =
    if (!written) publish(Seq.empty, Seq.empty, tableSchema)

  override def abortStagedChanges(): Unit = {
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!replaceExisting && !f.exists(new Path(dir, TxLog.LogDir))) {
      // never became a table: sweep the staging litter. Spark calls
      // abort while cancelled TASKS may still be flushing committer
      // temp files (kills are async), so one sweep can lose the race
      // and leave a recreated directory — re-sweep briefly until it
      // sticks; whatever outlives the window is vacuum's job.
      var tries = 0
      while (f.exists(dir) && tries < 10) {
        f.delete(dir, true)
        tries += 1
        if (f.exists(dir)) Thread.sleep(100L)
      }
    }
  }
}

/** Maintenance procedures for Spark's `CALL` statement — each wraps the
  * corresponding [[TxLog]] command and returns its outcome as rows.
  * Deterministic = false throughout: they commit transactions. */
object GraftProcedures {

  type Factory = GraftCatalog => UnboundProcedure

  val byName: Map[String, Factory] = Map(
    "optimize" -> (c => proc(c, "optimize",
      "bin-pack the live file set into ~target_bytes files; incremental => true " +
        "packs ONLY sub-target and DV'd files (O(small bytes), the 100 TB loop)",
      Seq(p("table", StringType), p("target_bytes", LongType, Some("134217728")),
        p("incremental", org.apache.spark.sql.types.BooleanType, Some("false"))),
      StructType(Seq(StructField("version", LongType))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(
          if (in.getBoolean(2)) TxLog.compactSmall(SparkSession.active, t, in.getLong(1))
          else TxLog.compact(SparkSession.active, t, in.getLong(1)))
      })),
    "zorder" -> (c => proc(c, "zorder",
      "re-lay out the table Z-ordered on two dimensions (atomic checkpoint)",
      Seq(p("table", StringType), p("dim_a", StringType), p("dim_b", StringType),
        p("target_files", IntegerType), p("bits", IntegerType, Some("8"))),
      StructType(Seq(StructField("version", LongType))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(TxLog.cluster(SparkSession.active, t, str(in, 1), str(in, 2),
          in.getInt(3), in.getInt(4)))
      })),
    "cluster_by" -> (c => proc(c, "cluster_by",
      "re-lay out the table range-clustered + sorted on the given columns",
      Seq(p("table", StringType), p("columns", StringType),
        p("target_files", IntegerType)),
      StructType(Seq(StructField("version", LongType))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        rows1(TxLog.clusterBy(SparkSession.active, t, cols, in.getInt(2)))
      })),
    "vacuum" -> (c => proc(c, "vacuum",
      "delete unreferenced data files and truncate the log below the newest checkpoint",
      Seq(p("table", StringType), p("min_age_ms", LongType, Some("86400000"))),
      StructType(Seq(StructField("deleted", IntegerType))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        Array[InternalRow](new GenericInternalRow(Array[Any](
          TxLog.vacuum(SparkSession.active, t, in.getLong(1)))))
      })),
    "restore" -> (c => proc(c, "restore",
      "re-publish version v's live file set as a new checkpoint (no data copy)",
      Seq(p("table", StringType), p("version", LongType)),
      StructType(Seq(StructField("version", LongType))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(TxLog.restore(SparkSession.active, t, in.getLong(1)))
      })),
    "history" -> (c => proc(c, "history",
      "DESCRIBE HISTORY: one row per surviving log version",
      Seq(p("table", StringType)),
      TxLogHistorySchema.schema,
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        TxLog.history(SparkSession.active, t)
          .queryExecution.executedPlan.executeCollect()
      })),
    "maintain" -> (c => proc(c, "maintain",
      "POLICY LOOP: read the table's health from the manifest (small " +
        "files, DV debt, equality-delete key debt, layout decay on the " +
        "declared cluster columns) and fire the cheapest maintenance that " +
        "restores it — materialize_eqdels past the key-debt threshold, " +
        "cluster_by on overlap decay, incremental compaction on " +
        "small-file/DV debt, nothing when healthy. Vacuum stays a " +
        "separate, explicit call.",
      Seq(p("table", StringType), p("target_bytes", LongType, Some("134217728")),
        p("small_files_trigger", IntegerType, Some("8")),
        p("dv_rows_pct", org.apache.spark.sql.types.DoubleType, Some("5.0")),
        p("cluster_columns", StringType, Some("''")),
        p("cluster_target_files", IntegerType, Some("0")),
        p("overlap_pct", org.apache.spark.sql.types.DoubleType, Some("50.0"))),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("compacted", org.apache.spark.sql.types.BooleanType,
          nullable = false),
        StructField("clustered", org.apache.spark.sql.types.BooleanType,
          nullable = false),
        StructField("small_files", IntegerType, nullable = false),
        StructField("dv_rows", LongType, nullable = false),
        StructField("overlap_pct", org.apache.spark.sql.types.DoubleType,
          nullable = false),
        StructField("eqdel_materialized", org.apache.spark.sql.types.BooleanType,
          nullable = false),
        StructField("eqdel_keys", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val cols = str(in, 4).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val r = TxLog.maintain(SparkSession.active, t,
          targetBytes = in.getLong(1), smallFilesTrigger = in.getInt(2),
          dvRowsTriggerPct = in.getDouble(3), clusterColumns = cols,
          clusterTargetFiles = in.getInt(5), overlapTriggerPct = in.getDouble(6))
        Array[InternalRow](new GenericInternalRow(Array[Any](
          r.version, r.compacted, r.clustered, r.smallFiles, r.dvRows,
          r.overlapPct, r.eqdelMaterialized, r.eqdelKeys)))
      })),
    "tag" -> (c => proc(c, "tag",
      "pin a version under a NAME (graft.tag.<name> property, CAS): " +
        "vacuum keeps the tagged snapshot's files and manifests, so " +
        "VERSION AS OF '<name>' stays reproducible until drop_tag — the " +
        "named training-data-snapshot contract. version => -1 tags the " +
        "current head.",
      Seq(p("table", StringType), p("name", StringType),
        p("version", LongType, Some("-1"))),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("tagged_version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val name = str(in, 1)
        val v0 = in.getLong(2)
        val v = if (v0 >= 0L) v0
                else TxLog.history(SparkSession.active, t)
                  .agg(org.apache.spark.sql.functions.max("version"))
                  .first().getLong(0)
        val committed = TxLog.tag(SparkSession.active, t, name, v)
        Array[InternalRow](new GenericInternalRow(Array[Any](committed, v)))
      })),
    "drop_tag" -> (c => proc(c, "drop_tag",
      "drop a named tag — its snapshot's files and manifests become " +
        "ordinary history again (collectable once aged)",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val v = TxLog.dropTag(SparkSession.active, t, str(in, 1))
        Array[InternalRow](new GenericInternalRow(Array[Any](v)))
      })),
    "create_branch" -> (c => proc(c, "create_branch",
      "fork a writable BRANCH from main's current head (one property " +
        "CAS, zero data movement): stage writes/DML/keyed upserts under " +
        "TxLog.onBranch or read via option(branch, ...), validate, then " +
        "fast_forward or merge_branch to publish — or drop_branch to " +
        "abandon. Vacuum pins the branch's lineage while it lives.",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("base_version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(TxLog.createBranch(SparkSession.active, t, str(in, 1)))
      })),
    "fast_forward" -> (c => proc(c, "fast_forward",
      "publish a branch whose base is still main's head: one adopting " +
        "manifest, zero data movement; refuses past a diverged main " +
        "(use merge_branch there)",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(TxLog.fastForward(SparkSession.active, t, str(in, 1)))
      })),
    "merge_branch" -> (c => proc(c, "merge_branch",
      "rebase a branch onto a DIVERGED main as ONE net-delta commit " +
        "(writeSerializable footprint rules; absorbed exactly-once " +
        "tokens; net change capture on feed tables); delegates to " +
        "fast_forward when main has not diverged. materialize => true " +
        "clears the BRANCH's live keyed debt in place (branch-scoped " +
        "materializeEqDels) — the staging workflow for keyed-CDC " +
        "tables; fork-side debt still refuses (materialize main, then " +
        "fork afresh). Materialization runs only AFTER a first merge " +
        "attempt refuses on exactly the branch-debt conflict, so a " +
        "CALL refused for any other reason leaves the branch " +
        "untouched; if a second obstacle surfaces on the retry, the " +
        "(value-neutral) materialization commit stays on the branch.",
      Seq(p("table", StringType), p("name", StringType),
        p("materialize", org.apache.spark.sql.types.BooleanType, Some("false"))),
      StructType(Seq(StructField("version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val name = str(in, 1)
        val s = SparkSession.active
        val materialize = in.getBoolean(2)
        // merge-FIRST: the materialization is a persistent branch
        // commit, so it must not run as a side effect of a CALL that
        // then refuses for an unrelated reason (fork-side debt,
        // checkpoint divergence, footprint overlap). Attempt the
        // merge, and only when the refusal is exactly the
        // branch-debt conflict clear the debt and retry.
        val v =
          try TxLog.mergeBranch(s, t, name)
          catch {
            case e: java.util.ConcurrentModificationException
                if materialize && e.getMessage != null &&
                  e.getMessage.contains(
                    "live equality-delete debt on the branch") =>
              TxLog.onBranch(name) { TxLog.materializeEqDels(s, t); () }
              TxLog.mergeBranch(s, t, name)
          }
        rows1(v)
      })),
    "drop_branch" -> (c => proc(c, "drop_branch",
      "abandon a branch: its commits become unreachable foreign history " +
        "(vacuum-collectable once aged); idempotent (-1 when absent)",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        rows1(TxLog.dropBranch(SparkSession.active, t, str(in, 1)))
      })),
    "branches" -> (c => proc(c, "branches",
      "SHOW BRANCHES: one row per live branch (name, base version)",
      Seq(p("table", StringType)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("base_version", LongType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        TxLog.branches(SparkSession.active, t).toSeq.sortBy(_._1).map {
          case (n, b) => new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(n), b))
            : InternalRow
        }.toArray
      })),
    "analyze" -> (c => proc(c, "analyze",
      "opt the columns into the NDV sketch channel AND backfill sketches " +
        "onto every live file missing one (stats-only commit, no data " +
        "rewrite) — after this the CBO estimator serves a real distinct " +
        "count for them from the manifest alone; files_skipped counts " +
        "files whose footer stats are unusable (rewrite to fix)",
      Seq(p("table", StringType), p("columns", StringType)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files_updated", IntegerType, nullable = false),
        StructField("files_skipped", IntegerType, nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val r = TxLog.analyze(SparkSession.active, t, cols)
        Array[InternalRow](new GenericInternalRow(Array[Any](
          r.version, r.filesUpdated, r.filesSkipped)))
      })),
    "detail" -> (c => proc(c, "detail",
      "DESCRIBE DETAIL: one row of live-state observables — file/byte/row " +
        "counts, deletion-vector debt (the purge-scheduling signal), layout " +
        "and the properties in force; all from the manifest log, zero data " +
        "files opened",
      Seq(p("table", StringType)),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", IntegerType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("rows", LongType, nullable = true),
        StructField("n_dvs", IntegerType, nullable = false),
        StructField("dv_rows", LongType, nullable = false),
        StructField("partition_cols", StringType, nullable = false),
        StructField("dml_mode", StringType, nullable = false),
        StructField("change_feed", org.apache.spark.sql.types.BooleanType,
          nullable = false))),
      (cat, in) => {
        val t = cat.resolveTableArg(str(in, 0))
        val s = SparkSession.active
        val ms = TxLog.manifests(s, t)
        require(ms.nonEmpty, s"detail of nonexistent txlog table $t")
        val files = TxLog.liveFiles(ms)
        val stats = TxLog.liveStats(ms)
        val dvs = TxLog.liveDvs(ms)
        val props = TxLog.propsFrom(ms)
        // RAW recorded rows (pre-DV); net live rows = rows − dv_rows.
        // Null when any live file predates per-file stats (unknowable
        // from metadata alone — the meta-agg refusal rule).
        val perFile = files.map(f => stats.get(f).map(_.rows).filter(_ >= 0L))
        // an EMPTY table's count is knowably 0; null only when a live
        // file predates per-file stats
        val rawRows: Any =
          if (perFile.forall(_.isDefined)) perFile.flatten.sum
          else null
        val bytes = files.flatMap(f => stats.get(f).map(_.bytes).filter(_ > 0L)).sum
        Array[InternalRow](new GenericInternalRow(Array[Any](
          ms.last.version, files.size, bytes, rawRows,
          dvs.size, dvs.valuesIterator.map(_.n).sum,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            TxLog.partitionColsFrom(ms).mkString(",")),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            props.getOrElse(TxLog.DmlModeProp, TxLog.DmlModeCow)),
          props.get(TxLog.ChangeFeedProp).contains("true"))))
      }))
  )

  private def p(name: String, dt: DataType,
                default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  private def str(in: InternalRow, i: Int): String = in.getUTF8String(i).toString
  private def rows1(v: Long): Array[InternalRow] =
    Array[InternalRow](new GenericInternalRow(Array[Any](v)))

  private def proc(cat: GraftCatalog, procName: String, desc: String,
                   params: Seq[ProcedureParameter], out: StructType,
                   run: (GraftCatalog, InternalRow) => Array[InternalRow])
      : UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = desc
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val result = run(cat, input)
          JCollections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = result
            override def readSchema(): StructType = out
          }).iterator()
        }
      }
    }
}

/** The history schema, shared by [[TxLog.history]]'s DataFrame and the
  * `CALL system.history` procedure result. */
object TxLogHistorySchema {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("writer_id", StringType, nullable = true),
    StructField("batch_id", LongType, nullable = false),
    StructField("checkpoint", BooleanType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_removes", LongType, nullable = false),
    StructField("rows_written", LongType, nullable = false),
    StructField("bytes_written", LongType, nullable = false),
    StructField("n_changes", LongType, nullable = false),
    StructField("n_dvs", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false)))
}
