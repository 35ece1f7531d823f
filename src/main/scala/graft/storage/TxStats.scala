package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** File-level column statistics (zone maps) for [[TxLog]] tables, and
  * the predicate evaluation that turns them into data skipping.
  *
  * WHY IN THE LOG: at the 100 TB design point a table is millions of
  * parquet files; the scan-side cost that dominates is not reading
  * matched bytes but OPENING unmatched files (footer round-trips, task
  * scheduling). Parquet already stores per-column min/max in each
  * footer — but a reader that consults them still pays one footer read
  * per file per query. A table format hoists those stats into the
  * commit manifest ONCE at write time, so every subsequent query prunes
  * the file list from metadata that is O(live files) small JSON —
  * no data-file I/O at all for skipped files. This is the design of
  * Delta's per-file `stats` JSON and Iceberg's manifest value bounds.
  *
  * Collection is footer-only ([[collect]]): the just-committed files'
  * parquet footers are read on the driver — metadata-sized I/O,
  * O(files-in-commit) — never the data pages. A planetary-scale writer
  * would fold this into the executor-side write tasks (Delta collects
  * stats in the writer); the protocol and format here are unchanged by
  * that placement.
  *
  * SOUNDNESS CONTRACT (the only correctness property skipping needs):
  * `mayMatch(pred, fileStats) == false` ⇒ no row of the file satisfies
  * `pred`. Everything unknown — unsupported predicate shapes, columns
  * without stats, type mismatches, NaN bounds — degrades to `true`
  * (keep the file). The residual predicate is ALWAYS re-applied by
  * Spark on the surviving files ([[TxLog.scanWhere]]), so skipping can
  * only remove provably-dead I/O, never change a result; TxSkipSpec
  * proves row-identity against the unpruned scan across the predicate
  * battery and checks real skip counts on clustered and z-ordered
  * commits.
  *
  * Supported stat types (tag): "i" = integral (int32/int64, DATE days,
  * TIMESTAMP micros), "d" = double/float (stored as raw IEEE bits for
  * exact JSON round-trip), "s" = UTF-8 string (compared in unsigned
  * byte order — parquet's UTF8 comparator, NOT java String order,
  * which diverges on supplementary planes), "b" = boolean. Everything
  * else (nested, binary, int96, decimal, non-micro timestamps) gets no
  * stats and never prunes. */
object TxStats {

  /** Per-column bounds within one file. `has == false` means the
    * column is entirely null in the file (min/max are empty strings
    * and must not be read). `nulls == -1` means the writer did not
    * record a null count — unknown, treated conservatively. `kmv`
    * (r15, opt-in via `graft.stats.ndv.cols`) is the column's KMV
    * distinct sketch: the [[KmvK]] smallest distinct xxhash64 values of
    * the file's non-null values (ALL of them when the file holds fewer
    * than k distinct) — per-file sketches union into the table's sketch
    * exactly (k smallest of a union = k smallest of the per-file k
    * smallests), so [[TxLogScan.estimateStatistics]] serves a real NDV
    * from manifest metadata alone. Empty = not collected. */
  /** `exact` marks STRING bounds as provably untruncated — recorded
    * only by COMMIT-TIME collection over files this library just wrote
    * with [[ExactStatsOptions]] pinned (parquet-mr then stores binary
    * chunk bounds whole or not at all), never by a backfill over files
    * whose writer conf cannot be certified. [[TxLogV2]]'s metadata
    * aggregate serves min/max(string) iff every live file's entry
    * carries it. Integral/boolean bounds are exact by format. */
  final case class ColStat(col: String, tag: String, has: Boolean,
                           min: String, max: String, nulls: Long,
                           kmv: Seq[Long] = Seq.empty,
                           exact: Boolean = false)

  /** Stats for one data file: exact row count + per-column bounds
    * (only columns whose type and footer support sound pruning).
    * `bytes` (0 on legacy manifests = unknown) lets the V2 scan build
    * its split plan from the log alone — no per-file getFileStatus
    * round-trips at planning time, the Delta/Iceberg `size` field. */
  /** Fold a NEWER record `b` of the same immutable data file over an
    * older one `a`: file-level scalars take the newer non-empty value
    * (they agree by construction — the file's bytes never change);
    * per-column stats UNION, and where both record a column the entry
    * CARRYING a KMV sketch wins (newer otherwise) — a sketch, once
    * recorded, must survive a concurrent stats-only backfill of a
    * DIFFERENT column re-recording the file from its own stale prior
    * ([[graft.storage.TxLog.liveStats]]). */
  def foldFileStats(a: FileStats, b: FileStats): FileStats = {
    val names = (a.cols.map(_.col) ++ b.cols.map(_.col)).distinct
    val cols = names.flatMap { n =>
      (a.byCol.get(n), b.byCol.get(n)) match {
        case (Some(x), Some(y)) =>
          val w = if (y.kmv.nonEmpty || x.kmv.isEmpty) y else x
          // both records describe ONE immutable footer, so either's
          // exact marker certifies the shared bounds
          Some(if (w.exact || !(x.exact || y.exact)) w
               else w.copy(exact = true))
        case (x, y) => y.orElse(x)
      }
    }
    FileStats(b.file, if (b.rows != 0L) b.rows else a.rows, cols,
      if (b.bytes != 0L) b.bytes else a.bytes,
      if (b.parts.nonEmpty) b.parts else a.parts,
      // the id allocation is immutable for the file's lifetime — an
      // ANALYZE re-record (rid-less) must never clobber it
      firstRowId = if (b.firstRowId >= 0L) b.firstRowId else a.firstRowId)
  }

  final case class FileStats(file: String, rows: Long, cols: Seq[ColStat],
                             bytes: Long = 0L,
                             parts: Seq[(String, String)] = Seq.empty,
                             // ROW LINEAGE (r17): the file's FIRST ROW
                             // ID, allocated at commit ([[TxLog]]'s
                             // rid assignment) — a row's stable id is
                             // its stored [[TxRowId.GridCol]] value or
                             // firstRowId + parquet position. -1 =
                             // pre-feature record.
                             firstRowId: Long = -1L) {
    @transient lazy val byCol: Map[String, ColStat] =
      cols.iterator.map(c => c.col -> c).toMap
    /** Hive-style partition values of this file (col -> raw path-segment
      * value), recorded by [[TxLog.commitPartitioned]]; empty for files
      * of unpartitioned tables or non-partitioned writes. */
    @transient lazy val byPart: Map[String, String] = parts.toMap
  }

  // ------------------------------------------------------------------
  // collection: parquet footer -> FileStats
  // ------------------------------------------------------------------

  /** Read footers of `rel` (paths relative to `root`) and build their
    * stats. Metadata-only I/O; data pages are never touched. Partition
    * VALUES ride in the rel path itself (hive-style `__p_<col>=<v>`
    * segments, written by every partitioned staging path — the driver's
    * `stagePartitioned` and the V2 executor writers alike), so parsing
    * them here gives every commit path pv metadata from one place. */
  def collect(s: SparkSession, root: Path, rel: Seq[String],
              exactStrings: Boolean = true): Seq[FileStats] =
    collectWithFields(s, root, rel, exactStrings)._1

  /** Writer option every staging door pins so parquet-mr stores binary
    * chunk statistics WHOLE or not at all (the library default —
    * DEFAULT_STATISTICS_TRUNCATE_LENGTH is already MAX_VALUE — made
    * environment-proof: a global `parquet.statistics.truncate.length`
    * override would otherwise silently truncate string bounds, sound
    * for pruning but fatal for exact extrema). Oversized stats are
    * DROPPED by parquet-mr, never truncated, and absent stats refuse —
    * so a commit-time-collected string bound is the true extremum. */
  val ExactStatsOptions: Map[String, String] =
    Map("parquet.statistics.truncate.length" -> Int.MaxValue.toString)

  /** Footer reads go to the EXECUTORS above this many files: a commit
    * of a handful of files is cheaper opened inline on the driver (no
    * job overhead — the common append), but a clustered checkpoint or
    * an [[TxLog.analyze]] batch re-laying thousands of files must not
    * serialize thousands of footer round-trips through one thread. */
  private val DistributeAt = 64

  /** [[collect]] that ALSO returns each file's footer field-name set
    * from the same open — [[TxLog.analyze]] needs both for the files
    * it backfills, and a second footer round per file would double the
    * metadata I/O on exactly the tables analyze targets. */
  def collectWithFields(s: SparkSession, root: Path, rel: Seq[String],
                        exactStrings: Boolean = true)
      : (Seq[FileStats], Map[String, Set[String]]) = {
    val out: Seq[(FileStats, (String, Set[String]))] =
      if (rel.size < DistributeAt) {
        val conf = s.sparkContext.hadoopConfiguration
        val rootStr = root.toString
        rel.map(r => readFooter(conf, rootStr, r, exactStrings))
      } else {
        // metadata-only I/O, but thousands of round-trips: fan the
        // opens across executors (the same placement Delta gives stats
        // collection); results come back keyed, order restored below
        val confB = s.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            s.sparkContext.hadoopConfiguration))
        val rootStr = root.toString
        val n = math.min(rel.size, s.sparkContext.defaultParallelism * 2)
        val byRel = s.sparkContext.parallelize(rel, n)
          .map(r => readFooter(confB.value.value, rootStr, r, exactStrings))
          .collect()
          .map(x => x._1.file -> x).toMap
        rel.map(byRel)
      }
    (out.map(_._1), out.map(_._2).toMap)
  }

  /** One file's footer → (stats, footer field names). Runs on the
    * driver for small commits and inside executor tasks for large
    * ones — keep it dependent only on (conf, root, rel). */
  private def readFooter(conf: Configuration, root: String, r: String,
                         exactStrings: Boolean = true)
      : (FileStats, (String, Set[String])) = {
    val inf = HadoopInputFile.fromPath(new Path(root, r), conf)
    // read options from the caller's conf: the no-options open builds a
    // fresh Hadoop Configuration (a parse of the default XML resources)
    // for every footer
    val rd = ParquetFileReader.open(inf, HadoopReadOptions.builder(conf).build())
    try {
      val md = rd.getFooter
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val schema = md.getFileMetaData.getSchema
      val names = schema.getFields.asScala.map(_.getName).toSet
      val cols = schema.getFields.asScala.toSeq.flatMap { f =>
        if (!f.isPrimitive) None
        else tagOf(f.asPrimitiveType())
          .flatMap(mergeBlocks(f.getName, _, blocks, exactStrings))
      }
      (FileStats(r, rows, cols, inf.getLength, parts = partsFromPath(r)),
        r -> names)
    } finally rd.close()
  }

  /** Partition values of a staged rel path: each `__p_<col>=<value>`
    * segment contributes one (col, hive-unescaped value) pair. */
  def partsFromPath(rel: String): Seq[(String, String)] =
    rel.split('/').toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (seg.startsWith("__p_") && i > 4)
        Some(seg.substring(4, i) -> TxLog.unescapePath(seg.substring(i + 1)))
      else None
    }

  /** Catalyst-side mirror of [[tagOf]]'s domain: the types whose
    * columns ever get zone-map stats. The maintain loop's overlap sweep
    * uses this to skip cluster columns it could never judge (a decimal
    * column has no stats after ANY rewrite — counting it as decayed
    * would re-cluster the table forever). */
  def zoneMappable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Catalyst type → stats tag: [[tagOf]]'s domain seen from the table
    * schema side. [[TxLog.analyze]] uses it to type the all-null
    * ColStat it synthesizes for a file that predates a schema-evolved
    * column (the column reads null for every row of that file, so
    * has=false is EXACT, not conservative). None = the type never
    * carries zone-map stats. */
  def tagFor(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => Some("i")
    case FloatType | DoubleType => Some("d")
    case BooleanType => Some("b")
    case StringType => Some("s")
    case _ => None
  }

  /** Top-level column names in each file's parquet footer schema —
    * metadata-only I/O, O(rel) footer reads. [[TxLog.analyze]] uses
    * this to distinguish a column ABSENT from a file (pre-evolution:
    * all-null is exact) from one whose footer stats were merely
    * unusable (bounds unknowable without a data scan — skipped). */
  def footerColumns(s: SparkSession, root: Path, rel: Seq[String])
      : Map[String, Set[String]] = {
    val conf = s.sparkContext.hadoopConfiguration
    rel.map { r =>
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(root, r), conf))
      try r -> rd.getFooter.getFileMetaData.getSchema
        .getFields.asScala.map(_.getName).toSet
      finally rd.close()
    }.toMap
  }

  /** The stats tag for a primitive parquet type, or None if the type
    * cannot be soundly pruned with our comparators. */
  private def tagOf(p: PrimitiveType): Option[String] = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case INT32 => ann match {
        case null => Some("i")
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some("i")
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("i")
        case _ => None // decimal-as-int32 etc: literal scale unknown here
      }
      case INT64 => ann match {
        case null => Some("i")
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some("i")
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          // Catalyst timestamp literals are MICROS since epoch — only a
          // micros-annotated column compares against them soundly.
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => Some("i")
        case _ => None
      }
      case DOUBLE | FLOAT => Some("d")
      case BOOLEAN => Some("b")
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("s")
        case _ => None
      }
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY
    }
  }

  /** Merge one column's statistics across a file's row groups. Any
    * group without usable stats poisons the column (conservative:
    * omit). All-null columns are kept with has=false — they prune
    * comparisons and IS NOT NULL. */
  private def mergeBlocks(name: String, tag: String,
                          blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                          exactStrings: Boolean = false)
      : Option[ColStat] = {
    var min: Any = null; var max: Any = null
    var nulls = 0L; var nullsKnown = true; var any = false
    for (b <- blocks) {
      val cc = b.getColumns.asScala.find(c =>
        c.getPath.size() == 1 && c.getPath.toDotString == name).orNull
      if (cc == null) return None
      val st = cc.getStatistics
      if (st == null || st.isEmpty) return None
      if (st.isNumNullsSet) nulls += st.getNumNulls else nullsKnown = false
      if (st.hasNonNullValue) {
        val (lo, hi) = (fromStats(tag, st.genericGetMin.asInstanceOf[AnyRef]),
          fromStats(tag, st.genericGetMax.asInstanceOf[AnyRef]))
        if (lo == null || hi == null) return None // e.g. NaN double bounds
        if (!any) { min = lo; max = hi; any = true }
        else {
          if (cmp(tag, lo, min) < 0) min = lo
          if (cmp(tag, hi, max) > 0) max = hi
        }
      }
    }
    if (!any && !nullsKnown) None // nothing usable at all
    else if (!any) Some(ColStat(name, tag, has = false, "", "", nulls,
      exact = exactStrings && tag == "s")) // all-null: trivially exact
    else Some(ColStat(name, tag, has = true, render(tag, min), render(tag, max),
      if (nullsKnown) nulls else -1L,
      exact = exactStrings && tag == "s"))
  }

  /** Normalize a parquet statistics value into the tag's comparison
    * domain; null = unusable (drops the column's stats). */
  private def fromStats(tag: String, v: AnyRef): Any = (tag, v) match {
    case ("i", i: java.lang.Integer) => i.longValue
    case ("i", l: java.lang.Long) => l.longValue
    case ("d", d: java.lang.Double) =>
      if (d.isNaN) null else fold0(d.doubleValue)
    case ("d", f: java.lang.Float) =>
      if (f.isNaN) null else fold0(f.doubleValue)
    case ("s", b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case ("b", x: java.lang.Boolean) => x.booleanValue
    case _ => null
  }

  /** Collapse −0.0 to +0.0 in the stats comparison domain, on BOTH the
    * bound side ([[fromStats]]) and the literal side ([[litVal]]).
    * Spark's comparison semantics have −0.0 = 0.0 TRUE, but
    * `java.lang.Double.compare` orders −0.0 < 0.0 — without the fold, a
    * file whose only score is 0.0 gets UNSOUNDLY pruned for
    * `=== -0.0` (and vice versa), which for the DML paths means a
    * silently skipped rewrite, not just a wrong read. */
  private def fold0(d: Double): Double = if (d == 0.0) 0.0 else d

  // ------------------------------------------------------------------
  // JSON value round-trip (exact)
  // ------------------------------------------------------------------

  /** Serialize a bound for the manifest. Doubles go as raw IEEE-754
    * bits so the round-trip is exact (no decimal shortest-repr risk). */
  def render(tag: String, v: Any): String = tag match {
    case "i" => v.asInstanceOf[Long].toString
    case "d" => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]).toString
    case "s" => v.asInstanceOf[String]
    case "b" => if (v.asInstanceOf[Boolean]) "1" else "0"
  }

  def parseVal(tag: String, s: String): Any = tag match {
    case "i" => s.toLong
    case "d" => java.lang.Double.longBitsToDouble(s.toLong)
    case "s" => s
    case "b" => s == "1"
  }

  // ------------------------------------------------------------------
  // KMV distinct sketches (opt-in NDV for the CBO stats channel)
  // ------------------------------------------------------------------

  /** Sketch size: 128 hashes ≈ ±9% relative NDV error — plenty for a
    * broadcast-vs-shuffle decision, ~1–2 KB of manifest per opted-in
    * column per file. */
  val KmvK = 128

  /** Attach KMV sketches for `physCols` to the just-staged `rel` files'
    * stats: ONE column-pruned scan of the commit's files (never the
    * table), per-(file, column) the k smallest distinct hashes via a
    * partial WindowGroupLimit heap — the profileKmvPortable machinery.
    * Sketches attach only to columns that already carry footer stats
    * (the prunable-type set, which covers join keys); a column absent
    * from the staged schema is skipped. */
  def attachKmv(s: SparkSession, table: String, rel: Seq[String],
                base: Seq[FileStats], physCols: Seq[String],
                readSchema: Option[StructType] = None): Seq[FileStats] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    if (rel.isEmpty || physCols.isEmpty) return base
    // write-time callers scan ONE commit's files (homogeneous schema:
    // inference is fine); [[TxLog.analyze]] scans MIXED-ERA files and
    // passes the table's widened physical schema explicitly — inference
    // would take one arbitrary file's (possibly pre-widen) types, and a
    // post-widen long column read as int is a wrong read, not a wrong
    // estimate. Columns a file lacks read null and fall out of the
    // isNotNull stack below; pre-widen values upcast natively.
    val reader = readSchema.map(s.read.schema).getOrElse(s.read)
    val df = reader.parquet(rel.map(TxLog.absPath(table)): _*)
    val present = physCols.distinct.filter(df.columns.contains)
    if (present.isEmpty) return base
    // hash the WIDENED canonical representation (integral→long,
    // float→double): xxhash64 hashes int and long differently, so
    // without this a type widening would put the two eras' sketches in
    // different hash domains and the merged NDV would double-count
    // every value both eras share. (An int→DOUBLE widen still crosses
    // domains — the merged NDV over-counts shared values up to 2×,
    // an estimate-only effect on an unusual widen; the integral chain
    // and float→double, the common cases, stay exact.)
    def canonical(c: String): Column = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType => col(c).cast(LongType)
      case FloatType => col(c).cast(DoubleType)
      case _ => col(c)
    }
    val stacked = present.map(c =>
        df.where(col(c).isNotNull)
          .select(col("_metadata.file_path").as("__f"), lit(c).as("__c"),
            xxhash64(canonical(c)).as("__h")))
      .reduce(_ unionAll _)
    // k smallest DISTINCT hashes per (file, column) via dense_rank ≤ k:
    // rank-like limits push a PARTIAL WindowGroupLimit heap map-side, so
    // each task ships ~k hashes per group instead of its whole column —
    // ONE shuffle. (A global distinct() before the window costs a second
    // full-width shuffle and defeats the partial heap: measured 25.7 s →
    // 4.5 s on a 64-file × 250k-row × 2-column backfill.) collect_set
    // dedups the surviving rows; values are identical either way.
    val ranked = stacked
      .withColumn("__r", dense_rank().over(
        Window.partitionBy(col("__f"), col("__c")).orderBy(col("__h"))))
      .where(col("__r") <= KmvK)
      .groupBy(col("__f"), col("__c"))
      .agg(sort_array(collect_set(col("__h"))).as("__hs"))
      .collect()
    val byFile: Map[String, Map[String, Seq[Long]]] = ranked
      .groupBy(r => TxDv.tailKey(r.getString(0)))
      .view.mapValues(_.map(r =>
        r.getString(1) -> r.getSeq[Long](2).toSeq).toMap).toMap
    base.map { fst =>
      val m = byFile.getOrElse(fst.file, Map.empty)
      if (m.isEmpty) fst
      else fst.copy(cols = fst.cols.map(c =>
        m.get(c.col).map(hs => c.copy(kmv = hs)).getOrElse(c)))
    }
  }

  /** Fold per-file sketches into one NDV estimate. Every sketch must be
    * PRESENT (empty = the file predates the opt-in → None; an all-null
    * file's complete-but-empty sketch is passed as Some(Seq.empty)).
    * Under k total distinct hashes the union is exhaustive (exact up to
    * hash collisions); at k the standard KMV estimator (k−1)/u_k
    * applies, with hashes mapped to the unit interval. */
  def kmvNdv(sketches: Seq[Seq[Long]]): Long = {
    val merged = sketches.flatten.distinct.sorted.take(KmvK)
    if (merged.isEmpty) 0L
    else if (merged.size < KmvK) merged.size.toLong
    else {
      val u = (merged.last.toDouble - Long.MinValue.toDouble) /
        math.pow(2.0, 64)
      math.max(1L, ((KmvK - 1).toDouble / math.max(u, Double.MinPositiveValue)).toLong)
    }
  }

  /** Total order per tag. Strings compare in UTF-8 unsigned byte
    * order (parquet's UTF8 sort order); doubles by
    * `java.lang.Double.compare` over a domain where [[fold0]] has
    * already collapsed −0.0 to +0.0 on both sides, matching Spark's
    * −0.0 = 0.0 semantics (NaN never enters — dropped at collect and
    * at literal extraction). */
  private[storage] def cmp(tag: String, a: Any, b: Any): Int = tag match {
    case "i" => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "d" => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "s" => java.util.Arrays.compareUnsigned(
      a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case "b" => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
  }

  // ------------------------------------------------------------------
  // predicate extraction: Catalyst Column -> prunable tree
  // ------------------------------------------------------------------

  private[storage] sealed trait Pred
  private[storage] final case class Cmp(op: String, col: String, tag: String, v: Any) extends Pred
  private[storage] final case class InP(col: String, tag: String, vs: Seq[Any]) extends Pred
  private[storage] final case class NullP(col: String, isNull: Boolean) extends Pred
  private[storage] final case class AndP(l: Pred, r: Pred) extends Pred
  private[storage] final case class OrP(l: Pred, r: Pred) extends Pred
  private[storage] case object Unknown extends Pred

  /** Widening casts that preserve both value and our comparison order,
    * so a predicate on cast(col) can prune with col's stats: any
    * integral → wider integral (stats are stored long-widened anyway)
    * and float → double. Catalyst inserts exactly these around the
    * attribute when coercing e.g. an int column against a long
    * literal. */
  private def soundWiden(from: DataType, to: DataType): Boolean = {
    def rank(d: DataType): Int = d match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => -1
    }
    (rank(from) > 0 && rank(to) >= rank(from)) ||
      (from == FloatType && to == DoubleType)
  }

  private def attrName(e: Expression): Option[String] = e match {
    // UnresolvedAttribute is an Attribute subclass, and TxLog hands us
    // RESOLVED conjuncts anyway — one case covers both
    case a: Attribute => Some(a.name)
    case c: Cast if soundWiden(c.child.dataType, c.dataType) => attrName(c.child)
    case _ => None
  }

  /** Literal -> (tag, comparison-domain value). None for literal types
    * we don't prune (decimal, binary, interval, null-typed, NaN). */
  private def litVal(l: Literal): Option[(String, Any)] = {
    if (l.value == null) return None
    l.dataType match {
      case ByteType => Some(("i", l.value.asInstanceOf[Byte].toLong))
      case ShortType => Some(("i", l.value.asInstanceOf[Short].toLong))
      case IntegerType => Some(("i", l.value.asInstanceOf[Int].toLong))
      case LongType => Some(("i", l.value.asInstanceOf[Long]))
      case DateType => Some(("i", l.value.asInstanceOf[Int].toLong))
      case TimestampType | TimestampNTZType => Some(("i", l.value.asInstanceOf[Long]))
      case FloatType =>
        val f = l.value.asInstanceOf[Float]
        if (f.isNaN) None else Some(("d", fold0(f.toDouble)))
      case DoubleType =>
        val d = l.value.asInstanceOf[Double]
        if (d.isNaN) None else Some(("d", fold0(d)))
      case StringType => Some(("s", l.value.asInstanceOf[UTF8String].toString))
      case BooleanType => Some(("b", l.value.asInstanceOf[Boolean]))
      case _ => None
    }
  }

  /** Build the prunable tree of `c`'s expression. Anything not in the
    * supported algebra — casts around the attribute, functions,
    * subqueries, NOT over comparisons — maps to [[Unknown]] (never
    * skips). NOT is deliberately not distributed over children:
    * three-valued SQL semantics make ¬(a = v) on a null row false,
    * so a sound Not handling needs null-aware rewrites; Unknown is
    * the safe floor. */
  private[storage] def toPred(e: Expression): Pred = e match {
    case And(l, r) => AndP(toPred(l), toPred(r))
    case Or(l, r) =>
      val (pl, pr) = (toPred(l), toPred(r))
      // an Unknown disjunct makes the whole Or unprunable
      if (pl == Unknown || pr == Unknown) Unknown else OrP(pl, pr)
    case EqualTo(a, l: Literal) =>
      (attrName(a), litVal(l)) match {
        case (Some(n), Some((t, v))) => Cmp("eq", n, t, v); case _ => Unknown
      }
    case EqualTo(l: Literal, a) => toPred(EqualTo(a, l))
    case EqualNullSafe(a, l: Literal) =>
      (attrName(a), litVal(l)) match {
        case (Some(n), Some((t, v))) => Cmp("eq", n, t, v)
        case (Some(n), None) if l.value == null => NullP(n, isNull = true)
        case _ => Unknown
      }
    case EqualNullSafe(l: Literal, a) => toPred(EqualNullSafe(a, l))
    case GreaterThan(a, l: Literal) => cmpPred("gt", a, l)
    case GreaterThan(l: Literal, a) => cmpPred("lt", a, l)
    case GreaterThanOrEqual(a, l: Literal) => cmpPred("ge", a, l)
    case GreaterThanOrEqual(l: Literal, a) => cmpPred("le", a, l)
    case LessThan(a, l: Literal) => cmpPred("lt", a, l)
    case LessThan(l: Literal, a) => cmpPred("gt", a, l)
    case LessThanOrEqual(a, l: Literal) => cmpPred("le", a, l)
    case LessThanOrEqual(l: Literal, a) => cmpPred("ge", a, l)
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      attrName(a) match {
        case Some(n) =>
          val vs = list.map(l => litVal(l.asInstanceOf[Literal]))
          if (vs.exists(_.isEmpty)) Unknown
          else {
            val tags = vs.flatten.map(_._1).distinct
            if (tags.size != 1) Unknown else InP(n, tags.head, vs.flatten.map(_._2))
          }
        case None => Unknown
      }
    case InSet(a, hset) =>
      // the optimizer's large-list form of In; values are already in
      // the comparison domain of the child's type
      (attrName(a), a.dataType) match {
        case (Some(n), dt) =>
          val vs = hset.toSeq.map(v => litVal(Literal(v, dt)))
          if (vs.exists(_.isEmpty) || vs.isEmpty) Unknown
          else InP(n, vs.flatten.head._1, vs.flatten.map(_._2))
        case _ => Unknown
      }
    case IsNull(a) => attrName(a).map(NullP(_, isNull = true)).getOrElse(Unknown)
    case IsNotNull(a) => attrName(a).map(NullP(_, isNull = false)).getOrElse(Unknown)
    case _ => Unknown
  }

  private def cmpPred(op: String, a: Expression, l: Literal): Pred =
    (attrName(a), litVal(l)) match {
      case (Some(n), Some((t, v))) => Cmp(op, n, t, v); case _ => Unknown
    }

  // ------------------------------------------------------------------
  // evaluation: may a file contain a matching row?
  // ------------------------------------------------------------------

  /** True unless the stats PROVE no row of the file can satisfy the
    * predicate. Missing column stats, tag mismatches (a predicate that
    * would need a cast) and Unknown subtrees all return true. */
  private[storage] def mayMatch(p: Pred, fs: FileStats): Boolean = p match {
    case Unknown => true
    case AndP(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
    case OrP(l, r) => mayMatch(l, fs) || mayMatch(r, fs)
    case NullP(col, isNull) => fs.byCol.get(col) match {
      case None => true
      case Some(st) =>
        if (isNull) st.nulls != 0 // >0 or unknown(-1)
        else st.has // a non-null value exists iff bounds exist
    }
    case InP(col, tag, vs) => vs.exists(v => mayMatch(Cmp("eq", col, tag, v), fs))
    case Cmp(op, col, tag, v) => fs.byCol.get(col) match {
      case None => true
      case Some(st) if st.tag != tag => true
      case Some(st) if !st.has => false // all null: no comparison matches
      case Some(st) =>
        val min = parseVal(tag, st.min); val max = parseVal(tag, st.max)
        op match {
          case "eq" => cmp(tag, v, min) >= 0 && cmp(tag, v, max) <= 0
          case "lt" => cmp(tag, min, v) < 0
          case "le" => cmp(tag, min, v) <= 0
          case "gt" => cmp(tag, max, v) > 0
          case "ge" => cmp(tag, max, v) >= 0
        }
    }
  }

  // ------------------------------------------------------------------
  // DSv1 source Filters -> prunable tree (the txlog relation's seam)
  // ------------------------------------------------------------------

  /** A DSv1 `sources.Filter` value → (tag, comparison-domain value).
    * Covers both legacy (java.sql) and java8-API (java.time) datetime
    * externals; None for anything else (keeps the file). */
  private def srcVal(v: Any): Option[(String, Any)] = v match {
    case null => None
    case b: Byte => Some(("i", b.toLong))
    case x: Short => Some(("i", x.toLong))
    case i: Int => Some(("i", i.toLong))
    case l: Long => Some(("i", l))
    case f: Float => if (f.isNaN) None else Some(("d", fold0(f.toDouble)))
    case d: Double => if (d.isNaN) None else Some(("d", fold0(d)))
    case s: String => Some(("s", s))
    case b: Boolean => Some(("b", b))
    case d: java.sql.Date => Some(("i", d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(("i", d.toEpochDay))
    case t: java.sql.Timestamp =>
      val i = t.toInstant; Some(("i", i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case i: java.time.Instant =>
      Some(("i", i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case _ => None
  }

  /** DSv1 pushdown translation, same conservative floor as [[toPred]]:
    * unsupported shapes → Unknown (keep the file). Notables:
    * StringStartsWith(p) prunes as `col >= p` (a string with prefix p
    * is ≥ p in byte order — the sound one-sided bound); IN drops its
    * null elements (null ∈ the list matches nothing); Not stays
    * Unknown (three-valued semantics, see [[toPred]]). */
  def fromSourceFilter(f: org.apache.spark.sql.sources.Filter): Pred = {
    import org.apache.spark.sql.{sources => sf}
    def cmpOf(op: String, a: String, v: Any): Pred =
      srcVal(v).map { case (t, x) => Cmp(op, a, t, x) }.getOrElse(Unknown)
    f match {
      case sf.And(l, r) => AndP(fromSourceFilter(l), fromSourceFilter(r))
      case sf.Or(l, r) =>
        val (pl, pr) = (fromSourceFilter(l), fromSourceFilter(r))
        if (pl == Unknown || pr == Unknown) Unknown else OrP(pl, pr)
      case sf.EqualTo(a, v) => cmpOf("eq", a, v)
      case sf.EqualNullSafe(a, null) => NullP(a, isNull = true)
      case sf.EqualNullSafe(a, v) => cmpOf("eq", a, v)
      case sf.GreaterThan(a, v) => cmpOf("gt", a, v)
      case sf.GreaterThanOrEqual(a, v) => cmpOf("ge", a, v)
      case sf.LessThan(a, v) => cmpOf("lt", a, v)
      case sf.LessThanOrEqual(a, v) => cmpOf("le", a, v)
      case sf.In(a, vs) =>
        val tv = vs.toSeq.filter(_ != null).map(srcVal)
        if (tv.isEmpty || tv.exists(_.isEmpty)) Unknown
        else {
          val tags = tv.flatten.map(_._1).distinct
          if (tags.size != 1) Unknown else InP(a, tags.head, tv.flatten.map(_._2))
        }
      case sf.IsNull(a) => NullP(a, isNull = true)
      case sf.IsNotNull(a) => NullP(a, isNull = false)
      case sf.StringStartsWith(a, p) => Cmp("ge", a, "s", p)
      case _ => Unknown
    }
  }

  /** Split a conjunction into its factors (each prunes independently —
    * a file survives only if EVERY factor may match). */
  def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case x => Seq(x)
  }

  /** Entry point used by [[TxLog.scanWhere]]: which of `files` may
    * contain rows matching ALL of `preds` (RESOLVED Catalyst
    * conjuncts — [[TxLog]] obtains them from the optimized plan of
    * the filtered scan, so coercion casts and inferred IS NOT NULLs
    * are already in place)? Files without stats are kept. */
  def prune(preds: Seq[Expression], files: Seq[String],
            stats: Map[String, FileStats]): Seq[String] = {
    val ps = preds.map(toPred)
    files.filter(f => stats.get(f).forall(st => ps.forall(mayMatch(_, st))))
  }
}
