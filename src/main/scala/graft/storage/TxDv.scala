package graft.storage

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DELETION VECTORS — merge-on-read row-level deletes for TxLog tables.
  *
  * A copy-on-write DELETE of 100 rows inside a 1 GB file rewrites the
  * whole gigabyte; at 100 TB that is the difference between a
  * maintenance job and an outage. A deletion vector instead records the
  * POSITIONS (parquet row indexes) of the deleted rows in a tiny
  * immutable sidecar under `dv/`, the manifest points each data file at
  * its current DV, and every reader filters the file's rows through it.
  * The data file is untouched — the delete costs O(deleted rows), not
  * O(file bytes). `compact`/`clusterBy` rewrite the net rows and the
  * checkpoint drops the DVs (the purge), restoring unfiltered
  * vectorized scans; until then DV'd files read vectorized through a
  * per-batch selection remap (one bitmap probe per row index) while
  * CLEAN files keep the untouched columnar fast path.
  *
  * Semantics (the Delta Lake deletion-vector model, re-expressed on the
  * txlog manifest protocol):
  *  - a manifest's `dvs` entry {f, p, n} REPLACES file f's previous DV
  *    (DVs are cumulative: the writer unions the old positions into the
  *    new sidecar before committing, so one lookup per file suffices);
  *  - removing f drops its DV; checkpoints re-record surviving DVs the
  *    same way they re-record files (log truncation cannot lose them);
  *  - a DV covering EVERY row of f is never committed — the writer
  *    removes f outright instead;
  *  - DV commits are rewrites for isolation and streaming purposes:
  *    serializable publish conflicts, write-serializable footprints,
  *    and the append-only stream's loud-on-DML guard all treat a `dvs`
  *    entry exactly like a `removes` entry.
  *
  * Binary sidecar format (GDV1): int32 magic "GDV1", int32 format
  * version, varint count, then the SORTED row positions delta-encoded
  * as varints — a million deleted positions in a dense range is ~1 MB
  * worst case, bytes-per-position shrinks with density. In memory a DV
  * is the sorted long array; membership is a binary search (O(log n)
  * per row against n = deletions in that one file, not table rows). */
object TxDv {

  private val Magic = 0x47445631 // "GDV1"
  private val FormatVersion = 1

  /** An immutable deletion vector: sorted, distinct row positions. */
  final class Dv private[TxDv] (private val pos: Array[Long]) extends Serializable {
    def contains(rowIndex: Long): Boolean =
      java.util.Arrays.binarySearch(pos, rowIndex) >= 0
    def cardinality: Long = pos.length.toLong
    def positions: Array[Long] = pos.clone()
    /** Union with another DV (cumulative-delete merge). */
    def union(other: Dv): Dv = {
      val out = new Array[Long](pos.length + other.pos.length)
      var i = 0; var j = 0; var k = 0
      while (i < pos.length && j < other.pos.length) {
        val a = pos(i); val b = other.pos(j)
        if (a < b) { out(k) = a; i += 1 }
        else if (b < a) { out(k) = b; j += 1 }
        else { out(k) = a; i += 1; j += 1 }
        k += 1
      }
      while (i < pos.length) { out(k) = pos(i); i += 1; k += 1 }
      while (j < other.pos.length) { out(k) = other.pos(j); j += 1; k += 1 }
      new Dv(java.util.Arrays.copyOf(out, k))
    }
  }

  def fromPositions(raw: Array[Long]): Dv = {
    val sorted = raw.distinct.sorted
    require(sorted.isEmpty || sorted.head >= 0L,
      s"deletion vector positions must be non-negative, got ${sorted.head}")
    new Dv(sorted)
  }

  def empty: Dv = new Dv(Array.emptyLongArray)

  // ---- varint wire format

  def serialize(dv: Dv): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(16 + dv.positions.length * 2)
    val d = new java.io.DataOutputStream(out)
    d.writeInt(Magic); d.writeInt(FormatVersion)
    writeVarLong(d, dv.cardinality)
    var prev = 0L
    dv.positions.foreach { p => writeVarLong(d, p - prev); prev = p }
    d.flush()
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Dv = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val magic = in.readInt()
    require(magic == Magic, f"not a GDV1 deletion vector (magic 0x$magic%08x)")
    val ver = in.readInt()
    require(ver == FormatVersion, s"unsupported deletion-vector format version $ver")
    val n = readVarLong(in)
    require(n >= 0 && n <= Int.MaxValue, s"corrupt deletion vector: count $n")
    val pos = new Array[Long](n.toInt)
    var prev = 0L; var i = 0
    while (i < n) { prev += readVarLong(in); pos(i) = prev; i += 1 }
    new Dv(pos)
  }

  private def writeVarLong(d: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    require(v >= 0L, s"varint of negative $v")
    while ((v & ~0x7FL) != 0L) { d.writeByte(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    d.writeByte(v.toInt)
  }

  private def readVarLong(in: java.io.DataInputStream): Long = {
    var v = 0L; var shift = 0
    var b = in.readUnsignedByte()
    while ((b & 0x80) != 0) {
      v |= (b & 0x7FL) << shift; shift += 7
      require(shift < 64, "corrupt varint in deletion vector")
      b = in.readUnsignedByte()
    }
    v | ((b & 0x7FL) << shift)
  }

  // ---- sidecar I/O (driver or executor; immutable once written)

  /** Stage one DV sidecar under `dv/` and return its rel path. Staged
    * files are invisible until a manifest names them — a crash before
    * the commit leaves a vacuum-collectable orphan, like data files. */
  private[storage] def write(s: SparkSession, table: String, dv: Dv): String =
    writeWithConf(s.sparkContext.hadoopConfiguration, table, dv)

  /** The executor-usable half of [[write]]: DML tasks stage their DV
    * sidecars directly (like data files) so position bytes never ride
    * through driver RPC — commit messages carry only (file → sidecar
    * path, cardinality). */
  private[storage] def writeWithConf(conf: org.apache.hadoop.conf.Configuration,
                                     table: String, dv: Dv): String = {
    val rel = s"dv/${java.util.UUID.randomUUID()}.dv"
    val p = new Path(new Path(table), rel)
    val f = LocalFs.fileSystem(p, conf)
    f.mkdirs(p.getParent)
    val out = f.create(p, false)
    try out.write(serialize(dv)) finally out.close()
    rel
  }

  private[storage] def readWithConf(conf: org.apache.hadoop.conf.Configuration,
                                    table: String, rel: String): Dv =
    deserialize(readBytes(conf, table, rel))

  private[storage] def readBytes(conf: org.apache.hadoop.conf.Configuration,
                                 table: String, rel: String): Array[Byte] = {
    val p = new Path(new Path(table), rel)
    val f = p.getFileSystem(conf)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"deletion vector $rel too large: $len")
      val b = new Array[Byte](len.toInt)
      in.readFully(b); b
    } finally in.close()
  }

  private[storage] def read(s: SparkSession, table: String, rel: String): Dv =
    deserialize(readBytes(s.sparkContext.hadoopConfiguration, table, rel))

  // ---- per-row membership for the NATIVE read path (readFiles)

  /** Identity of a data file independent of table-root rendering
    * (file:/ vs plain, symlinked roots): the path suffix from the
    * table's `data/` dir — i.e. the manifest REL path itself,
    * `data/<uuid>/[<__p_...=v>/...]<file name>`. Anchoring at `data/`
    * (the LAST bare `data` segment — partition dirs are `__p_<c>=<v>`
    * and can never collide with it) keeps the staging uuid in the key;
    * the previous last-two-segments rule dropped it for PARTITIONED
    * executor-staged files, whose `<__p_c=v>/part-<pid>-<tid>-s<seq>`
    * tails can collide across Spark applications (task ids restart),
    * silently applying one file's deletion vector to another. */
  private[storage] def tailKey(path: String): String = {
    if (path.startsWith("data/")) return path
    val i = path.lastIndexOf("/data/")
    if (i >= 0) return path.substring(i + 1)
    // non-`data/`-rooted path (not staged by us): last two segments
    val a = path.lastIndexOf('/')
    if (a <= 0) return path
    val b = path.lastIndexOf('/', a - 1)
    path.substring(b + 1)
  }

  /** Executor-local decode cache: one Dv per sidecar content, shared by
    * every task of every query on the executor. Keyed by the DV's REL
    * PATH (uuid-named, immutable content) so two tables never collide. */
  private val decodeCache = new ConcurrentHashMap[String, Dv]()
  private[storage] def cachedDecode(key: String, bytes: => Array[Byte]): Dv = {
    val hit = decodeCache.get(key)
    if (hit != null) hit
    else {
      val dv = deserialize(bytes)
      if (decodeCache.size > 4096) decodeCache.clear() // crude bound; re-decode is cheap
      decodeCache.putIfAbsent(key, dv)
      dv
    }
  }

  // ---- the V2 scan's reader-factory wrapper

  /** Wraps the two inner parquet factories:
    *  - `clean` reads WITHOUT the row-index column — clean partitions
    *    delegate verbatim, keeping the pure vectorized/columnar path;
    *  - `withRi` reads WITH `_tmp_metadata_row_index` appended as the
    *    LAST data column — DV'd partitions read VECTORIZED too, each
    *    batch filtered through a zero-copy selection remap
    *    ([[SelectedColumnVector]]) that hides the deleted rows and the
    *    index column (row-based only as the fallback for schemas the
    *    vectorized parquet reader refuses, via [[DvFilteringReader]]).
    * A partition is DV'd iff its (single) file has an entry in `dvRel`
    * (rel-tail → dv rel path); the planner packs each DV'd file into
    * its own partitions so the decision is per-partition. Sound under
    * pushed filters: parquet row-group/page skipping preserves ABSOLUTE
    * row indexes (PageReadStore row-index offsets), verified in spec. */
  private[storage] case class DvReaderFactory(
      clean: PartitionReaderFactory, withRi: PartitionReaderFactory,
      dvRel: Map[String, String], table: String, riOrdinal: Int,
      conf: org.apache.spark.util.SerializableConfiguration,
      keepRi: Boolean = false)
      extends PartitionReaderFactory {

    private def dvOf(p: InputPartition): Option[String] = p match {
      case fp: FilePartition if fp.files.nonEmpty =>
        dvRel.get(tailKey(fp.files.head.filePath.toString))
      case _ => None
    }

    /** Spark's BatchScanExec requires EVERY partition of one scan to
      * agree on columnar support ("cannot mix row-based and columnar"),
      * so DV'd partitions must answer columnar too or ONE point-deleted
      * file would tax every clean file of the table with row-based
      * parquet reads. They do: clean partitions delegate verbatim
      * (pure vectorized), DV'd partitions filter each vectorized batch
      * through a selection remap ([[SelectedColumnVector]] — untouched
      * batches pass through with zero per-row work). Row-based reading
      * survives only as the fallback for schemas the vectorized parquet
      * reader itself refuses. */
    override def supportColumnarReads(p: InputPartition): Boolean =
      clean.supportColumnarReads(p) && withRi.supportColumnarReads(p)

    override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
      dvOf(p) match {
        case None => clean.createColumnarReader(p)
        case Some(rel) =>
          val dv = cachedDecode(rel, readBytes(conf.value, table, rel))
          new DvColumnarFilteringReader(
            withRi.createColumnarReader(p), dv, riOrdinal, keepRi)
      }

    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      dvOf(p) match {
        case None => clean.createReader(p)
        case Some(rel) =>
          val dv = cachedDecode(rel, readBytes(conf.value, table, rel))
          new DvFilteringReader(withRi.createReader(p), dv, riOrdinal, keepRi)
      }
  }

  /** Skip rows whose row index is in the DV; hide the index column —
    * unless `keepRi` (a scan that itself serves the position column,
    * e.g. the delta-DML `_pos` read, keeps it in place). */
  private final class DvFilteringReader(inner: PartitionReader[InternalRow],
                                        dv: Dv, riOrdinal: Int, keepRi: Boolean)
      extends PartitionReader[InternalRow] {
    private val projected = new DropOrdinalRow(riOrdinal)
    private var current: InternalRow = _
    override def next(): Boolean = {
      while (inner.next()) {
        val row = inner.get()
        if (!dv.contains(row.getLong(riOrdinal))) {
          if (keepRi) current = row
          else { projected.row = row; current = projected }
          return true
        }
      }
      false
    }
    override def get(): InternalRow = current
    override def close(): Unit = inner.close()
  }

  /** Columnar twin of [[DvFilteringReader]]: filter each VECTORIZED
    * batch through the deletion vector instead of dropping the whole
    * scan to row-based parquet decoding. Per batch: read the row-index
    * column, collect surviving ordinals, and expose the base vectors
    * through a [[SelectedColumnVector]] remap (the row-index column is
    * hidden by ordinal skip unless `keepRi`). A batch with NO deleted
    * rows — the overwhelmingly common case under sparse DVs — passes
    * the base vectors through unwrapped: zero per-row overhead. The
    * output batch references the inner reader's vectors, valid until
    * the next `next()` — the same lifecycle contract as the row path. */
  private final class DvColumnarFilteringReader(
      inner: PartitionReader[ColumnarBatch], dv: Dv, riOrdinal: Int, keepRi: Boolean)
      extends PartitionReader[ColumnarBatch] {
    import org.apache.spark.sql.vectorized.ColumnVector
    private var current: ColumnarBatch = _
    private var sel: Array[Int] = new Array[Int](4096)

    private def outVectors(batch: ColumnarBatch,
                           wrap: ColumnVector => ColumnVector): Array[ColumnVector] = {
      val n = batch.numCols()
      val out = Array.newBuilder[ColumnVector]
      var i = 0
      while (i < n) {
        if (keepRi || i != riOrdinal) out += wrap(batch.column(i))
        i += 1
      }
      out.result()
    }

    override def next(): Boolean = {
      while (inner.next()) {
        val batch = inner.get()
        val rows = batch.numRows()
        val ri = batch.column(riOrdinal)
        if (sel.length < rows) sel = new Array[Int](rows)
        var i = 0; var k = 0
        while (i < rows) {
          if (!dv.contains(ri.getLong(i))) { sel(k) = i; k += 1 }
          i += 1
        }
        if (k > 0) {
          current =
            if (k == rows) new ColumnarBatch(outVectors(batch, identity), rows)
            else {
              val s = java.util.Arrays.copyOf(sel, k)
              new ColumnarBatch(
                outVectors(batch, new SelectedColumnVector(_, s)), k)
            }
          return true
        }
      }
      false
    }
    override def get(): ColumnarBatch = current
    override def close(): Unit = inner.close()
  }

  /** [[SelectedColumnVector]] constructor for the sibling filtering
    * readers ([[TxEqDel]]) — the class itself stays private. */
  private[storage] def selected(base: org.apache.spark.sql.vectorized.ColumnVector,
                                sel: Array[Int])
      : org.apache.spark.sql.vectorized.ColumnVector =
    new SelectedColumnVector(base, sel)

  /** InternalRow view that hides the ordinal RANGE [from, from+count)
    * of the underlying row — the generalized [[DropOrdinalRow]] for
    * readers that append a BLOCK of working columns (equality-delete
    * key columns + the row index) after the data columns. Ordinals
    * < from map through; ordinals ≥ from shift up by `count`. */
  private[storage] final class DropRangeRow(from: Int, count: Int) extends InternalRow {
    var row: InternalRow = _
    @inline private def m(i: Int): Int = if (i >= from) i + count else i
    override def numFields: Int = row.numFields - count
    override def setNullAt(i: Int): Unit = row.setNullAt(m(i))
    override def update(i: Int, v: Any): Unit = row.update(m(i), v)
    override def copy(): InternalRow = {
      val c = new DropRangeRow(from, count); c.row = row.copy(); c
    }
    override def isNullAt(i: Int): Boolean = row.isNullAt(m(i))
    override def getBoolean(i: Int): Boolean = row.getBoolean(m(i))
    override def getByte(i: Int): Byte = row.getByte(m(i))
    override def getShort(i: Int): Short = row.getShort(m(i))
    override def getInt(i: Int): Int = row.getInt(m(i))
    override def getLong(i: Int): Long = row.getLong(m(i))
    override def getFloat(i: Int): Float = row.getFloat(m(i))
    override def getDouble(i: Int): Double = row.getDouble(m(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      row.getDecimal(m(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      row.getUTF8String(m(i))
    override def getBinary(i: Int): Array[Byte] = row.getBinary(m(i))
    override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
      row.getInterval(m(i))
    override def getStruct(i: Int, n: Int): InternalRow = row.getStruct(m(i), n)
    override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
      row.getArray(m(i))
    override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
      row.getMap(m(i))
    override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
      row.get(m(i), dt)
    override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
      row.getVariant(m(i))
    override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
      row.getGeography(m(i))
    override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
      row.getGeometry(m(i))
  }

  /** InternalRow view that hides ordinal `k` of the underlying row —
    * ordinals < k map through, ordinals ≥ k shift up by one (the
    * row-index column sits between the data columns and the appended
    * `_file` partition column). Mutable cursor, zero per-row alloc. */
  private final class DropOrdinalRow(k: Int) extends InternalRow {
    var row: InternalRow = _
    @inline private def m(i: Int): Int = if (i >= k) i + 1 else i
    override def numFields: Int = row.numFields - 1
    override def setNullAt(i: Int): Unit = row.setNullAt(m(i))
    override def update(i: Int, v: Any): Unit = row.update(m(i), v)
    override def copy(): InternalRow = {
      val c = new DropOrdinalRow(k); c.row = row.copy(); c
    }
    override def isNullAt(i: Int): Boolean = row.isNullAt(m(i))
    override def getBoolean(i: Int): Boolean = row.getBoolean(m(i))
    override def getByte(i: Int): Byte = row.getByte(m(i))
    override def getShort(i: Int): Short = row.getShort(m(i))
    override def getInt(i: Int): Int = row.getInt(m(i))
    override def getLong(i: Int): Long = row.getLong(m(i))
    override def getFloat(i: Int): Float = row.getFloat(m(i))
    override def getDouble(i: Int): Double = row.getDouble(m(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      row.getDecimal(m(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      row.getUTF8String(m(i))
    override def getBinary(i: Int): Array[Byte] = row.getBinary(m(i))
    override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
      row.getInterval(m(i))
    override def getStruct(i: Int, n: Int): InternalRow = row.getStruct(m(i), n)
    override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
      row.getArray(m(i))
    override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
      row.getMap(m(i))
    override def get(i: Int, dt: org.apache.spark.sql.types.DataType): AnyRef =
      row.get(m(i), dt)
    override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
      row.getVariant(m(i))
    override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
      row.getGeography(m(i))
    override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
      row.getGeometry(m(i))
  }

  /** ColumnVector view exposing only the ordinals in `sel` (logical
    * row i reads base row `sel(i)`) — the zero-copy selection vector
    * Spark's ColumnarBatch lacks, used to hide DV-deleted rows from a
    * vectorized batch without re-materializing the survivors. One array
    * index per access; the base vectors stay untouched.
    *
    * `getChild` wraps the child with the SAME selection: struct fields
    * are positional per row, and the final `getStruct`/`getVariant`
    * base-class paths reach data exclusively through `getChild(_)
    * .getX(rowId)`. `getArray`/`getMap` instead delegate with the
    * remapped ordinal — their offsets index the base's raw child, which
    * the returned ColumnarArray/Map references directly. Null counts
    * pass through unremapped (conservative upper bounds — consumers use
    * them only to skip null checks when zero). */
  private final class SelectedColumnVector(
      base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
      extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
    @inline private def m(i: Int): Int = sel(i)
    override def close(): Unit = base.close()
    // ColumnarToRowExec calls closeIfFreeable() after CONSUMING each
    // batch; the default implementation closes, which would free the
    // vectorized parquet reader's REUSED WritableColumnVectors
    // mid-stream (their own override is a no-op for exactly this
    // reason). Delegate, so the base's reuse contract decides.
    override def closeIfFreeable(): Unit = base.closeIfFreeable()
    override def hasNull: Boolean = base.hasNull
    override def numNulls: Int = base.numNulls
    override def isNullAt(i: Int): Boolean = base.isNullAt(m(i))
    override def getBoolean(i: Int): Boolean = base.getBoolean(m(i))
    override def getByte(i: Int): Byte = base.getByte(m(i))
    override def getShort(i: Int): Short = base.getShort(m(i))
    override def getInt(i: Int): Int = base.getInt(m(i))
    override def getLong(i: Int): Long = base.getLong(m(i))
    override def getFloat(i: Int): Float = base.getFloat(m(i))
    override def getDouble(i: Int): Double = base.getDouble(m(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(m(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      base.getUTF8String(m(i))
    override def getBinary(i: Int): Array[Byte] = base.getBinary(m(i))
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      base.getArray(m(i))
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      base.getMap(m(i))
    override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
      base.getInterval(m(i))
    override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
      base.getGeography(m(i))
    override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
      base.getGeometry(m(i))
    override def getChild(i: Int): org.apache.spark.sql.vectorized.ColumnVector =
      new SelectedColumnVector(base.getChild(i), sel)
  }
}
