package graft.storage

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** EQUALITY DELETES — key-addressed merge-on-read deletes, the
  * Iceberg v2 equality-delete model re-expressed on the txlog
  * manifest protocol.
  *
  * A deletion vector ([[TxDv]]) records POSITIONS, so producing one
  * requires READING the table to find them — a streaming CDC upsert
  * pays a zone-pruned candidate scan per micro-batch, and at 100 TB
  * that scan is the ingestion bottleneck. An equality delete instead
  * records the KEYS: the upsert writes its new rows plus one tiny
  * key sidecar and commits — it NEVER reads the table. Readers
  * anti-join each data file's rows against the applicable key sets;
  * compaction (or an explicit materialize) turns the debt back into
  * positions/rewrites and restores clean scans.
  *
  * Scoping (the Iceberg sequence-number rule, with manifest versions
  * as the sequence): an equality delete committed at version `v`
  * applies to exactly the data files ADDED at versions `< v`. The
  * upsert's own data files commit in the SAME manifest as its delete
  * entry — seq == v — so the replacement rows survive their own
  * delete, and a later re-insert of a deleted key is never filtered
  * by the earlier delete. A file's seq is the version of the first
  * manifest (from the newest checkpoint onward) that lists it;
  * checkpoints NEVER carry equality-delete entries (compact/cluster
  * materialize them first, overwrite replaces every file they could
  * apply to), so the carried-file seq collapse at a checkpoint is
  * harmless by construction.
  *
  * Sidecar format (GQD1, under `eqdel/`): int32 magic, int32 version,
  * varint ncols, per column (utf8 name of the PHYSICAL column, one
  * type tag byte), varint row count, then row-major values — tag 'l'
  * (integral/date/timestamp/boolean, CANONICALIZED to long so a later
  * type widening never splits the domain) as zigzag varints, tag 's'
  * (string) as varint-length utf8 bytes. Key columns are restricted
  * to those types: float/double/decimal/complex make unsound or
  * meaningless equality keys and are refused at the write door. NULL
  * key values never match anything (null-rejecting equality, the SQL
  * MERGE rule) and are dropped at sidecar-write time.
  *
  * Bounds: the live key debt is capped (`graft.eqdel.maxKeys`,
  * default 1M) — within it, every reader's per-file probe set is a
  * few MB of executor memory loaded once per sidecar per executor;
  * past it the write doors refuse (deleteByKeys) or fall back to the
  * position-based merge (upsertByKeys), and `compact` /
  * `materializeEqDels` clear the debt. */
object TxEqDel {

  private val Magic = 0x47514431 // "GQD1"
  private val FormatVersion = 1

  val SidecarDir = "eqdel"

  /** Table property: max LIVE equality-delete keys before the write
    * doors stop growing the debt (readers hold the union in memory). */
  val MaxKeysProp = "graft.eqdel.maxKeys"
  val DefaultMaxKeys = 1000000L

  /** Canonical probe tag for an equality-key column type: 'l' =
    * long-canonical, 's' = string. None = not a supported key type. */
  def tagFor(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BooleanType => Some('l')
    case StringType => Some('s')
    case _ => None
  }

  /** One decoded key set: column names (PHYSICAL), tags, and the rows
    * in probe-ready form. Membership is value-based on the canonical
    * domain (longs / UTF8String). */
  final class KeySet private[TxEqDel] (val cols: Array[String],
                                       val tags: Array[Char],
                                       longs: Array[Long], // single-'l' fast path (sorted)
                                       set: java.util.HashSet[AnyRef]) extends Serializable {
    def cardinality: Long =
      if (longs != null) longs.length.toLong else set.size.toLong
    def containsLong(v: Long): Boolean =
      java.util.Arrays.binarySearch(longs, v) >= 0
    def singleLong: Boolean = longs != null
    def contains(key: AnyRef): Boolean = set.contains(key)
    private[TxEqDel] def rawLongs: Array[Long] = longs
    private[TxEqDel] def rawSet: java.util.HashSet[AnyRef] = set
    /** All key tuples in canonical form (java.lang.Long / UTF8String),
      * for driver-side materialization into a DataFrame. */
    def rows: Iterator[Array[AnyRef]] =
      if (longs != null)
        longs.iterator.map(v => Array[AnyRef](java.lang.Long.valueOf(v)))
      else {
        import scala.jdk.CollectionConverters._
        set.iterator().asScala.map {
          case l: List[_] => l.asInstanceOf[List[AnyRef]].toArray
          case one => Array(one)
        }
      }
  }

  /** Build a KeySet from canonical-domain rows (each row.length ==
    * cols.length; values are java.lang.Long or UTF8String, no nulls). */
  private def buildKeySet(cols: Array[String], tags: Array[Char],
                          rows: Iterator[Array[AnyRef]]): KeySet = {
    if (cols.length == 1 && tags(0) == 'l') {
      val b = Array.newBuilder[Long]
      rows.foreach(r => b += r(0).asInstanceOf[java.lang.Long].longValue)
      new KeySet(cols, tags, b.result().distinct.sorted, null)
    } else {
      val s = new java.util.HashSet[AnyRef]()
      rows.foreach { r =>
        s.add(if (r.length == 1) r(0) else r.toList)
      }
      new KeySet(cols, tags, null, s)
    }
  }

  // ---- wire format

  def serialize(ks: KeySet): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    val d = new java.io.DataOutputStream(out)
    d.writeInt(Magic); d.writeInt(FormatVersion)
    writeVar(d, ks.cols.length.toLong)
    ks.cols.zip(ks.tags).foreach { case (c, t) =>
      val b = c.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeVar(d, b.length.toLong); d.write(b); d.writeByte(t.toInt)
    }
    if (ks.singleLong) {
      val ls = ks.rawLongs
      writeVar(d, ls.length.toLong)
      ls.foreach(v => writeVar(d, zig(v)))
    } else {
      val it = ks.rawSet.iterator()
      writeVar(d, ks.rawSet.size.toLong)
      while (it.hasNext) {
        val row: Seq[AnyRef] = it.next() match {
          case l: List[_] => l.asInstanceOf[List[AnyRef]]
          case one => Seq(one)
        }
        row.foreach {
          case l: java.lang.Long => writeVar(d, zig(l.longValue))
          case u: UTF8String =>
            val b = u.getBytes; writeVar(d, b.length.toLong); d.write(b)
          case other => throw new IllegalStateException(
            s"unencodable equality-delete key value: $other")
        }
      }
    }
    d.flush(); out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): KeySet = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val magic = in.readInt()
    require(magic == Magic, f"not a GQD1 equality-delete sidecar (magic 0x$magic%08x)")
    val ver = in.readInt()
    require(ver == FormatVersion, s"unsupported equality-delete format version $ver")
    val ncols = readVar(in).toInt
    require(ncols > 0 && ncols <= 16, s"corrupt equality delete: $ncols columns")
    val cols = new Array[String](ncols)
    val tags = new Array[Char](ncols)
    var i = 0
    while (i < ncols) {
      val nl = readVar(in).toInt
      val nb = new Array[Byte](nl); in.readFully(nb)
      cols(i) = new String(nb, java.nio.charset.StandardCharsets.UTF_8)
      tags(i) = in.readUnsignedByte().toChar
      require(tags(i) == 'l' || tags(i) == 's',
        s"corrupt equality delete: tag ${tags(i)}")
      i += 1
    }
    val n = readVar(in)
    require(n >= 0 && n <= Int.MaxValue, s"corrupt equality delete: count $n")
    val rows = Iterator.tabulate(n.toInt) { _ =>
      val r = new Array[AnyRef](ncols)
      var j = 0
      while (j < ncols) {
        r(j) =
          if (tags(j) == 'l') java.lang.Long.valueOf(unzig(readVar(in)))
          else {
            val l = readVar(in).toInt
            val b = new Array[Byte](l); in.readFully(b)
            UTF8String.fromBytes(b)
          }
        j += 1
      }
      r
    }
    buildKeySet(cols, tags, rows)
  }

  private def zig(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzig(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  private def writeVar(d: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { d.writeByte(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    d.writeByte(v.toInt)
  }

  private def readVar(in: java.io.DataInputStream): Long = {
    var v = 0L; var shift = 0
    var b = in.readUnsignedByte()
    while ((b & 0x80) != 0) {
      v |= (b & 0x7FL) << shift; shift += 7
      require(shift < 64, "corrupt varint in equality delete")
      b = in.readUnsignedByte()
    }
    v | ((b & 0x7FL) << shift)
  }

  // ---- canonicalization (write + probe must share one domain)

  /** Canonicalize one Catalyst-internal value of `dt` into the probe
    * domain: java.lang.Long for the integral family (so a widened
    * column keeps matching keys recorded pre-widen), UTF8String for
    * strings. Caller guarantees non-null. */
  def canonical(v: Any, dt: DataType): AnyRef = dt match {
    case ByteType => java.lang.Long.valueOf(v.asInstanceOf[Byte].toLong)
    case ShortType => java.lang.Long.valueOf(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => java.lang.Long.valueOf(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.valueOf(v.asInstanceOf[Long])
    case BooleanType =>
      java.lang.Long.valueOf(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case StringType => v.asInstanceOf[UTF8String]
    case other => throw new IllegalArgumentException(
      s"unsupported equality-delete key type ${other.simpleString}")
  }

  /** Build a KeySet from driver-collected Catalyst values. `rows` are
    * the DISTINCT key tuples; tuples containing NULL are dropped
    * (null-rejecting equality — a NULL key can never match a row). */
  def keySetOf(cols: Seq[String], dts: Seq[DataType],
               rows: Iterator[Seq[Any]]): KeySet = {
    val tags = dts.map(dt => tagFor(dt).getOrElse(throw new IllegalArgumentException(
      s"equality-delete key of type ${dt.simpleString} is not supported " +
        "(integral, string, date, timestamp, boolean only)"))).toArray
    val canon = rows.flatMap { r =>
      if (r.exists(_ == null)) None
      else Some(r.zip(dts).map { case (v, dt) => canonical(v, dt) }.toArray)
    }
    buildKeySet(cols.toArray, tags, canon)
  }

  // ---- sidecar I/O

  private[storage] def write(s: SparkSession, table: String, ks: KeySet): String =
    writeWithConf(s.sparkContext.hadoopConfiguration, table, ks)

  private[storage] def writeWithConf(conf: org.apache.hadoop.conf.Configuration,
                                     table: String, ks: KeySet): String = {
    val rel = s"$SidecarDir/${java.util.UUID.randomUUID()}.eqd"
    val p = new Path(new Path(table), rel)
    val f = LocalFs.fileSystem(p, conf)
    f.mkdirs(p.getParent)
    val out = f.create(p, false)
    try out.write(serialize(ks)) finally out.close()
    rel
  }

  private[storage] def readBytes(conf: org.apache.hadoop.conf.Configuration,
                                 table: String, rel: String): Array[Byte] = {
    val p = new Path(new Path(table), rel)
    val f = p.getFileSystem(conf)
    val in = f.open(p)
    try {
      val len = f.getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"equality-delete sidecar $rel too large: $len")
      val b = new Array[Byte](len.toInt)
      in.readFully(b); b
    } finally in.close()
  }

  private[storage] def read(s: SparkSession, table: String, rel: String): KeySet =
    deserialize(readBytes(s.sparkContext.hadoopConfiguration, table, rel))

  /** Executor-local decode cache (the [[TxDv.cachedDecode]] pattern):
    * one KeySet per sidecar, shared by every task on the executor. */
  private val decodeCache = new ConcurrentHashMap[String, KeySet]()
  private[storage] def cachedDecode(key: String, bytes: => Array[Byte]): KeySet = {
    val hit = decodeCache.get(key)
    if (hit != null) hit
    else {
      val ks = deserialize(bytes)
      if (decodeCache.size > 1024) decodeCache.clear() // crude bound; re-decode is cheap
      decodeCache.putIfAbsent(key, ks)
      ks
    }
  }

  // ---- the V2 scan's filtering readers

  /** One probe bound to a read layout: the key set plus, per key
    * column, its ordinal and type in the AUGMENTED read schema. */
  private[storage] case class ProbeSpec(sidecarRel: String,
                                        ordinals: Array[Int],
                                        types: Array[DataType]) extends Serializable

  /** Per-file filtering work for the unified factory: the file's DV
    * (if any) and the equality-delete probes that apply to it (the
    * planner already resolved version scoping: entry version > file
    * seq). Both empty never happens (such files take the clean path). */
  private[storage] case class FileWork(dvRel: Option[String],
                                       probes: Seq[ProbeSpec]) extends Serializable

  private[storage] final class LoadedProbe(val ks: KeySet, val ordinals: Array[Int],
                                  val types: Array[DataType]) {
    /** Row probe: true = DELETE the row. NULL in any key column can
      * never match (null-rejecting equality). */
    def hitRow(row: InternalRow): Boolean = {
      var j = 0
      while (j < ordinals.length) {
        if (row.isNullAt(ordinals(j))) return false
        j += 1
      }
      if (ks.singleLong)
        return ks.containsLong(
          canonical(row.get(ordinals(0), types(0)), types(0))
            .asInstanceOf[java.lang.Long].longValue)
      val key: AnyRef =
        if (ordinals.length == 1) canonical(row.get(ordinals(0), types(0)), types(0))
        else List.tabulate(ordinals.length)(j =>
          canonical(row.get(ordinals(j), types(j)), types(j)))
      ks.contains(key)
    }
    /** Batch-column probe (vectorized path). */
    def hitCol(cols: Array[ColumnVector], i: Int): Boolean = {
      var j = 0
      while (j < ordinals.length) {
        if (cols(ordinals(j)).isNullAt(i)) return false
        j += 1
      }
      def valOf(j: Int): AnyRef = {
        val c = cols(ordinals(j))
        types(j) match {
          case ByteType => java.lang.Long.valueOf(c.getByte(i).toLong)
          case ShortType => java.lang.Long.valueOf(c.getShort(i).toLong)
          case IntegerType | DateType => java.lang.Long.valueOf(c.getInt(i).toLong)
          case LongType | TimestampType | TimestampNTZType =>
            java.lang.Long.valueOf(c.getLong(i))
          case BooleanType =>
            java.lang.Long.valueOf(if (c.getBoolean(i)) 1L else 0L)
          case StringType => c.getUTF8String(i)
          case other => throw new IllegalStateException(
            s"unsupported equality-delete probe type $other")
        }
      }
      if (ks.singleLong)
        return ks.containsLong(valOf(0).asInstanceOf[java.lang.Long].longValue)
      val key: AnyRef =
        if (ordinals.length == 1) valOf(0)
        else List.tabulate(ordinals.length)(valOf)
      ks.contains(key)
    }
  }

  /** Unified merge-on-read reader factory: delegates CLEAN partitions
    * verbatim to `clean` (untouched vectorized path) and reads
    * filtered partitions through `aug` — the same parquet factory with
    * the missing key columns and the row-index column APPENDED after
    * the data columns — applying the file's DV and equality-delete
    * probes per batch/row and hiding the appended WORKING BLOCK
    * `[hideFrom, hideFrom+hideCount)` (columns past it — the `_file`
    * partition constant — stay visible). `riOrdinal` locates the
    * row-index column wherever the layout put it (last when appended
    * for DV filtering, inside the visible prefix when the scan itself
    * serves `_pos`). Replaces [[TxDv.DvReaderFactory]] whenever
    * equality deletes are live (the DV-only case keeps the old
    * factory and its leaner layout). */
  private[storage] case class EqDelReaderFactory(
      clean: PartitionReaderFactory, aug: PartitionReaderFactory,
      work: Map[String, FileWork], table: String,
      hideFrom: Int, hideCount: Int, riOrdinal: Int,
      conf: org.apache.spark.util.SerializableConfiguration)
      extends PartitionReaderFactory {

    private def workOf(p: InputPartition): Option[FileWork] = p match {
      case fp: FilePartition if fp.files.nonEmpty =>
        work.get(TxDv.tailKey(fp.files.head.filePath.toString))
      case _ => None
    }

    private def loaded(w: FileWork): (Option[TxDv.Dv], Array[LoadedProbe]) = {
      val dv = w.dvRel.map(rel =>
        TxDv.cachedDecode(rel, TxDv.readBytes(conf.value, table, rel)))
      val ps = w.probes.map(p => new LoadedProbe(
        cachedDecode(p.sidecarRel, readBytes(conf.value, table, p.sidecarRel)),
        p.ordinals, p.types)).toArray
      (dv, ps)
    }

    override def supportColumnarReads(p: InputPartition): Boolean =
      clean.supportColumnarReads(p) && aug.supportColumnarReads(p)

    override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
      workOf(p) match {
        case None => clean.createColumnarReader(p)
        case Some(w) =>
          val (dv, ps) = loaded(w)
          new EqDelColumnarReader(aug.createColumnarReader(p), dv, ps,
            riOrdinal, hideFrom, hideCount)
      }

    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      workOf(p) match {
        case None => clean.createReader(p)
        case Some(w) =>
          val (dv, ps) = loaded(w)
          new EqDelRowReader(aug.createReader(p), dv, ps, riOrdinal,
            hideFrom, hideCount)
      }
  }

  /** Columnar filtering reader: per batch, keep rows that survive the
    * DV (row index not deleted) AND every probe; hide the appended
    * working block (columns past it — partition constants — stay
    * visible). A batch with no deletions passes the base vectors
    * through (block-hidden, zero per-row work). */
  private final class EqDelColumnarReader(
      inner: PartitionReader[ColumnarBatch], dv: Option[TxDv.Dv],
      probes: Array[LoadedProbe], riOrdinal: Int, hideFrom: Int, hideCount: Int)
      extends PartitionReader[ColumnarBatch] {
    private var current: ColumnarBatch = _
    private var sel: Array[Int] = new Array[Int](4096)

    private def outVectors(batch: ColumnarBatch,
                           wrap: ColumnVector => ColumnVector): Array[ColumnVector] = {
      val n = batch.numCols()
      val out = Array.newBuilder[ColumnVector]
      var i = 0
      while (i < n) {
        if (i < hideFrom || i >= hideFrom + hideCount) out += wrap(batch.column(i))
        i += 1
      }
      out.result()
    }

    override def next(): Boolean = {
      while (inner.next()) {
        val batch = inner.get()
        val rows = batch.numRows()
        val cols = Array.tabulate(batch.numCols())(batch.column)
        val ri = if (dv.isDefined) batch.column(riOrdinal) else null
        if (sel.length < rows) sel = new Array[Int](rows)
        var i = 0; var k = 0
        while (i < rows) {
          var keep = dv.forall(d => !d.contains(ri.getLong(i)))
          var j = 0
          while (keep && j < probes.length) {
            if (probes(j).hitCol(cols, i)) keep = false
            j += 1
          }
          if (keep) { sel(k) = i; k += 1 }
          i += 1
        }
        if (k > 0) {
          current =
            if (k == rows) new ColumnarBatch(outVectors(batch, identity), rows)
            else {
              val s = java.util.Arrays.copyOf(sel, k)
              new ColumnarBatch(
                outVectors(batch, TxDv.selected(_, s)), k)
            }
          return true
        }
      }
      false
    }
    override def get(): ColumnarBatch = current
    override def close(): Unit = inner.close()
  }

  /** Row-based twin (the fallback for schemas the vectorized reader
    * refuses). */
  private final class EqDelRowReader(
      inner: PartitionReader[InternalRow], dv: Option[TxDv.Dv],
      probes: Array[LoadedProbe], riOrdinal: Int, hideFrom: Int, hideCount: Int)
      extends PartitionReader[InternalRow] {
    private val projected = new TxDv.DropRangeRow(hideFrom, hideCount)
    private var current: InternalRow = _
    override def next(): Boolean = {
      while (inner.next()) {
        val row = inner.get()
        var keep = dv.forall(d => !d.contains(row.getLong(riOrdinal)))
        var j = 0
        while (keep && j < probes.length) {
          if (probes(j).hitRow(row)) keep = false
          j += 1
        }
        if (keep) {
          projected.row = row; current = projected
          return true
        }
      }
      false
    }
    override def get(): InternalRow = current
    override def close(): Unit = inner.close()
  }
}
