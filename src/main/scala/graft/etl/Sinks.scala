package graft.etl

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, FileUtil, Path => HPath}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.GraftParquetIO

/** O14 CSV sink. Two modes (SURVEY.md §4.3, §7.6):
  *
  *  - FIDELITY: reference-faithful single-file append with header-once
  *    (v2 `tell()==0` semantics, `main2.py:307-315`; v1's
  *    write-header-every-run duplicate-header bug is deliberately NOT
  *    reproduced — divergence D5). Python csv excel dialect:
  *    QUOTE_MINIMAL + CRLF. Rows stream through `toLocalIterator`, so the
  *    driver holds one partition at a time — the sink is driver-side by
  *    nature (append + header-once to ONE file is inherently sequential),
  *    which is exactly why scale mode exists.
  *
  *  - SCALE: distributed `df.write.csv` append — one part-file per task,
  *    header per file, no driver bottleneck; the mode to use on a real
  *    cluster where "one growing CSV" is an anti-pattern.
  */
object CsvSink {

  /** df must already be projected to string columns in final order.
    * collect() (one job) rather than toLocalIterator (one job per
    * partition — measured as the dominant overhead of a 20k-file run):
    * fidelity mode's single-growing-file semantic already implies the
    * result fits driver memory; scale mode is the unbounded path. */
  def appendFidelity(df: DataFrame, outFile: String): Unit = {
    val path = Paths.get(outFile)
    val needHeader = !Files.exists(path) || Files.size(path) == 0
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(outFile, true), StandardCharsets.UTF_8))
    try {
      if (needHeader) w.write(PyFormat.csvLine(df.columns.toSeq) + "\r\n")
      df.collect().foreach { row =>
        val fields = (0 until row.length).map(i =>
          if (row.isNullAt(i)) "" else row.getString(i))
        w.write(PyFormat.csvLine(fields) + "\r\n")
      }
    } finally w.close()
  }

  def appendScale(df: DataFrame, outDir: String): Unit =
    df.write.mode("append").option("header", "true").csv(outDir)
}

/** O6 error-log sink: `DD/MM/YYYY hh:mm:ss AM/PM, ERROR, SCHEMA ERR,
  * <path>, <msg>` lines appended to errors.log (`main.py:48-56,127-130`).
  * The reference's infinite retry loop on IO error is an availability
  * hazard, not a semantic — normal failure semantics here (divergence D3).
  * Timestamps are write-time wall clock, as in the reference; golden
  * comparisons match on (class, field, filename), not prose/time
  * (SURVEY §7.4).
  *
  * Two modes, mirroring CsvSink: FIDELITY appends ordered lines to the
  * single reference-shaped log file (driver-side by nature); SCALE
  * writes the same line format as a distributed text append under
  * `<logFile>.d/` — the invalid set never touches the driver, so a
  * majority-invalid corpus (bad upstream) cannot OOM it. The pipeline
  * feeds it [[QuarantineSink.copying]]'s pass-through of the invalid
  * rows, so one job writes the log and the quarantine copies. */
object ErrorLogSink {
  private val fmt = DateTimeFormatter.ofPattern("dd/MM/yyyy hh:mm:ss a", Locale.ENGLISH)

  /** rows: (src_path, errMsg), already ordered. */
  def append(rows: Seq[(String, String)], logFile: String): Unit = {
    if (rows.isEmpty) return
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(logFile, true), StandardCharsets.UTF_8))
    try rows.foreach { case (path, msg) =>
      val ts = LocalDateTime.now().format(fmt)
      w.write(s"$ts, ERROR, SCHEMA ERR, $path, $msg\n")
    } finally w.close()
  }

  /** invalid: (src_path, errMsg) DataFrame; lines land as text part
    * files under logDir. Timestamps are executor write-time wall clock
    * (same semantic as the reference's append-time stamp); Spark's
    * `date_format` renders the identical `dd/MM/yyyy hh:mm:ss a`
    * pattern codegen'd, so the whole sink is one distributed
    * projection + append with no driver materialization. */
  def appendDistributed(invalid: DataFrame, logDir: String): Unit =
    invalid
      .select(concat(
        date_format(current_timestamp(), "dd/MM/yyyy hh:mm:ss a"),
        lit(", ERROR, SCHEMA ERR, "), col("src_path"),
        lit(", "), col("errMsg")).as("value"))
      .write.mode("append").text(logDir)
}

/** O7 quarantine sink: copy (not move — `shutil.copy`, `main.py:34-38`)
  * each offending source file verbatim into the quarantine dir, creating
  * it on demand.
  *
  * FIDELITY mode copies the collected (small) invalid list on the
  * driver. SCALE mode copies inside the tasks: [[copying]] passes the
  * invalid rows through unchanged and copies each row's file as it goes
  * by, so the copy runs inside whichever job consumes the rows — in the
  * pipeline, the error log's text append. File bytes and path lists both
  * stay off the driver. Both modes copy through one [[Copier]], with the
  * session's Hadoop configuration (shipped to the tasks), so a file
  * system or credential set on the session reaches the copy.
  *
  * When the quarantine directory and the source both resolve to the
  * local file system, the copy is `java.nio.file.Files.copy`; every other
  * pair goes through Hadoop's `FileUtil.copy`, which covers HDFS and
  * object stores (SURVEY §2.1 O7's named alternative). Without libhadoop,
  * Hadoop's local file system sets the permission of every file and
  * directory it creates by running a `chmod` process: one process per
  * quarantined file. Measured on 4 vCPUs with the 30%-invalid corpus of
  * the `etl_scale_dirty` benchmark, 60 field-missing files packed into
  * one scan partition took 83–116 ms to copy through Hadoop and 0.6 ms
  * through NIO, and that error-log task was an entity's critical path. */
object QuarantineSink {
  def copyAll(spark: SparkSession, srcPaths: Seq[String], quarantineDir: String): Unit =
    if (srcPaths.nonEmpty) {
      val copier = new Copier(spark.sessionState.newHadoopConf(), quarantineDir)
      srcPaths.foreach(copier.copy)
    }

  /** `df` unchanged, with the file named by each row's first column
    * (a source path) copied into quarantineDir when the row passes
    * through its task. A re-run task copies again, overwriting. An
    * empty partition touches no file system. */
  private[etl] def copying(df: DataFrame, quarantineDir: String): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.broadcast(
      GraftParquetIO.serializableConf(spark.sessionState.newHadoopConf()))
    df.mapPartitions { (rows: Iterator[Row]) =>
      if (!rows.hasNext) rows
      else {
        val copier = new Copier(conf.value.value, quarantineDir)
        rows.map { r => copier.copy(r.getString(0)); r }
      }
    }(Encoders.row(df.schema))
  }

  /** srcPaths: single-string-column DataFrame of offending file paths,
    * copied in a job of their own. */
  def copyAllDistributed(srcPaths: DataFrame, quarantineDir: String): Unit =
    copying(srcPaths, quarantineDir).foreach((_: Row) => ())

  /** Copies files by path into quarantineDir, which it creates. The
    * branch is chosen by the file systems the paths resolve to, not by
    * the path strings. */
  private final class Copier(conf: Configuration, quarantineDir: String) {
    private val qd = new HPath(quarantineDir)
    // the raw file system of a checksummed one (local disk) writes no
    // .crc sidecars next to the quarantined files
    private val qfs = qd.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    private val localDir = localPath(qfs, qd)
    localDir match {
      case Some(d) => Files.createDirectories(d)
      case None => qfs.mkdirs(qd)
    }

    def copy(srcPath: String): Unit = {
      val src = new HPath(srcPath)
      val sfs = src.getFileSystem(conf)
      (localDir, localPath(sfs, src)) match {
        case (Some(d), Some(s)) =>
          Files.copy(s, d.resolve(s.getFileName), StandardCopyOption.REPLACE_EXISTING)
        case _ =>
          FileUtil.copy(sfs, src, qfs, new HPath(qd, src.getName), false, true, conf)
      }
    }
  }

  private def localPath(fs: FileSystem, p: HPath): Option[Path] =
    if (fs.getUri.getScheme == "file") Some(Paths.get(fs.makeQualified(p).toUri.getPath))
    else None
}
