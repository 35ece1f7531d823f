package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Access bridge into Spark's `private[parquet]` footer-to-schema
  * conversion, for reading a table's schema on the driver. Lives in the
  * org.apache.spark.sql package tree for ACCESS only (the
  * [[org.apache.spark.sql.execution.datasources.GraftParquetIO]]
  * pattern) — no Spark internals are modified or shadowed.
  *
  * Why this exists: `spark.read.parquet(path)` without a schema infers
  * one by reading footers in a Spark job, on every call. A table whose
  * files share one schema (one writer, or one Spark write) needs one
  * footer, which the driver can read itself; the schema then goes to
  * `spark.read.schema(...)`, and building the DataFrame runs no job. */
object GraftParquetFooter {

  /** The schema an inferring `spark.read.parquet(path)` reports, read
    * from one data file's footer and converted the way Spark's schema
    * inference converts it (the session's binary-as-string, INT96,
    * timestamp-NTZ and nanos-as-long confs; a Spark-written file's own
    * schema when its footer carries one), with every field nullable as
    * Spark's file sources report them. A directory reads the first data
    * file by name, descending into subdirectories (a partitioned tree),
    * and skips the names starting with `_` or `.` that Spark's file index
    * skips (`_SUCCESS`, `.crc` files; a `_k=v` partition directory is
    * kept).
    * A missing path fails with Spark's own `PATH_NOT_FOUND` error, and a
    * directory holding no data file with `UNABLE_TO_INFER_SCHEMA`, as an
    * inferring read does. */
  def schema(spark: SparkSession, path: String): StructType = {
    val hconf = spark.sessionState.newHadoopConf()
    val raw = new Path(path)
    val fs = raw.getFileSystem(hconf)
    val qualified = fs.makeQualified(raw)
    val status = try fs.getFileStatus(qualified) catch {
      case _: java.io.FileNotFoundException =>
        throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    }
    val file = (if (status.isFile) Some(status) else firstDataFile(fs, status.getPath))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hconf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, footer)), spark).get.asNullable
  }

  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val (files, dirs) = fs.listStatus(dir)
      .filterNot { s =>
        val n = s.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .partition(_.isFile)
    files.headOption.orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
  }
}
