package graft.etl

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** The local disk under the made-up scheme `qtest`, so a quarantine
  * directory named `qtest:///...` takes the Hadoop branch of the copy
  * while its files land where a test can read them. Known only to a
  * configuration that names it in `fs.qtest.impl`. */
class QuarantineTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("qtest:///")
  override def getScheme: String = "qtest"
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) = {
    QuarantineTestFs.created.add(f.getName)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    QuarantineTestFs.created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object QuarantineTestFs {
  /** Names of the files created through this file system. */
  val created = ConcurrentHashMap.newKeySet[String]()
}

/** Each quarantined file is a byte-identical copy of its source, in both
  * modes, whatever its bytes and name; the copy goes through the file
  * system the session's Hadoop configuration names. */
class QuarantineSinkSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val sources: Seq[(String, Array[Byte])] = Seq(
    "latin1.json" -> Array[Byte]('{', 0xe9.toByte, 0xff.toByte, 0, 0xc3.toByte, '}'),
    "empty.json" -> Array.emptyByteArray,
    "crlf.json" -> "{\r\n  \"id\": \"x\"\r\n}\r\n".getBytes(UTF_8),
    "my 100% event.json" -> "{\"id\": 1}".getBytes(UTF_8))

  /** A fresh directory holding `sources`; their paths. */
  private def writeSources(): (Path, Seq[String]) = {
    val dir = Files.createTempDirectory("quarantine_src_")
    (dir, sources.map { case (n, b) => Files.write(dir.resolve(n), b).toString })
  }

  /** Every file in dir, hidden ones too, by name. */
  private def contents(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  private def quarantine(srcPaths: Seq[String], dir: String, fidelity: Boolean): Unit =
    if (fidelity) QuarantineSink.copyAll(spark, srcPaths, dir)
    else {
      import spark.implicits._
      QuarantineSink.copyAllDistributed(srcPaths.toDF("src_path"), dir)
    }

  for (fidelity <- Seq(true, false)) {
    val label = if (fidelity) "fidelity" else "scale"
    test(s"$label: copies are byte-identical, with no .crc, into a created dir; a re-run overwrites") {
      val (src, paths) = writeSources()
      val qdir = Files.createTempDirectory("quarantine_").resolve("nested/q")
      quarantine(paths, qdir.toString, fidelity)
      assert(contents(qdir) == sources.map { case (n, b) => n -> b.toSeq }.toMap)

      Files.write(src.resolve("crlf.json"), "{\r\n}\r\n".getBytes(UTF_8))
      Files.write(src.resolve("empty.json"), Array[Byte](1, 2, 3))
      quarantine(paths, qdir.toString, fidelity)
      assert(contents(qdir) == contents(src))
    }
  }

  test("scale mode quarantines what fidelity mode does, through the pipeline") {
    def run(fidelity: Boolean): Map[String, Seq[Byte]] = {
      val base = Files.createTempDirectory("quarantine_etl_")
      Files.writeString(base.resolve("user-events-schema.json"), EtlFixtures.userSchemaJson)
      val data = Files.createDirectories(base.resolve("users"))
      sources.foreach { case (n, b) => Files.write(data.resolve(n), b) }
      val conf = EntityConf("users", base.resolve("user-events-schema.json").toString,
        data.toString, base.resolve("users.csv").toString, Some(base.resolve("metadata.csv").toString),
        base.resolve("users_schema_mismatches").toString)
      val r = EntityPipeline.run(spark, conf, V2, base.resolve("errors.log").toString, fidelity)
      val q = contents(base.resolve("users_schema_mismatches"))
      assert(r.metrics.invalid == q.size)
      q.foreach { case (n, b) => assert(b == Files.readAllBytes(data.resolve(n)).toSeq, n) }
      q
    }
    val fid = run(fidelity = true)
    assert(fid.keySet.contains("latin1.json") && fid.keySet.contains("crlf.json") &&
      fid.keySet.contains("my 100% event.json"), fid.keySet)
    assert(run(fidelity = false) == fid)
  }

  test("the session's Hadoop configuration reaches the copy: a scheme registered only there") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.qtest.impl", classOf[QuarantineTestFs].getName)
    hc.setBoolean("fs.qtest.impl.disable.cache", true)
    try for (fidelity <- Seq(true, false)) {
      val (_, paths) = writeSources()
      val qdir = Files.createTempDirectory("quarantine_qtest_").resolve("q")
      QuarantineTestFs.created.clear()
      quarantine(paths, s"qtest://${qdir.toUri.getRawPath}", fidelity)
      assert(QuarantineTestFs.created.asScala == sources.map(_._1).toSet)
      assert(contents(qdir) == sources.map { case (n, b) => n -> b.toSeq }.toMap)
    } finally {
      hc.unset("fs.qtest.impl")
      hc.unset("fs.qtest.impl.disable.cache")
    }
  }
}
