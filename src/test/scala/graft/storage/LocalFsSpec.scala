package graft.storage

import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Config, EntityPipeline, EtlFixtures, V2}

/** Hadoop's stock local file systems under the made-up scheme
  * `stocklocal`, so a write can be sent through them (and their
  * `chmod` processes) while [[LocalFs.WriteOptions]] swaps the `file`
  * one. Known only to a configuration that names it. */
class StockRawTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("stocklocal:///")
  override def getScheme: String = "stocklocal"
}

class StockLocalTestFs extends LocalFileSystem(new StockRawTestFs) {
  override def getScheme: String = "stocklocal"
}

/** [[NioLocalFileSystem]] leaves what Hadoop's stock `LocalFileSystem`
  * leaves: the same permission bits, and the same files (`.crc`
  * sidecars, `_SUCCESS`, part files) with the same modes after an ETL
  * entity and a txlog commit. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = graft.TestSpark.spark

  private lazy val scratch = Files.createTempDirectory("localfs_")
  private def tempDir(prefix: String): JPath = Files.createTempDirectory(scratch, prefix)

  /** Deletes p and everything under it, directories of mode 0000 included. */
  private def deleteTree(p: JPath): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwx------"))
      val entries = Files.list(p)
      try entries.iterator().asScala.foreach(deleteTree) finally entries.close()
    }
    Files.delete(p)
  }

  override def afterAll(): Unit = deleteTree(scratch)

  private val conf = new Configuration()

  private def initialized[F <: org.apache.hadoop.fs.FileSystem](f: F): F = {
    f.initialize(URI.create("file:///"), conf); f
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  /** The mode bits of p, sticky, setuid and setgid included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private val modes = Seq(0x000, 0x180, 0x1a0, 0x1a4, 0x1c0, 0x1ed, 0x1ff) // 0000 0600 0640 0644 0700 0755 0777

  for (m <- modes; dir <- Seq(false, true)) {
    val kind = if (dir) "directory" else "file"
    test(f"setPermission $m%04o (umask applied) on a $kind: NIO sets what the stock chmod sets") {
      val perm = new FsPermission(m.toShort).applyUMask(FsPermission.getUMask(conf))
      val base = tempDir("mode_")
      val got = Seq(stock, nio).map { fs =>
        val p = base.resolve(fs.getClass.getSimpleName)
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(hpath(p), perm)
        mode(p)
      }
      assert(got.head == (perm.toShort & 0x1ff), f"stock set ${got.head}%04o")
      assert(got(1) == got.head, f"NIO set ${got(1)}%04o, stock ${got.head}%04o")
    }
  }

  test("mkdirs and create with a permission: NIO leaves the stock modes") {
    val base = tempDir("create_")
    def run(fs: RawLocalFileSystem): Seq[Int] = {
      val root = Files.createDirectory(base.resolve(fs.getClass.getSimpleName))
      modes.flatMap { m =>
        val perm = new FsPermission(m.toShort)
        val d = root.resolve(f"d$m%04o")
        val f = root.resolve(f"f$m%04o")
        assert(fs.mkdirs(hpath(d), perm))
        fs.create(hpath(f), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        Seq(mode(d), mode(f))
      }
    }
    assert(run(nio) == run(stock))
  }

  test("a sticky 01777 directory falls back to the stock call and keeps its sticky bit") {
    val base = tempDir("sticky_")
    val perm = new FsPermission(0x3ff.toShort) // 01777
    val got = Seq(stock, nio).map { fs =>
      val p = Files.createDirectory(base.resolve(fs.getClass.getSimpleName))
      fs.setPermission(hpath(p), perm)
      mode(p)
    }
    assert(got == Seq(0x3ff, 0x3ff), got.map(m => f"$m%04o"))
  }

  test("LocalFs.fileSystem: NIO for file, unchanged for other schemes") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(LocalFs.fileSystem(new Path("/tmp"), hc).isInstanceOf[NioLocalFileSystem])
    assert(LocalFs.fileSystem(new Path("file:///tmp"), hc).isInstanceOf[NioLocalFileSystem])
    withStockScheme {
      assert(LocalFs.fileSystem(new Path("stocklocal:///tmp"), hc).isInstanceOf[StockLocalTestFs])
    }
  }

  /** Every file and directory under root: its relative path, with each
    * UUID (job ids in part-file names, staging directories) masked, and
    * its mode; sorted. */
  private def tree(root: JPath): Seq[(String, Int)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      uuid.replaceAllIn(root.relativize(p).toString, "U") -> mode(p)
    }.toSeq.sorted
    finally walk.close()
  }

  /** p as a URI of the stock test scheme. */
  private def stockUri(p: JPath): String =
    "stocklocal://" + p.toUri.getRawPath.stripSuffix("/")

  private def withStockScheme[A](body: => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.stocklocal.impl", classOf[StockLocalTestFs].getName)
    hc.setBoolean("fs.stocklocal.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.stocklocal.impl")
      hc.unset("fs.stocklocal.impl.disable.cache")
    }
  }

  test("a scale-mode v2 ETL entity leaves the files and modes of the stock file system") {
    def run(stockSinks: Boolean): Seq[(String, Int)] = {
      val base = tempDir("etl_")
      EtlFixtures.writeCorpus(base)
      val out = Files.createDirectory(base.resolve("out"))
      val uri = if (stockSinks) stockUri(out) else out.toString
      val users = Config.builtin(base.toString, V2).find(_.name == "users").get
      val conf = users.copy(outputFile = s"$uri/users.csv",
        metadataFile = Some(s"$uri/metadata.csv"))
      val r = EntityPipeline.run(spark, conf, V2, s"$uri/errors.log", fidelity = false)
      assert(r.metrics.valid > 0 && r.metrics.invalid > 0, r.metrics)
      tree(out)
    }
    val viaNio = run(stockSinks = false)
    val viaStock = withStockScheme(run(stockSinks = true))
    val names = viaNio.map(_._1)
    Seq("users.csv.d", "metadata.csv.d", "errors.log.d").foreach { d =>
      assert(names.contains(s"$d/_SUCCESS") && names.contains(s"$d/._SUCCESS.crc"), names)
      assert(names.exists(_.startsWith(s"$d/part-")), names)
      assert(names.exists(k => k.startsWith(s"$d/.part-") && k.endsWith(".crc")), names)
    }
    assert(viaNio == viaStock)
  }

  test("TxLog.commit leaves the files and modes of the stock file system") {
    import spark.implicits._
    def run(stockTable: Boolean): Seq[(String, Int)] = {
      val t = tempDir("txlog_").resolve("t")
      val table = if (stockTable) stockUri(t) else t.toString
      val df = (0 until 1000).map(i => (i.toLong, s"p$i")).toDF("id", "payload").repartition(2)
      assert(TxLog.commit(df, table, "localfs-spec", 0L) >= 0L)
      assert(TxLog.commit(df, table, "localfs-spec", 1L) >= 0L)
      tree(t)
    }
    val viaNio = run(stockTable = false)
    // the stock side publishes through the arbiter a `file` table gets
    val prev = LogStore.register("stocklocal", PosixLinkLogStore)
    val viaStock = try withStockScheme(run(stockTable = true))
    finally prev match {
      case Some(p) => LogStore.register("stocklocal", p)
      case None => LogStore.unregister("stocklocal")
    }
    val names = viaNio.map(_._1)
    assert(names.count(_.endsWith(".parquet")) == 4, names)
    assert(names.count(_.endsWith(".parquet.crc")) == 4, names)
    assert(names.count(_.endsWith("/_SUCCESS")) == 2, names)
    assert(names.count(_.startsWith("_txlog/v")) == 2, names)
    assert(viaNio == viaStock)
  }
}
