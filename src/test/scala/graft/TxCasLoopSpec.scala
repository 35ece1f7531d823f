package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{LogStore, PosixLinkLogStore, TxLog}

/** Every txlog transaction publishes through one CAS attempt loop
  * (`TxLog.casCommit`). Driven through a `file` arbiter that refuses
  * puts: a few lost races re-list and land at the next dense version;
  * a store that never accepts exhausts the budget of 20 lost races with
  * one `IllegalStateException` naming the operation and the table, and
  * leaves no manifest behind. */
class TxCasLoopSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val scratch = Files.createTempDirectory("txcas_")

  override def afterAll(): Unit = {
    val walk = Files.walk(scratch)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
  }

  private def fresh(): String =
    Files.createTempDirectory(scratch, "t_").resolve("t").toString

  /** Refuses the first `refuse` puts (a concurrent committer "took" the
    * slot), then arbitrates with the stock hard-link store. */
  private class RefusingStore(refuse: Int) extends LogStore {
    val puts = new AtomicInteger()
    override def putIfAbsent(f: FileSystem, logDir: Path, target: Path,
                             bytes: Array[Byte]): Boolean =
      puts.incrementAndGet() > refuse &&
        PosixLinkLogStore.putIfAbsent(f, logDir, target, bytes)
  }

  private def withStore[A](store: LogStore)(body: => A): A = {
    val prev = LogStore.register("file", store)
    try body finally { prev.foreach(LogStore.register("file", _)); () }
  }

  /** The log directory's entries: manifest names, and anything else. */
  private def logEntries(t: String): Seq[String] = {
    val dir = new java.io.File(t, "_txlog")
    Option(dir.list()).map(_.toSeq.sorted).getOrElse(Seq.empty)
  }

  private def dense(n: Int): Seq[String] = (0 until n).map(v => f"v$v%020d.json")

  private def batch(ids: Range) = ids.map(i => (i.toLong, s"row-$i")).toDF("id", "v")

  /** Two appended files: ids 0..3 and 4..7. */
  private def twoFiles(): String = {
    val t = fresh()
    TxLog.commit(batch(0 until 4).coalesce(1), t, "seed", 0L)
    TxLog.commit(batch(4 until 8).coalesce(1), t, "seed", 1L)
    t
  }

  private def writeSerializable(t: String): Unit = {
    TxLog.setProperties(spark, t,
      Map(TxLog.IsolationProp -> TxLog.IsolationWriteSerializable)); ()
  }

  /** (operation name in the exhaustion message, set-up returning the
    * table and the operation to run on it). */
  private val ops: Seq[(String, () => (String, () => Long))] = Seq(
    "commit" -> { () =>
      val t = twoFiles()
      (t, () => TxLog.commit(batch(8 until 10), t, "w", 0L))
    },
    "setProperties" -> { () =>
      val t = twoFiles()
      (t, () => TxLog.setProperties(spark, t, Map("owner" -> "etl")))
    },
    "rename column" -> { () =>
      val t = twoFiles()
      (t, () => TxLog.renameColumn(spark, t, "v", "payload"))
    },
    "row-level rewrite" -> { () =>
      val t = twoFiles()
      writeSerializable(t)
      (t, () => TxLog.delete(spark, t, col("id") < 2L, "d", 0L).version)
    },
    "checkpoint" -> { () =>
      val t = twoFiles()
      (t, () => TxLog.compact(spark, t, targetBytes = 1L << 30))
    },
    "mergeBranch('b')" -> { () =>
      val t = twoFiles()
      writeSerializable(t)
      TxLog.createBranch(spark, t, "b")
      TxLog.onBranch("b") { TxLog.commit(batch(100 until 102), t, "bw", 0L) }
      TxLog.commit(batch(200 until 202), t, "mw", 0L) // main diverges
      (t, () => TxLog.mergeBranch(spark, t, "b"))
    },
    "createTable" -> { () =>
      val t = fresh()
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
      (t, () => TxLog.createTable(spark, t, schema))
    })

  ops.foreach { case (op, setup) =>
    test(s"$op: lost races re-list and publish at the next dense version") {
      val (t, run) = setup()
      val before = logEntries(t)
      assert(before == dense(before.size), before)
      val store = new RefusingStore(3)
      val v = withStore(store)(run())
      assert(v == before.size, s"$op published v$v over ${before.size} manifests")
      assert(store.puts.get == 4, s"$op made ${store.puts.get} puts")
      assert(logEntries(t) == dense(before.size + 1), logEntries(t))
    }

    test(s"$op: 20 lost races throw once, naming the operation and the table") {
      val (t, run) = setup()
      val before = logEntries(t)
      val store = new RefusingStore(Int.MaxValue)
      val e = intercept[IllegalStateException](withStore(store)(run()))
      assert(e.getMessage ==
        s"$op on $t lost 20 version races (last tried v${before.size})", e.getMessage)
      assert(store.puts.get == 20, s"$op made ${store.puts.get} puts")
      assert(logEntries(t) == before, "a refused operation left a log entry behind")
    }
  }
}
