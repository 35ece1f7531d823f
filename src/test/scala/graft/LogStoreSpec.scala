package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.{HdfsRenameLogStore, LogStore, PosixLinkLogStore, TxLog}

/** The pluggable commit-point arbiter ([[LogStore]]): the whole TxLog
  * protocol stays correct through an ALTERNATIVE arbiter with object-
  * store conditional-put semantics, and the documented S3A hazard (a
  * rename that silently replaces) is DEMONSTRATED, not just asserted —
  * that demonstration is the reason the seam exists. */
class LogStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("lgst_").resolve("t").toString

  private def batch(ids: Range) =
    ids.map(i => (i.toLong, s"row-$i")).toDF("id", "payload")

  /** S3-style conditional put (If-None-Match: *): the store's server
    * arbitrates existence-check + write as ONE atomic operation. The
    * simulation uses a JVM-global monitor as the "server"; the write
    * itself lands via a plain (non-arbitrating) file write. */
  private object ConditionalPutStore extends LogStore {
    val lock = new Object
    override def putIfAbsent(f: FileSystem, logDir: Path, target: Path,
                             bytes: Array[Byte]): Boolean = lock.synchronized {
      if (f.exists(target)) false
      else {
        // model the S3 semantics FAITHFULLY: a conditional PUT exposes
        // the object only fully formed — write complete, then move into
        // place. (A create-then-write simulation let concurrent listers
        // read an EMPTY manifest: a real protocol violation this spec
        // caught in itself.)
        val tmp = new Path(logDir, s".cput-${java.util.UUID.randomUUID()}")
        val out = f.create(tmp, false)
        try out.write(bytes) finally out.close()
        f.rename(tmp, target)
      }
    }
  }

  /** The S3A hazard: exists-check then copy-rename with NO destination
    * arbitration. The barrier forces two committers into the window
    * between check and write — both "win". */
  private class BrokenRenameStore(barrier: CyclicBarrier) extends LogStore {
    override def putIfAbsent(f: FileSystem, logDir: Path, target: Path,
                             bytes: Array[Byte]): Boolean = {
      val free = !f.exists(target)
      barrier.await() // both racers observe the slot free...
      if (!free) false
      else {
        val out = f.create(target, true) // ...and S3A-rename REPLACES
        try out.write(bytes) finally out.close()
        true
      }
    }
  }

  private def withStore[A](store: LogStore)(body: => A): A = {
    val prev = LogStore.register("file", store)
    try body finally { prev.foreach(LogStore.register("file", _)); () }
  }

  test("scheme dispatch: file gets the hard-link arbiter, unknown schemes the rename arbiter") {
    assert(LogStore.forScheme("file") eq PosixLinkLogStore)
    assert(LogStore.forScheme("hdfs") eq HdfsRenameLogStore)
    assert(LogStore.forScheme("viewfs") eq HdfsRenameLogStore)
  }

  test("the full commit battery holds through a conditional-put arbiter") {
    withStore(ConditionalPutStore) {
      val t = freshTable()
      // racing committers: every batch lands exactly once, versions dense
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          try { TxLog.commit(batch(i * 10 until (i + 1) * 10), t, s"w$i", 0L); () }
          catch { case e: Throwable => errs.add(e); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"racing committer threw: ${Option(errs.peek()).map(_.toString)}")
      assert(TxLog.headVersion(spark, t) == 7L, "a version slot was lost or doubled")
      assert(TxLog.snapshot(spark, t).get.count() == 80)
      // token replay is still exactly-once through the alternative arbiter
      assert(TxLog.commit(batch(0 until 10), t, "w0", 0L) == -1L)
      // DML + compaction + vacuum still work end-to-end
      TxLog.delete(spark, t, $"id" < 5L, "d", 0L)
      assert(TxLog.snapshot(spark, t).get.count() == 75)
      TxLog.compact(spark, t, targetBytes = 1L << 30)
      TxLog.vacuum(spark, t, minAgeMs = 0L)
      assert(TxLog.snapshot(spark, t).get.count() == 75)
      // serializable rewrite conflict stays loud
      intercept[java.util.ConcurrentModificationException] {
        TxLog.delete(spark, t, $"id" < 20L, "d", 1L,
          beforeCommit = () => { TxLog.commit(batch(100 until 102), t, "sneak", 0L); () })
      }
    }
  }

  test("DEMONSTRATED hazard: a non-arbitrating rename store lets two committers both win one slot") {
    val barrier = new CyclicBarrier(2)
    withStore(new BrokenRenameStore(barrier)) {
      val t = freshTable()
      val dir = new Path(t, "_txlog")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.mkdirs(dir)
      val target = new Path(dir, "v00000000000000000000.json")
      val store = LogStore.forScheme("file")
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val racers = Seq("AAA", "BBB").map { payload =>
        new Thread(() => {
          results.add(store.putIfAbsent(f, dir, target, payload.getBytes)); ()
        })
      }
      racers.foreach(_.start()); racers.foreach(_.join())
      // BOTH believe they committed — the second write silently replaced
      // the first manifest: a lost transaction. This is why S3A must
      // register a conditional-put store instead of the rename default.
      assert(results.size == 2 && results.asScala()
        .forall(identity), "expected the broken store to double-commit")
    }
  }

  private implicit class QAsScala(q: java.util.concurrent.ConcurrentLinkedQueue[Boolean]) {
    def asScala(): Seq[Boolean] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }
}
