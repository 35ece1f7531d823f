package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.dedup.Dedup
import graft.storage.TxLog

/** Crash-recovery proof for the EXACTLY-ONCE probe→admit ingestion loop
  * ([[Dedup.dedupIngestionStream]]) over its TxLog index: the loop is
  * killed in each at-least-once window —
  *
  *  1. between probe and admit (pairs written, index not yet extended);
  *  2. after the admit committed but before the checkpoint recorded the
  *     batch (the window a blind SaveMode.Append double-appends in);
  *  3. after the admit's data files were staged under `<index>/data/`
  *     but before its manifest published — the files are orphans no
  *     manifest names;
  *  4. inside the in-loop maintenance, after [[TxLog.clusterBy]] staged
  *     its rewrite but before its checkpoint published;
  *
  * restarted from its checkpoint, and must end with the index contents
  * (batch_id included) AND per-batch pair outputs of the crash-free run
  * — no duplicated band rows, no self-pairs. Windows 2–4 are what the
  * admit's (writer, batch id) token, the atomic manifest publish and
  * [[Dedup.bandIndexProbeBatchBefore]]'s `batch_id < id` snapshot
  * cover. (A partially published admit cannot happen: the manifest
  * publish is one atomic put, so the batch's rows appear together.) */
class IngestionRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** documents split into 3 doc_id-tercile parquet files; with
    * maxFilesPerTrigger=1 each is one deterministic micro-batch. */
  lazy val streamFixture: (String, org.apache.spark.sql.types.StructType) = {
    val tmp = Files.createTempDirectory("ingest_stream_")
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").cache()
    val cuts = docs.selectExpr(
      "percentile(doc_id, 0.3333)", "percentile(doc_id, 0.6667)").collect()(0)
    val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
    val streamDir = tmp.resolve("stream")
    Files.createDirectory(streamDir)
    Seq((col("doc_id") < c1, 0),
        (col("doc_id") >= c1 && col("doc_id") < c2, 1),
        (col("doc_id") >= c2, 2)).foreach { case (p, i) =>
      val part = tmp.resolve(s"part$i")
      docs.filter(p).coalesce(1).write.parquet(part.toString)
      val f = Files.list(part).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, streamDir.resolve(s"f$i.parquet"))
    }
    val schema = docs.schema
    docs.unpersist()
    (streamDir.toString, schema)
  }

  private var runId = 0

  /** Run the ingestion loop over the 3-batch source into a fresh
    * index/pairs/checkpoint. `crash(batch, id, index)`: invoked in the
    * beforeAdmit seam (first attempt only — the driver rethrows into
    * the stream, then we restart from the same checkpoint).
    * `compactEvery` forwards to the loop's maintenance policy (default
    * 0 = off). Returns (index rows incl. batch_id, pairs rows per batch
    * dir). */
  private def run(crash: (DataFrame, Long, String) => Unit = null,
                  compactEvery: Int = 0)
      : (Seq[String], Map[Long, Seq[String]]) = {
    runId += 1
    val (dir, schema) = streamFixture
    val index = Files.createTempDirectory(s"ingest_idx_$runId").resolve("t").toString
    val pairsDir = Files.createTempDirectory(s"ingest_pairs_$runId").toString
    val ckpt = Files.createTempDirectory(s"ingest_ckpt_$runId").toString
    @volatile var crashed = false
    val hook: (DataFrame, Long) => Unit = { (df, id) =>
      if (crash != null && !crashed) {
        try crash(df, id, index)
        catch { case e: Throwable => crashed = true; throw e }
      }
    }
    def start() = Dedup.dedupIngestionStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      index, pairsDir, ckpt, hook, compactEvery)
    val q1 = start()
    if (crash != null) {
      val ex = intercept[Throwable] { q1.processAllAvailable() }
      val mentionsInjected = Iterator.iterate(ex)(_.getCause)
        .takeWhile(_ != null).take(10)
        .exists(e => Option(e.getMessage).exists(_.contains("injected crash")))
      assert(mentionsInjected, s"query failed for the wrong reason: $ex")
      q1.stop()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
    } else {
      try q1.processAllAvailable() finally q1.stop()
    }
    val idx = TxLog.snapshot(spark, index).get
      .collect().map(_.toString).toSeq.sorted
    val pairs = (0L to 2L).map { id =>
      id -> spark.read.parquet(s"$pairsDir/batch_id=$id")
        .collect().map(_.toString).toSeq.sorted
    }.toMap
    (idx, pairs)
  }

  lazy val baseline: (Seq[String], Map[Long, Seq[String]]) = run()

  test("crash-free loop: every batch admitted exactly once, no self-pairs") {
    val (idx, pairs) = baseline
    assert(idx.nonEmpty)
    // three distinct batch ids in the index, all documents banded once
    val byBatch = idx.map(_.split(",").last.stripSuffix("]")).distinct
    assert(byBatch.sorted.toSeq == Seq("0", "1", "2"))
    assert(idx.distinct.size == idx.size, "a band row was admitted twice")
    assert(pairs(0L).isEmpty, "batch 0 probes an empty corpus")
    pairs.values.flatten.foreach { p =>
      val Array(a, b) = p.stripPrefix("[").stripSuffix("]").split(",")
      assert(a != b, s"self-pair leaked: $p")
    }
  }

  test("crash between probe and admit: restart restores identical index and pairs") {
    val (idx, pairs) = run { (_, id, _) =>
      if (id == 1) sys.error("injected crash (between probe and admit)")
    }
    assert(idx == baseline._1, "index contents differ after recovery")
    assert(pairs == baseline._2, "pair outputs differ after recovery")
  }

  test("crash after admit committed: replay is a no-op admit, identical outputs") {
    // simulate the worst window: the admit COMMITTED, then the driver
    // died before the checkpoint advanced — the replayed batch must
    // (a) probe the pre-batch snapshot (not see itself), (b) skip the
    // already-committed admit instead of double-appending
    val (idx, pairs) = run { (df, id, index) =>
      if (id == 1) {
        Dedup.bandIndexAdmitIdempotent(df, index, id)
        sys.error("injected crash (post-admit)")
      }
    }
    assert(idx == baseline._1,
      "index differs — double-append or missed admit after post-admit crash")
    assert(pairs == baseline._2, "pair outputs differ after post-admit crash")
  }

  test("crash after the admit's data files are staged, before its manifest publishes: orphans stay invisible") {
    // the crashed attempt's band rows landed as data files under the
    // index's data/ directory, but no manifest names them: the restart
    // must neither read them nor skip the batch's real admit
    val (idx, pairs) = run { (df, id, index) =>
      if (id == 1) {
        Dedup.bandIndexRows(df, id).write.parquet(s"$index/data/orphan-batch$id")
        sys.error("injected crash (staged, unpublished admit)")
      }
    }
    assert(idx == baseline._1,
      "index differs — orphaned admit files leaked in, or the admit was skipped")
    assert(pairs == baseline._2, "pair outputs differ after a staged-admit crash")
  }

  test("compaction interleaved with ingestion: contents identical to the compaction-free run") {
    // cluster after every admit — the most aggressive interleaving the
    // policy allows — and require identical index contents AND probe
    // pairs vs the never-clustered baseline
    val (idx, pairs) = run(crash = null, compactEvery = 1)
    assert(idx == baseline._1, "in-loop compaction changed index contents")
    assert(pairs == baseline._2, "in-loop compaction changed probe pairs")
  }

  test("crash DURING compaction (clusterBy staged, checkpoint unpublished): restart converges, identical outputs") {
    // the loop's maintenance rewrite died between staging its files and
    // publishing its checkpoint: the index must read exactly as before
    // the maintenance, and the replayed batch admits once
    val (idx, pairs) = run { (_, id, index) =>
      if (id == 1)
        TxLog.clusterBy(spark, index, Seq("bh"), Dedup.BandIndexBuckets,
          beforeCommit = () => sys.error("injected crash (mid-clusterBy)"))
      ()
    }
    assert(idx == baseline._1, "index differs after mid-compaction crash recovery")
    assert(pairs == baseline._2, "pairs differ after mid-compaction crash recovery")
  }
}
