package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{CuratedIndex, Dedup}
import graft.storage.TxLog

/** Index maintenance under SUSTAINED ingestion — the operational claim
  * behind [[Dedup.dedupIngestionStream]]'s maintenance step: every
  * admit commits its own small files with band hashes spread across
  * all of them, so probe latency decays as batches accumulate, and
  * [[CuratedIndex.maintain]] (one atomic `clusterBy` on `bh`) restores
  * it without changing a single probe result.
  *
  * The spec commits 64 tokened admits to a TxLog index, measures the
  * SAME probe at K ∈ {1, 16, 64} admitted batches (min-of-3 — host
  * noise swings single-shot timings), runs one maintenance call,
  * re-measures, and asserts:
  *   - live files shrink to ≤ BandIndexBuckets;
  *   - the probe's candidate pairs are row-identical before/after;
  *   - every batch id is present once, and a replayed admit is a no-op;
  *   - a single document's `bh IN (...)` prunes to ≤ 4 files (one per
  *     band hash) once the index is clustered;
  *   - recorded latencies ship in the test output (info).
  * The latency assert is deliberately loose (maintained ≤ K=64 × 1.5):
  * the DIRECTION matters, the host's vCPU throttling makes tight
  * bounds flaky. */
class IndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("probe latency decays over 64 admitted batches; compact restores it row-identically") {
    import spark.implicits._
    val index = Files.createTempDirectory("maint_band_idx_").resolve("t").toString
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val batches = docs.grouped(math.max(1, docs.length / 64)).take(64).toSeq
    assert(batches.length == 64, s"fixture too small: ${batches.length} batches")
    // a fixed probe batch, never admitted: the same docs re-probed at
    // every K so the timings compare like for like (batch id beyond any
    // admitted id → probes the full index snapshot)
    val probeBatch = docs.take(16).toIndexedSeq.toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] = Dedup
      .bandIndexProbeBatchBefore(probeBatch, index, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def timedProbe(): (Double, Set[(Long, Long)]) = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val r = probe()
        ((System.nanoTime() - t0) / 1e9, r)
      }
      (runs.map(_._1).min, runs.head._2)
    }
    def liveFiles(): Int = TxLog.pruneCount(spark, index, lit(true) === lit(true))._2
    // one document's band hashes: what a point-dedup probe pushes down
    val pointBhs = Dedup.bandIndexRows(docs.take(1).toIndexedSeq.toDF("doc_id", "text"), 0L)
      .select($"bh").as[Long].collect().distinct
    def pointFiles(): Int = TxLog.pruneCount(spark, index, $"bh".isin(pointBhs: _*))._1

    val lat = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    batches.zipWithIndex.foreach { case (b, i) =>
      Dedup.bandIndexAdmitIdempotent(b.toIndexedSeq.toDF("doc_id", "text"), index, i.toLong)
      if (i == 0) lat("K=1") = timedProbe()._1
      if (i == 15) lat("K=16") = timedProbe()._1
    }
    val (t64, pairsBefore) = timedProbe()
    lat("K=64") = t64
    val (nBefore, pointBefore) = (liveFiles(), pointFiles())
    CuratedIndex.maintain(spark, index)
    val (tAfter, pairsAfter) = timedProbe()
    lat("compacted") = tAfter
    val (nAfter, pointAfter) = (liveFiles(), pointFiles())
    info(s"probe latency (min-of-3, sec): ${lat.map { case (k, v) => f"$k=$v%.3f" }.mkString(", ")}")
    info(s"index files: $nBefore before maintenance, $nAfter after; " +
      s"single-document probe keeps $pointBefore before, $pointAfter after")
    assert(nAfter < nBefore, s"maintenance did not reduce files ($nBefore -> $nAfter)")
    assert(nAfter <= Dedup.BandIndexBuckets,
      s"expected ≤${Dedup.BandIndexBuckets} files, got $nAfter")
    assert(pointBhs.nonEmpty && pointAfter <= 4,
      s"single-document probe kept $pointAfter of $nAfter files")
    assert(pairsAfter == pairsBefore, "maintenance changed probe results")
    assert(pairsBefore.nonEmpty, "vacuous: probe found no candidate pairs")
    assert(lat("compacted") <= lat("K=64") * 1.5,
      s"maintenance did not restore probe latency: $lat")
    // all 64 batches present exactly once: every id, no row twice, and
    // a replayed admit is still a token no-op after the checkpoint
    val idx = TxLog.snapshot(spark, index).get
    val ids = idx.select($"batch_id").distinct().as[Long].collect().sorted
    assert(ids.toSeq == (0L until 64L), s"batch ids after maintenance: ${ids.toSeq}")
    val rows = idx.count()
    assert(idx.select($"doc_old", $"band").distinct().count() == rows,
      "a band row is present twice")
    Dedup.bandIndexAdmitIdempotent(batches.head.toIndexedSeq.toDF("doc_id", "text"),
      index, 0L)
    assert(TxLog.snapshot(spark, index).get.count() == rows,
      "a replayed admit re-committed after maintenance")
  }
}
