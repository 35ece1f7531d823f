package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.TxLog

/** The MinHash-LSH band index of a CURATED corpus — maintained
  * incrementally from the corpus's change data feed, so deletions and
  * edits RETRACT index entries instead of poisoning them.
  *
  * The append-only loop ([[Dedup.dedupIngestionStream]]) assumes
  * documents only ever arrive: it admits each batch into a TxLog index
  * but never retracts one. Under a curation pipeline (PII scrub,
  * contamination removal, right-to-be-forgotten DML) documents change
  * or leave, so the index must follow the corpus's changes. Here BOTH
  * tables are TxLog:
  *
  *  - the corpus carries `changeFeed=true`, so every DML commits its
  *    row-level delta ([[TxLog]] change capture);
  *  - the index (`doc_old, band, bh`) is maintained per feed
  *    micro-batch: delete-then-insert, each half an idempotently
  *    tokened TxLog transaction keyed on the batch id — a replay of
  *    either half is a no-op iff it committed, so the index holds
  *    every feed batch EXACTLY once under at-least-once restarts (the
  *    streaming-sink argument, reused);
  *  - an update (delete+insert of one doc_id at one version) lands in
  *    ONE batch: the old banding is retracted before the new banding
  *    admits, converging to exactly the re-banded document.
  *
  * At 100 TB the loop's cost per batch is the batch's banding plus a
  * copy-on-write delete whose candidate scan zone-map-prunes on
  * `doc_old` — proportional to the touched index files, never the
  * index. [[maintain]] (range-cluster by `bh`) restores probe locality
  * under sustained admits, transparently to the feed (a checkpoint is
  * maintenance, not data — the corpus feed never sees it).
  *
  * The correctness contract, spec'd in CuratedIndexSpec: after the
  * feed drains, the index is row-identical to [[rebuild]] (a
  * from-scratch banding of the live corpus), through any mix of
  * appends, deletes, updates, maintenance and stream restarts. */
object CuratedIndex {

  /** Band rows of `docs` (needs `doc_id`, `text`): (doc_old, band, bh)
    * — the index row shape, deterministic in the document (seeded
    * minhash), which is what makes replayed maintenance idempotent. */
  private def banded(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Dedup.portableBanded(Dedup.portableRaw(docs, Nil), Nil)
      .select($"doc_id".as("doc_old"), $"band", $"bh")
  }

  /** From-scratch banding of the corpus's LIVE rows — the oracle the
    * incrementally-maintained index must equal. */
  def rebuild(s: SparkSession, corpus: String): DataFrame =
    banded(s.read.format("txlog").load(corpus).select("doc_id", "text"))

  /** Maintain `index` from `corpus`'s change feed. One micro-batch =
    * one feed window: retract every TOUCHED doc_id, then admit each
    * touched document's NET final state — two tokened TxLog
    * transactions (`<writerId>-del`/`-ins`, batchId) whose replays are
    * no-ops.
    * Every `clusterEvery` batches the index re-clusters by `bh`
    * (atomic checkpoint; admitted tokens are absorbed, exactly-once
    * survives the maintenance — the TxLog contract). */
  def maintainFromFeed(s: SparkSession, corpus: String, index: String,
                       checkpoint: String, writerId: String = "curated-band",
                       clusterEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import s.implicits._
    s.readStream.format("txlog").option("readChangeFeed", "true").load(corpus)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, id: Long) =>
        // NET effect per document over the window: a feed batch may
        // hold a doc's whole lifecycle (insert v1, delete v2, re-insert
        // v3) — retract EVERY touched doc_id, then admit each doc's
        // FINAL state (its last change in version order; within one
        // version the insert is the post-image and outranks the
        // delete). Retract-then-admit of net state is order-proof:
        // delete-before-insert of the raw rows would resurrect a
        // same-window insert-then-delete document.
        // index-empty guard FIRST: the feed's first batch on a fresh
        // checkpoint is the whole-corpus snapshot, and collecting its
        // ids before knowing the delete is a no-op would pull a
        // corpus-sized list onto the driver. (A fresh checkpoint
        // against an EXISTING index still implies a corpus-sized
        // retraction — resume the old checkpoint or rebuild instead.)
        if (TxLog.headVersion(s, index) >= 0L) {
          val touched = df.select($"doc_id").distinct()
            .as[Long].collect() // batch-sized: the probe-isin argument
          if (touched.nonEmpty)
            TxLog.delete(s, index, $"doc_old".isin(touched.map(Long.box): _*),
              s"$writerId-del", id)
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id")
          .orderBy($"_commit_version".desc,
            when($"_change_type" === "insert", 1).otherwise(0).desc)
        val finalIns = df
          .withColumn("_rn", row_number().over(w))
          .where($"_rn" === 1 && $"_change_type" === "insert")
          .select($"doc_id", $"text")
        if (!finalIns.isEmpty)
          TxLog.commit(banded(finalIns), index, s"$writerId-ins", id)
        if (clusterEvery > 0 && id % clusterEvery == (clusterEvery - 1) &&
            TxLog.headVersion(s, index) >= 0L)
          maintain(s, index)
        ()
      }
      .start()
  }

  /** Range-cluster the index by `bh` so a probe's pushed isin prunes to
    * a handful of files — [[TxLog.clusterBy]], atomic, feed-invariant. */
  def maintain(s: SparkSession, index: String): Long =
    TxLog.clusterBy(s, index, Seq("bh"), Dedup.BandIndexBuckets)

  /** Candidate near-dup pairs of an arriving batch against the curated
    * index — [[Dedup.probeIndexAgainst]], the one probe seam (isin
    * routing with the left-semi fallback past
    * [[Dedup.ProbeIsinMaxHashes]]), over the txlog read: the pushed
    * `bh isin (...)` prunes index files via zone maps. A document
    * re-probed under its own id is not its own duplicate. */
  def probe(batch: DataFrame, index: String,
            isinMaxHashes: Int = Dedup.ProbeIsinMaxHashes): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val b = banded(batch).select($"doc_old".as("doc_new"), $"band", $"bh")
    Dedup.probeIndexAgainst(b, s.read.format("txlog").load(index), isinMaxHashes)
      .where($"doc_new" =!= $"doc_old")
  }
}
