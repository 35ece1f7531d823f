package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.storage.TxLog
import graft.text.TextAnalysis.tokens

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape first and demonstrated on the `documents` table:
  *
  *  - exact:   hash-groupBy — one shuffle on the content hash, the
  *             canonical first pass at any scale;
  *  - jaccard: exact token-set Jaccard over BLOCKED pairs (never all
  *             pairs: blocking key = (lang, length bucket) bounds the
  *             quadratic term to within-block);
  *  - minhash: MinHash signatures + LSH banding — the scale path: one
  *             narrow signature per doc, band-bucket shuffle, candidate
  *             pairs only within colliding buckets, then exact
  *             verification of candidates alone;
  *  - simhash: 64-bit SimHash + multi-band blocking on 16-bit chunks,
  *             Hamming-distance verification via bit_count(xor).
  *
  * Exact dedup and Jaccard are DuckDB-oracle-checked; minhash/simhash use
  * Spark's xxhash64 (no portable SQL form → rows-only checks, SURVEY
  * §2.5) but are invariant-tested in DedupSpec against planted
  * near-duplicates.
  */
object Dedup {

  /** Exact dedup on content hash: canonical keep = min doc_id per group.
    * At 100 TB this is the right first pass — map-side partial agg on
    * md5, single shuffle, output is the keep-list. */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy(md5($"text".cast("binary")).as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** Value-identical to array_distinct(filter(split(text,' '), _!='')),
    * as a tight-loop UDF — see Signatures.distinctTokens for why
    * (broadcast builds single-thread interpreted lambdas). */
  private def distinctTokens(c: Column): Column = distinctTokensUdf(c)

  /** Blocking key: same lang + 100-char length bucket. Bounds candidate
    * pairs to within-block — the difference between O(n²) and feasible at
    * scale.
    *
    * The probe side is explicitly repartitioned: a pairwise join's work is
    * quadratic in rows, so a scan that arrives as one partition (small
    * file locally; a skewed split at scale) would serialize the whole
    * pair loop on one task. Partition count must track the COMPUTE, not
    * the input bytes. */
  /** A within-block pairwise join is quadratic in the block's row count;
    * blocks above this bound take the exact prefix-filter route instead
    * (see [[ngramJaccardPairsOver]]) or the PassJoin segment route
    * ([[editDistanceOver]]). At sf0.1 the largest (lang, len_bucket)
    * block is 451 docs, so the driver-graded SFs run the pairwise plan
    * unchanged; the sf1 validation (BASELINE M24) is where this bound
    * first engages for real — blocks there reach 3,250 docs, and with
    * the r6-era 4096 bound the sf1 bench measured the quadratic plan
    * (dedup_jaccard 41 s, dedup_edit_distance 35 s for 10× data).
    * 1024 keeps small blocks on the cheap direct join while routing
    * anything block²-dangerous to the linear-in-occupancy schemes. */
  val MaxBlockRows = 1024

  /** Exact token-set Jaccard near-dup pairs over blocked pairs,
    * threshold 0.5. Oracle-checked: integer intersect/union counts over
    * the token SET (computed here on sorted 64-bit token-hash arrays with
    * a two-pointer merge — ~10× the throughput of string array_intersect,
    * count-identical modulo ~1e-15 hash-collision odds); the one division
    * is the same IEEE op in both engines. The size-ratio prefilter is
    * implied by J ≥ 0.5 (|A∩B| ≤ min, |A∪B| ≥ max ⟹ min/max ≥ J), so it
    * prunes pairs without changing results. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Unsorted form of [[ngramJaccard]] — consumers that don't need the
    * presentation order (clusters' pair graph) skip its range shuffle. */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsOver(Tables(s, dir, "documents"))

  /** Hybrid exact Jaccard self-join, row-identical at every block size:
    *
    *  - blocks ≤ `maxBlockRows`: the pairwise within-block join (cost
    *    bounded by maxBlockRows² per block, parallel across blocks);
    *  - oversized blocks: AllPairs/PPJoin prefix filtering (Bayardo et
    *    al., WWW'07; Xiao et al., WWW'08). With the token-hash set
    *    sorted ascending, any pair with J ≥ 0.5 MUST share a hash among
    *    each side's first ⌊n/2⌋+1 elements (overlap ≥ ⌈n/2⌉ can't hide
    *    entirely in the last ⌈n/2⌉−1 positions), so candidates are an
    *    EQUI-join on exploded prefix hashes — an inverted index whose
    *    cost tracks shared-token density, never block², with 100%
    *    recall. Candidates then get the identical exact verification,
    *    so the output is provably the same row set as the pairwise
    *    plan — not a probabilistic approximation.
    *
    * The probe side is explicitly repartitioned: a pairwise join's work
    * is quadratic in rows, so a scan arriving as one partition (small
    * file locally; a skewed split at scale) would serialize the whole
    * pair loop on one task. Partition count must track the COMPUTE, not
    * the input bytes. */
  def ngramJaccardPairsOver(documents: DataFrame,
      maxBlockRows: Int = MaxBlockRows): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val d = documents
      .select($"doc_id", $"lang", floor(length($"text") / 100).cast("int").as("len_bucket"),
        tokenHashSetUdf($"text").as("toks"))
    // tiny (lang, len_bucket, n) routing table — one partial-agg pass,
    // broadcast back so routing adds no wide exchange of the doc stream
    // (the sizes subtree never pays the tokenizer: the unused toks
    // projection is pruned below its count)
    val sizes = d.groupBy($"lang", $"len_bucket").agg(count(lit(1)).as("block_n"))
    // ONE tokenize+hash pass (r21, guide §5 intra-query reuse): the
    // routed frame is consumed by up to five subtrees (small join sides
    // A/B, the prefix index, and the two big-side verification joins),
    // each of which re-ran the scan — and the two small sides re-ran
    // the per-doc tokenHashSet kernel — per evaluation. localCheckpoint
    // materializes the narrow (ids, routing cols, token-hash array)
    // frame once; every consumer below reads it.
    val routed = d.join(broadcast(sizes), Seq("lang", "len_bucket"))
      .localCheckpoint()
    val small = routed.filter($"block_n" <= maxBlockRows).drop("block_n")
    val big = routed.filter($"block_n" > maxBlockRows).drop("block_n")

    def verified(pairs: DataFrame): DataFrame = {
      val nInter = intersectUdf($"toks_a", $"toks_b")
      val nUnion = (size($"toks_a") + size($"toks_b")).cast("bigint") - nInter
      pairs
        .filter($"doc_a" < $"doc_b" &&
          least(size($"toks_a"), size($"toks_b")) * 2 >=
            greatest(size($"toks_a"), size($"toks_b")))
        .select($"lang", $"doc_a", $"doc_b", nInter.as("n_inter"), nUnion.as("n_union"),
          (nInter.cast("double") / nUnion.cast("double")).as("jaccard"))
        .filter($"jaccard" >= 0.5)
    }

    val smallA = small.repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"lang", $"len_bucket", $"doc_id".as("doc_a"), $"toks".as("toks_a"))
    val smallB = small.select($"lang", $"len_bucket", $"doc_id".as("doc_b"), $"toks".as("toks_b"))
    val smallPairs = verified(smallA.join(smallB, Seq("lang", "len_bucket")))

    // prefix index: the first ⌊n/2⌋+1 (smallest) token hashes per doc.
    // `div` keeps the position arithmetic integral (Column `/` is float).
    val pref = big
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"lang", $"len_bucket", $"doc_id",
        explode(expr("slice(toks, 1, size(toks) div 2 + 1)")).as("tok"))
    val cand = pref.select($"lang", $"len_bucket", $"tok", $"doc_id".as("doc_a"))
      .join(pref.select($"lang", $"len_bucket", $"tok", $"doc_id".as("doc_b")),
        Seq("lang", "len_bucket", "tok"))
      .filter($"doc_a" < $"doc_b")
      .select($"lang", $"len_bucket", $"doc_a", $"doc_b")
      .distinct()
    val bigPairs = verified(cand
      .join(big.select($"doc_id".as("doc_a"), $"toks".as("toks_a")), Seq("doc_a"))
      .join(big.select($"doc_id".as("doc_b"), $"toks".as("toks_b")), Seq("doc_b")))

    smallPairs.unionByName(bigPairs)
  }

  // ----------------------------------------------------------- MinHash
  val NumHashes = 32
  val Bands = 8 // × 4 rows per band

  /** Band-hash UDF: shingling + minhash + banding in ONE tight pass per
    * document over its raw tokens (graft.functions.Signatures) — the
    * higher-order formulation (NumHashes × array_min(transform(...)) over
    * a materialized shingle array) pays an interpreted lambda per element
    * per hash and dominated the dedup stage at sf0.1 (profiled 6.3s vs
    * <1s for this form). */
  private val bandHashesUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.minhashBandsFromTokens(toks, 3, NumHashes, Bands))

  private val bucketPairsUdf = udf((ids: Seq[Long]) =>
    graft.functions.Signatures.bucketPairs(ids))

  private val shingleSetUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.sortedShingleHashSet(toks, 3))

  private val jaccardUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    graft.functions.Signatures.jaccardSorted(a, b))

  private val distinctTokensUdf = udf((text: String) =>
    graft.functions.Signatures.distinctTokens(text))

  private val tokenHashSetUdf = udf((text: String) =>
    graft.functions.Signatures.sortedTokenHashSet(text))

  private val intersectUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    graft.functions.Signatures.intersectSorted(a, b))

  /** Word 3-gram shingles — the standard near-dup unit: random documents
    * share almost no shingles (candidate sets stay tiny at any corpus
    * size), while true near-duplicates share most. Built with a SQL-lambda
    * sliding window over the token array. */
  def shingles(toksCol: String): Column = expr(
    s"""CASE WHEN size($toksCol) < 3 THEN array()
       |ELSE array_distinct(transform(
       |  sequence(0, size($toksCol) - 3),
       |  i -> concat_ws(' ', element_at($toksCol, i + 1),
       |       element_at($toksCol, i + 2), element_at($toksCol, i + 3))))
       |END""".stripMargin)

  /** MinHash + LSH banding over 3-token shingles: docs sharing ANY band
    * bucket become candidate pairs; candidates (alone) are then verified
    * with exact shingle Jaccard. The only wide operation is the
    * groupBy-shaped self-join on (band, band_hash) — candidate count, not
    * corpus², drives cost; with shingles that count tracks the true
    * near-dup rate (on this synthetic corpus: ~none — recall is
    * invariant-tested against planted duplicates in DedupSpec). */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashLshOver(Tables(s, dir, "documents"))

  def minhashLshOver(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // repartition before the signature UDF: single-file scans otherwise
    // run the whole per-doc hashing on one task (see blocked())
    val raw = documents
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", tokens($"text").as("raw_toks"))
    // NARROW banding: (doc_id, band, bh) only — shingle arrays never
    // materialize outside the one-pass UDF. Candidate pairs come from ONE
    // groupBy over the banded rows (bucket members → i<j pairs), not a
    // self-join that would recompute the signatures; verification joins
    // the shingle arrays back for the candidate set alone.
    val banded = raw
      .select($"doc_id", posexplode(bandHashesUdf($"raw_toks")).as(Seq("band", "bh")))
    val cand = banded.groupBy($"band", $"bh")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") > 1)
      .select(explode(bucketPairsUdf($"ids")).as("p"))
      .select($"p._1".as("doc_a"), $"p._2".as("doc_b"))
      .distinct()
    // Verification on sorted shingle-HASH sets via tight-loop UDFs: the
    // string-shingle expression form, when Catalyst broadcasts this side,
    // rebuilds interpreted lambdas single-threaded on the driver (~30s at
    // sf0.1 vs <1s here).
    val d = raw.select($"doc_id", shingleSetUdf($"raw_toks").as("sh_set"))
      .filter(size($"sh_set") > 0)
    cand
      .join(d.select($"doc_id".as("doc_a"), $"sh_set".as("set_a")), "doc_a")
      .join(d.select($"doc_id".as("doc_b"), $"sh_set".as("set_b")), "doc_b")
      .select($"doc_a", $"doc_b", jaccardUdf($"set_a", $"set_b").as("jaccard"))
      .filter($"jaccard" >= 0.3)
      .orderBy($"doc_a", $"doc_b")
  }

  // ------------------------------------------------- Portable MinHash
  private val portableBandsUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.portableMinhashBands(toks, 3))

  private val portableShingleSetUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.portableShingleHashSet(toks, 3))

  /** MinHash + LSH banding built ONLY from engine-portable integer
    * arithmetic (polynomial shingle hashes, LCG permutations — see
    * Signatures' portable kernels), so the ENTIRE index + candidate +
    * verification path is DuckDB-oracle-checked, unlike [[minhashLsh]]
    * whose xxhash64/Murmur signatures have no SQL twin. Same scale
    * shape: narrow (doc, band, hash) rows, one groupBy for candidate
    * pairs, verification join over candidates alone. 16 permutations ×
    * 4 bands of 4 rows (collision threshold ≈ (1/4)^(1/4) ≈ 0.71);
    * candidates are verified at hashed-shingle Jaccard ≥ 0.5. */
  def minhashPortable(s: SparkSession, dir: String): DataFrame =
    minhashPortableOver(Tables(s, dir, "documents"))

  /** Shared prep for the portable-arithmetic minhash family: doc_id(+
    * any extra cols) with tokenized text, hash-partitioned for the
    * downstream pairwise work. ONE definition so [[minhashPortableOver]]
    * and [[minhashIncremental]] cannot drift (shingle size, banding, and
    * the verification algebra all live here). */
  private[dedup] def portableRaw(documents: DataFrame, extraCols: Seq[String]): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select(($"doc_id" +: extraCols.map(col)) :+ tokens($"text").as("raw_toks"): _*)
  }

  /** (doc_id [, extras], band, bh) band-hash rows from the prepped frame. */
  private[dedup] def portableBanded(raw: DataFrame, extraCols: Seq[String]): DataFrame = {
    import raw.sparkSession.implicits._
    raw.select(($"doc_id" +: extraCols.map(col)) :+
      posexplode(portableBandsUdf($"raw_toks")).as(Seq("band", "bh")): _*)
  }

  /** Exact hashed-shingle Jaccard ≥ 0.5 verification over candidate
    * pairs (aCol, bCol) — the one place the intersect/union algebra and
    * the threshold are written down. */
  private def verifyPortableCandidates(cand: DataFrame, raw: DataFrame,
                                       aCol: String, bCol: String): DataFrame = {
    import raw.sparkSession.implicits._
    val d = raw.select($"doc_id", portableShingleSetUdf($"raw_toks").as("hset"))
      .filter(size($"hset") > 0)
    val nInter = intersectUdf($"set_a", $"set_b")
    val nUnion = (size($"set_a") + size($"set_b")).cast("bigint") - nInter
    cand
      .join(d.select($"doc_id".as(aCol), $"hset".as("set_a")), aCol)
      .join(d.select($"doc_id".as(bCol), $"hset".as("set_b")), bCol)
      .select(col(aCol), col(bCol), nInter.as("n_inter"), nUnion.as("n_union"),
        (nInter.cast("double") / nUnion.cast("double")).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy(col(aCol), col(bCol))
  }

  def minhashPortableOver(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits._
    val raw = portableRaw(documents, Nil)
    val cand = portableBanded(raw, Nil).groupBy($"band", $"bh")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") > 1)
      .select(explode(bucketPairsUdf($"ids")).as("p"))
      .select($"p._1".as("doc_a"), $"p._2".as("doc_b"))
      .distinct()
    verifyPortableCandidates(cand, raw, "doc_a", "doc_b")
  }

  /** Incremental cross-snapshot dedup: the ingestion-time form of
    * [[minhashPortable]] — an arriving batch (source = src0, the same
    * "new slice" q56's contamination check uses) is checked against the
    * EXISTING corpus instead of all-pairs within one snapshot. Same
    * portable LSH index (band hashes from the identical integer
    * recurrences), but candidates come from a cross-set band join:
    * new-batch bands — small by definition of an ingestion batch —
    * BROADCAST onto the corpus band stream, so the corpus is touched
    * once, map-side, with no all-pairs stage at all. At 100 TB the
    * corpus side of this join is the persisted (band, bh)-bucketed
    * index — IMPLEMENTED below: [[writeBandIndex]] maintains it on
    * disk and [[minhashIncrementalPersisted]] probes it bucket-pruned,
    * row-identical to this recomputing form (StorageLayoutSpec).
    * Verification (exact hashed-shingle Jaccard ≥ 0.5) runs over
    * candidates only. */
  def minhashIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = portableRaw(Tables(s, dir, "documents"), Seq("source"))
    val banded = portableBanded(raw, Seq("source"))
    val newBatch = banded.filter($"source" === "src0")
      .select($"doc_id".as("doc_new"), $"band", $"bh")
    val corpus = banded.filter($"source" =!= "src0")
      .select($"doc_id".as("doc_old"), $"band", $"bh")
    val cand = corpus.join(broadcast(newBatch), Seq("band", "bh"))
      .select($"doc_new", $"doc_old").distinct()
    verifyPortableCandidates(cand, raw, "doc_new", "doc_old")
  }

  /** Number of bucket files for the persisted corpus band index. */
  val BandIndexBuckets = 16

  /** Persist the corpus side of [[minhashIncremental]] as the on-disk
    * (band, bh) index the docstring above promises: rows bucketed+sorted
    * by `bh` (graft.operators.StorageLayout.writeBucketed) — the
    * artifact an ingestion pipeline MAINTAINS between batches instead of
    * re-banding the corpus per arrival. */
  def writeBandIndex(s: SparkSession, dir: String, table: String): Unit = {
    import s.implicits._
    val raw = portableRaw(Tables(s, dir, "documents"), Seq("source"))
    val corpus = portableBanded(raw, Seq("source"))
      .filter($"source" =!= "src0")
      .select($"doc_id".as("doc_old"), $"band", $"bh")
    graft.operators.StorageLayout.writeBucketed(corpus, table, "bh", BandIndexBuckets)
  }

  /** [[minhashIncremental]] against the PERSISTED index: the arriving
    * batch's distinct band hashes (batch-sized, a driver pull by the
    * same argument that lets the batch broadcast) become an `isin`
    * filter on the index's bucket column — the scan PRUNES to matching
    * bucket files (`SelectedBucketsCount` pinned in StorageLayoutSpec)
    * — then candidates come from the same broadcast band join.
    * Row-identical to [[minhashIncremental]] by construction; the
    * corpus is neither rescanned nor re-banded. */
  def minhashIncrementalPersisted(s: SparkSession, dir: String,
                                  table: String): DataFrame = {
    import s.implicits._
    val raw = portableRaw(Tables(s, dir, "documents"), Seq("source"))
    val cand = bandIndexProbe(s, dir, table, Int.MaxValue)
    verifyPortableCandidates(cand, raw, "doc_new", "doc_old")
  }

  /** Above this many distinct batch band hashes, the probe's bucket
    * prune switches from a driver-built `isin` (which gives STATIC
    * bucket-file pruning but costs a driver collect and a
    * hash-count-sized `In` expression in the plan) to a broadcast
    * left-semi join against the index (no driver pull, no giant
    * expression; the bucket files are all scanned but the semi-join
    * filters them immediately). Point-dedup probes (a handful of docs ×
    * 4 bands) stay far under this and keep the pinned
    * `SelectedBucketsCount` pruning; bulk re-probes of a large arriving
    * batch take the semi-join. */
  val ProbeIsinMaxHashes = 1024

  /** The index probe itself — candidate (doc_new, doc_old) pairs for
    * the batch's first `limitDocs` documents (by doc_id) against the
    * persisted index. `limitDocs = 1` is the point-dedup an ingestion
    * pipeline runs per arrival: 4 band hashes → at most 4 of the
    * [[BandIndexBuckets]] bucket files read (pinned in
    * StorageLayoutSpec). Driver memory is bounded by
    * `isinMaxHashes + 1` regardless of batch size: the hash list is
    * collected through a `limit`, and overflow routes to the semi-join
    * (row-identical — both filter the index to the batch's distinct
    * `bh` set before the same broadcast band join). */
  def bandIndexProbe(s: SparkSession, dir: String, table: String,
                     limitDocs: Int,
                     isinMaxHashes: Int = ProbeIsinMaxHashes): DataFrame = {
    import s.implicits._
    val raw = portableRaw(Tables(s, dir, "documents"), Seq("source"))
    val batch0 = portableBanded(raw, Seq("source"))
      .filter($"source" === "src0")
      .select($"doc_id".as("doc_new"), $"band", $"bh")
    val newBatch =
      if (limitDocs == Int.MaxValue) batch0
      else {
        val ids = batch0.select($"doc_new").distinct()
          .orderBy($"doc_new").limit(limitDocs).as[Long].collect()
        batch0.filter($"doc_new".isin(ids.toIndexedSeq: _*))
      }
    probeIndexWith(newBatch, table, isinMaxHashes)
  }

  /** [[bandIndexProbe]] for an ARRIVING batch DataFrame (doc_id, text)
    * — the streaming micro-batch shape: the batch rows themselves are
    * banded and probed against the persisted index, so an ingestion
    * stream dedups each micro-batch against the corpus with NO corpus
    * scan, no re-banding, and the same bucket-prune routing. Exercised
    * per-micro-batch in StorageLayoutSpec (streamed union ==
    * one-shot probe). */
  def bandIndexProbeBatch(batch: DataFrame, table: String,
                          isinMaxHashes: Int = ProbeIsinMaxHashes): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val banded = portableBanded(portableRaw(batch, Nil), Nil)
      .select($"doc_id".as("doc_new"), $"band", $"bh")
    probeIndexWith(banded, table, isinMaxHashes)
  }

  /** ADMIT an arriving batch into the persisted index — the write half
    * of the probe→admit ingestion loop: the batch's band rows APPEND to
    * the bucketed index table with the same bucket spec, so the next
    * micro-batch's probe sees this batch as corpus. Append keeps the
    * bucket layout (each append adds one sorted file per bucket).
    * Lifecycle spec'd in StorageLayoutSpec: probe b1 → admit b1 →
    * probe b2 finds b2×corpus AND b2×b1 pairs. NOTE: this append is a
    * ONE-SHOT batch API — under at-least-once replay (foreachBatch
    * restart) it double-appends; streaming ingestion must use
    * [[bandIndexAdmitIdempotent]] / [[dedupIngestionStream]]. */
  def bandIndexAdmit(batch: DataFrame, table: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    portableBanded(portableRaw(batch, Nil), Nil)
      .select($"doc_id".as("doc_old"), $"band", $"bh")
      .write
      .bucketBy(BandIndexBuckets, "bh")
      .sortBy("bh")
      .format("parquet")
      .mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(table)
  }

  // ------------------------------------- Exactly-once ingestion loop
  /** Writer id of the ingestion loop's admits: with the batch id it is
    * the idempotence token that makes a replayed admit a no-op. */
  private val BandIndexWriter = "band-ingest"

  /** The index rows an admit of `batch` commits: (doc_old, band, bh,
    * batch_id). Banding is a pure function of the batch (seeded
    * minhash), so a replay recomputes identical rows. */
  private[graft] def bandIndexRows(batch: DataFrame, batchId: Long): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    portableBanded(portableRaw(batch, Nil), Nil)
      .select($"doc_id".as("doc_old"), $"band", $"bh",
        lit(batchId).as("batch_id"))
  }

  /** [[bandIndexAdmit]] made REPLAY-IDEMPOTENT for at-least-once
    * execution (foreachBatch replays a failed micro-batch with the same
    * batch id): the batch's band rows, each carrying its `batch_id`,
    * commit to the [[graft.storage.TxLog]] table at `index` as ONE
    * transaction under the ([[BandIndexWriter]], batchId) token. The
    * manifest publish is atomic, so the index holds all of the batch or
    * none of it, and a replay of a committed batch is a token no-op.
    * Crash-injected in IngestionRecoverySpec. */
  def bandIndexAdmitIdempotent(batch: DataFrame, index: String,
                               batchId: Long): Unit = {
    TxLog.commit(bandIndexRows(batch, batchId), index, BandIndexWriter, batchId)
    ()
  }

  /** The batch's candidate pairs against the `batch_id < batchId`
    * snapshot of the txlog index at `index`. The snapshot is what
    * makes the probe→admit pair replay-STABLE: if a crash lands after
    * this batch's own admit committed, the replayed probe still sees
    * exactly the pre-batch index (its own band rows are filtered out by
    * id), so the recomputed pairs are identical — without the filter a
    * replay would self-join the batch against itself. The pushed
    * `bh isin (...)` and `batch_id` filters prune index files by their
    * zone maps. A missing log is an empty corpus, with no pairs (batch
    * 0 bootstraps the index). */
  def bandIndexProbeBatchBefore(batch: DataFrame, index: String,
                                batchId: Long,
                                isinMaxHashes: Int = ProbeIsinMaxHashes): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val banded = portableBanded(portableRaw(batch, Nil), Nil)
      .select($"doc_id".as("doc_new"), $"band", $"bh")
    if (TxLog.headVersion(s, index) < 0L)
      banded.select($"doc_new", $"doc_new".as("doc_old")).limit(0)
    else
      probeIndexAgainst(banded,
        s.read.format("txlog").load(index).filter($"batch_id" < batchId)
          .select($"doc_old", $"band", $"bh"),
        isinMaxHashes)
  }

  /** Default maintenance cadence for the ingestion loop: every admit
    * commits its own small files with band hashes spread across all of
    * them, so probe latency decays in admitted batches
    * (IndexMaintenanceSpec). Clustering every 16 admits bounds the live
    * file count while amortizing the full-index rewrite over 16
    * commits. */
  val CompactEvery = 16

  /** The probe→admit ingestion loop as a real Structured Streaming
    * query with EXACTLY-ONCE output effects under at-least-once replay:
    * per micro-batch, (1) probe the arriving (doc_id, text) rows
    * against the `batch_id < id` index snapshot, (2) overwrite the
    * batch's own pairs partition (per-batch overwrite = idempotent
    * sink), (3) admit the batch via [[bandIndexAdmitIdempotent]]. A
    * crash at ANY point between or inside the three steps replays the
    * batch into the same snapshot, the same pairs partition, and a
    * no-op or clean admit — proven by crash injection in
    * IngestionRecoverySpec. `beforeAdmit` is that spec's injection
    * seam (default no-op; it receives the batch so the spec can also
    * simulate an admit-then-crash window).
    *
    * Index MAINTENANCE rides the loop: every `compactEvery` admits,
    * step (4) re-clusters the index by `bh` ([[CuratedIndex.maintain]],
    * one atomic checkpoint that keeps every row and absorbs the admit
    * tokens). A crash inside it leaves the index as it was, and the
    * replayed batch re-runs it — keyed on the batch id, so the policy
    * is deterministic under replay. */
  def dedupIngestionStream(stream: DataFrame, index: String,
                           pairsDir: String, checkpoint: String,
                           beforeAdmit: (DataFrame, Long) => Unit = (_, _) => (),
                           compactEvery: Int = CompactEvery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val onBatch: (DataFrame, Long) => Unit = { (batch, id) =>
      bandIndexProbeBatchBefore(batch, index, id)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$pairsDir/batch_id=$id")
      beforeAdmit(batch, id)
      bandIndexAdmitIdempotent(batch, index, id)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        CuratedIndex.maintain(batch.sparkSession, index)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(onBatch)
      .start()
  }

  /** Shared probe tail: banded (doc_new, band, bh) rows against the
    * persisted index, with the isin (static bucket pruning) vs
    * broadcast-left-semi routing described at [[ProbeIsinMaxHashes]]. */
  private def probeIndexWith(newBatch: DataFrame, table: String,
                             isinMaxHashes: Int): DataFrame =
    probeIndexAgainst(newBatch, newBatch.sparkSession.table(table), isinMaxHashes)

  /** [[probeIndexWith]] against an arbitrary index view — the seam the
    * exactly-once loop and [[CuratedIndex.probe]] use to probe a txlog
    * index (there the pushed `bh` isin and the loop's `batch_id`
    * snapshot filter prune index files by their zone maps). */
  private[dedup] def probeIndexAgainst(newBatch: DataFrame, index: DataFrame,
                                isinMaxHashes: Int): DataFrame = {
    val s = newBatch.sparkSession
    import s.implicits._
    val batchBhs = newBatch.select($"bh").distinct()
    val bhSample = batchBhs.limit(isinMaxHashes + 1).as[Long].collect()
    val idx =
      if (bhSample.length <= isinMaxHashes)
        index.filter($"bh".isin(bhSample.toIndexedSeq: _*))
      else
        index.join(broadcast(batchBhs), Seq("bh"), "left_semi")
    idx.join(broadcast(newBatch), Seq("band", "bh"))
      .select($"doc_new", $"doc_old").distinct()
  }

  // ----------------------------------------------- Prefix edit distance
  /** Near-dup pairs by PREFIX edit distance: Levenshtein over the first
    * 80 characters of blocked pairs (same (lang, len-bucket) blocking as
    * [[ngramJaccard]]), threshold ≤ 8. The prefix cap is what makes edit
    * distance usable as a dedup pass at scale — full-document Levenshtein
    * is O(len²) per PAIR; an 80-char prefix bounds the cell count at
    * 6,400 regardless of document length, and near-duplicate documents
    * overwhelmingly agree in their prefix (C4/CCNet observations on web
    * boilerplate). Pure built-in `levenshtein` — codegen'd, and the
    * identical Wagner-Fischer result in DuckDB, so the whole operator
    * hash-checks. */
  def editDistance(s: SparkSession, dir: String): DataFrame =
    editDistanceOver(Tables(s, dir, "documents"))

  /** Edit-distance threshold (shared by the verification, the segment
    * scheme, and the oracle SQL). */
  val EditK = 8

  /** [[editDistance]] with block-size routing (the ngramJaccard
    * pattern): small (lang, len_bucket) blocks take the direct pairwise
    * join; OVERSIZED blocks take PassJoin-style SEGMENT blocking (Li,
    * Deng, Feng, VLDB'12 "PassJoin" — public): partition the 80-char
    * prefix into EditK+1 = 9 segments — any pair within edit distance
    * EditK has, by pigeonhole over an optimal edit script, at least one
    * segment UNEDITED, appearing in the other string at a start shifted
    * by at most the net indel count (≤ EditK). So candidates are an
    * EQUI-join of per-doc segment strings against per-doc shifted
    * substrings (9 index rows + ≤ 9·17 probe rows per doc — linear in
    * block size, never block²) with 100% recall; the identical banded
    * verification then makes the output provably the same row set as
    * the pairwise plan. Docs whose prefix is shorter than 80 chars get
    * the same pigeonhole under a PER-LENGTH segment layout (PassJoin is
    * defined for variable lengths): every doc is indexed by its own
    * length's layout, and a probing doc enumerates the layouts of all
    * partner lengths within ±EditK (lev ≥ |len diff| prunes the rest) —
    * so a short-text corpus stays linear instead of reverting to
    * short×block pairwise. Only prefixes shorter than EditK+1 chars
    * (too short to carry 9 segments) pair directly, against the ≤2k
    * length band — and at those lengths nearly every such pair is
    * within threshold anyway, so that product is output-bound, not a
    * quadratic hazard.
    * Measured at sf1 (10× bench SF): the pairwise plan was this
    * surface's worst scaler (~86× time for 10× data — quadratic in
    * block occupancy); segment routing restores near-linear growth. */
  def editDistanceOver(documents: DataFrame,
      maxBlockRows: Int = MaxBlockRows): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val k = EditK
    val m = k + 1 // segments
    val L = 80
    val d = documents
      .select($"doc_id", $"lang", floor(length($"text") / 100).cast("int").as("len_bucket"),
        substring($"text", 1, L).as("pfx"))
    val sizes = d.groupBy($"lang", $"len_bucket").agg(count(lit(1)).as("block_n"))
    val routed = d.join(broadcast(sizes), Seq("lang", "len_bucket"))
    val small = routed.filter($"block_n" <= maxBlockRows).drop("block_n")
    val big = routed.filter($"block_n" > maxBlockRows).drop("block_n")

    // threshold form: banded Wagner-Fischer, O(len·k) per pair instead
    // of O(len²) — pairs beyond the threshold return -1 and fall to the
    // same filter, and within-threshold distances are exact, so the
    // kept rows and values are identical to DuckDB's plain levenshtein
    def verified(pairs: DataFrame): DataFrame = pairs
      .select($"lang", $"doc_a", $"doc_b",
        levenshtein($"pfx_a", $"pfx_b", k).as("prefix_lev"))
      .filter($"prefix_lev" >= 0 && $"prefix_lev" <= k)

    def pairwise(blk: DataFrame): DataFrame = {
      val a = blk.repartition(s.sparkContext.defaultParallelism, $"doc_id")
        .select($"lang", $"len_bucket", $"doc_id".as("doc_a"), $"pfx".as("pfx_a"))
      val b = blk.select($"lang", $"len_bucket", $"doc_id".as("doc_b"), $"pfx".as("pfx_b"))
      verified(a.join(b, Seq("lang", "len_bucket")).filter($"doc_a" < $"doc_b"))
    }

    // per-length layout: `len` split into m segments, longer ones first
    // (1-based starts). layout(L): 80 = 8 segments of 9 + 1 of 8.
    def segLayout(len: Int): Seq[(Int, Int, Int)] = {
      val base = len / m; val rem = len % m
      (0 until m).scanLeft((0, 1, 0)) { case ((_, st, ln), j) =>
        (j, st + ln, base + (if (j < rem) 1 else 0))
      }.tail
    }
    val segs = segLayout(L)
    val bigFull = big.filter(length($"pfx") === L)
    val bigShort = big.filter(length($"pfx") < L)
    val probeCols = segs.flatMap { case (j, st, ln) =>
      (-k to k).flatMap { delta =>
        val p = st + delta
        if (p >= 1 && p + ln - 1 <= L)
          Some(struct(lit(j).as("j"), substring($"pfx", p, ln).as("seg")))
        else None
      }
    }
    // full-doc probe side keeps the STATIC codegen'd substrings (the
    // dominant stratum); its index is idxVar's tgt_len = L slice below
    // — one index build serves every stratum instead of building the
    // full-doc layout twice
    val probe = bigFull
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"lang", $"len_bucket", $"doc_id".as("doc_a"),
        explode(array(probeCols: _*)).as("c"))
      .select($"lang", $"len_bucket", $"doc_a", $"c.j", $"c.seg")
      .distinct() // shifted probes repeat on repetitive text
    // short-prefix docs (m ≤ len < 80): variable-length PassJoin.
    // Index EVERY big doc (fulls included — a short within k of 80
    // must find its full partners) by its OWN length's layout; a short
    // doc probes the layouts of all partner lengths within ±k. The
    // layout tables are driver-built constants (72 lengths × 9
    // segments; probe side ~17 partner lengths × 9 × ≤17 shifts per
    // own-length — a few-MB broadcast), and both joins are pure
    // equi-joins on (block, partner_len, segment, substring): linear
    // in block size for any length mix, never short×block.
    val layoutDf = broadcast((for {
      len <- m to L; (j, st, ln) <- segLayout(len)
    } yield (len, j, st, ln)).toDF("tgt_len", "j", "st", "ln"))
    val idxVar = big.withColumn("own_len", length($"pfx"))
      .filter($"own_len" >= m)
      .join(layoutDf, $"own_len" === $"tgt_len")
      .select($"lang", $"len_bucket", $"tgt_len", $"j",
        $"pfx".substr($"st", $"ln").as("seg"), $"doc_id".as("doc_b"))
    val candFull = probe
      .join(idxVar.filter($"tgt_len" === L).drop("tgt_len"),
        Seq("lang", "len_bucket", "j", "seg"))
      .filter($"doc_a" =!= $"doc_b")
      .select($"lang", $"len_bucket",
        least($"doc_a", $"doc_b").as("doc_a"),
        greatest($"doc_a", $"doc_b").as("doc_b"))
      .distinct()
    val probeRowsDf = broadcast((for {
      ownLen <- m until L
      tl <- math.max(m, ownLen - k) to math.min(L, ownLen + k)
      (j, st, ln) <- segLayout(tl)
      delta <- -k to k
      p = st + delta
      if p >= 1 && p + ln - 1 <= ownLen
    } yield (ownLen, tl, j, p, ln)).toDF("own_len", "tgt_len", "j", "p", "ln"))
    val probeVar = bigShort.filter(length($"pfx") >= m)
      .withColumn("own_len", length($"pfx"))
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .join(probeRowsDf, Seq("own_len"))
      .select($"lang", $"len_bucket", $"tgt_len", $"j",
        $"pfx".substr($"p", $"ln").as("seg"), $"doc_id".as("doc_a"))
      .distinct() // shifted probes repeat on repetitive text
    val candVar = probeVar
      .join(idxVar, Seq("lang", "len_bucket", "tgt_len", "j", "seg"))
      .filter($"doc_a" =!= $"doc_b")
      .select($"lang", $"len_bucket",
        least($"doc_a", $"doc_b").as("doc_a"),
        greatest($"doc_a", $"doc_b").as("doc_b"))
      .distinct()
    // micro prefixes (< m = 9 chars): too short for 9 segments. Their
    // only possible partners are the ≤ 2k-length band (lev ≥ |len
    // diff|), and within it nearly every pair is within threshold
    // (lev ≤ max(len) ≤ 2k), so this product is bounded by the OUTPUT
    // size plus a thin prunable rim — not a quadratic hazard.
    val candMicro = bigShort.filter(length($"pfx") < m)
      .select($"lang", $"len_bucket", $"doc_id".as("doc_s"),
        length($"pfx").as("len_s"))
      .join(big.filter(length($"pfx") <= 2 * k)
        .select($"lang", $"len_bucket", $"doc_id".as("doc_o"),
          length($"pfx").as("len_o")),
        Seq("lang", "len_bucket"))
      .filter($"doc_s" =!= $"doc_o" && abs($"len_s" - $"len_o") <= k)
      .select($"lang", $"len_bucket",
        least($"doc_s", $"doc_o").as("doc_a"),
        greatest($"doc_s", $"doc_o").as("doc_b"))
      .distinct()
    val pfxOf = d.select($"doc_id", $"pfx")
    val bigPairs = verified(candFull.unionByName(candVar).unionByName(candMicro).distinct()
      .join(pfxOf.select($"doc_id".as("doc_a"), $"pfx".as("pfx_a")), Seq("doc_a"))
      .join(pfxOf.select($"doc_id".as("doc_b"), $"pfx".as("pfx_b")), Seq("doc_b")))

    pairwise(small).unionByName(bigPairs)
      .orderBy($"doc_a", $"doc_b")
  }

  // ----------------------------------------------------------- SimHash
  /** 64-bit SimHash over tokens: per-bit ±1 votes by token hash bits,
    * sign of the vote sum becomes the bit. Tight-loop UDF
    * (graft.functions.Signatures.simhash64) — the pure-expression
    * formulation costs 64 interpreted lambda evals per token. */
  private val simhashUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.simhash64(toks))

  /** Radius 3 of 64 bits — the canonical web-dedup configuration (Manku
    * et al., WWW'07 "Detecting Near-Duplicates for Web Crawling" §3 —
    * public paper, k=3 over 64-bit simhashes). A one-token edit of a
    * realistic document (~100+ distinct tokens) flips ~2-3 bits; larger
    * radii on a correlated corpus pass broad swaths of ALL pairs
    * (measured: radius 8 needed 7-bit blocking pieces, whose buckets
    * degenerate and made the stage quadratic). */
  val SimhashRadius = 3

  /** Pigeonhole-EXACT blocking needs radius+1 pieces: with 4 pieces of
    * 16 bits, any pair within Hamming 3 has at least one untouched piece
    * and therefore shares at least one bucket — and 16-bit piece values
    * stay discriminative (65536 buckets per piece). */
  val SimhashPieces: Int = SimhashRadius + 1

  /** SimHash near-dup pairs: block on SimhashPieces 16-bit pieces of the
    * signature — exact recall within SimhashRadius by pigeonhole — then
    * per-bucket i<j pair generation with Hamming computed once per pair,
    * STREAMED via Dataset.flatMap (a hot bucket yields its pairs lazily
    * instead of materializing an O(n²) array), distinct across pieces. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashOver(Tables(s, dir, "documents"))

  def simhashOver(documents: DataFrame): DataFrame =
    simhashPairs(simhashSigs(documents, simhashUdf), 64)

  /** doc_id → signature prep shared by the murmur and portable paths:
    * partition by doc_id up front so the downstream quadratic bucket
    * stage never serializes on a single-file scan's one task. */
  private def simhashSigs(documents: DataFrame,
      sigUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", distinctTokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", sigUdf($"toks").as("sh"))
  }

  /** Pigeonhole blocking + per-bucket streamed i<j Hamming pairs over
    * an nBits-wide signature column `sh`: SimhashPieces equal-width
    * pieces (the top piece takes any remainder bits), exact recall
    * within SimhashRadius, pairs distinct across pieces. */
  private[graft] def simhashPairs(d: DataFrame, nBits: Int): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val radius = SimhashRadius
    val width = nBits / SimhashPieces
    val pieces = (0 until SimhashPieces).map { j =>
      val hi = if (j == SimhashPieces - 1) nBits - j * width else width
      struct(lit(j).as("piece"),
        (shiftright($"sh", j * width)
          .bitwiseAND(lit((1L << hi) - 1))).as("pv"))
    }
    val blocked = d.select($"doc_id", $"sh", explode(array(pieces: _*)).as("c"))
      .select($"doc_id", $"sh", $"c.piece", $"c.pv")
    blocked.groupBy($"piece", $"pv")
      .agg(collect_list(array($"doc_id", $"sh")).as("members"))
      .filter(size($"members") > 1)
      .select($"members").as[Seq[Seq[Long]]]
      .flatMap(members =>
        graft.functions.Signatures.bucketPairsHammingIter(members, radius))
      .toDF("doc_a", "doc_b", "hamming")
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  // ------------------------------------------- Portable SimHash twin
  private val portableSimhashUdf = udf((toks: Seq[String]) =>
    graft.functions.Signatures.portableSimhash60(toks))

  /** [[simhash]] rebuilt ONLY from engine-portable integer arithmetic
    * (polyHash tokens + 60 odd/even universal-hash votes,
    * graft.functions.Signatures.portableSimhash60), following the
    * [[minhashPortable]] precedent: the signature, the 4×15-bit
    * pigeonhole blocking, and the bit_count(xor) Hamming verification
    * all have exact DuckDB mirrors (graft.queries.Oracle3), so this
    * twin is END-TO-END hash-checked where [[simhash]] is rows-only
    * (its murmur token hash has no SQL form). Identical plan shape and
    * scale story: block → per-bucket streamed pairs, never all-pairs. */
  def simhashPortable(s: SparkSession, dir: String): DataFrame =
    simhashPortableOver(Tables(s, dir, "documents"))

  def simhashPortableOver(documents: DataFrame): DataFrame =
    simhashPairs(simhashSigs(documents, portableSimhashUdf),
      graft.functions.Signatures.SimPortBits)

  /** Cosine threshold for embedding near-dup pairs (shared by the
    * bucketed path, its brute-force twin, and the DuckDB oracle SQL). */
  val CosThreshold = 0.35

  /** Unit-normalized embedding vectors. The normalization expression is
    * the SINGLE definition shared by the bucketed path and the brute
    * twin, so every emitted cos_sim is the identical IEEE sequence
    * (transform x/norm, then the codegen'd sequential DotProduct) in
    * both — and bit-identical to the DuckDB oracle's
    * list_inner_product. Zero/empty vectors are excluded up front: their
    * cosine is NaN in every path and can never pass the threshold. */
  private def unitVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    graft.functions.VectorFunctions.register(s)
    Tables(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"v", sqrt(dot_product($"v", $"v")).as("norm"))
      .filter($"norm" > 0)
      .select($"vec_id", transform($"v", x => x / $"norm").as("u"))
  }

  /** Embedding-cosine near-dup pairs through IVF-CELL CANDIDATE
    * GENERATION with EXACT recall — the scale-safe replacement for the
    * r3 all-pairs crossJoin:
    *
    *  1. assign every unit vector to its nearest cell of the
    *     deterministic coarse quantizer (the same exact scaled-int label
    *     centroids sim_topk_ivf uses — [[graft.sim.Similarity
    *     .exactCentroidRows]]), recording its distance to the cell
    *     center;
    *  2. per cell, take the max member distance r (one narrow agg);
    *  3. qualify cell PAIRS by the triangle inequality: a pair at
    *     cos ≥ t has chord ≤ √(2−2t), so members of cells (i,j) can
    *     only reach it if ‖ĉᵢ−ĉⱼ‖ ≤ √(2−2t) + rᵢ + rⱼ. The quantizer is
    *     driver-sized by design (|cells| ≈ |labels|; at 100 TB a coarse
    *     k-means codebook — thousands of cells), so the qualifying-pair
    *     list is computed on the driver and broadcast;
    *  4. candidates come from two EQUI-joins (vectors→cell-pairs→
    *     vectors) — no CartesianProduct / BroadcastNestedLoopJoin
    *     anywhere in the executed plan (asserted in PlanAuditSpec) —
    *     then the exact cosine filter decides.
    *
    * Steps 1-3 only ever ADD candidates beyond the true pair set, and
    * step 4 applies the exact threshold, so the output is row-identical
    * to the brute-force twin (asserted in DedupSpec) and the DuckDB
    * hash check stays green. Pruning power is the corpus's cluster
    * structure: on a clustered real-world corpus distant cell pairs
    * disqualify and the quadratic term collapses to within-cluster; on
    * an isotropic corpus (like this synthetic one — cell radii ≈ 1.35
    * vs chord bound 1.14) every cell pair qualifies and the cost is the
    * same n²/2 exact comparisons any exact-recall method pays — but
    * through hash joins that partition by cell instead of a cartesian
    * product, so the work spreads over the cluster and shrinks the
    * moment the data has structure. */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame =
    embeddingCosinePairs(s, dir).orderBy(col("vec_a"), col("vec_b"))

  /** The un-ordered pair stream behind [[embeddingCosine]] and
    * [[embeddingCosineTopK]]. */
  def embeddingCosinePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    // --- quantizer (driver-sized, deterministic): the k-means-TRAINED
    // codebook (one fixed-point Lloyd step, KCells cells — the same
    // trainer behind q63/sim_topk_ivf_trained), centroids rescaled to
    // doubles and normalized onto the unit sphere where the triangle
    // inequality below lives. Exactness never depends on the cells
    // (steps 1-3 only over-approximate), so any codebook keeps the
    // brute-twin row-identity — a better one just prunes more. Sizing
    // note from the sf1 validation: at this PERMISSIVE threshold
    // (cos ≥ 0.35 ⟹ chord 1.14 on a unit sphere of diameter 2) the
    // RESULT itself grows ~quadratically when the corpus densifies the
    // same clusters, so runtime is output-bound — raising the cell
    // count was measured 2× SLOWER at sf1 (more qualifying cell pairs,
    // no less real work). √n-cell sizing pays off only for selective
    // thresholds; for dense thresholds the knob that matters at 100 TB
    // is the threshold itself.
    val centRows = graft.sim.Similarity.trainedCodebook(s, dir)
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
    val cents: Array[(Int, Array[Double])] = centRows.sortBy(_._1)
      .map { case (cid, qv) =>
        val arr = qv.map(_.toDouble / graft.sim.KmeansQuantizer.Scale).toArray
        val n = math.sqrt(arr.map(x => x * x).sum)
        (cid, if (n > 0) arr.map(_ / n) else arr)
      }.toArray
    // --- 1. nearest-cell assignment (ties → lower cell id; every vector
    // gets exactly one home cell, which is all exactness needs)
    val assignUdf = udf((u: Seq[Double]) => {
      var best = 0; var bestD2 = Double.MaxValue
      var i = 0
      while (i < cents.length) {
        val c = cents(i)._2
        var dot = 0.0; var j = 0
        val m = math.min(c.length, u.length)
        while (j < m) { dot += u(j) * c(j); j += 1 }
        val d2 = math.max(0.0, 2.0 - 2.0 * dot)
        if (d2 < bestD2) { bestD2 = d2; best = i }
        i += 1
      }
      (cents(best)._1, math.sqrt(bestD2))
    })
    val assigned = unitVectors(s, dir)
      .repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .withColumn("a", assignUdf($"u"))
      .select($"vec_id", $"u", $"a._1".as("cell"), $"a._2".as("dist"))
      .cache()
    // --- 2. per-cell max member distance
    val radii: Map[Int, Double] = assigned.groupBy($"cell").agg(max($"dist"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // --- 3. qualifying cell pairs (both orders + diagonal), with an
    // epsilon slack so FP rounding can only widen the candidate set
    val dth = math.sqrt(2.0 - 2.0 * CosThreshold)
    def chord(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var j = 0
      val m = math.min(a.length, b.length)
      while (j < m) { dot += a(j) * b(j); j += 1 }
      math.sqrt(math.max(0.0, 2.0 - 2.0 * dot))
    }
    val cellPairs = for {
      (ci, vi) <- cents.toSeq; (cj, vj) <- cents.toSeq
      ri <- radii.get(ci); rj <- radii.get(cj)
      if chord(vi, vj) <= dth + ri + rj + 1e-9
    } yield (ci, cj)
    val cp = broadcast(cellPairs.toDF("cell_a", "cell_b"))
    // --- 4. candidates via equi-joins, then the exact cosine decides
    val a = assigned.select($"vec_id".as("vec_a"), $"cell".as("cell_a"), $"u".as("ua"))
    val b = assigned.select($"vec_id".as("vec_b"), $"cell".as("cell_b"), $"u".as("ub"))
    a.join(cp, "cell_a")
      .join(b, "cell_b")
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", dot_product($"ua", $"ub").as("cos_sim"))
      .filter($"cos_sim" >= CosThreshold)
  }

  /** Partners listed per vector by [[embeddingCosineTopK]]. */
  val PairListK = 10

  /** [[embeddingCosine]] with the pair LIST capped at [[PairListK]]
    * partners per vec_a — the output-volume knob the sf1 validation
    * showed matters at permissive thresholds: at cos ≥ 0.35 the full
    * pair list grows ~quadratically as a corpus densifies its clusters
    * (434k rows at sf1 — the reading is output-bound, the plan is not
    * the problem), while a dedup decision rarely needs more than the
    * strongest few matches per document. The rank filter compiles to a
    * WindowGroupLimit (pinned in PlanAuditSpec): each shuffle partition
    * keeps only its top-k per group BEFORE the exchange feeds the final
    * window, so the output stays O(k·n) no matter how dense the
    * threshold is. Ordering is (cos_sim DESC, vec_b) — cos_sim values
    * are bit-identical to DuckDB's list_inner_product (same sequential
    * IEEE sums), so the rank, and hence the kept row set, hash-checks. */
  def embeddingCosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_a").orderBy($"cos_sim".desc, $"vec_b")
    embeddingCosinePairs(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= PairListK)
      .orderBy($"vec_a", $"rk")
  }

  /** Brute-force twin of [[embeddingCosine]] (all pairs within a<b) —
    * the test-scale correctness oracle the bucketed path is asserted
    * row-identical to in DedupSpec. Not a `queries()` entry. */
  def embeddingCosineBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    val e = unitVectors(s, dir)
    val a = e.repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .select($"vec_id".as("vec_a"), $"u".as("ua"))
    val b = e.select($"vec_id".as("vec_b"), $"u".as("ub"))
    a.crossJoin(b).filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", dot_product($"ua", $"ub").as("cos_sim"))
      .filter($"cos_sim" >= CosThreshold)
      .orderBy($"vec_a", $"vec_b")
  }

  // ----------------------------------------------- Connected components
  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph (here: the oracle-checked Jaccard pairs), each
    * node labeled with the minimum doc_id in its component — the step
    * that turns pairwise dedup output into keep-one-per-cluster
    * decisions. Pairwise output alone under-deletes: if A~B and B~C but
    * A!~C, pair-level "keep the smaller id" keeps both A and C.
    *
    * Algorithm: distributed CONTRACTION + driver union-find remainder —
    * the shape production CC jobs use (a pure fixpoint loop of
    * min-label rounds measured 8+ rounds here: near-dup graphs have
    * long drift chains, not just blobs). Each contraction round runs
    * ONE min-label hop with pointer jumping (lbl(v) := lbl(lbl(v)),
    * Shiloach-Vishkin style) and then rewrites the edge set through the
    * labels — every round strictly shrinks the graph by at least the
    * blob factor, so a handful of rounds reduce even a 100 TB-corpus
    * pair graph to a condensed remainder that fits on the driver, where
    * exact union-find finishes the job in milliseconds. Per-vertex
    * state stays in DataFrames throughout (the cumulative mapping is a
    * narrow (v, super-node) table); only the condensed SUPER-node edges
    * — bounded by [[DriverEdgeCap]] (2M × 16 B ≈ 32 MB) — are ever
    * collected.
    * Lineage is cut per round with localCheckpoint (on a cluster,
    * prefer `setCheckpointDir` + checkpoint for fault tolerance). */
  def clusters(s: SparkSession, dir: String): DataFrame =
    clustersOverPairs(ngramJaccardPairs(s, dir).select(col("doc_a"), col("doc_b")))

  /** Condensed-graph size at which the remainder moves to exact driver
    * union-find. Sized by DRIVER MEMORY, not by a wish to exercise the
    * loop: 2M directed edges × 16 B ≈ 32 MB — trivia for any driver
    * heap, and union-find over it runs in tens of milliseconds. Running
    * a ~10-shuffle distributed fixpoint round to avoid collecting 32 MB
    * is strictly worse at every scale; the contraction loop exists for
    * the 100 TB regime where the pair graph has BILLIONS of edges and
    * even the condensed remainder starts above this cap (the loop then
    * shrinks it under the cap in a few rounds — exercised via the
    * driverEdgeCap test seam in Declared3Spec). */
  val DriverEdgeCap = 2000000L

  /** @param pairs two-column DataFrame (doc_a, doc_b) of undirected
    *              near-dup edges, each pair once with doc_a < doc_b.
    * @param driverEdgeCap test seam for forcing contraction rounds. */
  def clustersOverPairs(pairs: DataFrame,
                        driverEdgeCap: Long = DriverEdgeCap): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // materialize the pair plan ONCE — every consumer below (count,
    // symmetrize, remainder collect, vertex set) reuses the
    // checkpointed rows instead of re-evaluating the (potentially
    // expensive) upstream near-dup plan
    val p0 = pairs.select($"doc_a", $"doc_b").localCheckpoint()
    // FAST PATH: the whole (undirected) pair set already fits the
    // driver cap — skip the symmetrize/distinct shuffle and the
    // per-round machinery entirely and union-find the pairs as-is.
    // This is the common tail at every test SF; the contraction loop
    // below is the 100 TB path (exercised via the driverEdgeCap test
    // seam in Declared3Spec). The size probe and the collect are ONE
    // bounded job (head of cap/2+1 rows — ≤ the 32 MB driver budget by
    // construction) instead of the r20 count-then-collect pair (r21:
    // one fewer job per cluster evaluation).
    val capRows = (driverEdgeCap / 2).toInt
    val rem = p0.as[(Long, Long)].head(capRows + 1)
    if (rem.length <= capRows) {
      val verts = p0.select($"doc_a".as("v")).union(p0.select($"doc_b".as("v")))
        .distinct().select($"v", $"v".as("cur"))
      return finishWithUnionFind(rem, verts)
    }
    var edges = p0
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(p0.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct().localCheckpoint()
    // cumulative vertex → current-super-node mapping
    var cum = edges.select($"src".as("v")).distinct()
      .select($"v", $"v".as("cur")).localCheckpoint()
    var rounds = 0
    while (edges.count() > driverEdgeCap) {
      rounds += 1
      // require, not assert: the cap must hold even under
      // -Xdisable-assertions — a non-converging graph must fail fast, not
      // spin an unbounded loop of Spark jobs
      require(rounds <= 20, "contraction did not condense the graph in 20 rounds")
      // min-label hop over the current condensed graph...
      val verts = edges.select($"src".as("v")).distinct()
        .select($"v", $"v".as("lbl"))
      val hop = verts
        .union(edges.join(verts.select($"v".as("src"), $"lbl"), "src")
          .select($"dst".as("v"), $"lbl"))
        .groupBy($"v").agg(min($"lbl").as("lbl"))
      // ...with pointer jumping: follow the label one more step (labels
      // are always vertex ids of the same component, so composing stays
      // in-component and doubles the collapse reach)
      val next = hop
        .join(hop.select($"v".as("lv"), $"lbl".as("lbl2")), $"lbl" === $"lv", "left")
        .select($"v", coalesce($"lbl2", $"lbl").as("lbl"))
        .localCheckpoint()
      // LEFT join: a super-node absent from `next` is a fully-collapsed
      // component (no cross-edges survive) — its members keep their
      // current label, which is already the component minimum
      cum = cum.join(next.select($"v".as("cur"), $"lbl"), Seq("cur"), "left")
        .select($"v", coalesce($"lbl", $"cur").as("cur")).localCheckpoint()
      edges = edges
        .join(next.select($"v".as("src"), $"lbl".as("s2")), "src")
        .join(next.select($"v".as("dst"), $"lbl".as("d2")), "dst")
        .select($"s2".as("src"), $"d2".as("dst"))
        .filter($"src" =!= $"dst")
        .distinct().localCheckpoint()
    }
    // exact union-find on the condensed remainder; roots are component
    // minima because every union keeps the smaller id (and a component's
    // global-min vertex always survives contraction labeled by itself)
    finishWithUnionFind(edges.filter($"src" < $"dst").as[(Long, Long)].collect(), cum)
  }

  /** Shared tail of [[clustersOverPairs]]: exact union-find over the
    * collected remainder edges, broadcast-joined back onto the
    * (v, current-super-node) mapping. */
  private def finishWithUnionFind(remPairs: Array[(Long, Long)],
                                  cumMapping: DataFrame): DataFrame = {
    val s = cumMapping.sparkSession
    import s.implicits._
    val cum = cumMapping
    val rem = remPairs
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rem.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val roots = rem.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      .map(v => (v, find(v)))
    val rootDf = broadcast(roots.toDF("cur", "root"))
    cum.join(rootDf, Seq("cur"), "left")
      .select($"v".as("doc_id"), coalesce($"root", $"cur").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** Cluster CONSOLIDATION — the step after near-dup clustering: per
    * duplicate cluster keep ONE canonical representative, chosen by an
    * integer-exact richness order (most distinct tokens, then most
    * tokens, then lowest doc_id) instead of blind min-id — the usual
    * "keep the best copy" rule of a curation pipeline. The argmax is a
    * groupBy over a lexicographically-ordered struct max, so it
    * partial-aggregates map-side (no window shuffle carrying every
    * member's payload); cluster assignment reuses [[clusters]]
    * (driver union-find fast path / distributed contraction at scale). */
  def canonical(s: SparkSession, dir: String): DataFrame =
    canonicalOver(s, dir, clusters(s, dir))

  /** [[canonical]] over an ALREADY-MATERIALIZED cluster assignment —
    * the 100 TB shape. The bench row recomputes [[clusters]] inline
    * (the no-cross-representative-caching rule: every graded query
    * pays its whole cost), but a real pipeline runs the clustering
    * ONCE, persists `(doc_id, cluster_id)` next to the corpus (the
    * band-index precedent — e.g. a txlog table the ingestion loop
    * maintains), and feeds it here: canonicalization then costs one
    * join + one partial-aggregable argmax over the assignment, never a
    * second O(corpus) pair enumeration + contraction. */
  def canonicalOver(s: SparkSession, dir: String, cl: DataFrame): DataFrame = {
    import s.implicits._
    // token richness via the codegen TermCounts kernel (ONE tokenizer
    // pass per doc: nd = |map|, nt = Σ counts) — the r19 form ran the
    // interpreted filter(split(...)) HOF twice per row (once under
    // array_distinct, once under size; opt guide §4 / the q56 lesson).
    // Same tokenization (Signatures.splitTokens ≡ split on TokenSepRegex
    // with empties dropped), so nd/nt — and the argmax — are unchanged.
    val m = Tables(s, dir, "documents")
      .select($"doc_id",
        graft.functions.TokenFunctions.term_counts($"text").as("tc"))
      .select($"doc_id",
        size($"tc").cast("long").as("nd"),
        aggregate(map_values($"tc"), lit(0L), (a, x) => a + x).as("nt"))
      .join(cl, "doc_id")
    m.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"nd", $"nt", (-$"doc_id").as("negid"))).as("best"))
      .select($"cluster_id", $"n_members",
        (-$"best.negid").as("keep_id"),
        $"best.nd".as("keep_distinct"),
        $"best.nt".as("keep_tokens"))
      .orderBy($"cluster_id")
  }

  /** SemDeDup's pair threshold — same cosine bound (and therefore the
    * same bit-identical dot-product contract) as [[embeddingCosine]]. */
  val SemDedupTau = 0.35

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with the k-means-TRAINED coarse quantizer (the
    * exact fixed-point trainer behind q63/sim_topk_ivf_trained), then
    * search for near-duplicates ONLY within each cluster — a vector is
    * dropped when a LOWER-id vector in its own cell sits at
    * cos ≥ [[SemDedupTau]] (the paper keeps one representative per
    * semantic group; lowest-id is the deterministic choice). Unlike
    * [[embeddingCosine]] (exact recall via triangle-qualified cell
    * PAIRS), SemDeDup's contract is intentionally within-cluster-only:
    * the quadratic term is bounded by the largest cell, never the
    * corpus, which is what makes it the standard trillion-token recipe
    * — at 100 TB the cells shard the pairwise work into independent
    * equi-join buckets with no cross-cell candidates at all.
    *
    * Output: one row per occupied cell — members, drops, and the
    * dropped-id checksum — so the hash pins the trained assignment AND
    * every within-cell pair decision. */
  def semantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot_product
    val q = graft.sim.KmeansQuantizer.quantized(Tables(s, dir, "embeddings"))
    val home = graft.sim.KmeansQuantizer
      .assign(q, graft.sim.Similarity.trainedCodebook(s, dir))
      .select($"vec_id", $"cid".as("cell"))
    // inner join: zero-norm vectors have no unit form and no cosine —
    // excluded from membership and pairing alike (oracle mirrors)
    val j = home.join(unitVectors(s, dir), "vec_id")
    val a = j.select($"cell", $"vec_id".as("vec_a"), $"u".as("ua"))
    val b = j.select($"cell", $"vec_id".as("vec_b"), $"u".as("ub"))
    val drops = a.join(b, "cell")
      .filter($"vec_a" < $"vec_b" && dot_product($"ua", $"ub") >= SemDedupTau)
      .select($"cell", $"vec_b").distinct()
    val perCell = j.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val dropAgg = drops.groupBy($"cell")
      .agg(count(lit(1)).as("n_dropped"), sum($"vec_b").as("drop_id_sum"))
    perCell.join(dropAgg, Seq("cell"), "left")
      .select($"cell", $"n_vecs",
        coalesce($"n_dropped", lit(0L)).as("n_dropped"),
        coalesce($"drop_id_sum", lit(0L)).as("drop_id_sum"))
      .orderBy($"cell")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic" -> semantic _,
    "dedup_exact" -> exact _,
    "dedup_jaccard" -> ngramJaccard _,
    "dedup_minhash_lsh" -> minhashLsh _,
    "dedup_simhash" -> simhash _,
    "dedup_simhash_portable" -> simhashPortable _,
    "dedup_embedding_cosine" -> embeddingCosine _,
    "dedup_embedding_topk" -> embeddingCosineTopK _,
    "dedup_minhash_portable" -> minhashPortable _,
    "dedup_incremental" -> minhashIncremental _,
    "dedup_clusters" -> clusters _,
    "dedup_canonical" -> canonical _,
    "dedup_edit_distance" -> editDistance _)
}
