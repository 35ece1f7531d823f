package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StorageLayout

class StorageLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed tables join without a shuffle") {
    import spark.implicits._
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    val lineitem = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    StorageLayout.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    StorageLayout.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
      "o_orderkey", 8)
    // disable broadcast so the join would otherwise shuffle both sides
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
        .groupBy($"o_orderkey").count()
      assert(joined.count() > 0)
      assert(StorageLayout.isShuffleFree(joined),
        "bucketed equi-join must plan without Exchange:\n" +
          joined.queryExecution.executedPlan.toString.take(2000))
      // sanity: the SAME join over the unbucketed parquet DOES shuffle
      val unbucketed = orders
        .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .groupBy($"o_orderkey").count()
      unbucketed.count()
      assert(!StorageLayout.isShuffleFree(unbucketed))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("persisted ANN index: probe join is shuffle-free and lookups prune buckets") {
    import spark.implicits._
    graft.sim.Similarity.writeLshIndex(spark, "/root/testdata/sf0.001", "b_emb_lsh")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    // disable broadcast so the shuffle-freedom comes from the bucketed
    // layout, not from a broadcast of the small test-scale side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.sim.Similarity.probePersistedIndex(spark, "b_emb_lsh")
      assert(probe.count() > 0)
      assert(StorageLayout.isShuffleFree(probe),
        "bucketed probe join must plan without Exchange:\n" +
          probe.queryExecution.executedPlan.toString.take(2000))
      // a single-bucket lookup reads 1 of 16 bucket files, not the
      // table. autoBucketedScan's heuristic turns bucketed reading off
      // for a bare filter (no downstream join/agg to exploit the
      // distribution), which also forfeits bucket pruning — pin it on
      // for the lookup, as an index-serving job would.
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val one = spark.table("b_emb_lsh").filter($"bucket" === 3)
      one.count()
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 16"),
        s"no bucket pruning in scan:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS b_emb_lsh")
    }
  }

  test("persisted TRAINED-codebook IVF index: shuffle-free probes, cell pruning") {
    import spark.implicits._
    graft.sim.Similarity.writeIvfIndex(spark, "/root/testdata/sf0.001", "b_emb_ivf")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.sim.Similarity.probePersistedIndex(spark, "b_emb_ivf", "cell")
      assert(probe.count() > 0)
      assert(StorageLayout.isShuffleFree(probe),
        "bucketed IVF probe join must plan without Exchange:\n" +
          probe.queryExecution.executedPlan.toString.take(2000))
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val one = spark.table("b_emb_ivf").filter($"cell" === 0)
      one.count()
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains(s"SelectedBucketsCount: 1 out of ${graft.sim.Similarity.KCells}"),
        s"no cell pruning in scan:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS b_emb_ivf")
    }
  }

  test("persisted band index: incremental dedup probes it bucket-pruned, row-identical") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    graft.dedup.Dedup.writeBandIndex(spark, sf, "b_band_idx")
    // bucketed reading must stay on for the probe (the broadcast join
    // gives autoBucketedScan's heuristic no distribution to exploit, and
    // turning it off would forfeit bucket pruning — same pin as the
    // single-bucket lookup above)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val persisted =
        graft.dedup.Dedup.minhashIncrementalPersisted(spark, sf, "b_band_idx")
      val recomputed = graft.dedup.Dedup.minhashIncremental(spark, sf)
      val norm = (df: org.apache.spark.sql.DataFrame) =>
        df.collect().map(_.toString).toSeq.sorted
      assert(norm(persisted) == norm(recomputed),
        "persisted-index result differs from the recomputed-index result")
      // the probe goes through the bucket-pruning path (an isin on the
      // bucket column); this batch's ~hundreds of band hashes cover all
      // 16 buckets, which is the honest full-batch outcome — bucket
      // ELIMINATION is demonstrated below on the single-arrival shape
      persisted.collect()
      val plan = persisted.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in probe scan:\n${plan.take(2000)}")
      assert(sel.get.group(2).toInt == graft.dedup.Dedup.BandIndexBuckets)
      // single-arrival probe (one doc = 4 band hashes — the point-dedup
      // an ingestion pipeline runs per document): scan prunes to at most
      // 4 of the 16 bucket files
      val oneDoc = graft.dedup.Dedup.bandIndexProbe(spark, sf, "b_band_idx", 1)
      oneDoc.collect()
      val onePlan = oneDoc.queryExecution.executedPlan.toString
      val oneSel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(onePlan)
      assert(oneSel.isDefined, s"no bucket pruning:\n${onePlan.take(2000)}")
      assert(oneSel.get.group(1).toInt <= 4,
        s"single-doc probe did not prune: ${oneSel.get.matched}")
      // big-batch shape: forcing the hash count over the isin threshold
      // routes the bucket prune to a broadcast left-semi join —
      // row-identical to the isin route, with no driver-built In
      // expression in the plan (the ADVICE'd huge-batch hazard)
      val isinRoute = graft.dedup.Dedup.bandIndexProbe(
        spark, sf, "b_band_idx", Int.MaxValue)
      val semiRoute = graft.dedup.Dedup.bandIndexProbe(
        spark, sf, "b_band_idx", Int.MaxValue, isinMaxHashes = 0)
      assert(norm(semiRoute) == norm(isinRoute),
        "semi-join prune route differs from the isin route")
      semiRoute.collect()
      val semiPlan = semiRoute.queryExecution.executedPlan.toString
      assert(semiPlan.contains("LeftSemi"),
        s"expected a left-semi bucket prune in:\n${semiPlan.take(2000)}")
      // the isin route compiles its hash list to an INSET literal; the
      // semi route must carry no such driver-built list
      assert(!semiPlan.contains("INSET"),
        "semi route still carries a driver-built In/InSet over band hashes")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS b_band_idx")
    }
  }

  test("persisted band index: an arriving STREAM probes it per micro-batch, matching the one-shot probe") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sf = "/root/testdata/sf0.001"
    graft.dedup.Dedup.writeBandIndex(spark, sf, "b_band_idx_stream")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      implicit val sqlCtx = spark.sqlContext
      // the arriving docs = the src0 slice, streamed in two micro-batches
      // — the ingestion lifecycle as an actual stream: each batch bands
      // only ITSELF and probes the on-disk index (no corpus scan)
      val src0 = Tables(spark, sf, "documents").filter($"source" === "src0")
        .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
      assert(src0.length >= 2, "src0 slice too small to split")
      val (b1, b2) = src0.splitAt(src0.length / 2)
      val mem = MemoryStream[(Long, String)]
      val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = { (df, _) =>
        graft.dedup.Dedup.bandIndexProbeBatch(df.toDF("doc_id", "text"), "b_band_idx_stream")
          .collect().foreach(r => acc.add((r.getLong(0), r.getLong(1))))
      }
      val q = mem.toDF.toDF("doc_id", "text").writeStream.foreachBatch(sink).start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      // candidate pairs are per-new-doc independent given a fixed index,
      // so the streamed union must equal the one-shot full-batch probe
      val oneShot = graft.dedup.Dedup
        .bandIndexProbe(spark, sf, "b_band_idx_stream", Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(oneShot.nonEmpty, "vacuous: no candidates at sf0.001")
      assert(acc.asScala.toSet == oneShot,
        s"streamed union ${acc.size} differs from one-shot ${oneShot.size}")
      // --- the ADMIT half of the loop: append b1 into the index, then
      // b2's probe must see b1 docs as corpus — exactly oneShot's b2
      // pairs PLUS the (b2, b1) band collisions
      val b1Df = b1.toIndexedSeq.toDF("doc_id", "text")
      val b2Df = b2.toIndexedSeq.toDF("doc_id", "text")
      graft.dedup.Dedup.bandIndexAdmit(b1Df, "b_band_idx_stream")
      val afterAdmit = graft.dedup.Dedup
        .bandIndexProbeBatch(b2Df, "b_band_idx_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b2Ids = b2.map(_._1).toSet
      val b1Ids = b1.map(_._1).toSet
      val b2VsCorpus = oneShot.filter { case (nw, _) => b2Ids(nw) }
      assert(b2VsCorpus.subsetOf(afterAdmit),
        "admit lost corpus candidates for the next batch")
      val crossBatch = afterAdmit -- b2VsCorpus
      assert(crossBatch.forall { case (nw, old) => b2Ids(nw) && b1Ids(old) },
        s"unexpected non-(b2,b1) extras after admit: $crossBatch")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS b_band_idx_stream")
    }
  }

  test("persisted IVF-PQ index: ADC scans prune the float column; probe matches the in-query path") {
    import spark.implicits._
    graft.sim.Similarity.writeIvfPqIndex(spark, "/root/testdata/sf0.001", "b_emb_ivfpq")
    try {
      // 1. column pruning — THE PQ claim: the ADC candidate pass scans
      // the index's codes column, never the 256-byte float vector. The
      // only index scan allowed to read `v` is the NumQueries-row query
      // fetch (vec_id < NumQueries pushed to the scan).
      val cand = graft.sim.Similarity.probeIvfPqCandidates(spark, "b_emb_ivfpq")
      assert(cand.count() > 0)
      val plan = cand.queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator
        .filter(l => l.contains("b_emb_ivfpq") && l.contains("ReadSchema")).toSeq
      assert(scanLines.nonEmpty, s"no index scans found:\n${plan.take(2000)}")
      val codesScans = scanLines.filter(_.contains("codes:array"))
      assert(codesScans.nonEmpty, s"no codes-column scan:\n${scanLines.mkString("\n")}")
      codesScans.foreach { l =>
        assert(!l.contains("v:array"),
          s"ADC scoring scan reads the float vectors — pruning lost:\n$l")
      }
      // 2. the persisted probe is row-identical to the in-query IVF-PQ
      val fromIndex = graft.sim.Similarity.probeIvfPqIndex(spark, "b_emb_ivfpq").collect().toSeq
      val inQuery = graft.sim.Similarity.ivfPqTopK(spark, "/root/testdata/sf0.001").collect().toSeq
      assert(fromIndex == inQuery, "persisted-index probe diverged from in-query IVF-PQ")
      // 3. a cell lookup prunes to 1 of KCells bucket files
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val one = spark.table("b_emb_ivfpq").filter($"cell" === 0)
      one.count()
      val lookupPlan = one.queryExecution.executedPlan.toString
      assert(lookupPlan.contains(s"SelectedBucketsCount: 1 out of ${graft.sim.Similarity.KCells}"),
        s"no cell pruning in scan:\n${lookupPlan.take(1500)}")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      Seq("b_emb_ivfpq", "b_emb_ivfpq_pqcb", "b_emb_ivfpq_coarse")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
