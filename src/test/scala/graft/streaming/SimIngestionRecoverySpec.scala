package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sim.Similarity
import graft.storage.TxLog

/** Crash-recovery proof for the EXACTLY-ONCE embedding ingestion loop
  * ([[Similarity.simIngestionStream]]) — the band-index recovery suite
  * (IngestionRecoverySpec) applied to the TxLog ANN index. The loop is
  * killed in the at-least-once windows (probe→admit gap; post-admit;
  * admit data files staged but its manifest unpublished), restarted
  * from its checkpoint, and must end with the index contents AND
  * per-batch candidate outputs of the crash-free run. */
class SimIngestionRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** embeddings split into 3 vec_id-tercile parquet files; with
    * maxFilesPerTrigger=1 each is one deterministic micro-batch. */
  lazy val streamFixture: (String, org.apache.spark.sql.types.StructType) = {
    val tmp = Files.createTempDirectory("sim_ingest_stream_")
    val vecs = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "label", "embedding").cache()
    val cuts = vecs.selectExpr(
      "percentile(vec_id, 0.3333)", "percentile(vec_id, 0.6667)").collect()(0)
    val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
    val streamDir = tmp.resolve("stream")
    Files.createDirectory(streamDir)
    Seq((col("vec_id") < c1, 0),
        (col("vec_id") >= c1 && col("vec_id") < c2, 1),
        (col("vec_id") >= c2, 2)).foreach { case (p, i) =>
      val part = tmp.resolve(s"part$i")
      vecs.filter(p).coalesce(1).write.parquet(part.toString)
      val f = Files.list(part).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, streamDir.resolve(s"f$i.parquet"))
    }
    val schema = vecs.schema
    vecs.unpersist()
    (streamDir.toString, schema)
  }

  private var runId = 0

  /** `crash(batch, id, index)` fires once from the beforeAdmit seam. */
  private def run(crash: (DataFrame, Long, String) => Unit = null)
      : (Seq[String], Map[Long, Seq[String]]) = {
    runId += 1
    val (dir, schema) = streamFixture
    val index = Files.createTempDirectory(s"sim_ingest_idx_$runId").resolve("t").toString
    val pairsDir = Files.createTempDirectory(s"sim_ingest_pairs_$runId").toString
    val ckpt = Files.createTempDirectory(s"sim_ingest_ckpt_$runId").toString
    @volatile var crashed = false
    val hook: (DataFrame, Long) => Unit = { (df, id) =>
      if (crash != null && !crashed) {
        try crash(df, id, index)
        catch { case e: Throwable => crashed = true; throw e }
      }
    }
    def start() = Similarity.simIngestionStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
      index, pairsDir, ckpt, hook)
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
    // index rows: drop the float vector payload, compare identity
    // columns + batch ledger (v/norm determinism is covered by the
    // cos_sim comparison in the pairs)
    val idx = TxLog.snapshot(spark, index).get
      .select(col("vec_id"), col("label"), col("bucket"), col("batch_id"))
      .collect().map(_.toString).toSeq.sorted
    val pairs = (0L to 2L).map { id =>
      id -> spark.read.parquet(s"$pairsDir/batch_id=$id")
        .collect().map(_.toString).toSeq.sorted
    }.toMap
    (idx, pairs)
  }

  lazy val baseline: (Seq[String], Map[Long, Seq[String]]) = run()

  test("crash-free loop: each batch admitted once, batch 0 probes empty, no self-candidates") {
    val (idx, pairs) = baseline
    assert(idx.nonEmpty)
    val byBatch = idx.map(_.split(",").last.stripSuffix("]")).distinct
    assert(byBatch.sorted.toSeq == Seq("0", "1", "2"))
    assert(idx.distinct.size == idx.size, "a vector was admitted twice")
    assert(pairs(0L).isEmpty, "batch 0 probes an empty corpus")
    assert(pairs.values.flatten.nonEmpty, "vacuous: no candidates at all")
    pairs.values.flatten.foreach { p =>
      val cols = p.stripPrefix("[").stripSuffix("]").split(",")
      assert(cols(0) != cols(1), s"self-candidate leaked: $p")
    }
  }

  test("crash between probe and admit: restart restores identical index and candidates") {
    val (idx, pairs) = run { (_, id, _) =>
      if (id == 1) sys.error("injected crash (between probe and admit)")
    }
    assert(idx == baseline._1, "index contents differ after recovery")
    assert(pairs == baseline._2, "candidate outputs differ after recovery")
  }

  test("crash after admit committed: replay is a no-op admit, identical outputs") {
    val (idx, pairs) = run { (df, id, index) =>
      if (id == 1) {
        Similarity.lshIndexAdmitIdempotent(df, index, id)
        sys.error("injected crash (post-admit)")
      }
    }
    assert(idx == baseline._1,
      "index differs — double-append or missed admit after post-admit crash")
    assert(pairs == baseline._2, "candidates differ after post-admit crash")
  }

  test("crash after the admit's data files are staged, before its manifest publishes: orphans stay invisible") {
    val (idx, pairs) = run { (df, id, index) =>
      if (id == 1) {
        Similarity.lshIndexRows(df, id).write.parquet(s"$index/data/orphan-batch$id")
        sys.error("injected crash (staged, unpublished admit)")
      }
    }
    assert(idx == baseline._1,
      "index differs — orphaned admit files leaked in, or the admit was skipped")
    assert(pairs == baseline._2, "candidates differ after a staged-admit crash")
  }
}
