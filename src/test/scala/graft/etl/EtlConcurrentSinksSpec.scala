package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** `EntityPipeline` runs the counters job and the sink jobs concurrently
  * over its one cached scan. These tests pin what that must not change:
  * a failing sink fails the run and leaves the others complete, the pool
  * threads, the cache and the session conf are cleaned up, the caller's
  * job group reaches every job, and the scale-mode job shape. */
class EtlConcurrentSinksSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Per job: its group and its root SQL execution; per stage: its name
    * and whether it wrote shuffle output. */
  private final class Jobs extends SparkListener {
    val groups = mutable.Buffer.empty[String]
    val execOf = mutable.Map.empty[Int, String]
    val stageJob = mutable.Map.empty[Int, Int]
    val stageName = mutable.Map.empty[Int, String]
    val shuffleStages = mutable.Buffer.empty[Int]
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val p = js.properties
      groups += p.getProperty("spark.jobGroup.id")
      execOf(js.jobId) = Option(p.getProperty("spark.sql.execution.root.id"))
        .getOrElse(p.getProperty("spark.sql.execution.id"))
      js.stageInfos.foreach { i => stageJob(i.stageId) = js.jobId; stageName(i.stageId) = i.name }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      if (sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        shuffleStages += sc.stageInfo.stageId
    }
  }

  private def recording[A](body: => A): (A, Jobs) = {
    val sc = spark.sparkContext
    val jobs = new Jobs
    TestListenerBus.drain(sc)
    sc.addSparkListener(jobs)
    try {
      val a = body
      TestListenerBus.drain(sc)
      (a, jobs)
    } finally sc.removeSparkListener(jobs)
  }

  private def usersConf(base: Path): EntityConf =
    Config.builtin(base.toString, V2).find(_.name == "users").get

  /** Data lines of a scale-mode CSV sink: each part file minus its header. */
  private def partRows(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).drop(1)).toSeq

  private def poolThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith(ConcurrentActions.ThreadPrefix)).toSet

  test("runAll runs its actions at once, waits for all, and rethrows the first failure") {
    val started = new java.util.concurrent.CountDownLatch(3)
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    def action(fail: Option[String]): () => Unit = () => {
      started.countDown()
      // each action returns only once all three are running
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
      ended.incrementAndGet()
      fail.foreach(m => throw new IllegalStateException(m))
    }
    val err = intercept[IllegalStateException] {
      ConcurrentActions.runAll(Seq(action(None), action(Some("first")), action(Some("second"))))
    }
    assert(err.getMessage == "first")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(ended.get == 3)
    assert(poolThreads.isEmpty, s"pool threads still alive: $poolThreads")
  }

  for (fidelity <- Seq(false, true)) {
    val label = if (fidelity) "fidelity" else "scale"
    test(s"$label: a failing quarantine sink fails the run; the other sinks finish and nothing leaks") {
      val base = Files.createTempDirectory("etl_fail_")
      EtlFixtures.writeCorpus(base)
      val conf = usersConf(base)
      // a regular file where the quarantine directory must go
      Files.writeString(base.resolve("users_schema_mismatches"), "in the way")
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.files.openCostInBytes", "12345")

      val err = intercept[Exception] {
        EntityPipeline.run(spark, conf, V2, base.resolve("errors.log").toString, fidelity)
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => String.valueOf(e.getMessage).contains("users_schema_mismatches")),
        s"unexpected failure: $err")

      // the CSV sinks ran to completion: 8 data rows each
      def rows(name: String): Seq[String] =
        if (fidelity) Files.readAllLines(base.resolve(name)).asScala.toSeq.tail
        else partRows(base.resolve(s"$name.d"))
      assert(rows("users.csv").size == 8)
      assert(rows("metadata.csv").size == 8)

      assert(poolThreads.isEmpty, s"pool threads still alive: $poolThreads")
      assert(spark.conf.get("spark.sql.files.openCostInBytes") == "12345")
      assert(spark.sharedState.cacheManager.isEmpty)
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("the caller's job group reaches every job of the run") {
    val base = Files.createTempDirectory("etl_group_")
    EtlFixtures.writeCorpus(base)
    val sc = spark.sparkContext
    val (_, jobs) = recording {
      sc.setJobGroup("etl-group-spec", "ETL run under a caller's job group", interruptOnCancel = true)
      try EntityPipeline.run(spark, usersConf(base), V2, base.resolve("errors.log").toString,
        fidelity = false)
      finally sc.clearJobGroup()
    }
    assert(jobs.groups.nonEmpty)
    assert(jobs.groups.forall(_ == "etl-group-spec"), jobs.groups)
  }

  test("v2 scale mode: 4 jobs per entity, and no shuffle stage at all") {
    val base = Files.createTempDirectory("etl_shape_")
    EtlFixtures.writeCorpus(base)
    val conf = usersConf(base)
    val (r, jobs) = recording {
      EntityPipeline.run(spark, conf, V2, base.resolve("errors.log").toString, fidelity = false)
    }
    assert(r.metrics == EtlMetrics(9, 7, 2))
    // the counters, the error log with the quarantine copy, and two CSVs:
    // each one job of one stage, none writing shuffle output
    assert(jobs.execOf.size == 4, jobs.stageName.toSeq.sorted)
    assert(jobs.stageJob.size == 4, jobs.stageName.toSeq.sorted)
    assert(jobs.shuffleStages.isEmpty, jobs.shuffleStages.map(jobs.stageName))
  }
}
