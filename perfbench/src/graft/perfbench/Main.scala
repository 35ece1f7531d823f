package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl._
import graft.storage.TxLog

/** The one session shape every benchmark JVM builds, set-up probes
  * included: `local[cores]`, all scratch space inside the work dir. The
  * query workload adds the engine's session extensions, as the
  * program's own query mains do. */
object Session {
  def build(cores: Int, scratch: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
    if (extensions) b.withExtensions(new graft.GraftExtensions)
    val s = b.master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Launch → ready-session probe: prints the epoch millisecond at which
  * the session was ready, then ends the JVM at once. */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    Session.build(args(0).toInt, args(1), args(2) == "1")
    println(s"READY_MS ${System.currentTimeMillis()}")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** One closed-loop workload. `pass` is the timed unit; whatever it
  * returns is recorded next to the pass's wall time. `observe` runs after
  * the clock stops and records what the checks compare. */
trait Workload {
  def pass(k: Int, tr: Tracer): Map[String, Any]
  def observe(k: Int): Map[String, Any] = Map.empty
}

/** Both entities through the v2 pipeline with scale sinks, as
  * `graft.etl.Runner` drives them; each pass writes into its own output
  * directory. */
final class EtlWorkload(spark: SparkSession, corpus: String, out: String) extends Workload {
  private def confs(dir: String): Seq[EntityConf] = Seq("users" -> "user", "cards" -> "card")
    .map { case (e, s) =>
      EntityConf(e, s"$corpus/$s-events-schema.json", s"$corpus/$e", s"$dir/$e.csv",
        Some(s"$dir/metadata.csv"), s"$dir/${e}_schema_mismatches")
    }

  def pass(k: Int, tr: Tracer): Map[String, Any] = {
    val dir = s"$out/p$k"
    Files.createDirectories(Paths.get(dir))
    val opsMs = mutable.ArrayBuffer.empty[Double]
    val counters = confs(dir).map { c =>
      val t0 = Clock.ms()
      val m = tr("etl.entity") {
        if (tr.enabled) StagedPipeline.run(spark, c, s"$dir/errors.log", tr)
        else EntityPipeline.run(spark, c, V2, s"$dir/errors.log", fidelity = false).metrics
      }
      opsMs += Clock.ms() - t0
      c.name -> Map("files" -> m.files, "valid" -> m.valid, "invalid" -> m.invalid)
    }.toMap
    Map("dir" -> dir, "items" -> counters.values.map(_("files")).sum, "ops_ms" -> opsMs.toSeq,
      "counters" -> counters)
  }
}

/** A fresh table per pass: `commits` appends of `rows` rows written as
  * `filesPerCommit` files, a full snapshot count after every
  * `readEvery`-th commit (the log just changed, so the manifest cache must
  * revalidate), then point scans on the unchanged final table. */
final class TxLogWorkload(spark: SparkSession, out: String, seed: Long, commits: Int,
                          rows: Int, filesPerCommit: Int, readEvery: Int,
                          pointScans: Int) extends Workload {
  private def table(k: Int) = s"$out/p$k"

  private def batch(c: Int): DataFrame =
    spark.range(c.toLong * rows, (c + 1L) * rows, 1, filesPerCommit)
      .select(col("id"), substring(sha2(concat_ws(":", lit(seed), col("id")), 256), 1, 32)
        .as("payload"))

  def pass(k: Int, tr: Tracer): Map[String, Any] = {
    val t = table(k)
    val commitMs, readMs, pointMs = mutable.ArrayBuffer.empty[Double]
    val versions, readCounts = mutable.ArrayBuffer.empty[Long]
    for (c <- 0 until commits) {
      val df = batch(c)
      val t0 = Clock.ms()
      versions += tr("txlog.commit")(TxLog.commit(df, t, "perfbench", c.toLong))
      commitMs += Clock.ms() - t0
      if ((c + 1) % readEvery == 0) {
        val t1 = Clock.ms()
        val snap = tr("txlog.snapshot_build")(TxLog.snapshot(spark, t).get)
        readCounts += tr("txlog.snapshot_scan") {
          tr.count("files", filesPerCommit * (c + 1.0))
          snap.count()
        }
        readMs += Clock.ms() - t1
      }
    }
    val rng = new scala.util.Random(seed * 7919 + k)
    val keys = Seq.fill(pointScans)(rng.nextLong(commits.toLong * rows))
    val found = keys.map { key =>
      val pred = col("id") === key
      if (tr.enabled) tr("txlog.prune") {
        val (kept, total) = TxLog.pruneCount(spark, t, pred)
        tr.count("kept", kept)
        tr.count("total", total)
      }
      val t0 = Clock.ms()
      val df = tr("txlog.point_build")(TxLog.scanWhere(spark, t, pred).get)
      val ids = tr("txlog.point_exec")(df.select("id").collect().map(_.getLong(0)).toSeq)
      pointMs += Clock.ms() - t0
      Map("key" -> key, "ids" -> ids)
    }
    Map("dir" -> t, "items" -> (commits + readMs.size + pointScans),
      "commit_ms" -> commitMs.toSeq, "read_ms" -> readMs.toSeq, "point_ms" -> pointMs.toSeq,
      "versions" -> versions.toSeq, "read_counts" -> readCounts.toSeq, "points" -> found)
  }

  override def observe(k: Int): Map[String, Any] = {
    val snap = TxLog.snapshot(spark, table(k)).get
    val r = snap.agg(count(lit(1)), sum(col("id"))).collect()(0)
    Map("final_count" -> r.getLong(0), "final_sum" -> r.getLong(1),
      "head_version" -> TxLog.headVersion(spark, table(k)),
      "live_files" -> snap.inputFiles.length)
  }
}

/** `SparkEntry.queries` keys in a fixed order, each constructed
  * (`fn(spark, sf)`), planned (forcing `queryExecution.executedPlan`) and
  * executed (`count()`) before the next starts. */
final class QueryWorkload(spark: SparkSession, sf: String, keys: Seq[String]) extends Workload {
  private val fns = keys.map(k => k -> SparkEntry.queries.getOrElse(k,
    throw new IllegalArgumentException(s"no query $k in SparkEntry.queries"))).toMap

  private var frames = Seq.empty[(String, DataFrame)]

  def pass(k: Int, tr: Tracer): Map[String, Any] = {
    frames = Nil
    val rows = keys.map { key =>
      val t0 = Clock.ms()
      val df = tr(s"query.$key.construct")(fns(key)(spark, sf))
      val t1 = Clock.ms()
      tr(s"query.$key.plan")(df.queryExecution.executedPlan)
      val t2 = Clock.ms()
      val n = tr(s"query.$key.exec")(df.count())
      val t3 = Clock.ms()
      frames :+= key -> df
      Map("key" -> key, "construct_ms" -> (t1 - t0), "plan_ms" -> (t2 - t1),
        "exec_ms" -> (t3 - t2), "rows" -> n)
    }
    Map("items" -> keys.size, "queries" -> rows)
  }

  /** The full result of the last pass's DataFrame of each key in `only`
    * as parquet under `dir/<key>`, and the keys' DuckDB oracle SQL as
    * `dir/oracle_sql.json`; written after the timed passes, for the
    * checks. Part files are numbered in partition order, so reading them
    * in name order gives the rows in result order; a `coalesce(1)` would
    * run a query's last stage in a single task. */
  def dump(dir: String, only: Set[String], json: ObjectMapper): Unit = {
    frames.foreach { case (key, df) => if (only(key)) df.write.parquet(s"$dir/$key") }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json.writeValueAsString(
      keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
  }
}

/** Benchmark JVM: builds the session, runs one cold pass and then warm
  * passes until `--seconds` have elapsed, and writes every raw
  * observation to `--out` as one JSON document. With `--trace 1` a
  * listener records jobs and tasks, and every second warm pass is driven
  * with spans on, so the untraced passes beside them give the tracing
  * overhead in the same session. */
object Main {
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = Session.build(cores, work, a("workload") == "query")
    val readyMs = System.currentTimeMillis()
    val rec = if (trace) Some(new Recorder) else None
    rec.foreach(spark.sparkContext.addSparkListener)

    val wl: Workload = a("workload") match {
      case "etl" => new EtlWorkload(spark, a("corpus"), s"$work/out")
      case "txlog" => new TxLogWorkload(spark, s"$work/tables", a("seed").toLong,
        a("commits").toInt, a("rows").toInt, a("files-per-commit").toInt,
        a("read-every").toInt, a("point-scans").toInt)
      case "query" => new QueryWorkload(spark, a("sf"), a("keys").split(',').toSeq)
    }
    val tr = new Tracer(false)
    val minWarm = a("min-warm").toInt
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val mem = ManagementFactory.getMemoryMXBean
    var warmStart = 0.0
    var k = 0
    def warmDone = k > minWarm && Clock.ms() - warmStart >= a("seconds").toDouble * 1000
    while (k == 0 || !warmDone) {
      val traced = trace && k > 0 && k % 2 == 0
      tr.enabled = traced
      tr.pass = k
      val gc0 = gcMs()
      val t0 = Clock.ms()
      val fields = tr("pass")(wl.pass(k, tr))
      val t1 = Clock.ms()
      val gcS = (gcMs() - gc0) / 1e3
      if (k == 0) warmStart = Clock.ms()
      System.gc()
      val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
      val sched = rec.map { r =>
        BenchBus.drain(spark.sparkContext)
        Map("jobs" -> r.jobsIn(t0, t1), "cache_bytes" -> r.takePeakCache())
      }.getOrElse(Map.empty)
      passes += fields ++ wl.observe(k) ++ sched ++ Map("k" -> k, "traced" -> traced,
        "start_ms" -> t0, "end_ms" -> t1, "wall_s" -> (t1 - t0) / 1e3, "gc_s" -> gcS,
        "heap_live_mb" -> heapMb)
      k += 1
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    wl match {
      case q: QueryWorkload =>
        q.dump(s"$work/dump", a("dump-keys").split(',').filter(_.nonEmpty).toSet, json)
      case _ =>
    }
    val doc = Map("ready_ms" -> readyMs, "passes" -> passes.toSeq, "spans" -> tr.toJson)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(doc))
    // the work dir is discarded whole, so skip the orderly session stop
    Runtime.getRuntime.halt(0)
  }
}
