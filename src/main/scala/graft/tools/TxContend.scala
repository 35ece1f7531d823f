package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.storage.TxLog

/** Multi-PROCESS writer contention proof (r11 verdict item #6): the
  * optimistic version-race retry loop and the serializable DML conflict
  * are exercised by the in-process suites, but the commit arbiter's
  * whole point is SEPARATE writers — two JVMs, two SparkSessions, no
  * shared memory, one table directory. This tool is the cross-process
  * battery:
  *
  *   Phase A (appends): two worker JVMs each commit `n` tokened batches
  *   of disjoint rows into one fresh table, starting on a shared marker
  *   file so their commit windows overlap maximally. PASS = the log is
  *   version-dense with exactly 2n manifests (no slot lost, none
  *   doubled), the snapshot holds every row exactly once, and a replay
  *   of either worker's token is a no-op in the orchestrator's JVM.
  *
  *   Phase B (row-level DML): a preloaded table; each worker deletes
  *   its own half of the key space in 10 single-transaction chunks,
  *   retrying on ConcurrentModificationException (the documented
  *   contract: a conflicting rewrite re-runs on the new snapshot).
  *   PASS = every targeted row gone, no row deleted twice (version
  *   accounting matches successful publishes), and the conflict count
  *   observed across processes is reported — with overlapping windows
  *   it is expected ≥ 1, proving the serializable throw fires ACROSS
  *   process boundaries, not just between threads.
  *
  *   Phases D/E/F (r20, the r17–r19 planes): D races blind appends
  *   against keyed FEED-table upserts (adopted ids + `-i2` fresh-mint
  *   offsets) — appends must never conflict (the r19 rebase contract)
  *   and an id-keyed CDF replay must equal the snapshot lineage; E
  *   races keyed upserts from both JVMs on disjoint key ranges —
  *   captureBase conflicts retry and every replaced row must ADOPT its
  *   pre-race id; F races mergeBranch against a main append stream —
  *   footprint-disjoint appends must never make the merge conflict and
  *   the branch's net delta + every append lands exactly once.
  *
  * Usage: runMain graft.tools.TxContend [nBatches]
  * (workers are spawned as plain `java` with this JVM's classpath) */
object TxContend {

  private def session(name: String): SparkSession = {
    val s = graft.GraftSession.local(name, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Worker entry — see phase docs above. Prints one RESULT line. */
  def workerMain(args: Array[String]): Unit = {
    val Array(phase, table, worker, goFile, nStr) = args.take(5)
    val n = nStr.toInt
    val spark = session(s"txcontend-$worker")
    import spark.implicits._
    // sync start: both workers poll for the marker the orchestrator
    // drops once both processes are up
    while (!Files.exists(Paths.get(goFile))) Thread.sleep(5)
    var conflicts = 0
    def retried(body: => Unit): Unit = {
      var done = false
      while (!done) {
        try { body; done = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            conflicts += 1 // documented contract: re-run on the new state
        }
      }
    }
    phase match {
      case "feed" if worker == "A" =>
        // blind tokened appends of fresh disjoint keys — under r19's
        // rebase-safe captures these must NEVER conflict with B's
        // concurrent feed DML, and vice versa
        (0 until n).foreach { b =>
          val df = ((2000000 + b * 100) until (2000000 + b * 100 + 100))
            .map(i => (i.toLong, s"A-$b")).toDF("id", "src")
          TxLog.commit(df, table, "feedA", b.toLong)
        }
      case "feed" =>
        // keyed upserts: replace seed keys [c*10, c*10+10) and MINT
        // fresh keys (3M+) — the fresh mints ride `-i2` commit-relative
        // offsets that must rebase over A's id-minting appends and
        // resolve at read against each manifest's recorded base
        (0 until n).foreach { c =>
          val df = ((c * 10 until c * 10 + 10).map(i => (i.toLong, s"B-$c")) ++
            ((3000000 + c * 10) until (3000000 + c * 10 + 10))
              .map(i => (i.toLong, s"B-$c"))).toDF("id", "src")
          retried { TxLog.upsertByKeys(df, table, Seq("id"), "feedB", c.toLong); () }
        }
      case "upsert" =>
        // racing keyed upserts from two JVMs on DISJOINT key ranges:
        // each retries through the other's row-changing commits (the
        // captureBase conflict is the r19 contract) and every replaced
        // row must ADOPT its pre-race id
        val lo = if (worker == "A") 0 else 500
        (0 until n).foreach { c =>
          val w = 400 / n
          val df = ((lo + c * w) until (lo + c * w + w))
            .map(i => (i.toLong, s"$worker-$c")).toDF("id", "src")
          retried { TxLog.upsertByKeys(df, table, Seq("id"), s"ups$worker", c.toLong); () }
        }
      case "merge" if worker == "A" =>
        // main keeps ingesting while B merges the staged branch
        (0 until n).foreach { b =>
          val df = ((4000000 + b * 100) until (4000000 + b * 100 + 100))
            .map(i => (i.toLong, s"A-$b")).toDF("id", "src")
          TxLog.commit(df, table, "mergeA", b.toLong)
        }
      case "merge" =>
        // the merge rides its own 20-attempt CAS loop; a footprint-
        // disjoint append stream must never make it CONFLICT (retried
        // here only to count any unexpected CME loudly as a conflict)
        retried { TxLog.mergeBranch(spark, table, "work"); () }
      case "append" =>
        val base = if (worker == "A") 0 else 1000000
        (0 until n).foreach { b =>
          val df = ((base + b * 100) until (base + b * 100 + 100))
            .map(i => (i.toLong, s"$worker-$b")).toDF("id", "src")
          TxLog.commit(df, table, s"worker$worker", b.toLong)
        }
      case "dml" =>
        val lo = if (worker == "A") 0L else 500L
        (0 until n).foreach { c =>
          val chunk = lo + c * (500L / n)
          val hi = chunk + (500L / n)
          var done = false
          while (!done) {
            try {
              TxLog.delete(spark, table,
                $"id" >= chunk && $"id" < hi, s"del$worker", c.toLong)
              done = true
            } catch {
              case _: java.util.ConcurrentModificationException =>
                conflicts += 1 // documented contract: re-run on the new snapshot
            }
          }
        }
    }
    println(s"""RESULT {"worker": "$worker", "phase": "$phase", "conflicts": $conflicts}""")
    spark.stop()
  }

  private def spawn(phase: String, table: String, worker: String,
                    goFile: String, n: Int): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder(java, "-Xmx3g", "-cp", cp,
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
      "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
      "graft.tools.TxContendWorker", phase, table, worker, goFile, n.toString)
      .redirectErrorStream(true).start()
  }

  private def runPair(phase: String, table: String, n: Int): (Int, Int) = {
    val go = Files.createTempFile("txcontend_go_", "").toString
    Files.deleteIfExists(Paths.get(go))
    val pa = spawn(phase, table, "A", go, n)
    val pb = spawn(phase, table, "B", go, n)
    Thread.sleep(100) // both spawned; drop the marker → overlapping windows
    Files.createFile(Paths.get(go))
    def drain(p: Process): Int = {
      val out = new String(p.getInputStream.readAllBytes())
      val code = p.waitFor()
      val line = out.linesIterator.find(_.startsWith("RESULT")).getOrElse("")
      require(code == 0 && line.nonEmpty,
        s"$phase worker failed (exit $code):\n${out.takeRight(2000)}")
      """"conflicts": (\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt).getOrElse(0)
    }
    (drain(pa), drain(pb))
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(16)
    val spark = session("txcontend-orchestrator")
    import spark.implicits._

    // ---- phase A: racing appends from two JVMs
    val tA = Files.createTempDirectory("txcontend_a_").resolve("t").toString
    runPair("append", tA, n)
    val head = TxLog.headVersion(spark, tA)
    val rows = TxLog.snapshot(spark, tA).get
    val total = rows.count()
    val distinct = rows.select("id").distinct().count()
    assert(head == 2L * n - 1,
      s"expected a dense log of ${2 * n} versions, head was $head")
    assert(total == 200L * n && distinct == 200L * n,
      s"lost or doubled rows: $total total, $distinct distinct (want ${200 * n})")
    // replay of a worker token from a THIRD process (this one) is a no-op
    val replay = TxLog.commit(Seq((1L, "x")).toDF("id", "src"), tA, "workerA", 0L)
    assert(replay == -1L, "cross-process token replay re-committed")
    println(s"""{"phase": "append", "versions": ${head + 1}, "rows": $total, "pass": true}""")

    // ---- phase B: racing row-level DML from two JVMs
    val tB = Files.createTempDirectory("txcontend_b_").resolve("t").toString
    TxLog.commit(spark.range(0, 1000).toDF("id").repartition(4), tB, "seed", 0L)
    val (cA, cB) = runPair("dml", tB, 10)
    val left = TxLog.snapshot(spark, tB).map(_.count()).getOrElse(0L)
    assert(left == 0L, s"racing deletes lost rows: $left remain")
    println(s"""{"phase": "dml", "conflicts": ${cA + cB}, "remaining": $left, "pass": true}""")
    if (cA + cB == 0)
      println("note: no cross-process conflict was observed this run " +
        "(windows did not overlap); correctness assertions still held")

    // ---- phase C: racing MERGE-ON-READ DML from two JVMs — deletion
    // vectors ride the same publish arbiter: cross-process serializable
    // conflicts retry, sidecar unions stay cumulative, and files whose
    // vectors fill up are removed outright (by the end every row is
    // deleted, so the live file set must be EMPTY with zero data-file
    // rewrites along the way)
    val tC = Files.createTempDirectory("txcontend_c_").resolve("t").toString
    TxLog.commit(spark.range(0, 1000).toDF("id").repartition(4), tC, "seed", 0L)
    TxLog.setProperties(spark, tC,
      Map(TxLog.DmlModeProp -> TxLog.DmlModeMor))
    val (mA, mB) = runPair("dml", tC, 10)
    val leftC = TxLog.snapshot(spark, tC).map(_.count()).getOrElse(0L)
    assert(leftC == 0L, s"racing MoR deletes lost rows: $leftC remain")
    val (_, liveC) = TxLog.pruneCount(spark, tC,
      org.apache.spark.sql.functions.lit(true))
    assert(liveC == 0,
      s"fully-deleted MoR table still lists $liveC live files (full-dead removal)")
    println(s"""{"phase": "mor-dml", "conflicts": ${mA + mB}, "remaining": $leftC, "live_files": $liveC, "pass": true}""")

    // ---- phase D (r20): append vs FEED-TABLE keyed DML across JVMs —
    // the r19 rebase-safe capture contract exercised by separate
    // processes: A's id-minting appends and B's upserts (adopting ids
    // over seed keys, minting fresh ones via `-i2` offsets) interleave
    // through the CAS arbiter; appends must never conflict, ids must
    // come out unique and resolvable, and an id-keyed CDF replay must
    // equal the snapshot lineage exactly
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    val nd = 8
    val tD = Files.createTempDirectory("txcontend_d_").resolve("t").toString
    TxLog.commit(spark.range(0, 1000).toDF("id")
      .withColumn("src", lit("seed")).repartition(4), tD, "seed", 0L)
    TxLog.setProperties(spark, tD, Map(
      TxLog.IsolationProp -> TxLog.IsolationWriteSerializable,
      TxLog.ChangeFeedProp -> "true",
      graft.storage.TxEqDel.MaxKeysProp -> "100000"))
    val (dA, dB) = runPair("feed", tD, nd)
    assert(dA == 0,
      s"appends must REBASE over feed DML, never conflict: A saw $dA")
    val expectedD = ((0L until 1000L).map(k =>
        (k, if (k < nd * 10) s"B-${k / 10}" else "seed")) ++
      (0 until nd).flatMap(b => (2000000L + b * 100 until 2000000L + b * 100 + 100)
        .map(i => (i, s"A-$b"))) ++
      (0 until nd).flatMap(c => (3000000L + c * 10 until 3000000L + c * 10 + 10)
        .map(i => (i, s"B-$c")))).toDF("id", "src")
    val gotD = TxLog.snapshot(spark, tD).get.select("id", "src")
    assert(gotD.exceptAll(expectedD).count() == 0 &&
      expectedD.exceptAll(gotD).count() == 0,
      "cross-process feed race produced a wrong final state")
    val linD = TxLog.snapshotLineage(spark, tD).get
    val nRowsD = linD.count()
    assert(linD.where(col("_row_id").isNull).count() == 0 &&
      linD.select("_row_id").distinct().count() == nRowsD,
      "ids must be non-null and collision-free after the race")
    // id-keyed CDF replay (the `-i2` offsets resolved at read) ==
    // snapshot lineage
    val evD = spark.read.format("txlog").option("readChangeFeed", "true")
      .option("withRowIds", "true").option("startingVersion", "0").load(tD)
    val lastD = evD.groupBy(col("_row_id").as("rid_"))
      .agg(smax("_commit_version").as("lv"))
    val consD = evD.join(lastD,
        evD("_row_id") === col("rid_") && evD("_commit_version") === col("lv"))
      .where(col("_change_type") === "insert")
      .select(evD("_row_id").as("rid"), col("id"), col("src"))
    val linD2 = linD.select(col("_row_id").as("rid"), col("id"), col("src"))
    assert(consD.exceptAll(linD2).count() == 0 &&
      linD2.exceptAll(consD).count() == 0,
      "id-keyed CDF replay diverged from the snapshot lineage")
    println(s"""{"phase": "feed", "conflicts_append": $dA, "conflicts_dml": $dB, "rows": $nRowsD, "pass": true}""")

    // ---- phase E (r20): RACING KEYED UPSERTS from two JVMs on
    // disjoint key ranges — each retries through the other's
    // row-changing commits (captureBase conflicts are EXPECTED here);
    // every replaced row must ADOPT its pre-race id
    val tE = Files.createTempDirectory("txcontend_e_").resolve("t").toString
    TxLog.commit(spark.range(0, 1000).toDF("id")
      .withColumn("src", lit("seed")).repartition(4), tE, "seed", 0L)
    TxLog.setProperties(spark, tE, Map(
      TxLog.IsolationProp -> TxLog.IsolationWriteSerializable,
      TxLog.ChangeFeedProp -> "true",
      graft.storage.TxEqDel.MaxKeysProp -> "100000"))
    val preIds = TxLog.snapshotLineage(spark, tE).get
      .select("id", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (eA, eB) = runPair("upsert", tE, 8)
    val postE = TxLog.snapshotLineage(spark, tE).get
      .select("id", "src", "_row_id").collect()
    assert(postE.length == 1000, s"keyed races lost rows: ${postE.length}")
    postE.foreach { r =>
      val (k, src, rid) = (r.getLong(0), r.getString(1), r.getLong(2))
      val want =
        if (k < 400L) "A-" else if (k >= 500L && k < 900L) "B-" else "seed"
      assert(src.startsWith(want), s"key $k has src $src, wanted $want*")
      assert(rid == preIds(k),
        s"key $k lost its id under the race: $rid vs ${preIds(k)}")
    }
    println(s"""{"phase": "upsert", "conflicts": ${eA + eB}, "pass": true}""")
    if (eA + eB == 0)
      println("note: no cross-process captureBase conflict was observed " +
        "this run; correctness assertions still held")

    // ---- phase F (r20): mergeBranch vs main appends across JVMs —
    // the merge's conflict re-judgement and capture memo run against a
    // moving main owned by ANOTHER process; footprint-disjoint appends
    // must never make it conflict, and the branch's net delta + every
    // append must land exactly once
    val nf = 8
    val tF = Files.createTempDirectory("txcontend_f_").resolve("t").toString
    TxLog.commit(spark.range(0, 1000).toDF("id")
      .withColumn("src", lit("seed")).repartition(4), tF, "seed", 0L)
    TxLog.setProperties(spark, tF, Map(
      TxLog.IsolationProp -> TxLog.IsolationWriteSerializable,
      TxLog.ChangeFeedProp -> "true"))
    TxLog.createBranch(spark, tF, "work")
    TxLog.onBranch("work") {
      TxLog.delete(spark, tF, col("id") < 100L, "brw", 0L)
      TxLog.commit((5000000L until 5000100L).map(i => (i, "br"))
        .toDF("id", "src").coalesce(1), tF, "brw2", 0L)
    }
    val (fA, fB) = runPair("merge", tF, nf)
    assert(fB == 0,
      s"disjoint appends must never make the merge conflict: B saw $fB")
    assert(TxLog.branches(spark, tF).isEmpty, "the merge must resolve the branch")
    val gotF = TxLog.snapshot(spark, tF).get.select("id", "src")
    val expectedF = ((100L until 1000L).map(k => (k, "seed")) ++
      (5000000L until 5000100L).map(i => (i, "br")) ++
      (0 until nf).flatMap(b => (4000000L + b * 100 until 4000000L + b * 100 + 100)
        .map(i => (i, s"A-$b")))).toDF("id", "src")
    assert(gotF.exceptAll(expectedF).count() == 0 &&
      expectedF.exceptAll(gotF).count() == 0,
      "merge-vs-append race produced a wrong final state")
    val linF = TxLog.snapshotLineage(spark, tF).get
    assert(linF.select("_row_id").distinct().count() == linF.count(),
      "merged ids must stay collision-free under racing appends")
    println(s"""{"phase": "merge", "conflicts": $fB, "appends": $nf, "pass": true}""")
    spark.stop()
  }
}

/** Separate main class so the worker JVM never runs orchestrator code. */
object TxContendWorker {
  def main(args: Array[String]): Unit = TxContend.workerMain(args)
}
