package graft.tools

import java.nio.file.{Files, Paths}

/** Standing sf1 gate (dev tool): one command that re-proves the scale
  * story every round instead of citing the round-7 measurement
  * (BASELINE M24). Generate-if-absent → full-surface correctness dump →
  * DuckDB oracle compare → one timed bench pass → ONE summary JSON line.
  *
  * Usage: runMain graft.tools.Sf1Gate [srcSf=/root/testdata/sf0.1]
  *          [sf1Dir=testdata_sf1] [outDir=/tmp/sf1_gate]
  *
  *  - sf1 data is the deterministic ×10 ScaleUp of sf0.1 (gitignored,
  *    regenerated here when any table file is missing);
  *  - the oracle compare shells out to `python3 tools/check.py` (the
  *    same dev harness used at sf0.01 — python/duckdb are dev-loop
  *    tools, not library dependencies); if python3 or duckdb is absent
  *    the gate still dumps everything and records oracle="skipped";
  *  - oracles measured infeasible-or-hour-scale at sf1 (r7, recorded in
  *    TESTDATA.md) are EXCLUDED from the full-data per-round compare by
  *    default — the engine side still runs and is timed; set
  *    SF1_GATE_FULL=1 to run them anyway. Instead, the heavy pairwise
  *    oracles (jaccard / edit distance / q78) run FULL-FIDELITY on a
  *    deterministic hash-selected sample of their input tables
  *    (`<sf1Dir>_sample`: pmod(xxhash64(key), m) = 0 rows of documents
  *    and embeddings, symlinks for the untouched tables) — the
  *    quadratic oracle cost drops ~m² while both engines still read
  *    byte-identical sampled files, so the compare is exact, not
  *    approximate. dedup_clusters' recursive-CTE closure oracle is
  *    infeasible at any sampling that keeps its cluster structure
  *    (>6 h); its full-sf1 crosscheck is a STANDING gate component
  *    (§4c, r11): an independent union-find over the dumped jaccard
  *    pairs must reproduce the dumped labeling exactly → the summary's
  *    `clusters_check` field, gate-failing on mismatch.
  *  - bench is ONE pass (the statistically honest min-of-3 interleaved
  *    protocol lives in graft.Bench at sf0.1; this gate's timings are
  *    trend signals subject to the documented host-throttle band).
  */
object Sf1Gate {

  /** Heavy oracle set: DuckDB-side cost at sf1 measured in round 7.
    * The ENGINE side of each runs and is timed regardless. */
  val HeavyOracles: Map[String, String] = Map(
    "dedup_jaccard" -> "oracle 817 s at sf1 (engine 14 s)",
    "dedup_edit_distance" -> "oracle 1224 s at sf1 (engine 14 s)",
    "dedup_clusters" -> "recursive-CTE closure infeasible at sf1 (>6 h); union-find crosscheck instead",
    // r15 diagnosis: canonical's oracle EMBEDS the blocked all-pairs
    // jaccard AND a recursive closure — the same >6 h shape as
    // dedup_clusters. It sorts FIRST alphabetically, so the r14 gate's
    // compare (M53, "still running at close") and r15's first attempt
    // both silently ground on it for hours before any output.
    "dedup_canonical" -> "embeds the jaccard pair core + recursive closure (clusters' >6 h shape)",
    "q78_knn_graph" -> "oracle needs ~100 GB DuckDB memory_limit at sf1",
    "q78b_knn_graph_ivf" -> "shares q78's all-pairs oracle (same memory wall)")

  /** Heavy oracles that get the SAMPLED full-fidelity compare (§4b).
    * q78b rides along: it shares q78's oracle, so the sampled run also
    * re-proves the certificate path's brute-identity at sf1 scale. */
  val SampledHeavy: Seq[String] =
    Seq("dedup_jaccard", "dedup_edit_distance", "dedup_canonical",
      "q78_knn_graph", "q78b_knn_graph_ivf")

  private val Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val srcSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sf1Dir = if (args.length > 1) args(1) else "testdata_sf1"
    val outDir = if (args.length > 2) args(2) else "/tmp/sf1_gate"
    val full = sys.env.get("SF1_GATE_FULL").contains("1")

    val spark = graft.GraftSession.local("graft-sf1-gate", 32)

    // ---- 1. generate if absent OR STALE (deterministic, replica 0 =
    // identity). Staleness matters: the round driver regenerates
    // /root/testdata between rounds (r9 changed the ts encoding that
    // way) — an sf1 dir scaled up from the PREVIOUS generation would
    // silently gate against data the sf0.01 compare no longer uses.
    val srcNewest = Tables
      .map(t => new java.io.File(s"$srcSf/$t.parquet").lastModified).max
    val missing = Tables.filterNot(t => new java.io.File(s"$sf1Dir/$t.parquet").exists)
    val stale = missing.isEmpty && Tables.exists(
      t => new java.io.File(s"$sf1Dir/$t.parquet").lastModified < srcNewest)
    val generated = missing.nonEmpty || stale
    if (generated) {
      println(s"[sf1gate] generating $sf1Dir (" +
        (if (stale) s"stale vs $srcSf" else s"missing: ${missing.mkString(",")}") + ")")
      ScaleUp.generate(spark, srcSf, sf1Dir, 10)
    }

    // ---- 2. correctness dump + one timed pass per query
    new java.io.File(outDir).mkdirs()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    var failed = List.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sf1Dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[sf1gate] $name FAILED: ${e.getMessage}")
          failed ::= name
      }
    }

    // ---- 3. oracle_sql.json — minus the heavy set unless SF1_GATE_FULL=1
    graft.Verify.writeJsonMap(s"$outDir/oracle_sql.json", graft.SparkEntry.oracleSql
      .filter { case (k, _) => full || !HeavyOracles.contains(k) })

    // ---- 4. DuckDB compare via the dev harness (optional dependency)
    // parse the harness summary: "== N ok, M fail ==". A harness
    // that died before printing it (duckdb import error, OOM-kill,
    // aborted parquet read) must FAIL the gate, not pass it — only
    // a missing python3 binary is the documented skip path.
    def runCheck(dataDir: String, dumpDir: String): (Int, Int, String) =
      try {
        val pb = new ProcessBuilder("python3", "tools/check.py", dataDir, dumpDir)
        pb.redirectErrorStream(true)
        val p = pb.start()
        val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
        val rc = p.waitFor()
        lines.foreach(l => println(s"[check] $l"))
        val Summary = """== (\d+) ok, (\d+) fail ==""".r
        lines.reverse.collectFirst { case Summary(ok, bad) =>
          (ok.toInt, bad.toInt, if (rc == 0) "ran" else s"ran_rc_$rc")
        }.getOrElse((0, -1, s"harness_failed_rc_$rc"))
      } catch {
        case e: java.io.IOException =>
          println(s"[sf1gate] oracle compare skipped: ${e.getMessage}")
          (0, 0, "skipped")
      }
    val (oracleOk, oracleFail, oracleStatus) = runCheck(sf1Dir, outDir)

    // ---- 4b. sampled-heavy compare: the heavy pairwise oracles run
    // full-fidelity on the hash-selected sample (skipped when
    // SF1_GATE_FULL=1 already ran them on the full data)
    val (sampOk, sampFail, sampStatus) =
      if (full) (0, 0, "not_needed_full_mode")
      else try {
        import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
        val sampleDir = sf1Dir.stripSuffix("/") + "_sample"
        val sOut = outDir.stripSuffix("/") + "_sample"
        val sampleMissing =
          Tables.filterNot(t => Files.exists(Paths.get(s"$sampleDir/$t.parquet")))
        // same staleness rule as the sf1 dir: the two MATERIALIZED
        // sampled files must postdate every sf1 table (symlinked
        // entries track their target's mtime automatically)
        val sf1Newest = Tables
          .map(t => new java.io.File(s"$sf1Dir/$t.parquet").lastModified).max
        val sampleStale = sampleMissing.isEmpty && Seq("documents", "embeddings")
          .exists(t => new java.io.File(s"$sampleDir/$t.parquet").lastModified < sf1Newest)
        if (sampleMissing.nonEmpty || sampleStale) {
          println(s"[sf1gate] building $sampleDir (" +
            (if (sampleStale) "stale vs sf1" else s"missing: ${sampleMissing.mkString(",")}") + ")")
          new java.io.File(sampleDir).mkdirs()
          // one parquet FILE per table, like the driver layout (check.py
          // and Tables both expect `<dir>/<t>.parquet` as a single file).
          // Sampling moduli: oracle cost is quadratic within blocks, so
          // cost drops ~mod² (817 s jaccard → ~13 s at mod 8; q78's
          // ~100 GB all-pairs slice → sub-GB at mod 16)
          Seq(("documents", "doc_id", 8), ("embeddings", "vec_id", 16))
            .foreach { case (t, key, mod) =>
              val tmp = Paths.get(s"$sampleDir/__tmp_$t")
              graft.Tables.parquet(spark, s"$sf1Dir/$t.parquet")
                .filter(pmod(xxhash64(col(key)), lit(mod)) === 0)
                .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
              val f = scala.jdk.CollectionConverters
                .IteratorHasAsScala(Files.list(tmp).iterator()).asScala
                .filter(_.toString.endsWith(".parquet")).next()
              Files.move(f, Paths.get(s"$sampleDir/$t.parquet"),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              // recursive temp-dir cleanup (deepest-first)
              scala.jdk.CollectionConverters
                .IteratorHasAsScala(Files.walk(tmp).sorted(
                  java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator())
                .asScala.foreach(Files.delete)
            }
          Tables.filterNot(Set("documents", "embeddings")).foreach { t =>
            val link = Paths.get(s"$sampleDir/$t.parquet")
            // NOFOLLOW: a dangling symlink (sf1 file renamed by a future
            // generator) fails the followed Files.exists but still blocks
            // createSymbolicLink — delete-then-create repairs it instead
            if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
              Files.delete(link)
            Files.createSymbolicLink(
              link, Paths.get(s"$sf1Dir/$t.parquet").toAbsolutePath)
          }
        }
        new java.io.File(sOut).mkdirs()
        // sampled timings deliberately stay OUT of `timings`: the
        // full-surface total must remain comparable round-over-round
        SampledHeavy.foreach { name =>
          graft.SparkEntry.queries(name)(spark, sampleDir).coalesce(1)
            .write.mode("overwrite").parquet(s"$sOut/$name")
        }
        graft.Verify.writeJsonMap(s"$sOut/oracle_sql.json",
          SampledHeavy.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)
        runCheck(sampleDir, sOut)
      } catch {
        case e: Throwable =>
          System.err.println(s"[sf1gate] sampled-heavy compare FAILED: ${e.getMessage}")
          (0, -1, "failed")
      }

    // ---- 4c. clusters_check: dedup_clusters is the ONE heavy oracle
    // that can't be sampled (any sampling that thins the pair graph
    // changes its components — TESTDATA.md), so its full-sf1 proof is a
    // standing component here instead of the one-off M24 measurement:
    // an INDEPENDENT union-find (reimplemented below, not Dedup's code
    // path) over the engine's dumped jaccard pairs — whose own
    // correctness the sampled-heavy compare just vouched — must
    // reproduce the dumped cluster labeling EXACTLY. Union-by-min +
    // path compression ⇒ every root is its component's minimum id,
    // which is precisely dedup_clusters' labeling contract.
    val (clustersStatus, clustersDocs) = try {
      val pairs = graft.Tables.parquet(spark, s"$outDir/dedup_jaccard")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val expected = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
        .toSet[Long].iterator.map(v => v -> find(v)).toMap
      val got = graft.Tables.parquet(spark, s"$outDir/dedup_clusters")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      if (got == expected && got.nonEmpty) ("ok", got.size)
      else if (got.isEmpty) ("empty", 0)
      else {
        val diff = (got.keySet union expected.keySet)
          .count(k => got.get(k) != expected.get(k))
        (s"mismatch_$diff", got.size)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[sf1gate] clusters_check FAILED: ${e.getMessage}")
        ("failed", 0)
    }

    // ---- 4d. widen × view-binding battery at sf1 (r18, VERDICT #4):
    // TxViewModeSpec pins the semantics at 4 rows; this re-proves them
    // against 15M-row MIXED-ERA storage (pre-widen INT parquet + a
    // post-widen BIGINT era with beyond-INT values, read through the
    // stored-cast machinery). EVOLUTION serves the widened type,
    // BINDING refuses (its pinned INT has no safe cast back), and
    // COMPENSATION serves the pinned type UNTIL a value can't cast
    // (ANSI overflow — loud, never silent wraparound).
    val widenView: String = try {
      val whDir = Files.createTempDirectory("sf1_wv_wh_").toString
      spark.conf.set("spark.sql.catalog.sf1wv", "graft.storage.GraftCatalog")
      spark.conf.set("spark.sql.catalog.sf1wv.warehouse", whDir)
      graft.Tables.parquet(spark, s"$sf1Dir/orders.parquet")
        .createOrReplaceTempView("sf1_wv_orders")
      spark.sql("CREATE TABLE sf1wv.default.wv (o_orderkey BIGINT, " +
        "cust_small INT, o_orderstatus STRING) USING txlog")
      spark.sql("INSERT INTO sf1wv.default.wv SELECT o_orderkey, " +
        "CAST(o_custkey % 1000000 AS INT), o_orderstatus FROM sf1_wv_orders")
      val n0 = spark.table("sf1wv.default.wv").count()
      spark.sql("CREATE VIEW sf1wv.default.wv_vb WITH SCHEMA BINDING AS " +
        "SELECT * FROM sf1wv.default.wv")
      spark.sql("CREATE VIEW sf1wv.default.wv_vc WITH SCHEMA COMPENSATION AS " +
        "SELECT * FROM sf1wv.default.wv")
      spark.sql("CREATE VIEW sf1wv.default.wv_vt WITH SCHEMA TYPE EVOLUTION AS " +
        "SELECT * FROM sf1wv.default.wv")
      require(Seq("wv_vb", "wv_vc", "wv_vt").forall(v =>
        spark.table(s"sf1wv.default.$v").count() == n0), "pre-widen counts")
      spark.sql("ALTER TABLE sf1wv.default.wv ALTER COLUMN cust_small TYPE BIGINT")
      // COMPENSATION serves the pinned INT through the cast while every
      // stored value still fits; BINDING refuses outright
      require(spark.table("sf1wv.default.wv_vc").count() == n0,
        "compensation must serve the widened-but-in-range base")
      val eb = try { spark.table("sf1wv.default.wv_vb").count(); None }
        catch { case e: Exception => Some(e) }
      require(eb.isDefined, "BINDING must refuse after widening")
      // a beyond-INT era lands: EVOLUTION tracks, COMPENSATION goes loud
      spark.sql("INSERT INTO sf1wv.default.wv VALUES " +
        "(900000001, 3000000000, 'W'), (900000002, 4000000000, 'W')")
      val vt = spark.sql("SELECT count(*) AS n, max(cust_small) AS mx " +
        "FROM sf1wv.default.wv_vt").collect()(0)
      require(vt.getLong(0) == n0 + 2 && vt.getLong(1) == 4000000000L,
        s"evolution must serve the widened era: $vt")
      val ec = try {
        spark.sql("SELECT sum(cust_small) FROM sf1wv.default.wv_vc").collect()
        None
      } catch { case e: Exception => Some(e) }
      require(ec.isDefined,
        "COMPENSATION must fail LOUDLY on a value its pinned type cannot hold")
      s"ok_${n0}_rows"
    } catch {
      case e: Throwable =>
        System.err.println(s"[sf1gate] widen_view battery FAILED: ${e.getMessage}")
        "failed"
    }

    // ---- 4e. CDF-stream `_row_id` at sf1 (r19, VERDICT #4): the
    // `withRowIds` STREAM door reconstructs a 1.5M-row feed-table
    // history exactly — the initial snapshot's derived ids plus tail
    // captures (a keyed upsert adopting ids over ~20% of the table
    // with a fresh-mint era, then a MoR broad delete retracting) —
    // replayed as an id-keyed consumer, equal the snapshot lineage id
    // for id (exceptAll both ways). TxRowIdCdfSpec pins this at 8
    // rows; this is the M-row standing proof, and the upsert tail
    // exercises the r19 `-i2` offset-resolved capture entries through
    // the STREAM scan at scale.
    // the running query and the memory-sink view are released in a
    // finally so a mid-battery failure can't leave a live streaming
    // query (and its registered temp view) haunting the rest of the
    // gate run
    val streamRowidQn = "sf1_ridstream"
    var streamRowidQ: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    val streamRowid: String = try {
      import org.apache.spark.sql.functions.{col, max => smax}
      import graft.storage.TxLog
      val t = Files.createTempDirectory("sf1_ridstream_").resolve("t").toString
      val orders = graft.Tables(spark, sf1Dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      orders.write.format("txlog").mode("append").save(t)
      val nRows = spark.read.format("txlog").load(t).count()
      TxLog.setProperties(spark, t, Map(
        TxLog.ChangeFeedProp -> "true",
        graft.storage.TxEqDel.MaxKeysProp -> (4L * nRows).toString))
      val ck = Files.createTempDirectory("sf1_ridstream_ck_").toString
      val q = spark.readStream.format("txlog")
        .option("readChangeFeed", "true").option("withRowIds", "true")
        .load(t).writeStream.format("memory").queryName(streamRowidQn)
        .option("checkpointLocation", ck).start()
      streamRowidQ = Some(q)
      q.processAllAvailable() // initial snapshot: nRows id-bearing inserts
      // tail 1: keyed upsert — %5==2 replaced at +9M custkey (ids
      // ADOPTED), a fresh +100M era mints (served via -i2 offsets)
      val src = orders.where(col("o_orderkey") % 5 === 2)
        .withColumn("o_custkey", col("o_custkey") + 9000000L)
        .unionByName(orders.where(col("o_orderkey") % 50 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      TxLog.upsertByKeys(src, t, Seq("o_orderkey"), "sf1-rid-u", 0L)
      // tail 2: MoR broad delete — sidecars only, d-entries retract
      TxLog.setProperties(spark, t, Map(TxLog.DmlModeProp -> TxLog.DmlModeMor))
      TxLog.delete(spark, t, col("o_orderkey") % 7 === 3, "sf1-rid-d", 0L)
      q.processAllAvailable()
      val ev = spark.table(streamRowidQn)
      val lastV = ev.groupBy(col("_row_id").as("rid_"))
        .agg(smax("_commit_version").as("lv"))
      val consumer = ev.join(lastV,
          ev("_row_id") === col("rid_") && ev("_commit_version") === col("lv"))
        .where(col("_change_type") === "insert")
        .select(ev("_row_id").as("rid"),
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val lineage = TxLog.snapshotLineage(spark, t).get
        .select(col("_row_id").as("rid"),
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val (nC, nL) = (consumer.count(), lineage.count())
      val drift = consumer.exceptAll(lineage).count() +
        lineage.exceptAll(consumer).count()
      require(nC == nL && nC > 0 && drift == 0,
        s"stream consumer $nC rows vs lineage $nL, drift $drift")
      s"ok_${nC}_rows"
    } catch {
      case e: Throwable =>
        System.err.println(s"[sf1gate] stream_rowid battery FAILED: ${e.getMessage}")
        "failed"
    } finally {
      streamRowidQ.foreach(q => try q.stop() catch { case _: Throwable => () })
      try spark.catalog.dropTempView(streamRowidQn) catch { case _: Throwable => () }
    }

    // ---- 5. one summary line
    import graft.Verify.{jsonString => q}
    val total = timings.values.sum
    val slowest5 = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"${q(k)}:${math.round(v * 100) / 100.0}" }
      .mkString("{", ",", "}")
    val qs = timings.map { case (k, v) => s"${q(k)}:${math.round(v * 1000) / 1000.0}" }
      .mkString("{", ",", "}")
    val skipped = if (full) "[]"
      else HeavyOracles.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    println(s"""{"metric":"sf1_gate","sf1_dir":${q(sf1Dir)},"generated":$generated,""" +
      s""""nqueries":${timings.size},"nfailed":${failed.size},""" +
      s""""total_sec":${math.round(total * 100) / 100.0},"passes":1,""" +
      s""""oracle":${q(oracleStatus)},"oracle_ok":$oracleOk,"oracle_fail":$oracleFail,""" +
      s""""sampled_heavy":${q(sampStatus)},"sampled_heavy_ok":$sampOk,"sampled_heavy_fail":$sampFail,""" +
      s""""clusters_check":${q(clustersStatus)},"clusters_docs":$clustersDocs,""" +
      s""""widen_view":${q(widenView)},"stream_rowid":${q(streamRowid)},""" +
      s""""skipped_heavy_oracles":$skipped,"slowest5":$slowest5,"queries":$qs}""")

    spark.stop()
    // oracleFail/sampFail are -1 when a harness crashed without a
    // summary — that must fail the gate too, not read as "0 failures"
    if (failed.nonEmpty || oracleFail != 0 ||
        (sampStatus != "skipped" && sampStatus != "not_needed_full_mode" && sampFail != 0) ||
        clustersStatus != "ok" || widenView == "failed" ||
        streamRowid == "failed")
      sys.exit(1)
  }
}
