package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.TxLog

/** Manifest zone maps + data skipping (TxLog.scanWhere / TxStats).
  *
  * The only property skipping is allowed to have: row-identity to the
  * unpruned `snapshot(t).filter(pred)` for EVERY predicate — supported,
  * unsupported, null-traps, type edges — while provably-dead files are
  * actually dropped from the read set (asserted via pruneCount). */
class TxSkipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("txskip_").resolve("t").toString

  /** rows: (id, grp, score, name, day, flag) with controlled ranges. */
  private def batch(ids: Range, grp: String, scoreOf: Int => java.lang.Double = i => i / 10.0) =
    ids.map { i =>
      (i.toLong, grp, scoreOf(i), s"name-$i",
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i / 10)), i % 2 == 0)
    }.toDF("id", "grp", "score", "name", "day", "flag")

  private def assertSame(t: String, pred: Column, clue: String): Unit = {
    val full = TxLog.snapshot(spark, t).get.filter(pred)
    val pruned = TxLog.scanWhere(spark, t, pred).get
    assert(pruned.schema == full.schema, s"$clue: schema drift")
    val a = full.collect().map(_.toString).sorted.toSeq
    val b = pruned.collect().map(_.toString).sorted.toSeq
    assert(a == b, s"$clue: pruned scan diverged (${a.size} vs ${b.size} rows)")
  }

  /** Three commits with disjoint id/day ranges and distinct grp values —
    * each commit is one file (coalesce(1)), so zone maps discriminate. */
  private def clustered3(): String = {
    val t = freshTable()
    TxLog.commit(batch(0 until 100, "alpha").coalesce(1), t, "w", 0L)
    TxLog.commit(batch(100 until 200, "beta").coalesce(1), t, "w", 1L)
    TxLog.commit(batch(200 until 300, "gamma").coalesce(1), t, "w", 2L)
    t
  }

  test("predicate battery: pruned ≡ unpruned for supported, unsupported and null-trap shapes") {
    val t = clustered3()
    val battery: Seq[(String, Column)] = Seq(
      "eq-long" -> ($"id" === 150L),
      "eq-int-literal" -> ($"id" === 42),
      "range" -> ($"id" >= 90L && $"id" < 110L),
      "flipped" -> (lit(250L) <= $"id"),
      "string-eq" -> ($"grp" === "beta"),
      "string-range" -> ($"name" > "name-95"),
      "in-list" -> ($"id".isin(5L, 105L, 205L)),
      "date-range" -> ($"day" >= lit(java.sql.Date.valueOf("1970-01-11"))),
      "double-cmp" -> ($"score" < 1.5),
      "bool-eq" -> ($"flag" === true),
      "or-of-ranges" -> ($"id" < 50L || $"id" >= 250L),
      "and-mixed" -> ($"grp" === "alpha" && $"score" >= 5.0),
      "isnull" -> $"score".isNull,
      "isnotnull" -> $"score".isNotNull,
      "null-safe-eq" -> ($"id" <=> 150L),
      // unsupported shapes — must keep everything and stay correct
      "arith" -> ($"id" + 1L === 151L),
      "not" -> (!($"grp" === "beta")),
      "func" -> (length($"name") === 8),
      "or-with-unsupported" -> ($"id" < 10L || length($"grp") === 4)
    )
    battery.foreach { case (clue, p) => assertSame(t, p, clue) }
    // the unsupported shapes really did keep everything
    Seq(($"id" + 1L === 151L): Column, !($"grp" === "beta"), length($"name") === 8)
      .foreach { p =>
        val (kept, total) = TxLog.pruneCount(spark, t, p)
        assert(kept == total, s"unsupported predicate pruned files: $p")
      }
  }

  test("selective predicates actually skip files (and empty-result scans read nothing)") {
    val t = clustered3()
    assert(TxLog.pruneCount(spark, t, $"id" === 150L) == ((1, 3)))
    assert(TxLog.pruneCount(spark, t, $"grp" === "gamma") == ((1, 3)))
    assert(TxLog.pruneCount(spark, t, $"id" < 50L || $"id" >= 250L) == ((2, 3)))
    // outside every file's bounds: zero files, empty frame, schema intact
    val (kept, total) = TxLog.pruneCount(spark, t, $"id" === 999L)
    assert(kept == 0 && total == 3)
    val empty = TxLog.scanWhere(spark, t, $"id" === 999L).get
    assert(empty.count() == 0)
    assert(empty.schema == TxLog.snapshot(spark, t).get.schema)
  }

  test("all-null column: comparisons and IS NOT NULL skip the file, IS NULL keeps it") {
    val t = freshTable()
    TxLog.commit(batch(0 until 50, "a").coalesce(1), t, "w", 0L)
    val nullScores = (1000 until 1050).map(i =>
      (i.toLong, "nulls", null.asInstanceOf[java.lang.Double], s"name-$i",
        java.sql.Date.valueOf("1999-01-01"), false))
      .toDF("id", "grp", "score", "name", "day", "flag")
    TxLog.commit(nullScores.coalesce(1), t, "w", 1L)
    assertSame(t, $"score" === 2.0, "cmp-vs-allnull")
    assertSame(t, $"score".isNull, "isnull-vs-allnull")
    assertSame(t, $"score".isNotNull, "isnotnull-vs-allnull")
    // the all-null file is provably dead for a score comparison
    assert(TxLog.pruneCount(spark, t, $"score" === 2.0) == ((1, 2)))
    assert(TxLog.pruneCount(spark, t, $"score".isNotNull) == ((1, 2)))
    // and provably the only candidate for IS NULL (batch 0 has no nulls)
    assert(TxLog.pruneCount(spark, t, $"score".isNull) == ((1, 2)))
  }

  test("string bounds compare in UTF-8 byte order, not UTF-16 code-unit order") {
    // U+E000 (UTF-8: EE 80 80) vs U+10000 (UTF-8: F0 90 80 80): UTF-16
    // orders the surrogate pair FIRST (0xD800 < 0xE000); UTF-8 bytes
    // order it LAST. Parquet min/max use UTF-8 unsigned byte order —
    // a String-compareTo pruner would skip the wrong file here.
    val t = freshTable()
    val lo = "\uE000"                          // private-use BMP char
    val hi = new String(Character.toChars(0x10000)) // supplementary
    Seq((1L, lo)).toDF("id", "s").coalesce(1).pipe(df => TxLog.commit(df, t, "w", 0L))
    Seq((2L, hi)).toDF("id", "s").coalesce(1).pipe(df => TxLog.commit(df, t, "w", 1L))
    assertSame(t, $"s" === lo, "utf8-eq-lo")
    assertSame(t, $"s" === hi, "utf8-eq-hi")
    assertSame(t, $"s" > lo, "utf8-gt")
    assert(TxLog.pruneCount(spark, t, $"s" === lo) == ((1, 2)))
    assert(TxLog.pruneCount(spark, t, $"s" === hi) == ((1, 2)))
  }

  implicit private class Piped[A](a: A) { def pipe[B](f: A => B): B = f(a) }

  test("signed zero: ±0.0 bounds and literals compare equal, like Spark") {
    // a file whose only score is 0.0 must NOT be pruned for === -0.0
    // (Spark: -0.0 = 0.0 is TRUE); java.lang.Double.compare alone would
    // order them and unsoundly skip the file — fold0 collapses the pair
    val t = freshTable()
    Seq((1L, 0.0)).toDF("id", "score").coalesce(1).pipe(df => TxLog.commit(df, t, "w", 0L))
    Seq((2L, -0.0)).toDF("id", "score").coalesce(1).pipe(df => TxLog.commit(df, t, "w", 1L))
    Seq((3L, 5.0)).toDF("id", "score").coalesce(1).pipe(df => TxLog.commit(df, t, "w", 2L))
    for ((clue, p) <- Seq(
      "eq-neg0" -> ($"score" === -0.0),
      "eq-pos0" -> ($"score" === 0.0),
      "le-neg0" -> ($"score" <= -0.0),
      "ge-pos0" -> ($"score" >= 0.0))) assertSame(t, p, clue)
    // both zero files kept for both zero literals; the 5.0 file prunes
    assert(TxLog.pruneCount(spark, t, $"score" === -0.0) == ((2, 3)))
    assert(TxLog.pruneCount(spark, t, $"score" === 0.0) == ((2, 3)))
  }

  test("skipping survives compaction: checkpoint manifests carry fresh stats") {
    val t = clustered3()
    TxLog.compact(spark, t, targetBytes = 1L << 20)
    // post-compact the table is 1 merged file — bounds widen, selective
    // eq keeps it (correctly), an out-of-range predicate still skips ALL
    val (_, total) = TxLog.pruneCount(spark, t, lit(true) === lit(true))
    val (kept0, _) = TxLog.pruneCount(spark, t, $"id" === 9999L)
    assert(kept0 == 0, "compacted file's stats missing — out-of-range eq kept it")
    assertSame(t, $"id" === 150L, "post-compact eq")
    assertSame(t, $"id" === 9999L, "post-compact empty")
    assert(total >= 1)
  }

  test("pre-stats manifests (no stats key) parse, never prune, and stay correct") {
    val t = clustered3()
    // simulate a manifest written before the stats feature: strip the
    // stats array from v0's JSON in place
    val v0 = Paths.get(s"$t/_txlog/v${"%020d".format(0)}.json")
    val json = new String(Files.readAllBytes(v0), java.nio.charset.StandardCharsets.UTF_8)
    val cut = json.indexOf(", \"stats\": ")
    assert(cut > 0, s"expected a stats key in $v0")
    Files.write(v0, (json.substring(0, cut) + "}").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // v0's file now has no stats → kept for every predicate; v1/v2 prune
    assert(TxLog.pruneCount(spark, t, $"id" === 250L) == ((2, 3)))
    assertSame(t, $"id" === 250L, "stats-less manifest")
    assertSame(t, $"id" === 50L, "stats-less manifest hit")
  }

  test("z-ordered commits: box predicates on either dim skip most files") {
    // 64×64 grid, z-ordered into 16 files — every file covers a compact
    // box in (x, y), so a box query on x AND y (or either alone) prunes.
    // A linear (x, y) sort would leave y-only queries scanning all files.
    val t = freshTable()
    val n = 64
    val grid = spark.range(0L, (n * n).toLong).select(
      (col("id") / n).cast("long").as("x"),
      (col("id") % n).cast("long").as("y"),
      col("id").as("v"))
    val z = grid.withColumn("_z", TxLog.zvalue(col("x"), col("y"), 6))
      .repartitionByRange(16, col("_z")).sortWithinPartitions("_z").drop("_z")
    TxLog.commit(z, t, "w", 0L)
    val (_, total) = TxLog.pruneCount(spark, t, lit(1) === lit(1))
    assert(total == 16, s"expected 16 z-files, got $total")
    val box = $"x" >= 8L && $"x" < 16L && $"y" >= 8L && $"y" < 16L
    val (keptBox, _) = TxLog.pruneCount(spark, t, box)
    assert(keptBox <= 4, s"z-order box query kept $keptBox of 16 files")
    val (keptY, _) = TxLog.pruneCount(spark, t, $"y" < 8L)
    assert(keptY <= 8, s"z-order y-only query kept $keptY of 16 files")
    assertSame(t, box, "z-box")
    assertSame(t, $"y" < 8L, "z-y-only")
  }

  test("cluster (OPTIMIZE ZORDER): re-layout restores box pruning on an ingestion-ordered table") {
    // ingest the 64×64 grid in ROW order (x-major) across 4 commits —
    // each file then spans ALL y values, so y-only queries can't prune
    val t = freshTable()
    val n = 64
    val grid = spark.range(0L, (n * n).toLong).select(
      (col("id") / n).cast("long").as("x"),
      (col("id") % n).cast("long").as("y"),
      col("id").as("v"))
    (0 until 4).foreach { i =>
      TxLog.commit(grid.where($"x" >= i * 16 && $"x" < (i + 1) * 16)
        .repartition(4), t, "w", i.toLong)
    }
    val preRows = rows(TxLog.snapshot(spark, t).get)
    val yOnly = $"y" < 8L
    val (kept0, total0) = TxLog.pruneCount(spark, t, yOnly)
    assert(kept0 == total0, "row-ordered files should NOT prune a y-only query")
    val v = TxLog.cluster(spark, t, "x", "y", targetFiles = 16, bits = 6)
    assert(v > 0)
    // identical rows, atomically re-laid-out...
    assert(rows(TxLog.snapshot(spark, t).get) == preRows)
    // ...and now both dims prune
    val (keptY, totalY) = TxLog.pruneCount(spark, t, yOnly)
    assert(totalY == 16 && keptY <= 8, s"post-cluster y-only kept $keptY of $totalY")
    val box = $"x" >= 8L && $"x" < 16L && $"y" >= 8L && $"y" < 16L
    val (keptBox, _) = TxLog.pruneCount(spark, t, box)
    assert(keptBox <= 4, s"post-cluster box query kept $keptBox of 16")
    assertSame(t, box, "post-cluster box")
    // pre-cluster history is intact until vacuum (checkpoint semantics)
    assert(TxLog.snapshotAt(spark, t, v - 1).get.count() == (n * n).toLong)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streaming sink commits carry stats: the exactly-once table is also skippable") {
    val t = freshTable()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("txskip_ck_").toString
    val q = TxLog.sink(mem.toDF.select($"value".as("id")).coalesce(1), t, "s", ckpt)
    mem.addData(0L until 100L: _*); q.processAllAvailable()
    mem.addData(1000L until 1100L: _*); q.processAllAvailable()
    q.stop()
    assert(TxLog.pruneCount(spark, t, $"id" === 1050L) == ((1, 2)))
    assertSame(t, $"id" === 1050L, "streamed-commit skip")
  }

  // --------------------------------------------------------------------
  // partition columns (r12): hive values in the manifest, pruned BEFORE
  // zone maps; the real columns stay in the data files
  // --------------------------------------------------------------------

  /** One commit, three groups → one file per partition value. */
  private def partitioned3(): String = {
    val t = freshTable()
    val df = batch(0 until 90, "x")
      .withColumn("grp",
        when($"id" < 30, "alpha").when($"id" < 60, "beta").otherwise("gamma"))
    TxLog.commitPartitioned(df, t, Seq("grp"), "w", 0L)
    t
  }

  test("partitioned commit: one file per value, equality prunes to it, rows identical") {
    val t = partitioned3()
    // three files (one per grp value), and the data files still carry grp
    assert(TxLog.pruneCount(spark, t, lit(true) === lit(true))._2 == 3)
    val snap = TxLog.snapshot(spark, t).get
    assert(snap.columns.contains("grp"), "partition column missing from data files")
    assert(snap.count() == 90)
    // partition equality prunes 1-of-3 BEFORE zone maps, and composes
    // with a zone-map conjunct on a non-partition column
    assert(TxLog.pruneCount(spark, t, $"grp" === "beta") == ((1, 3)))
    assertSame(t, $"grp" === "beta", "partition equality")
    assert(TxLog.pruneCount(spark, t, $"grp" === "beta" && $"id" === 35L) == ((1, 3)))
    assert(TxLog.pruneCount(spark, t, $"grp" === "beta" && $"id" === 5L) == ((0, 3)),
      "zone map should kill the partition survivor on a contradicting id")
    assertSame(t, $"grp" === "beta" && $"id" === 35L, "partition+zone compose")
    // the V2 source prunes on partition equality too
    spark.read.format("txlog").load(t).where($"grp" === "gamma").collect()
    assert(graft.storage.TxLogV2.lastPrune.get() == ((1, 3)),
      "V2 scan did not prune on the partition value")
  }

  test("partitioned table: declared layout is sticky, mismatches loud") {
    val t = partitioned3()
    val more = batch(90 until 100, "alpha")
    intercept[IllegalArgumentException] {
      TxLog.commitPartitioned(more, t, Seq("name"), "w", 1L)
    }
    // a second partitioned append extends the layout (now 4 files)
    TxLog.commitPartitioned(more, t, Seq("grp"), "w", 1L)
    assert(TxLog.pruneCount(spark, t, $"grp" === "alpha") == ((2, 4)))
  }

  test("DML on a partitioned table rewrites within the touched partition and keeps its value") {
    val t = partitioned3()
    val r = TxLog.delete(spark, t, $"grp" === "beta" && $"id" < 35L, "d", 0L)
    assert(r.removedFiles == 1, s"expected only beta's file touched, got ${r.removedFiles}")
    // the rewritten file re-carries its partition value: equality still
    // prunes 1-of-3 on the NEW state
    assert(TxLog.pruneCount(spark, t, $"grp" === "beta") == ((1, 3)))
    assertSame(t, $"grp" === "beta", "post-DML partition prune")
    assert(TxLog.snapshot(spark, t).get.where($"grp" === "beta").count() == 25)
    // untouched partitions bit-identical (their files were never opened
    // for write: alpha + gamma rows all present)
    assert(TxLog.snapshot(spark, t).get.where($"grp" =!= "beta").count() == 60)
  }

  test("partition layout survives checkpoint compaction and log truncation") {
    val t = partitioned3()
    TxLog.compact(spark, t, targetBytes = 1L << 30)
    TxLog.vacuum(spark, t, minAgeMs = 0L) // truncates the pcols-bearing manifests
    // compacted blobs mix partitions (no per-file value — kept by any
    // equality), but the LAYOUT survives via the checkpoint: a new
    // partitioned append must still match it
    intercept[IllegalArgumentException] {
      TxLog.commitPartitioned(batch(100 until 110, "alpha"), t, Seq("name"), "w2", 0L)
    }
    TxLog.commitPartitioned(batch(100 until 110, "alpha"), t, Seq("grp"), "w2", 0L)
    // equality keeps the mixed compacted blob + prunes to the new file's
    // value where provable; results stay row-identical throughout
    assertSame(t, $"grp" === "alpha", "post-compaction partition read")
    assert(TxLog.snapshot(spark, t).get.count() == 100)
  }

  test("hive path unescape: multi-byte UTF-8 decodes whole, malformed escapes are kept verbatim") {
    // hive escapes one %XX PER BYTE of UTF-8 — decoding each escape to
    // a char would store mojibake in the manifest's pv metadata, and a
    // malformed sequence would throw during staging (r12 review finding)
    assert(TxLog.unescapePath("caf%C3%A9") == "café")
    assert(TxLog.unescapePath("%E4%B8%AD%E6%96%87") == "中文")
    assert(TxLog.unescapePath("x%25y") == "x%y")
    assert(TxLog.unescapePath("a%3Db%2Fc") == "a=b/c")
    assert(TxLog.unescapePath("plain") == "plain")
    // malformed: non-hex after '%', or '%' at the tail — verbatim, no throw
    assert(TxLog.unescapePath("a%G1b") == "a%G1b")
    assert(TxLog.unescapePath("tail%") == "tail%")
    assert(TxLog.unescapePath("tail%4") == "tail%4")
    // mixed: escapes flush as one UTF-8 run around literal chars
    assert(TxLog.unescapePath("u%C3%A9-%2F-%E2%82%AC") == "ué-/-€")
  }

  test("partition values needing CONSECUTIVE hive escapes round-trip and prune correctly") {
    // "a=b/c" hive-escapes to a%3Db%2Fc — two escape runs around a
    // literal — exercising the accumulate-then-flush decode end to end
    // (non-ASCII values can't be written in this container's POSIX
    // locale; the UTF-8 multi-byte decode is unit-tested above)
    val t = freshTable()
    val df = Seq((1L, "a=b/c", 1.0), (2L, "a=b/c", 2.0), (3L, "x%y", 3.0))
      .toDF("id", "city", "score")
    TxLog.commitPartitioned(df, t, Seq("city"), "w", 0L)
    val got = TxLog.snapshot(spark, t).get
    assert(got.count() == 3)
    assert(got.where($"city" === "a=b/c").count() == 2,
      "escaped partition value must survive the hive path round-trip")
    assert(TxLog.pruneCount(spark, t, $"city" === "x%y") == ((1, 2)),
      "equality on the unescaped value must prune to its one partition file")
    assertSame(t, $"city" === "a=b/c", "escaped partition equality")
  }
}
