package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: one timed run of every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout (BASELINE.md B3). A
  * session warm-up action runs first so codegen/classloading/first-read
  * costs don't land on whichever query happens to run first; queries run
  * in sorted-name order for stable attribution. */
object Bench {
  /** FROZEN B1-era Q1-Q20 subset (the 20 queries BASELINE.md B3's 60 s
    * budget was set for). The full-surface total grows with COVERAGE
    * every round — by r8 it carried 6.8× the queries the budget priced —
    * so the 2×-clause comparison binds to THIS subset line (BASELINE.md
    * B3 note), keeping the clause decidable as the surface keeps
    * growing. The set is frozen by name; it must never track additions. */
  val B3Subset: Set[String] = Set(
    "q01_scan_filter", "q02_string_fns", "q03_date_fns", "q04_inner_join",
    "q05_multiway_join_agg", "q06_filtered_agg", "q07_distinct_agg",
    "q08_left_join_null", "q09_semi_join", "q10_anti_join",
    "q11_rank_window", "q12_analytic_window", "q13_topk", "q14_set_ops",
    "q15_rollup", "q16_conditional", "q17_tumbling_window",
    "q18_range_join", "q19_json_cast", "q20_token_topk")

  /** (total over measured subset queries, measured count, failed names).
    * `n` counts MEASURED subset queries — a query whose every pass failed
    * (min sentinel -1) drops out of the total, and n must shrink with it
    * or the deflated total reads as a speedup. The failed names ship in
    * the artifact so the cause is visible there, not just in stderr.
    * Pure so BenchAccountingSpec can force-fail a subset query. */
  def b3Accounting(results: Seq[(String, (Double, Double))])
      : (Double, Int, Seq[String]) = {
    val b3 = results.filter(r => B3Subset(r._1))
    (b3.map(_._2._1).filter(_ >= 0).sum,
      b3.count(_._2._1 >= 0),
      b3.collect { case (k, (mn, _)) if mn < 0 => k })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val spark = GraftSession.local("graft-bench", cpus)
    // warm-up: exercise codegen, parquet reader, shuffle machinery
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables(spark, sfDir, "lineitem").limit(1000).count()
    // min of three warm runs per query: the host shows bursty vCPU
    // throttling (identical queries swing 1s↔30s), and a single-shot
    // timing inside a throttle window misattributes host noise to the
    // query. The min is the truer cost of the plan. The passes are
    // INTERLEAVED (all queries once, then all again, then a third time)
    // so a query's samples are separated by ~a full pass — back-to-back
    // samples all land in the same multi-second throttle window and the
    // min doesn't help (r1: q19's two adjacent runs both measured 9s for
    // a 0.2s plan). Three passes instead of two after r5, where q05/q11
    // moved +37%/+85% in the driver artifact while their plans were
    // pinned unchanged-or-better — with min-of-2 a single throttle
    // window covering one full pass corrupts the min; a third sample
    // makes "host noise vs real regression" decidable. Per-query
    // MAX also ships (`spread` map) so the round-over-round comparison
    // can see the noise floor directly instead of inferring it.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return None }
      Some((System.nanoTime() - t0) / 1e9)
    }
    // compute-dense scaling CANARY (r20 PERF flagged
    // `suspect_cpus_ignored` because at sf0.1 nearly every query is
    // scheduler-bound and 8-vs-32 cores is invisible): a fixed 2·10⁹-row
    // hash reduction is pure CPU and embarrassingly parallel, so its
    // time MUST scale with `$SPARK_GRAFT_CPUS` — the signal the
    // driver's heuristic was missing. Timed once per pass like a query
    // and shipped as "zz_scaling_canary" in the queries/spread maps
    // (and as "canary_sec"); NOT counted into `value`/`nqueries`, so
    // the round-over-round totals stay comparable.
    val canaryTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def canaryOnce(): Unit = {
      val t0 = System.nanoTime()
      // xor-fold, not sum: summing 1e9 random 64-bit hashes overflows
      // long under ANSI mode; xor is overflow-free and just as cheap.
      // best-effort: a canary failure must never kill the bench run
      try spark.range(2000000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      catch { case scala.util.control.NonFatal(_) => return }
      canaryTimes += (System.nanoTime() - t0) / 1e9
    }
    val passes = (1 to 3).map { _ =>
      val row = ordered.map { case (name, fn) => once(fn) }
      canaryOnce()
      row
    }
    // min over SUCCESSFUL runs — a transient late-run failure must
    // not discard a valid earlier measurement
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val runs = passes.flatMap(_(i))
      name -> (if (runs.isEmpty) (-1.0, -1.0) else (runs.min, runs.max))
    }
    // 4-decimal rendering (sub-ms resolution is host noise anyway) keeps
    // the detail line ~40% smaller than full double repr
    def r4(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // the canary rides the per-query maps (so the driver's scaling
    // block sees it) but not the totals — see canaryOnce above;
    // -1 = every canary pass failed (same sentinel as failed queries)
    val canary = "zz_scaling_canary" ->
      (if (canaryTimes.isEmpty) (-1.0, -1.0) else (canaryTimes.min, canaryTimes.max))
    val qs = (results :+ canary).map { case (k, (mn, _)) => s"\"" + k + "\":" + r4(mn) }
      .mkString("{", ",", "}")
    // per-query [min,max] over the three passes: the max-vs-min gap IS
    // the measured host-noise band, so a future round can tell "q05 got
    // slower" from "q05's samples all landed in a throttle window"
    val spread = (results :+ canary).map { case (k, (mn, mx)) => s"\"" + k + "\":[" + r4(mn) + "," + r4(mx) + "]" }
      .mkString("{", ",", "}")
    // failed queries (-1 sentinel) are excluded from the total, not
    // subtracted from it
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // FROZEN B1-era Q1-Q20 subset (the 20 queries BASELINE.md B3's 60 s
    // budget was set for). The full-surface total above grows with
    // COVERAGE every round — by r8 it carries 6.8× the queries the
    // budget priced — so the 2×-clause comparison binds to THIS subset
    // line (BASELINE.md B3 note), keeping the clause decidable as the
    // surface keeps growing. The set is frozen by name; it must never
    // track additions.
    val (b3Total, b3Ok, b3Failed) = b3Accounting(results)
    val failedNames = results.collect { case (k, (mn, _)) if mn < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Three lines, detail FIRST and a SHORT summary line LAST: the
    // driver's stdout capture keeps the tail, and r3's single giant line
    // (73-query map before the total) got its head truncated →
    // BENCH_r03 parsed: null. The final line stays small (total +
    // slowest-5) so the tail always contains one complete parseable
    // JSON object; the full per-query min map and the min/max spread
    // map ride on the lines before it for when capture allows.
    val slowest = results.sortBy(-_._2._1).take(5)
      .map { case (k, (mn, _)) => s"\"" + k + "\":" + r4(mn) }.mkString("{", ",", "}")
    // the full per-query detail ALSO lands in a repo file: the driver's
    // stdout capture keeps only a ~2.5 KB tail, which cannot hold the
    // 173-query map — a round-over-round query-level diff needs the
    // complete numbers on record, not just slowest-5 (r18 verdict #7).
    // Best-effort: a bench run outside the repo root just skips it.
    // `failed` names the -1-sentinel queries so a consumer summing the
    // per-query maps knows to exclude them (the sentinel stays in the
    // maps — dropping the keys would make round-over-round diffs see a
    // coverage change instead of a failure)
    // cpus + the session's actual parallelism ship in BOTH artifacts so
    // the driver's scaling block has ground truth that the core-count
    // contract was honored (r20 verdict #2)
    val envFields = s""""cpus":$cpus,""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""canary_sec":${r4(canary._2._1)}"""
    val detail = s"""{"metric":"bench_detail","sf":"$sfDir",$envFields,""" +
      s""""nqueries":${results.size},"total":${r4(total)},""" +
      s""""failed":$failedNames,"failed_sentinel":-1,""" +
      s""""b3_subset_total":${r4(b3Total)},"queries":$qs,"spread":$spread}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    catch {
      // best-effort repo-file write (a bench run outside the repo root
      // just skips it) — but only for I/O-shaped failures: OOM or an
      // interrupt must not be swallowed into a silent missing file
      case _: java.io.IOException => ()
      case scala.util.control.NonFatal(_) => ()
    }
    // the frozen B3 subset's per-query mins ride the FINAL line (small
    // and budget-bound — the regression-diff surface the 2× clause
    // actually prices); the full map is in BENCH_DETAIL.json + line 2
    val b3qs = results.filter(r => B3Subset(r._1))
      .map { case (k, (mn, _)) => s"\"" + k + "\":" + r4(mn) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"spread","spread":$spread,"sf":"$sfDir"}""")
    println(s"""{"metric":"queries","queries":$qs,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","sf":"$sfDir",$envFields,"nqueries":${results.size},"nfailed":${results.count(_._2._1 < 0)},"failed":$failedNames,"b3_subset_total":${r4(b3Total)},"b3_subset_n":$b3Ok,"b3_failed":${b3Failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"b3_queries":$b3qs,"detail_file":"BENCH_DETAIL.json","slowest5":$slowest}""")
    spark.stop()
  }
}
