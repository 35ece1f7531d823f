package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide local session. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)
}

class DeclaredQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("every declared query runs non-empty on sf0.001") {
    // q10 (anti join) may legitimately be empty at tiny SF; all others
    // must produce rows.
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (name != "q10_anti_join")
        assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query key has either an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only checks are allowed but must be deliberate — keep the list
    // here in sync when adding non-SQL-expressible ops.
    val rowsOnlyAllowed = Set(
      // Spark-xxhash64-dependent: no portable SQL oracle (SURVEY §2.5);
      // invariant-tested in LlmOpsSpec instead.
      "dedup_minhash_lsh", "dedup_simhash",
      // HLL sketch values are Spark-implementation-specific
      "profile_hll",
      // float-order-sensitive centroid means (the deterministic variant
      // sim_centroids_exact IS oracle-checked)
      "sim_label_centroids")
    assert((missing -- rowsOnlyAllowed).isEmpty,
      s"queries without oracle or rows-only exemption: ${missing -- rowsOnlyAllowed}")
  }

  test("oracle keys all have query entries") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle entries without queries: $dangling")
  }

  test("q01 filter semantics: every row inside predicate bounds") {
    import spark.implicits._
    val rows = queries.Declared.q01(spark, sf)
    assert(rows.filter($"l_discount" < 0.03 || $"l_discount" > 0.07).count() == 0)
  }

  test("q05 aggregates by nation with ASIA region only") {
    val df = queries.Declared.q05(spark, sf)
    assert(df.columns.toSeq == Seq("n_name", "revenue"))
    assert(df.count() > 0)
  }

  test("q11 emits at most 3 rows per customer, rn in 1..3") {
    import spark.implicits._
    val df = queries.Declared.q11(spark, sf)
    val perCust = df.groupBy($"o_custkey").count()
    assert(perCust.filter($"count" > 3).count() == 0)
    assert(df.filter($"rn" < 1 || $"rn" > 3).count() == 0)
  }

  test("q13 returns exactly 25 rows in descending price order") {
    val rows = queries.Declared.q13(spark, sf).collect()
    assert(rows.length == 25)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q14 set-op algebra: |A∩B| + |A\\B| = |A distinct|") {
    import spark.implicits._
    val df = queries.Declared.q14(spark, sf).cache()
    val inter = df.filter($"op" === "3_intersect").count()
    val excpt = df.filter($"op" === "4_except").count()
    val c = Tables(spark, sf, "customer")
    val aDistinct = c.filter($"c_acctbal" > 5000).select($"c_custkey").distinct().count()
    assert(inter + excpt == aDistinct)
    df.unpersist()
  }

  test("q15 rollup has exactly one grand-total row") {
    import spark.implicits._
    val df = queries.Declared.q15(spark, sf)
    assert(df.filter($"g_status" === 1 && $"g_prio" === 1).count() == 1)
  }

  test("q20 top-5 tokens per language, ranks contiguous from 1") {
    import spark.implicits._
    val df = queries.Declared.q20(spark, sf)
    val byLang = df.groupBy($"lang").count()
    assert(byLang.filter($"count" > 5).count() == 0)
    assert(df.filter($"rn" === 1).count() == byLang.count())
  }

  test("entry returns non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
