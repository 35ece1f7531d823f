package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.TxLog

/** The Morton (Z-order) interleave behind [[TxLog.cluster]]. The
  * file-skipping it buys on a clustered table is pinned in TxSkipSpec
  * ("z-ordered commits…" and "cluster (OPTIMIZE ZORDER)…"). */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("zvalue interleaves bits (worked example + monotone on diagonal boxes)") {
    import spark.implicits._
    // a=3 (011), b=5 (101) → bits: a0,b0,a1,b1,a2,b2 = 1,1,1,0,0,1 → 0b100111 = 39
    val got = spark.range(1)
      .select(TxLog.zvalue(lit(3), lit(5), 3).as("z"))
      .as[Long].head
    assert(got == 39L)
    // z of (0,0) is the global minimum; within a dyadic quadrant all
    // z-values are below those of the next quadrant (curve locality)
    val quad = spark.range(64).select(
      (col("id") % 8).as("a"), (col("id") / 8).cast("int").as("b"))
      .select(TxLog.zvalue(col("a"), col("b"), 3).as("z"),
        (col("a") < 4 && col("b") < 4).as("q0"))
    val maxQ0 = quad.filter(col("q0")).agg(max("z")).as[Long].head
    val minQ3 = quad.filter(col("a") >= 4 && col("b") >= 4).agg(min("z")).as[Long].head
    assert(maxQ0 < minQ3)
  }
}
