package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Probe.measure` splits a key into construction and execution by job
  * group: building a scan runs no job (`Tables` reads each table's schema
  * from a parquet footer on the driver), neither does building the
  * six-table join of q05, each `count()` runs at least one job, and the
  * probe leaves no job group behind. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("q01_scan_filter: no job at construction, >=1 job per rep, a scan in the plan") {
    val m = Probe.measure(spark, "q01_scan_filter", sf, 2)
    assert(m.key == "q01_scan_filter")
    assert(m.construct.jobs == 0, s"construction ran ${m.construct.jobs} jobs")
    assert(m.reps.size == 2)
    m.reps.zipWithIndex.foreach { case (p, i) =>
      assert(p.jobs >= 1, s"rep ${i + 1} ran no job")
      assert(p.seconds > 0)
    }
    assert(m.plan.nonEmpty)
    assert(m.plan.contains("Scan"), m.plan)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the calling thread's job group must be cleared")
  }

  test("q05_multiway_join_agg: six table reads, no job at construction") {
    val m = Probe.measure(spark, "q05_multiway_join_agg", sf, 1)
    assert(m.construct.jobs == 0, s"construction ran ${m.construct.jobs} jobs")
    assert(m.reps.head.jobs >= 1)
  }

  test("an unknown key is refused before any job runs") {
    val e = intercept[IllegalArgumentException](Probe.measure(spark, "no_such_key", sf, 1))
    assert(e.getMessage.contains("no_such_key"))
  }
}
