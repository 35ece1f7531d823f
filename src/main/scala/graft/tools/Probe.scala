package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Looks into single `SparkEntry` keys without the full bench sweep:
  * `runMain graft.tools.Probe <key>[,<key>...] [sfDir] [reps]`. For each
  * key it prints the pre-execution formatted plan, the wall time and job
  * count of building the DataFrame, and the wall time and job count of
  * each `count()` rep. A/B runs of two builds belong to `perfbench/`. */
object Probe {

  final case class Phase(seconds: Double, jobs: Int)
  final case class Measurement(key: String, plan: String, construct: Phase, reps: Seq[Phase])

  /** Runs `body` under a fresh job group and counts the jobs Spark's
    * status tracker files under it. The calling thread's job group is
    * cleared afterwards. */
  private[graft] def phase[T](spark: SparkSession, what: String)(body: => T): (T, Phase) = {
    val sc = spark.sparkContext
    val group = s"graft-probe-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, what, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      val out = body
      val seconds = (System.nanoTime() - t0) / 1e9
      (out, Phase(seconds, sc.statusTracker.getJobIdsForGroup(group).length))
    } finally sc.clearJobGroup()
  }

  def measure(spark: SparkSession, key: String, sfDir: String, reps: Int): Measurement = {
    val fn = SparkEntry.queries.getOrElse(key, throw new IllegalArgumentException(
      s"unknown key $key; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val (df, construct) = phase(spark, s"$key construct")(fn(spark, sfDir))
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val runs = (1 to reps).map(i => phase(spark, s"$key rep$i")(df.count())._2)
    Measurement(key, plan, construct, runs)
  }

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(sys.error("usage: Probe <key>[,<key>...] [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local("graft-probe", GraftSession.envCores)
    try {
      // first-action codegen and class loading land here, not on the first key
      spark.range(1000000).selectExpr("sum(id)").collect()
      keys.foreach { key =>
        val m = measure(spark, key, sfDir, reps)
        println(s"[probe] $key plan:\n${m.plan}")
        println(f"[probe] $key construct: ${m.construct.seconds}%.3f s, ${m.construct.jobs} jobs")
        m.reps.zipWithIndex.foreach { case (p, i) =>
          println(f"[probe] $key rep${i + 1}: ${p.seconds}%.3f s, ${p.jobs} jobs")
        }
      }
    } finally spark.stop()
  }
}
