package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** O16/O18: top-level driver — entity loop, per-entity counter report,
  * elapsed-time formatting (`main.py:133-208`, `main2.py:277-363`).
  *
  * Usage: `runMain graft.etl.Runner <v1|v2> <baseDir> [config.toml]`
  * where baseDir holds the schema files + per-entity data dirs and
  * receives the CSV/log/quarantine outputs (the reference's CWD-relative
  * layout). With a config.toml, the declared-but-unwired TOML surface
  * (entry 3, SURVEY §3.3) drives the run instead of the builtin config.
  */
object Runner {

  /** `format_time` semantics (`main.py:68-83`), including the verified
    * quirk: sub-second runs render as "-" (int-seconds 0 falls through
    * every branch). */
  def formatTime(seconds: Double): String = {
    val total = seconds.toLong
    val d = total / (3600 * 24)
    val h = total / 3600 % 24
    val m = total % 3600 / 60
    val s = total % 3600 % 60
    if (d > 0) f"$d%02d day(s), $h%02d hour(s), $m%02d minute(s), $s%02d second(s)"
    else if (h > 0) f"$h%02d hour(s), $m%02d minute(s) $s%02d second(s)"
    else if (m > 0) f"$m%02d minute(s), $s%02d second(s)"
    else if (s > 0) f"$s%02d second(s)"
    else "-"
  }

  def run(spark: SparkSession, entities: Seq[EntityConf], mode: EtlMode,
          errorLogFile: String, fidelity: Boolean = true): Map[String, EtlMetrics] = {
    val t0 = System.nanoTime()
    println("Running...")
    val results = entities.map { conf =>
      println(s"\nProcessing ${conf.name}'s data...")
      val r = EntityPipeline.run(spark, conf, mode, errorLogFile, fidelity)
      println(s"""Total JSON data files for "${conf.name}": ${r.metrics.files}""")
      println(s"Number of files that match schema: ${r.metrics.valid}")
      println(s"Number of files with schema errors: ${r.metrics.invalid}\n")
      conf.name -> r.metrics
    }.toMap
    println(s"Elapsed Time: ${formatTime((System.nanoTime() - t0) / 1e9)}")
    results
  }

  def main(args: Array[String]): Unit = {
    // usage: v1|v2 [baseDir] [config.toml] [--scale]
    val fidelity = !args.contains("--scale")
    val rest = args.filterNot(_ == "--scale")
    val mode: EtlMode = rest.headOption match {
      case Some("v1") => V1
      case Some("v2") => V2
      case other => sys.error(s"first arg must be v1|v2, got $other")
    }
    val baseDir = rest.lift(1).getOrElse(".")
    val entities = rest.lift(2) match {
      case Some(toml) => Config.fromToml(toml, baseDir, mode)
      case None => Config.builtin(baseDir, mode)
    }
    val spark = graft.GraftSession.local("graft-etl", graft.GraftSession.envCores)
    try run(spark, entities, mode, Paths.get(baseDir, "errors.log").toString,
      fidelity)
    finally spark.stop()
  }
}
