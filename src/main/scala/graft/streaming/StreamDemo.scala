package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.etl.{Config, V2}

/** Runnable demo of the streaming ETL port: watches `<baseDir>/users`,
  * processes whatever is there, then keeps running; drop more `*.json`
  * event files in and they append incrementally to the same CSV sinks.
  *
  * `runMain graft.streaming.StreamDemo <baseDir> [secondsToRun]` —
  * baseDir laid out like the reference CWD (schema files + users/ dir).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(sys.error("need baseDir"))
    val seconds = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local("graft-stream-demo", 4)
    val users = Config.builtin(baseDir, V2).head
    val running = StreamingEtl.start(spark, users, V2,
      Paths.get(baseDir, "errors.log").toString,
      Paths.get(baseDir, "ckpt").toString)
    println(s"[stream-demo] watching ${users.dataDir} for $seconds s...")
    val deadline = System.currentTimeMillis() + seconds * 1000L
    while (System.currentTimeMillis() < deadline) {
      running.awaitIdle()
      Thread.sleep(250)
    }
    println(s"[stream-demo] batches processed: ${running.metrics.size}, " +
      s"files: ${running.metrics.map(_.files).sum}, " +
      s"valid: ${running.metrics.map(_.valid).sum}")
    running.stop()
    spark.stop()
  }
}
