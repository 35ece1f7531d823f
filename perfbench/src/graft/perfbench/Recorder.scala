package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Scheduler-side record of every job: interval, task count, task CPU,
  * executor run time and shuffle bytes, plus the cached-block footprint.
  * Registered only on traced runs. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var peakCache = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      if (size == 0) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
      peakCache = math.max(peakCache, blocks.values.sum)
    }
  }

  /** Jobs that started in [fromMs, toMs], as JSON-ready maps. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[Map[String, Any]] = synchronized {
    jobs.values.filter(j => j.startMs >= math.floor(fromMs) && j.startMs <= math.ceil(toMs))
      .map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs,
        "shuffle_bytes" -> j.shuffleBytes)).toSeq
  }

  /** Peak bytes of cached RDD blocks since the last call. */
  def takePeakCache(): Long = synchronized {
    val p = peakCache
    peakCache = blocks.values.sum
    p
  }
}

/** Spans around the benchmark's calls into the program: name, start,
  * end and parent, plus counts recorded at the same boundary. Kept in
  * memory; the caller writes them out once at the end of the run. The
  * closed loop is single-threaded, so a stack tracks the parent. */
final class Tracer(var enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val pass: Int, val startMs: Double) {
    var endMs: Double = Double.NaN
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var pass = -1

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        pass, Clock.ms())
      spans += s
      stack = s :: stack
      try f
      finally {
        s.endMs = Clock.ms()
        stack = stack.tail
      }
    }

  /** Attach a count to the innermost open span. */
  def count(key: String, value: Double): Unit =
    stack.headOption.foreach(_.counts(key) = value)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts.toMap))
}
