package graft.etl

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Runs independent Spark actions as concurrent jobs and waits for all of
  * them. Each call owns a fixed pool with one thread per action. The pool
  * threads are created from the calling thread, so they inherit its Spark
  * local properties (job group, description, scheduler pool): cancelling
  * the caller's job group cancels every job started here.
  *
  * Actions over one cached frame share its partitions rather than compute
  * them twice: the block manager's write lock makes a second job wait for
  * the partition the first is caching. */
private[etl] object ConcurrentActions {

  /** Name prefix of every thread started here. */
  val ThreadPrefix = "graft-etl-action-"

  /** Returns once every action has ended. If any failed, rethrows the
    * first failure (in `actions` order) with the others attached as
    * suppressed. No pool thread is alive when this returns. */
  def runAll(actions: Seq[() => Unit]): Unit = {
    val started = new ConcurrentLinkedQueue[Thread]()
    val ids = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(actions.size max 1, (r: Runnable) => {
      val t = new Thread(r, ThreadPrefix + ids.incrementAndGet())
      t.setDaemon(true)
      started.add(t)
      t
    })
    try {
      val tasks = actions.map(a => (() => a()): Callable[Unit])
      val failures = pool.invokeAll(tasks.asJava).asScala.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      started.forEach(_.join())
    }
  }
}
