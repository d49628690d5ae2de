package graft

import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession

/** The one way graft runs work concurrently (the dbt `threads` analog).
  * Each task runs on its own thread of a pool made for the call, so it
  * inherits the caller's Spark local properties, and tags its jobs with
  * the call's job tag, interruptible on cancel. The call waits for every
  * task (a fail-fast wait would leave siblings writing after the caller
  * moved on), then rethrows the first failure in task order as
  * `"<task>: <message>"`. A failure cancels no sibling: every task runs
  * to its end, whatever the others do. The wait is bounded by
  * [[Timeout]]: on timeout, or if the caller is interrupted, the call's
  * jobs are cancelled and it throws, naming the tasks that had not
  * settled. */
object Concurrent {

  val Timeout: FiniteDuration = 10.minutes

  private val calls = new AtomicLong

  /** Run `tasks` concurrently; their results in task order. */
  def all[T](spark: SparkSession, tasks: Seq[(String, () => T)]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-concurrent-${calls.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(tasks.size)
    val futures = tasks.map { case (name, body) =>
      name -> pool.submit[T] { () =>
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        try body() finally sc.removeJobTag(tag)
      }
    }
    pool.shutdown()
    val settled = try pool.awaitTermination(Timeout.length, Timeout.unit)
      catch { case _: InterruptedException => Thread.currentThread.interrupt(); false }
    if (!settled) {
      sc.cancelJobsWithTag(tag)
      val open = futures.collect { case (name, f) if !f.isDone => name }
      throw new RuntimeException(s"gave up waiting for ${open.mkString(", ")}")
    }
    futures.map { case (name, f) =>
      try f.get() catch { case e: ExecutionException =>
        throw new RuntimeException(s"$name: ${e.getCause.getMessage}", e.getCause)
      }
    }
  }
}
