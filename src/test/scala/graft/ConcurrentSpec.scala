package graft

import java.util.concurrent.atomic.AtomicBoolean

/** [[Concurrent.all]]: results in task order, failures propagated only
  * after every sibling settles, and the call's Spark jobs cancelled when
  * its caller gives up. */
class ConcurrentSpec extends SparkSuite {

  test("results come back in task order") {
    // later tasks finish first
    val tasks = (0 until 4).map(i => s"t$i" -> (() => { Thread.sleep(100L * (4 - i)); i }))
    assert(Concurrent.all(spark, tasks) == (0 until 4))
  }

  test("a failure is rethrown, named, only after its siblings settle") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[RuntimeException](Concurrent.all[Unit](spark, Seq(
      "t0" -> (() => sys.error("boom")),
      "t1" -> (() => { Thread.sleep(2000); siblingDone.set(true) }))))
    assert(siblingDone.get, "threw while a sibling was still running")
    assert(e.getMessage == "t0: boom" && e.getCause.getMessage == "boom")
  }

  test("an interrupted caller cancels the call's Spark jobs") {
    assertInterruptCancels("sleepy") {
      Concurrent.all(spark, Seq("sleepy" -> (() => sleepyFrame(spark).count())))
    }
  }
}
