package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query watchdog: a timeout must be counted even when
  * the body then returns normally, and a timer that fires late must not
  * reach the next query. No Spark involved — `abort` stands in for
  * stopping streams and cancelling jobs.
  */
class QueryWatchdogSpec extends AnyFunSuite {

  test("a body the watchdog unblocked counts as timed out, though it returns normally") {
    val stopped = new CountDownLatch(1)
    val returned = new CountDownLatch(1)
    // abort releases the body the way stopping a stream releases
    // awaitTermination — a normal return, no exception — and is still
    // finishing its own work when the body has returned
    val w = new QueryWatchdog(50L, () => {
      stopped.countDown()
      returned.await(10, TimeUnit.SECONDS)
    })
    val r = w.run { stopped.await(10, TimeUnit.SECONDS); returned.countDown() }
    assert(r.exists(_.startsWith("timed out")), s"a stopped stream was recorded as $r")
    assert(w.run(()) === None, "a fast body succeeds")
    assert(w.run(throw new IllegalStateException("boom")) === Some("boom"))
  }

  test("a late-firing watchdog cannot interrupt or abort the next query") {
    val fired = new CountDownLatch(1)
    val bodyDone = new CountDownLatch(1)
    val aborts = new java.util.concurrent.atomic.AtomicInteger(0)
    // the timer fires while the body is finishing, and its abort is
    // slow: it completes only after the body has already returned
    val w = new QueryWatchdog(1000L, () => {
      aborts.incrementAndGet()
      fired.countDown()
      bodyDone.await(10, TimeUnit.SECONDS)
      Thread.sleep(200)
    })
    val first = w.run {
      fired.await(10, TimeUnit.SECONDS)
      bodyDone.countDown()
    }
    // the next query runs well within its own window
    val next = w.run(Thread.sleep(400))
    assert(next === None, s"the previous query's watchdog reached the next one: $next")
    assert(first.exists(_.startsWith("timed out")))
    assert(!Thread.currentThread().isInterrupted)
    assert(aborts.get() === 1)
  }
}
