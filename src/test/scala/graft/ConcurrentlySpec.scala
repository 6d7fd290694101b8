package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The one pool helper: results in job order, and a failure surfaces as
  * its own cause without waiting on the jobs still running. */
class ConcurrentlySpec extends AnyFunSuite {

  test("results come back in job order") {
    val done = new CountDownLatch(1)
    // the first job finishes last
    val got = Concurrently(3)(Seq(
      () => { done.await(30, TimeUnit.SECONDS); "a" },
      () => "b",
      () => { done.countDown(); "c" }))
    assert(got == Seq("a", "b", "c"))
  }

  test("a failure rethrows the original cause and does not wait on the other jobs") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Concurrently(2)(Seq(
        () => {
          started.countDown()
          try { Thread.sleep(60000); () }
          catch { case _: InterruptedException => interrupted.countDown() }
        },
        () => { started.await(); throw boom }))
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(waitedS < 30, s"waited ${waitedS}s on the sleeping job")
    assert(interrupted.await(30, TimeUnit.SECONDS),
      "the sleeping job was not interrupted")
  }
}
