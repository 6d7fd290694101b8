package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** The memo contract every cross-query cache relies on, without Spark:
  * one build per key, concurrent builds across keys, no entry left by a
  * failed build, and a cap that evicts only completed entries and hands
  * their blocks back. */
class SharedBuildSpec extends AnyFunSuite {

  private def call[A](f: => A): Callable[A] = new Callable[A] {
    def call(): A = f
  }

  /** Runs every job on its own thread; their results in order. */
  private def onThreads[A](jobs: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(jobs.size)
    try jobs.map(j => pool.submit(call(j()))).map(_.get(30, TimeUnit.SECONDS))
    finally pool.shutdownNow()
  }

  test("8 threads calling one key build it once") {
    val memo = SharedBuild[String, Int]()()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val got = onThreads(Seq.fill(8)(() => {
      start.await()
      memo("k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
    }) :+ (() => { start.countDown(); 42 }))
    assert(got.forall(_ == 42))
    assert(builds.get == 1)
  }

  test("builds for two keys overlap") {
    val memo = SharedBuild[String, Int]()()
    // each build waits until BOTH are inside their builds — serialized
    // builds would time out here
    val inside = new CountDownLatch(2)
    def build(v: Int): Int = {
      inside.countDown()
      assert(inside.await(10, TimeUnit.SECONDS), "builds did not overlap")
      v
    }
    val got = onThreads(Seq(() => memo("a")(build(1)),
      () => memo("b")(build(2))))
    assert(got == Seq(1, 2))
  }

  test("a failed build leaves no entry and no owned ids; the next call " +
      "rebuilds") {
    val memo = SharedBuild[String, Int]()(v =>
      SharedBuild.Owned(Set(v), () => ()))
    assertThrows[IllegalStateException](
      memo("k")(throw new IllegalStateException("boom")))
    assert(memo.ownedIds.isEmpty && !SharedBuild.owns(-901))
    assert(memo("k")(-901) == -901)
    assert(memo.ownedIds == Set(-901) && SharedBuild.owns(-901))
    memo.clear()
    assert(memo.ownedIds.isEmpty && !SharedBuild.owns(-901))
  }

  test("a capped memo evicts only completed entries and releases their " +
      "blocks") {
    val freed = mutable.Set.empty[Int]
    val memo = SharedBuild[String, Int](cap = 1)(v =>
      SharedBuild.Owned(Set(v), () => freed.synchronized(freed += v)))
    val release = new CountDownLatch(1)
    val started = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      // "slow" stays in flight while two other keys complete
      val slow = pool.submit(call(memo("slow") {
        started.countDown(); release.await(); -1001 }))
      assert(started.await(10, TimeUnit.SECONDS))
      memo("b")(-1002)
      memo("c")(-1003)
      assert(freed == Set(-1002), "only the completed oldest entry goes")
      assert(memo.ownedIds == Set(-1003))
      release.countDown()
      assert(slow.get(10, TimeUnit.SECONDS) == -1001)
      assert(freed == Set(-1002, -1003))
      assert(memo.ownedIds == Set(-1001))
    } finally pool.shutdownNow()
    memo.clear()
    assert(freed == Set(-1001, -1002, -1003) && memo.ownedIds.isEmpty)
  }

  test("clearAll frees every memo's blocks") {
    val freed = mutable.Set.empty[Int]
    def owning = SharedBuild[String, Int]()(v =>
      SharedBuild.Owned(Set(v), () => freed.synchronized(freed += v)))
    val (m1, m2) = (owning, owning)
    m1("x")(-2001); m2("y")(-2002)
    assert(SharedBuild.owns(-2001) && SharedBuild.owns(-2002))
    SharedBuild.clearAll()
    assert(freed == Set(-2001, -2002))
    assert(!SharedBuild.owns(-2001) && !SharedBuild.owns(-2002))
    assert(m1.ownedIds.isEmpty && m2.ownedIds.isEmpty)
  }
}
