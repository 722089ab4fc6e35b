package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** `Q.once`: the one memo behind every gate carrier and `Q.stateDir`. */
class OnceSpec extends AnyFunSuite {

  test("a nested once under a different key returns, " +
    "with no Recursive update") {
    // the incremental recipe reports build the standing recipe state
    // inside their own build: one shared computeIfAbsent would throw
    val v = Q.once("spec-outer", "sf") {
      Q.once("spec-inner", "sf")(20) + 1
    }
    assert(v == 21)
    assert(Q.once("spec-inner", "sf")(0) == 20)
    assert(Q.once("spec-outer", "sf")(0) == 21)
  }

  test("a build that throws is not cached; the next call builds") {
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Q.once("spec-throws", "sf") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(Q.once("spec-throws", "sf") { builds.incrementAndGet(); 7 } == 7)
    assert(Q.once("spec-throws", "sf") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("two threads calling the same key run build exactly once") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            Q.once("spec-shared", "sf") {
              builds.incrementAndGet()
              Thread.sleep(100)
              i
            }
          }
        })
      }
      start.countDown()
      val got = fs.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.distinct.size == 1)
      // keyed per (key, sf): another sf builds its own value
      assert(Q.once("spec-shared", "sf2")(99) == 99)
    } finally pool.shutdownNow()
  }
}
