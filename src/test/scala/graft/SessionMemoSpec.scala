package graft

import graft.core.SessionMemo
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[SessionMemo]]: every entry builds once per (session, dir, key). */
class SessionMemoSpec extends SparkSpec {

  test("8 threads racing on a key's first use run its build exactly once") {
    val builds = new AtomicInteger(0)
    val barrier = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    val dir = s"session-memo-race-${System.nanoTime()}"
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            barrier.await(30, TimeUnit.SECONDS)
            SessionMemo.value(spark, dir, "race") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the others arrive
              42L
            }
          }
        })
      }
      assert(futures.map(_.get(60, TimeUnit.SECONDS)).toSet === Set(42L))
      assert(builds.get === 1, "concurrent first use must not build twice")
    } finally pool.shutdownNow()
  }
}
