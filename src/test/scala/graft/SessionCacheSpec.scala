package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped memo's refresh contract: per-key atomic computes
  * (a racing duplicate can neither double-compute one sig nor fire
  * onReplace on a value another caller was just handed),
  * release-on-replace only when the sig actually changed, and thunks
  * that re-enter the cache for other keys. */
class SessionCacheSpec extends AnyFunSuite with SparkFixture {

  test("same sig: one compute, no onReplace — even under concurrency") {
    val c = new SessionCache[Int]
    val computes = new AtomicInteger(0)
    val replaced = new AtomicInteger(0)
    val s = spark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 32).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int =
            c.getOrCompute(s, "k", "sig1", (_: Int) => { replaced.incrementAndGet(); () }) {
              computes.incrementAndGet()
              Thread.sleep(5) // widen the race window
              42
            }
        })
      }.map(_.get())
      assert(results.forall(_ == 42))
      assert(computes.get() == 1, s"raced duplicate computes: ${computes.get()}")
      assert(replaced.get() == 0, "onReplace fired for an unchanged sig")
    } finally pool.shutdown()
  }

  test("changed sig: recompute once, release the superseded value once") {
    val c = new SessionCache[Int]
    val released = scala.collection.mutable.ArrayBuffer.empty[Int]
    val s = spark
    def get(sig: String, v: Int): Int =
      c.getOrCompute(s, "k", sig, (old: Int) => { released += old; () })(v)
    assert(get("a", 1) == 1)
    assert(get("a", 99) == 1) // cached; thunk value ignored
    assert(released.isEmpty)
    assert(get("b", 2) == 2)
    assert(released.toSeq == Seq(1))
    assert(get("b", 99) == 2)
    assert(released.toSeq == Seq(1))
  }

  test("keys are independent; sessions are independent") {
    val c = new SessionCache[String]
    val s = spark
    assert(c.getOrCompute(s, "k1", "s")("v1") == "v1")
    assert(c.getOrCompute(s, "k2", "s")("v2") == "v2")
    assert(c.getOrCompute(s, "k1", "s")("ignored") == "v1")
    val s2 = s.newSession()
    assert(c.getOrCompute(s2, "k1", "s")("other") == "other")
  }

  test("a thunk may re-enter the cache for other keys: each runs once") {
    // a chain of 64 keys, each thunk computing the next one's value —
    // the shape of a registry fixture building its dependency. Enough
    // keys share a hash bin that a ConcurrentHashMap.computeIfAbsent
    // nested this way throws IllegalStateException (recursive update).
    val c = new SessionCache[Int]
    val s = spark
    val computes = Array.fill(64)(new AtomicInteger(0))
    def get(i: Int): Int = c.getOrCompute(s, s"k$i", "dir") {
      computes(i).incrementAndGet()
      if (i == 63) 1 else get(i + 1) + 1
    }
    assert(get(0) == 64)
    assert(get(0) == 64 && get(40) == 24)
    assert(computes.forall(_.get == 1),
      s"computes per key: ${computes.map(_.get).mkString(",")}")
  }
}
