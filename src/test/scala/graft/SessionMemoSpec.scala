package graft

import graft.operators.SessionMemo
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The one session-scoped memo policy every owner (NarrowExec, Tables,
  * Artifacts, GraphMart) shares: total cap with oldest-first eviction,
  * per-session clear, first-insert-wins under races, and a compute that
  * runs outside the lock.
  */
class SessionMemoSpec extends SparkSpecBase {

  private def withPool[T](body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(2)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); () }
  }

  test("the cap bounds entries across sessions, oldest inserted evicted first") {
    val m = new SessionMemo[Int, Int](3)
    (1 to 4).foreach(i => m(spark, i)(i * 10))
    assert(m.size(spark) == 3, "cap not enforced")
    assert(m(spark, 4)(fail("the youngest key was evicted")) == 40)
    var recomputed = false
    assert(m(spark, 1) { recomputed = true; -1 } == -1)
    assert(recomputed, "the oldest key was not evicted")
    // one total cap: another session's insert evicts this session's
    // oldest (3; the order is now 3, 4, 1)
    val other = spark.newSession()
    m(other, 1)(7)
    assert(m.size(spark) == 2 && m.size(other) == 1)
    assert(m(spark, 4)(fail("a young key was evicted")) == 40)
  }

  test("clear drops one session's entries and leaves another's") {
    val m = new SessionMemo[String, Int](8)
    val other = spark.newSession()
    m(spark, "a")(1); m(spark, "b")(2); m(other, "a")(3)
    m.clear(spark)
    assert(m.size(spark) == 0)
    assert(m.size(other) == 1)
    assert(m(other, "a")(fail("the other session's entry was cleared")) == 3)
  }

  test("racing first callers both get the one stored value") {
    val m = new SessionMemo[String, Object](8)
    val bothComputing = new CountDownLatch(2)
    def compute(): Object = {
      // neither insert happens until both computes are in flight
      bothComputing.countDown()
      assert(bothComputing.await(10, TimeUnit.SECONDS), "race never formed")
      new Object
    }
    withPool { implicit ec =>
      val racers = Seq.fill(2)(Future(m(spark, "k")(compute())))
      val Seq(a, b) = Await.result(Future.sequence(racers), 30.seconds)
      assert(a eq b, "racing callers saw different values")
      assert(m(spark, "k")(fail("the stored value was lost")) eq a)
    }
  }

  test("a compute blocked on a latch does not block a hit on another key") {
    val m = new SessionMemo[String, Int](8)
    m(spark, "hot")(1)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool { implicit ec =>
      val slow = Future(m(spark, "slow") {
        started.countDown()
        release.await(30, TimeUnit.SECONDS)
        2
      })
      assert(started.await(10, TimeUnit.SECONDS), "slow compute never started")
      try {
        val hit = Future(m(spark, "hot")(fail("hit recomputed")))
        assert(Await.result(hit, 5.seconds) == 1)
      } finally release.countDown()
      assert(Await.result(slow, 30.seconds) == 2)
    }
  }
}
