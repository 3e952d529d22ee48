package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** The session-cache contract Registry's catalog and Sim's trained
  * indexes rely on: per-key builds outside a global lock, no caching
  * of failures, release exactly once on drain, and silent drop of a
  * stopped session's entries. */
class SessionCacheSpec extends SparkSpec {

  /** A cache that treats the sessions in `stopped` as stopped (the
    * shared test session itself cannot be stopped). */
  private class StopAware(release: Int => Unit)
      extends SessionCache[String, Int](release) {
    var stopped = Set.empty[SparkSession]
    override protected def isLive(s: SparkSession): Boolean = !stopped(s)
  }

  test("distinct keys build concurrently; same key builds once; build time adds up") {
    val c = new SessionCache[String, Int](_ => ())
    val barrier = new CyclicBarrier(2)
    var builds = 0
    // each build waits for the other to start: serialized builds would
    // time out on the barrier instead of meeting there
    def build(v: Int): Int = {
      synchronized(builds += 1)
      barrier.await(30, TimeUnit.SECONDS)
      Thread.sleep(100)
      v
    }
    val both = Future.sequence(Seq(
      Future(c.getOrBuild(spark, "a")(build(1))),
      Future(c.getOrBuild(spark, "b")(build(2)))))
    assert(Await.result(both, 60.seconds) === Seq(1, 2))
    assert(c.getOrBuild(spark, "a")(build(3)) === 1, "a hit must not rebuild")
    def slow(): Int = { synchronized(builds += 1); Thread.sleep(100); 4 }
    val same = Future.sequence(Seq.fill(2)(Future(c.getOrBuild(spark, "c")(slow()))))
    assert(Await.result(same, 60.seconds) === Seq(4, 4))
    assert(builds === 3, "concurrent lookups of one key must build it once")
    assert(c.size === 3)
    assert(c.buildSeconds >= 0.2, "overlapping builds must add their durations")
  }

  test("a build that throws is not cached; the next lookup retries") {
    val c = new SessionCache[String, Int](_ => ())
    intercept[IllegalStateException] {
      c.getOrBuild(spark, "k")(throw new IllegalStateException("boom"))
    }
    assert(c.size === 0)
    assert(c.getOrBuild(spark, "k")(7) === 7)
    assert(c.getOrBuild(spark, "k")(8) === 7)
    assert(c.size === 1)
  }

  test("clear() releases each value exactly once") {
    val released = ArrayBuffer.empty[Int]
    val c = new SessionCache[String, Int](v => released.synchronized(released += v))
    val other = spark.newSession()
    c.getOrBuild(spark, "a")(1)
    c.getOrBuild(spark, "b")(2)
    c.getOrBuild(other, "a")(3)
    c.invalidate(_ == "b")
    assert(released.sorted === Seq(2))
    c.clear()
    c.clear()
    assert(released.sorted === Seq(1, 2, 3))
    assert(c.size === 0)
  }

  test("entries of a stopped session are dropped without release") {
    val released = ArrayBuffer.empty[Int]
    val c = new StopAware(v => released += v)
    val gone = spark.newSession()
    c.getOrBuild(spark, "a")(1)
    c.getOrBuild(gone, "a")(2)
    c.stopped = Set(gone)
    assert(c.getOrBuild(spark, "b")(3) === 3)
    assert(c.size === 2)
    c.clear()
    assert(released.sorted === Seq(1, 3), "a stopped session's value must not be released")
  }
}
