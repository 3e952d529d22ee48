package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession

/** Session-scoped memo of expensive per-session state: one value per
  * (session, key), built on first lookup and served until invalidated.
  * Registry's table catalog and Sim's trained indexes are instances.
  *
  *  - Each key builds once. The build runs under a per-key slot lock,
  *    OUTSIDE the map's bin lock, so only lookups of the SAME key wait
  *    for it; distinct keys build concurrently (e18 trains four indexes
  *    in parallel branches).
  *  - A build that throws caches nothing; the next lookup retries.
  *  - Entries of a stopped session are purged on every lookup, without
  *    `release` (that session's block manager is gone). So a long-lived
  *    JVM cycling many sessions does not grow the map unboundedly.
  *  - `invalidate`/`clear` remove each entry before releasing it, so a
  *    value inserted concurrently is either drained with its release or
  *    survives, and no value is released twice. They must not race an
  *    in-flight build or serve of the same entry: unpersisting a
  *    localCheckpoint'ed RDD under a running job fails that job, because
  *    the truncated lineage cannot be recomputed.
  *  - `buildSeconds` is the running total of wall seconds spent inside
  *    builds; concurrent builds add their durations.
  */
class SessionCache[K, V](release: V => Unit) {
  private final class Slot { @volatile var value: Option[V] = None }

  private val map = new ConcurrentHashMap[(SparkSession, K), Slot]()
  private val buildNanos = new LongAdder

  /** Whether `s` can still serve (and release) its entries. */
  protected def isLive(s: SparkSession): Boolean = !s.sparkContext.isStopped

  private def purgeStopped(): Unit = map.keySet.removeIf(k => !isLive(k._1))

  def getOrBuild(session: SparkSession, key: K)(build: => V): V = {
    purgeStopped()
    val slot = map.computeIfAbsent((session, key), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        val t0 = System.nanoTime()
        try {
          val v = build
          slot.value = Some(v)
          v
        } finally buildNanos.add(System.nanoTime() - t0)
      }
    }
  }

  /** Remove and release every entry whose key satisfies `pred` (all
    * sessions). */
  def invalidate(pred: K => Boolean): Unit = {
    val it = map.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (pred(k._2)) {
        val slot = map.remove(k)
        if (slot != null && isLive(k._1)) slot.value.foreach(release)
      }
    }
  }

  /** Remove and release every entry. */
  def clear(): Unit = invalidate(_ => true)

  /** Built entries of live sessions. */
  def size: Int = {
    purgeStopped()
    map.values.stream.filter(_.value.isDefined).count.toInt
  }

  def buildSeconds: Double = buildNanos.sum / 1e9
}
