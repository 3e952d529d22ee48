package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Independent Spark actions submitted together on one session.
  *
  * A pipeline pass at small scale is mostly fixed per-job cost
  * (planning, scheduling, file commit), one job at a time, so most
  * cores idle. Branches that write their own directories do not depend
  * on each other; submitted from separate threads, the scheduler
  * interleaves their stages across the executors.
  *
  * Each branch runs through `SQLExecution.withThreadLocalCaptured`, so
  * its thread carries the caller's active session and Spark local
  * properties (job group, job tags, scheduler pool, any caller-set
  * property). The pool is per call, sized to the branch count (at most
  * [[MaxThreads]]), and shut down before the call returns; a single
  * branch runs on the caller's thread. The call waits for EVERY branch,
  * then returns the results in input order, or throws the first failed
  * branch's exception (input order) with the later failures attached as
  * suppressed. No branch is cancelled when another fails, so a failure
  * never leaves a sibling's write half-committed behind the caller.
  *
  * Build each branch's DataFrame before the call: analysis then happens
  * on the caller's thread, and a bad column or configuration fails
  * before the first write starts.
  */
object Fanout {

  val MaxThreads = 8

  /** Thread-name prefix of the helper threads. */
  val ThreadPrefix = "graft-fanout-"

  private val poolIds = new AtomicInteger()

  def all[T](spark: SparkSession)(branches: Seq[(String, () => T)]): Seq[T] =
    if (branches.size <= 1) branches.map(_._2())
    else {
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(math.min(branches.size, MaxThreads),
        daemonThreads(poolIds.incrementAndGet(), threads))
      val session = spark.asInstanceOf[classic.SparkSession]
      try {
        val futures = branches.map { case (name, body) =>
          SQLExecution.withThreadLocalCaptured(session, pool)(named(name)(body()))
        }
        val outcomes = futures.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(v) => v }
        }
      } finally {
        // a terminated pool can still have workers on their way out
        pool.shutdownNow()
        threads.forEach(_.join())
      }
    }

  /** Runs `body` with the thread renamed after its branch, so a thread
    * dump or an executor log line names the stage it serves. */
  private def named[T](name: String)(body: => T): T = {
    val t = Thread.currentThread()
    val old = t.getName
    t.setName(s"$old:$name")
    try body finally t.setName(old)
  }

  private def daemonThreads(pool: Int, made: ConcurrentLinkedQueue[Thread]): ThreadFactory = {
    val n = new AtomicInteger()
    (r: Runnable) => {
      val t = new Thread(r, s"$ThreadPrefix$pool-${n.incrementAndGet()}")
      t.setDaemon(true)
      made.add(t)
      t
    }
  }
}
