package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are System.nanoTime; `parent` is -1 for a
  * root. All spans of one pass share `run`. */
final case class Span(id: Int, name: String, parent: Int, run: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Span {

  /** Self time of every span: its duration minus the part of its
    * interval that the union of its direct children covers. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (0L, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Records spans around calls into the program. A disabled tracer only
  * runs the body, so untimed and timed passes execute the same code. */
final class Tracer(enabled: Boolean) {
  val LocalProp = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: Option[SparkContext] = None
  var run = ""

  def attach(ctx: SparkContext): Unit = sc = Some(ctx)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(LocalProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, run, t0, System.nanoTime())
        stack = stack.tail
        sc.foreach(_.setLocalProperty(LocalProp, stack.headOption.map(_.toString).orNull))
      }
    }

  def newId(): Int = { val id = nextId; nextId += 1; id }

  /** Spans recorded since the last call, oldest first. */
  def drain(): Seq[Span] = { val s = spans.toList.sortBy(_.start); spans.clear(); s }
}

/** Per-stage task counters. */
final case class StageAgg(tasks: Long, runMs: Long, shuffleWrite: Long, spill: Long,
    recordsWritten: Long) {
  def +(o: StageAgg): StageAgg = StageAgg(tasks + o.tasks, runMs + o.runMs,
    shuffleWrite + o.shuffleWrite, spill + o.spill, recordsWritten + o.recordsWritten)
}
object StageAgg { val zero: StageAgg = StageAgg(0, 0, 0, 0, 0) }

/** The benchmark's listeners. The SparkListener counts jobs and task
  * work and records SQL execution intervals; the QueryExecutionListener
  * keys every execution by the directory it writes (or, for a read-back,
  * the one directory it reads), so one public call that writes several
  * stage directories splits into child spans per directory.
  * Events arrive on the listener bus; read only after [[PerfbenchBus.drain]]. */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobSpan = TrieMap.empty[Int, Int]
  val jobExec = TrieMap.empty[Int, Long]
  val stageJob = TrieMap.empty[Int, Int]
  val stageAgg = TrieMap.empty[Int, StageAgg]
  val execStartMs = TrieMap.empty[Long, Long]
  val execEndMs = TrieMap.empty[Long, Long]
  private val execQe = TrieMap.empty[Long, QueryExecution]
  private val qeKey = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, String]())
  @volatile var jobs = 0L
  @volatile var tasks = 0L

  def reset(): Unit = {
    Seq(jobSpan, jobExec, stageJob, stageAgg, execStartMs, execEndMs, execQe).foreach(_.clear())
    qeKey.clear()
    jobs = 0; tasks = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.span"))).foreach(s =>
      jobSpan.put(e.jobId, s.toInt))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach(x =>
      jobExec.put(e.jobId, x.toLong))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = StageAgg(1, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.recordsWritten)
      stageAgg.updateWith(e.stageId)(o => Some(o.getOrElse(StageAgg.zero) + a))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStartMs.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      execEndMs.put(s.executionId, s.time)
      Option(PerfbenchBus.queryExecution(s)).foreach(execQe.put(s.executionId, _))
    case _ =>
  }

  // the QueryExecution object is shared by the execution-end event and
  // this callback; qe.id is not the execution id, so join on identity
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Collector.keyOf(qe).foreach(qeKey.put(qe, _))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Directory each finished SQL execution wrote or read back. */
  def execKeys: Map[Long, String] =
    execQe.toSeq.flatMap { case (ex, qe) => Option(qeKey.get(qe)).map(ex -> _) }.toMap

  /** Sum of task counters per op, given each job's op. */
  def aggByOp(jobOp: Int => Option[String]): Map[String, StageAgg] =
    stageAgg.toSeq.flatMap { case (stage, agg) =>
      stageJob.get(stage).flatMap(jobOp).map(_ -> agg)
    }.groupMapReduce(_._1)(_._2)(_ + _)
}

object Collector {

  /** The directory an execution writes; else, for a read-back (a count
    * or collect of one directory, with no join, window or grouping),
    * the directory it reads; else nothing. */
  def keyOf(qe: QueryExecution): Option[String] = {
    val plans = Seq(qe.logical, qe.analyzed)
    val written = plans.iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
    }).nextOption()
    written.orElse {
      val plan = qe.optimizedPlan
      val read = plan.collect {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      }.flatten.distinct
      val computes = plan.exists {
        case _: Join | _: Window => true
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }
      if (read.size == 1 && !computes) read.headOption else None
    }
  }
}
