package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed foreground operation. `ok` turns false when the call threw or
  * its output check failed.
  */
final case class OpSample(id: Int, kind: String, t0: Long, t1: Long,
    traced: Boolean, units: Long, phase: String, var ok: Boolean = true) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** A span around one call into the engine: `parent` 0 means a root span. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    thread: String, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Times operations from the outside and, when tracing, records a span
  * around each engine call. The calling thread's span id rides the Spark
  * local property [[Recorder.SpanKey]], so jobs, stages and tasks started by
  * the call can be attributed to it ([[SparkTrace]]).
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val origin: Long = System.nanoTime()
  private val spanIds = new AtomicInteger(0)
  private val opIds = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]
  val ops = new ConcurrentLinkedQueue[OpSample]
  val failures = new ConcurrentLinkedQueue[String]
  /** Stamped on each op: "warmup", "run" (the measured window) or "final". */
  @volatile var phase = "warmup"
  /** Open spans of this thread, innermost first: (span id, op id). */
  private val open = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }

  /** Run one operation doing `units` of work. Exceptions are caught and
    * counted as a failure; the result is None then. `trace = false` runs
    * the operation without spans even in a traced run (the A/B half that
    * prices tracing).
    */
  def op[T](kind: String, units: Long = 1L, trace: Boolean = true)(body: => T)
      : (OpSample, Option[T]) = {
    val id = opIds.incrementAndGet()
    val on = traced && trace
    val t0 = System.nanoTime()
    var result: Option[T] = None
    var ok = true
    try result = Some(if (on) withSpan(s"op:$kind", id)(body) else body)
    catch {
      case e: Exception =>
        ok = false
        note(s"$kind#$id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val s = OpSample(id, kind, t0, System.nanoTime(), on, units, phase, ok)
    ops.add(s)
    (s, result)
  }

  /** A root span outside any foreground op (background maintenance). */
  def root[T](name: String)(body: => T): T =
    if (traced) withSpan(name, -1)(body) else body

  /** A child span; a no-op unless the thread is inside a traced op or root. */
  def span[T](name: String)(body: => T): T = open.get match {
    case Nil => body
    case (_, opId) :: _ => withSpan(name, opId)(body)
  }

  /** Mark an operation failed because its output did not match the model. */
  def fail(s: OpSample, why: String): Unit = {
    s.ok = false
    note(s"${s.kind}#${s.id} wrong: $why")
  }

  def check(s: OpSample, cond: Boolean, why: => String): Unit =
    if (!cond) fail(s, why)

  private def note(msg: String): Unit =
    if (failures.size < 50) failures.add(msg.take(400))

  private def withSpan[T](name: String, opId: Int)(body: => T): T = {
    val id = spanIds.incrementAndGet()
    val outer = open.get
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.SpanKey)
    open.set((id, opId) :: outer)
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Recorder.SpanKey, prev)
      open.set(outer)
      spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0), name, opId,
        Thread.currentThread().getName, t0, t1))
    }
  }

  def opList: Seq[OpSample] = ops.asScala.toSeq.sortBy(_.id)
  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def toJson: Map[String, Any] = Map(
    "ops" -> opList.map(o => Map("id" -> o.id, "kind" -> o.kind,
      "t0" -> (o.t0 - origin), "t1" -> (o.t1 - origin), "traced" -> o.traced,
      "units" -> o.units, "phase" -> o.phase, "ok" -> o.ok)),
    "spans" -> spanList.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "op" -> s.op, "thread" -> s.thread,
      "t0" -> (s.t0 - origin), "t1" -> (s.t1 - origin))),
    "failures" -> failures.asScala.toSeq)
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Task metrics of one stage, summed over its successful tasks. */
final class StageAgg(val stageId: Int, val span: Int) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** Slowest task over the median task: 1 means perfectly even. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
}

/** What one SQL execution planned and counted, from its executed plan. */
final case class QeInfo(execId: Long, planMs: Long, kvScans: Int,
    candidateRegions: Long, plannedRegions: Long)

/** One streaming micro-batch's progress. */
final case class BatchInfo(query: String, durations: Map[String, Long],
    stateRows: Long, stateCommitMs: Long)

/** Spark's public listener data, attributed to [[Recorder]] spans through
  * the span local property: a SparkListener for stage and task metrics, a
  * QueryExecutionListener for planning time and SQL node metrics, and a
  * StreamingQueryListener for micro-batch phases and state metrics.
  */
final class SparkTrace(spark: SparkSession) {
  private val lock = new Object
  val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  val jobsBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val execSpan = mutable.Map.empty[Long, Int]
  private val qes = mutable.ArrayBuffer.empty[QeInfo]
  /** The execution whose end event this listener saw last. */
  private var lastEnded = -1L
  val batches = mutable.ArrayBuffer.empty[BatchInfo]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.SpanKey)))
      .map(_.toInt).getOrElse(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = spanOf(e.properties)
      jobsBySpan(span) += 1
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      e.stageInfos.foreach(si =>
        stages.getOrElseUpdate(si.stageId, new StageAgg(si.stageId, span)))
    }
    // The QueryExecutionListener is called from this same listener queue
    // while the execution-end event is delivered, right after this listener
    // saw it: that event's id ties the report to its jobs' span.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => lock.synchronized { lastEnded = end.executionId }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null && e.taskInfo.successful) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId, 0))
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += e.taskInfo.duration
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val scans = Plans.collect(qe.executedPlan) {
        case b: BatchScanExec if b.scan.description().startsWith("GraftKvScan") =>
          (b.metrics.get("candidateRegions").map(_.value).getOrElse(0L),
            b.metrics.get("plannedRegions").map(_.value).getOrElse(0L))
      }
      lock.synchronized {
        qes += QeInfo(lastEnded, planMs, scans.size, scans.map(_._1).sum,
          scans.map(_._2).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      lock.synchronized {
        batches += BatchInfo(Option(p.name).getOrElse(""),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** SQL executions attributed to a span (via their jobs). */
  def qeBySpan: Map[Int, Seq[QeInfo]] = lock.synchronized {
    qes.toSeq.groupBy(q => execSpan.getOrElse(q.execId, 0))
  }

  def stagesBySpan: Map[Int, Seq[StageAgg]] = lock.synchronized {
    stages.values.toSeq.groupBy(_.span)
  }

  def batchList: Seq[BatchInfo] = lock.synchronized(batches.toSeq)

  def toJson: Map[String, Any] = lock.synchronized(Map(
    "executions" -> qes.toSeq.map(q => Map("exec" -> q.execId,
      "span" -> execSpan.getOrElse(q.execId, 0), "plan_ms" -> q.planMs,
      "kv_scans" -> q.kvScans, "regions_candidate" -> q.candidateRegions,
      "regions_planned" -> q.plannedRegions))))
}

/** Old-generation heap in use after a full GC, sampled at fixed points of
  * the run (after set-up, warm-up and the measured window) so the figure does
  * not depend on when the collector happened to run. In local mode the
  * one JVM is the whole engine.
  */
object HeapWatch {
  def oldGenAfterFullGc(): Long = {
    // Two collections with a pause between: Spark's ContextCleaner frees
    // shuffle and broadcast state once the first one has queued the refs.
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
  }
}
