package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One traced call: wall-clock start (ms, comparable with Spark's
  * stage times), monotonic start and duration (ns), and its parent
  * (-1 for a pass root). `run` names the pass.
  */
final case class Span(
    id: Int, name: String, parent: Int, run: String,
    startMs: Long, startNs: Long, durNs: Long, failed: Boolean) {
  def endNs: Long = startNs + durNs
  def endMs: Long = startMs + durNs / 1000000L
}

/** Spark-side counters of one span (self: jobs that ran while it was
  * the innermost open span).
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskCpuMs: Double = 0,
    taskRunMs: Double = 0, gcMs: Double = 0, shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0, spillBytes: Long = 0, analysisMs: Double = 0,
    optimizationMs: Double = 0, planningMs: Double = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskCpuMs + o.taskCpuMs,
    taskRunMs + o.taskRunMs, gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs, planningMs + o.planningMs)
}

/** Records spans around calls into graft and tags every Spark job
  * started inside a span with the span id (a local property), so the
  * listener can attribute jobs, stages and task metrics to it. A
  * disabled tracer runs the body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Key

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var run: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      stack = id :: stack
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var failed = true
      try { val r = body; failed = false; r }
      finally {
        spans += Span(id, name, parent, run, m0, t0, System.nanoTime() - t0, failed)
        stack = stack.tail
        sc.setLocalProperty(Key, outer)
      }
    }
}

object Tracer {
  val Key = "graft.perfbench.span"
}

/** Spark listener that keeps, per span id, the jobs, stages, task
  * metrics and Catalyst phase times (analysis, optimization, planning of
  * each SQL execution) that ran under it, and per stage its run interval
  * and task run times.
  */
final class SparkCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  /** stage id → (span, submitted ms, completed ms) of completed stages */
  val stageRuns = new ConcurrentHashMap[Int, (Int, Long, Long)]()
  /** stage id → (name, task count) of completed stages */
  val stageNames = new ConcurrentHashMap[Int, (String, Int)]()
  /** stage id → task run times (ms) */
  val taskRunMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile var unattributedQueries = 0

  private def add(span: Int, c: Counters): Unit =
    bySpan.merge(span, c, (a, b) => a + b)

  def counters(span: Int): Counters = Option(bySpan.get(span)).getOrElse(Counters())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt).foreach { span =>
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
      add(span, Counters(jobs = 1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.get(info.stageId)).foreach { span =>
      add(span, Counters(stages = 1))
      stageRuns.put(info.stageId,
        (span, info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L)))
      stageNames.put(info.stageId, (info.name, info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      if (m != null) {
        add(span, Counters(
          tasks = 1,
          taskCpuMs = m.executorCpuTime / 1e6,
          taskRunMs = m.executorRunTime.toDouble,
          gcMs = m.jvmGCTime.toDouble,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
        // listener events arrive on one thread; readers drain first
        taskRunMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
          m.executorRunTime
      }
    }

  /** An SQL execution's end carries its QueryExecution (a field Spark
    * keeps package-private, hence the reflective read); its planning
    * tracker holds the phase times. Executions map to spans through
    * their jobs' execution-id property.
    */
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      val qe = e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]
      Option(execSpan.get(e.executionId)) match {
        case Some(span) if qe != null =>
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          add(span, Counters(
            analysisMs = ms("analysis"), optimizationMs = ms("optimization"),
            planningMs = ms("planning")))
        case _ => unattributedQueries += 1
      }
    case _ =>
  }

  /** Stage run intervals (ms) of the given spans. */
  def stageIntervals(spanIds: Set[Int]): Seq[(Long, Long)] =
    stageRuns.values.asScala.collect { case (s, a, b) if spanIds(s) => (a, b) }.toSeq

  /** (max / median) task run time of a span's stage with the largest
    * summed task run time — the straggler ratio of its heaviest stage.
    */
  def stragglerRatio(spanIds: Set[Int]): Double = {
    val stages = stageRuns.asScala.collect { case (st, (s, _, _)) if spanIds(s) => st }
    val runs = stages.flatMap(st => Option(taskRunMs.get(st)).map(_.toSeq))
    if (runs.isEmpty) 0.0
    else {
      val heavy = runs.maxBy(_.sum)
      val med = Stats.median(heavy.map(_.toDouble))
      if (med <= 0) 0.0 else heavy.max / med
    }
  }
}

object SparkCounters {
  /** Block until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
  }
}
