package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark's own listeners keep. A [[Snapshot]] is read
  * at each span boundary; a span's counts are the difference of two. */
final case class Snapshot(jobs: Long, tasks: Long, taskMs: Long,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    gcMs: Long, planMs: Long, exchanges: Long, reusedExchanges: Long,
    broadcastExchanges: Long, topKNodes: Long, taskIdx: Int, jobIdx: Int) {
  def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    gcMs - o.gcMs, planMs - o.planMs, exchanges - o.exchanges,
    reusedExchanges - o.reusedExchanges,
    broadcastExchanges - o.broadcastExchanges, topKNodes - o.topKNodes,
    taskIdx, jobIdx)
}

/** One finished task: its stage, run time and shuffle input. */
final case class TaskRec(stageId: Int, runMs: Long, shuffleReadBytes: Long)

/** A recorded span. `counts` is the listener delta between its start
  * and end; `tasks` and `jobs` index the listener's task and job logs. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, counts: Snapshot, tasksFrom: Int, jobsFrom: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark listener plus query-execution listener, registered by the
  * benchmark, never by the engine. Job wall intervals are kept so the
  * time a span spends outside any Spark job (its driver gap) can be
  * computed. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, taskMs, input, shufR, shufW, spill, planMs = new AtomicLong
  private val exchanges, reused, broadcasts, topK = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (startMs, endMs) of every finished job, in completion order. */
  val jobLog = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobCount = new AtomicLong
  val taskLog = new ConcurrentLinkedQueue[TaskRec]()
  private val taskCount = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      jobLog.add((t0, e.time)); jobCount.incrementAndGet()
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      taskMs.addAndGet(m.executorRunTime)
      input.addAndGet(m.inputMetrics.bytesRead)
      val r = m.shuffleReadMetrics.totalBytesRead
      shufR.addAndGet(r)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      taskLog.add(TaskRec(e.stageId, m.executorRunTime, r)); taskCount.incrementAndGet()
    }
  }

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    planMs.addAndGet(phases)
    val c = graft.plans.PlanDigest.counts(qe.executedPlan)
    exchanges.addAndGet(c.getOrElse("ShuffleExchange", 0).toLong)
    broadcasts.addAndGet(c.getOrElse("BroadcastExchange", 0).toLong)
    topK.addAndGet(c.getOrElse("TopKPerKey", 0).toLong)
    reused.addAndGet(Counters.reusedExchanges(qe.executedPlan).toLong)
  }
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()

  def snapshot(gcMs: Long): Snapshot = Snapshot(jobs.get, tasks.get, taskMs.get,
    input.get, shufR.get, shufW.get, spill.get, gcMs, planMs.get, exchanges.get, reused.get,
    broadcasts.get, topK.get, taskCount.get.toInt, jobCount.get.toInt)
}

object Counters {
  /** `ReusedExchangeExec` nodes of an executed plan. `PlanDigest.counts`
    * folds them into the exchange they reuse, so they are counted here. */
  def reusedExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => reusedExchanges(a.executedPlan)
    case s: QueryStageExec => reusedExchanges(s.plan)
    case _: ReusedExchangeExec => 1
    case p => p.children.map(reusedExchanges).sum
  }
}

/** In-memory span recorder. Spans and counts are recorded only inside
  * [[recording]], the only time the listeners are registered; elsewhere
  * `span` just runs its body. */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var on = false
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private def snap(): Snapshot = {
    PerfbenchBus.drain(spark.sparkContext)
    counters.snapshot(gcMs)
  }

  /** Runs `body` with the listeners registered and spans recorded. */
  def recording[A](body: => A): A = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    on = true
    try body
    finally {
      PerfbenchBus.drain(spark.sparkContext)
      on = false
      spark.listenerManager.unregister(counters)
      spark.sparkContext.removeSparkListener(counters)
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val s0 = snap()
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        val s1 = snap()
        spans += Span(id, name, parent, t0, t1, s1 - s0, s0.taskIdx, s0.jobIdx)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Span time not covered by its child spans. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** Tasks that finished inside the span. */
  def tasksOf(s: Span): Seq[TaskRec] =
    counters.taskLog.asScala.slice(s.tasksFrom, s.counts.taskIdx).toSeq

  /** Span wall time not covered by any Spark job that ran inside it. */
  def driverGapMs(s: Span): Double = {
    val jobs = counters.jobLog.asScala.slice(s.jobsFrom, s.counts.jobIdx)
      .toSeq.sortBy(_._1)
    val startMs = s.startNs / 1e6; val endMs = s.endNs / 1e6
    // job times are wall-clock ms; map them onto the span's clock
    val wall0 = System.currentTimeMillis() - System.nanoTime() / 1e6
    var covered = 0.0; var reach = Double.MinValue
    jobs.foreach { case (a0, b0) =>
      val a = math.max(a0 - wall0, startMs); val b = math.min(b0 - wall0, endMs)
      if (b > a) {
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
    }
    math.max(0.0, s.ms - covered)
  }

  /** Driver gap in the span's own time, outside its child spans. */
  def ownGapMs(s: Span): Double =
    driverGapMs(s) - spans.filter(_.parent == s.id).map(driverGapMs).sum
}
