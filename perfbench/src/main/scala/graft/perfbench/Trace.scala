package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of the scheduler and executor layers, as the listeners
  * have seen them so far. Differences of two snapshots price the work done
  * between them.
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          taskMs: Long = 0, cpuNs: Long = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                          gcMs: Long = 0, planMs: Long = 0, actions: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, cpuNs - o.cpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    gcMs - o.gcMs, planMs - o.planMs, actions - o.actions)

  def fields: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6, "spill_mb" -> spillBytes / 1e6,
    "gc_s" -> gcMs / 1e3, "plan_ms" -> planMs.toDouble, "actions" -> actions)
}

/** The traced run's instruments, all registered from outside graft:
  *
  *   - a `SparkListener` counting jobs, stages and tasks and summing task
  *     run time, CPU, shuffle writes, spill and GC, plus every stage's
  *     `[submitted, completed]` window so scheduler idle time (wall time
  *     with no stage running) can be measured over any interval;
  *   - a `QueryExecutionListener` summing Catalyst's analysis, optimization
  *     and planning phases from `qe.tracker.phases`;
  *   - a `StreamingQueryListener` that pairs every trigger's progress with
  *     the scheduler/executor counters accumulated during that trigger.
  *
  * Nothing is registered in an untraced run.
  */
final class Trace(spark: SparkSession) {
  private var c = Counters()
  private val stageWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val triggerCounters = mutable.ArrayBuffer.empty[(Long, Counters)]
  private var lastTrigger = Counters()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized { c = c.copy(jobs = c.jobs + 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        c = c.copy(stages = c.stages + 1)
        for (s <- e.stageInfo.submissionTime; d <- e.stageInfo.completionTime)
          stageWindows += ((s, d))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
          cpuNs = c.cpuNs + m.executorCpuTime,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = c.gcMs + m.jvmGCTime)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      Trace.this.synchronized { c = c.copy(planMs = c.planMs + ms, actions = c.actions + 1) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.this.synchronized {
      triggerCounters += ((e.progress.batchId, c - lastTrigger))
      lastTrigger = c
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Counters after every event queued so far has been delivered. */
  def snapshot(): Counters = { drain(); synchronized(c) }

  /** Scheduler and executor work per trigger, keyed by batch id. */
  def perTrigger: Map[Long, Counters] = { drain(); synchronized(triggerCounters.toMap) }

  /** Seconds of `[fromMs, toMs]` (epoch ms) during which no stage ran. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = {
    drain()
    val windows = synchronized(stageWindows.toVector)
      .map { case (s, d) => (math.max(s, fromMs), math.min(d, toMs)) }
      .filter { case (s, d) => d > s }.sortBy(_._1)
    var busy = 0L
    var end = fromMs
    windows.foreach { case (s, d) =>
      if (d > end) { busy += d - math.max(s, end); end = d }
    }
    math.max(0L, toMs - fromMs - busy) / 1e3
  }
}
