package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator, ScalaUDAF}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own Spark, query-execution and streaming listeners.
  *
  * They count the work of the scheduler, Catalyst and structured
  * streaming from the outside. Counters accumulate between [[reset]] and
  * [[snapshot]]; a snapshot first drains the listener bus so that it
  * covers every event posted before it. Listener callbacks run on the
  * bus thread, hence the synchronisation. */
final class Probes(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var longestStage: Option[((Int, Int), Long)] = None
  private var peakExecution = 0L
  private val streamState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
  private var windowStart = 0L
  private var jvmStart = (0.0, 0.0)

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized {
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
        add("stream.batches", 1)
        add("stream.trigger_s", ms("triggerExecution"))
        add("stream.add_batch_s", ms("addBatch"))
        add("stream.planning_s", ms("queryPlanning"))
        add("stream.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
        add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1000.0)
        // state size per run: the largest any batch reported
        val (rows, bytes) = streamState.getOrElse(p.runId, (0L, 0L))
        streamState(p.runId) = (math.max(rows, p.stateOperators.map(_.numRowsTotal).sum),
          math.max(bytes, p.stateOperators.map(_.memoryUsedBytes).sum))
      }
  }

  /** Registers the listeners on the session. */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def reset(): Unit = {
    drain()
    synchronized {
      sums.clear(); jobStart.clear(); jobSpans.clear(); stageTasks.clear()
      longestStage = None; peakExecution = 0L; streamState.clear()
      windowStart = System.currentTimeMillis()
      jvmStart = Probes.jvmSeconds()
    }
  }

  /** Additive counters only: safe to subtract two snapshots. */
  def additive(): Map[String, Double] = { drain(); synchronized(sums.toMap) }

  /** Every counter for the window since [[reset]], derived ones included. */
  def snapshot(): Map[String, Double] = {
    drain()
    synchronized {
      val now = System.currentTimeMillis()
      val window = math.max(1L, now - windowStart)
      val busy = union(jobSpans.toSeq ++ jobStart.values.map(s => (s, now)), windowStart, now)
      val skew = longestStage.flatMap { case (k, _) => stageTasks.get(k) }
        .filter(_.nonEmpty).map { ts =>
          val s = ts.sorted
          s.last.toDouble / math.max(1L, s(s.length / 2))
        }.getOrElse(0.0)
      val cores = spark.sparkContext.defaultParallelism
      val (gc, jit) = Probes.jvmSeconds()
      sums.toMap ++ Map(
        "jvm.gc_s" -> (gc - jvmStart._1),
        "jvm.jit_s" -> (jit - jvmStart._2),
        "sched.driver_idle_s" -> (window - busy) / 1000.0,
        "sched.task_skew" -> skew,
        "sched.core_busy_share" -> sums.getOrElse("sched.task_run_s", 0.0) / (cores * window / 1000.0),
        "mem.peak_execution_bytes" -> peakExecution.toDouble,
        "stream.state_rows" -> streamState.values.map(_._1).sum.toDouble,
        "stream.state_memory_bytes" -> streamState.values.map(_._2).sum.toDouble)
    }
  }

  /** Milliseconds of [lo, hi] covered by at least one interval. */
  private def union(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("sched.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("sched.stages", 1)
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) {
      if (longestStage.forall(_._2 < c - s))
        longestStage = Some(((i.stageId, i.attemptNumber()), c - s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      add("sched.task_run_s", m.executorRunTime / 1000.0)
      add("sched.task_cpu_s", m.executorCpuTime / 1e9)
      add("sched.task_gc_s", m.jvmGCTime / 1000.0)
      add("sched.task_deser_s", m.executorDeserializeTime / 1000.0)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
      peakExecution = math.max(peakExecution, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def phase(k: String): Double = phases.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      add("plan.queries", 1)
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimization_s", phase("optimization"))
      add("plan.planning_s", phase("planning"))
      val plan = qe.executedPlan
      add("plan.exchanges", collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size)
      add("plan.broadcasts", collectWithSubqueries(plan) { case x: BroadcastExchangeLike => x }.size)
      add("plan.scala_aggregates", collectWithSubqueries(plan) {
        case a: BaseAggregateExec => a.aggregateExpressions.count(e =>
          e.aggregateFunction.isInstanceOf[ScalaAggregator[_, _, _]] ||
            e.aggregateFunction.isInstanceOf[ScalaUDAF])
      }.sum)
      add("plan.array_intersect", collectWithSubqueries(plan) {
        case p: SparkPlan => p.expressions.map(_.collect { case x: ArrayIntersect => x }.size).sum
      }.sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(add("plan.failed_queries", 1))
}

object Probes {
  /** Collector and JIT compiler time of this JVM so far, in seconds. */
  def jvmSeconds(): (Double, Double) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0)
}
