package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's layer probes, all through Spark's public listener
  * interfaces plus the JVM's management beans. Spans and counts stay in
  * memory; [[metrics]] turns them into the per-layer figures once, at
  * the end.
  *
  * Only work inside the timed region counts. Job and SQL events travel
  * on Spark's shared listener queue in the order they were posted, so
  * the region is bracketed by two marker jobs on that queue: events
  * before the start marker (warm-up) and after the end marker
  * (benchmark bookkeeping) are ignored. Streaming events use their own
  * queue, so a streaming query counts when it was started inside the
  * region (`onQueryStarted` is delivered synchronously on the starting
  * thread).
  */
final class Trace(spark: SparkSession) {
  private val StartGroup = "perfbench.mark.start"
  private val EndGroup = "perfbench.mark.end"

  @volatile private var active = false
  @volatile private var timedRegion = false
  @volatile private var currentCall = -1
  private val endSeen = new java.util.concurrent.CountDownLatch(1)
  private val markStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) += v }
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  // streaming: per timed query id, the call it ran in and its progress
  private val queryCall = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
  private val lastTriggerEndMs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()
  private val lastState = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
  private val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == StartGroup || group == EndGroup) {
        e.stageIds.foreach(s => markStages.add(s))
        active = group == StartGroup
        if (group == EndGroup) endSeen.countDown()
      } else if (active) add("operators.jobs", 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active && !markStages.contains(e.stageId)) {
        add("operators.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("operators.task_s", m.executorRunTime / 1e3)
          add("operators.cpu_s", m.executorCpuTime / 1e9)
          add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("operators.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("operators.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          stageTaskMs.synchronized {
            stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
              mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
          }
        }
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val phases = qe.tracker.phases
        add("plans.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum)
        val nodes: Seq[SparkPlan] = Plans.collectWithSubqueries(qe.executedPlan) { case p => p }
        nodes.foreach {
          case s: FileSourceScanExec =>
            def m(n: String) = s.metrics.get(n).map(_.value.toDouble).getOrElse(0.0)
            add("Tables.scan_ms", m("scanTime") + m("metadataTime"))
            add("Tables.scan_rows", m("numOutputRows"))
            add("Tables.scan_bytes", m("filesSize"))
            add("Tables.scan_tasks", s.inputRDD.getNumPartitions.toDouble)
          case _: ShuffleExchangeLike => add("plans.exchanges", 1)
          case _: SortMergeJoinExec => add("plans.smj", 1)
          case _: BroadcastHashJoinExec => add("plans.bhj", 1)
          case _ =>
        }
        add("plans.interpreted_exprs", nodes.map(_.expressions
          .map(_.collect { case f: CodegenFallback => f }.size).sum).sum.toDouble)
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (timedRegion) queryCall.put(e.id, currentCall)

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (queryCall.containsKey(p.id)) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
        add("streaming.batches", 1)
        if (p.numInputRows == 0) add("streaming.nodata_batches", 1)
        add("streaming.trigger_ms", d.getOrElse("triggerExecution", 0.0))
        add("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
        add("streaming.planning_ms", d.getOrElse("queryPlanning", 0.0))
        add("streaming.wal_ms", d.getOrElse("walCommit", 0.0))
        add("streaming.commit_ms", d.getOrElse("commitOffsets", 0.0))
        add("streaming.latest_offset_ms", d.getOrElse("latestOffset", 0.0))
        p.stateOperators.foreach { s =>
          add("streaming.state_removed", s.numRowsRemoved.toDouble)
          add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
        }
        lastState.put(p.id, (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          d.getOrElse("triggerExecution", 0.0).toLong
        lastTriggerEndMs.merge(p.id, end, (a: Long, b: Long) => math.max(a, b))
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (queryCall.containsKey(e.id)) terminated.add(e.id)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private var gc0, compiles0, compileNs0 = 0L
  private var wall0 = 0L
  private var wallS = 0.0

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  private def mark(group: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
  }

  /** Start of the timed region. */
  def begin(): Unit = {
    mark(StartGroup)
    timedRegion = true
    gc0 = gcMs
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    wall0 = System.nanoTime()
  }

  /** The closed loop announces each call so streaming queries started
    * inside it can be attributed to it. */
  def enter(call: Int): Unit = currentCall = call

  /** End of the timed region: waits (bounded) until the listener queues
    * have delivered every event of the region. */
  def end(): Unit = {
    wallS = (System.nanoTime() - wall0) / 1e9
    timedRegion = false
    add("Sessions.gc_s", (gcMs - gc0) / 1e3)
    add("plans.codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
    add("plans.codegen_ms", (CodeGenerator.compileTime - compileNs0) / 1e6)
    mark(EndGroup)
    endSeen.await(60, java.util.concurrent.TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (terminated.size < queryCall.size && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Totals over the region, keyed by layer metric name, plus the
    * derived ratios. `callEndMs` maps each call to the epoch ms at
    * which it returned (for the drain span of streaming calls). */
  def metrics(cores: Int, callEndMs: Int => Long): Map[String, Double] = {
    val m = sums.synchronized(sums.toMap).withDefaultValue(0.0)
    val skews = stageTaskMs.synchronized(stageTaskMs.values.toSeq).filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }
    val drains = queryCall.asScala.groupBy(_._2).toSeq.flatMap { case (call, qs) =>
      val ends = qs.keys.flatMap(id => Option(lastTriggerEndMs.get(id)))
      if (call < 0 || ends.isEmpty) None else Some((callEndMs(call) - ends.max) / 1e3)
    }
    val states = lastState.asScala.values
    m ++ Map(
      "operators.busy_frac" -> (if (wallS > 0) m("operators.task_s") / (wallS * cores) else 0.0),
      "operators.task_skew" -> (if (skews.isEmpty) 0.0 else skews.sorted.apply(skews.size / 2)),
      "streaming.state_rows" -> states.map(_._1.toDouble).sum,
      "streaming.state_bytes" -> states.map(_._2.toDouble).sum,
      "streaming.drain_s" -> drains.sum)
  }
}
