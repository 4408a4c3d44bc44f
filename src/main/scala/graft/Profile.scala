package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a body did on the cluster, read from Spark's listener events:
  * each action's executed plan, each stage's shape, and the rows its
  * tasks read from input. The one place graft listens to Spark: the
  * specs and `tools.Inspect` take their figures from here.
  */
object Profile {

  /** One completed stage: its task count, wall time (submission to
    * completion), summed task run time and the RDD scopes it ran. */
  final case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long, scopes: String)

  /** `plans` holds each action's executed plan in completion order —
    * for an adaptive plan only the final section, the plan that ran. */
  final case class Capture(plans: Seq[String], stages: Seq[Stage], recordsRead: Long)

  private val MarkKey = "graft.profile.mark"

  /** Run `body` and return its result with the capture of its events.
    *
    * Listener events arrive asynchronously but in posting order on
    * Spark's shared listener queue, which carries the job, stage and
    * task events and the SQL execution ends behind
    * `QueryExecutionListener`. Two marker jobs bracket the body on
    * that queue: events before the first (an earlier action still
    * draining) and the markers' own stages are ignored, and the
    * capture is complete once the listener sees the second marker's
    * end. Nothing sleeps or polls.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Capture) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val (startMark, endMark) = (s"$token.start", s"$token.end")
    val plans = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val read = new AtomicLong(0L)
    val active = new AtomicBoolean(false)
    val markStages = ConcurrentHashMap.newKeySet[Int]()
    val endJob = new AtomicInteger(-1)
    val drained = new CountDownLatch(1)

    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(MarkKey)).orNull match {
          case `startMark` =>
            e.stageIds.foreach(markStages.add(_)); active.set(true)
          case `endMark` =>
            e.stageIds.foreach(markStages.add(_)); active.set(false); endJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == endJob.get) drained.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (active.get && !markStages.contains(si.stageId))
          stages.add(Stage(si.stageId, si.numTasks,
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
            si.taskMetrics.executorRunTime,
            si.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(",")))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (active.get && !markStages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val actions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (active.get) plans.add(qe.executedPlan.toString.split("== Initial Plan ==").head)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

    def mark(tag: String): Unit = {
      val prev = sc.getLocalProperty(MarkKey)
      sc.setLocalProperty(MarkKey, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkKey, prev)
    }

    sc.addSparkListener(jobs)
    spark.listenerManager.register(actions)
    try {
      mark(startMark)
      val result = body
      mark(endMark)
      if (!drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener queue did not deliver the end marker within 60 s")
      (result, Capture(plans.asScala.toSeq, stages.asScala.toSeq, read.get))
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(actions)
    }
  }
}
