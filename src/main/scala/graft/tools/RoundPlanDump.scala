package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Dump every action's executed plan while one gate query computes
  * its full result ([[Bench.materialize]]) — the debugging view behind
  * PlanAuditSpec's round-plan audit.
  *
  *   sbt "runMain graft.tools.RoundPlanDump q249_kcore [sfDir] [grep]"
  */
object RoundPlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val needle = if (args.length > 2) args(2) else ""
    val spark = Sessions.local(cores = 32, shufflePartitions = 32)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add((f, qe.executedPlan.toString))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    Bench.materialize(SparkEntry.queries(name)(spark, dir))
    Thread.sleep(3000)
    import scala.jdk.CollectionConverters._
    plans.asScala.zipWithIndex.foreach { case ((f, p), i) =>
      if (needle.isEmpty || p.contains(needle)) {
        println(s"===== action $i ($f) =====")
        println(p)
      }
    }
    spark.stop()
  }
}
