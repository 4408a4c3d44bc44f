package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.{Bench, Sessions, SparkEntry}

/** Scratch investigator (not part of the gate; edited ad-hoc per
  * investigation). Currently: sweep the heavy gate queries for
  * serialized stages (tasks ≤ 2 with non-trivial wall time) — the
  * AQE byte-coalescing failure mode found in q127.
  */
object Probe {

  /** The long→DECIMAL(18,4|6) render canary (VERDICT r14 stretch 8).
    *
    * Closed file it guards: rounds 11–14 established that the
    * DRIVER's oracle build diverges from pinned DuckDB 1.0.0 on the
    * entire long→DECIMAL(18,4|6) render class, both signs,
    * independent of data (the q300d4a–d probes, red at the driver /
    * green on the replica for two consecutive rounds, deleted r15).
    * That fact lives in SURVEY §4. If the driver environment ever
    * upgrades its oracle build, the fact goes stale SILENTLY — so
    * this canary stays, data-free, OUTSIDE the gate, behind
    * GRAFT_RENDER_CANARY=1 (or a `canary` arg). Run it only when a
    * CORRECTNESS artifact shows unexplained decimal-class reds: it
    * prints the Spark-computed frame plus the exact DuckDB SQL to
    * run by hand; value-identical output means the divergence is
    * gone and the SURVEY §4 paragraph should be retired.
    */
  def renderCanary(spark: org.apache.spark.sql.SparkSession): Unit = {
    val vs = Seq(0L, 1L, 8800L, 9096L, 10000L, 904706L, 10060000L,
      123456789012L)
    val all = vs ++ vs.filter(_ != 0L).map(-_)
    val sp = spark
    import sp.implicits._
    Seq(4, 6).foreach { scale =>
      val tick = lit(BigDecimal(java.math.BigDecimal.valueOf(1L, scale)))
      val r = (col("v").cast("decimal(18,0)") * tick)
        .cast(s"decimal(18,$scale)")
      val out = all.toDF("v")
        .select(col("v"), r.as("r"), r.cast("string").as("r_str"))
        .orderBy(col("v")).collect()
      println(s"[canary] scale $scale (spark):")
      out.foreach(row => println(s"[canary]   ${row.mkString(" | ")}"))
      val tickSql = java.math.BigDecimal.valueOf(1L, scale).toPlainString
      println(s"[canary] scale $scale oracle SQL (run in the driver's DuckDB AND pinned 1.0.0):")
      println(
        s"""[canary]   SELECT v, CAST(CAST(v AS DECIMAL(18,0)) * $tickSql AS DECIMAL(18,$scale)) AS r,
           |[canary]     CAST(CAST(CAST(v AS DECIMAL(18,0)) * $tickSql AS DECIMAL(18,$scale)) AS VARCHAR) AS r_str
           |[canary]   FROM (SELECT unnest(${all.mkString("[", ", ", "]::BIGINT[]")}) AS v) ORDER BY v""".stripMargin)
    }
    // floor-division arm (ADVICE r15): exercises BOTH SQL renderings —
    // Determinism.floorDivSql (the gate's non-negative-operand form)
    // and floorDivPmodSql (the r12 pmod identity, kept only for this
    // canary) — against Math.floorDiv, data-free. fd_expect rides in
    // the same SQL so a divergent row is visible without cross-
    // referencing this stdout.
    val fdPairs = for {
      a <- Seq(-123456789012L, -17L, -10L, -3L, -1L, 0L, 1L, 3L, 10L, 17L, 123456789012L)
      b <- Seq(1L, 2L, 3L, 7L, 1000L)
    } yield (a, b)
    val (fdA, fdB) = (fdPairs.map(_._1), fdPairs.map(_._2))
    val fdExpect = fdPairs.map { case (a, b) => Math.floorDiv(a, b) }
    println("[canary] floor-div oracle SQL (run in the driver's DuckDB AND pinned 1.0.0; fd1 and fd2 must equal fd_expect on every row):")
    println(
      s"""[canary]   SELECT a, b, fd_expect,
         |[canary]     ${graft.functions.Determinism.floorDivSql("a", "b")} AS fd1,
         |[canary]     ${graft.functions.Determinism.floorDivPmodSql("a", "b")} AS fd2
         |[canary]   FROM (SELECT unnest(${fdA.mkString("[", ", ", "]::BIGINT[]")}) AS a,
         |[canary]                unnest(${fdB.mkString("[", ", ", "]::BIGINT[]")}) AS b,
         |[canary]                unnest(${fdExpect.mkString("[", ", ", "]::BIGINT[]")}) AS fd_expect)
         |[canary]   WHERE ${graft.functions.Determinism.floorDivSql("a", "b")} <> fd_expect
         |[canary]      OR ${graft.functions.Determinism.floorDivPmodSql("a", "b")} <> fd_expect""".stripMargin)
    println("[canary] (an empty result = both renderings agree with Math.floorDiv)")
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("canary") || sys.env.get("GRAFT_RENDER_CANARY").contains("1")) {
      val sp = Sessions.local(cores = 2, shufflePartitions = 2)
      sp.sparkContext.setLogLevel("ERROR")
      renderCanary(sp); sp.stop(); return
    }
    val dir = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    val only = args.find(_.startsWith("only=")).map(_.drop(5).split(',').toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.contains("stream")) // micro-batch jobs have their own stage story
      .filter(n => only.forall(_.contains(n)))
    val spark = Sessions.local(cores = 32, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("ERROR")
    val stages = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Int, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, wall, si.taskMetrics.executorRunTime, si.numTasks,
          si.rddInfos.map(r => r.scope.map(_.name).getOrElse("?")).distinct.mkString(",").take(70)))
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try Bench.materialize(fn(spark, dir)) catch { case e: Throwable => println(s"[probe] $name warmup failed: $e") }
      spark.catalog.clearCache()
      stages.clear()
      val t0 = System.nanoTime()
      try Bench.materialize(fn(spark, dir)) catch { case _: Throwable => }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300)
      val serial = stages.filter(s => s._4 <= 2 && s._2 > 500).sortBy(-_._2)
      println(f"[probe] $name%-24s ${sec}%6.2f s; serial stages: ${serial.size}")
      serial.take(4).foreach { case (id, wall, run, tasks, scopes) =>
        println(f"[probe]    stage $id%4d wall=${wall / 1e3}%5.2f tasks=$tasks%2d $scopes")
      }
    }
    spark.stop()
  }
}
