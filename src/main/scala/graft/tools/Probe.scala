package graft.tools

import org.apache.spark.sql.functions._
import graft.Bench

/** The render canary, outside the gate:
  *
  *   sbt "runMain graft.tools.Probe"
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
    * this canary stays, data-free, OUTSIDE the gate, as this tool's
    * `main`. Run it only when a CORRECTNESS artifact shows
    * unexplained decimal-class reds: it
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
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try renderCanary(spark) finally spark.stop()
  }
}
