package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Per-query timer: N reps of one gate query against a given SF dir,
  * each computing the full result ([[Bench.materialize]]), all reps
  * printed (not just the median) so run-to-run variance is visible —
  * the tool for "is this a regression or noise". The row count is
  * taken once, after the timed reps.
  *
  *   sbt "runMain graft.tools.TimeQ q68_quantized_rerank [reps] [sfDir]"
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: TimeQ <query> [reps] [sfDir]"))
    val reps = if (args.length > 1) args(1).toInt else 5
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query $name — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
    val spark = Sessions.local(cores = 32, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")
    Bench.materialize(fn(spark, dir)) // warmup (codegen + parquet footers)
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[timeq] $name rep$i: $sec%.3f s")
      sec
    }
    println(s"[timeq] $name rows: ${fn(spark, dir).count()}")
    val s = times.sorted
    val med = if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    println(f"[timeq] $name median=$med%.3f min=${s.head}%.3f max=${s.last}%.3f over $reps reps")
    spark.stop()
  }
}
