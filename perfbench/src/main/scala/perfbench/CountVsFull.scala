package perfbench

import org.apache.spark.sql.DataFrame

/** Times each named query three ways on warm code: `count()`, a full
  * write to Spark's `noop` sink, and `collect()`; and prints the plan
  * Catalyst optimizes `count()` to for the first query. It shows what a
  * `count()`-timed benchmark leaves out.
  *
  *   python3 perfbench/count_vs_full.py --data DIR --reps 3 q44_minhash_sig q40_token_count
  */
object CountVsFull {
  private def seconds(body: => Unit): Double = {
    val s = System.nanoTime()
    body
    (System.nanoTime() - s) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, reps, cores) = args.take(3)
    val spark = graft.Sessions.local(cores.toInt, cores.toInt)
    val forms: Seq[(String, DataFrame => Unit)] = Seq(
      "count" -> (df => df.count()),
      "noop" -> (df => df.write.format("noop").mode("overwrite").save()),
      "collect" -> (df => df.collect()))
    args.drop(3).foreach { q =>
      val f = graft.SparkEntry.queries(q)
      val medians = forms.map { case (name, run) =>
        run(f(spark, dir)) // warm this form
        val ts = Seq.fill(reps.toInt)(seconds(run(f(spark, dir)))).sorted
        spark.catalog.clearCache()
        name -> ts(ts.size / 2)
      }
      println(q + " " + medians.map { case (n, t) => f"$n=$t%.3f s" }.mkString(" "))
    }
    args.drop(3).headOption.foreach { q =>
      println(s"optimized plan of $q count():")
      println(graft.SparkEntry.queries(q)(spark, dir).groupBy().count()
        .queryExecution.optimizedPlan.treeString)
    }
    spark.stop()
  }
}
