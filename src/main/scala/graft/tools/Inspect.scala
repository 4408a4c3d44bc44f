package graft.tools

import graft.{Bench, Profile, SparkEntry}

/** Look inside gate queries without attaching a profiler: for each
  * query, every rep's time (the shared [[Bench.runOne]] loop, so reps
  * compute the full result), then one more profiled run's executed
  * plan per action and its stages, with serial stages (≤ 2 tasks and
  * over 0.5 s of wall) flagged — the AQE byte-coalescing failure mode
  * found in q127. `grep` keeps only the plans containing it. The
  * session is Bench's, at `SPARK_GRAFT_CPUS` cores.
  *
  *   sbt "runMain graft.tools.Inspect q68_quantized_rerank[,q06_join5] [reps] [sfDir] [grep]"
  */
object Inspect {
  private def serial(st: Profile.Stage): Boolean = st.tasks <= 2 && st.wallMs > 500

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(',').toSeq).getOrElse(
      throw new IllegalArgumentException("usage: Inspect <q[,q…]> [reps] [sfDir] [grep]"))
    val reps = if (args.length > 1) args(1).toInt else 5
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val needle = if (args.length > 3) args(3) else ""
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(",")} — known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(","))
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      Bench.runOne(spark, name, fn, dir, 1) // warm-up: codegen, parquet footers, stores
      val run = Bench.runOne(spark, name, fn, dir, reps)
      run.times.zipWithIndex.foreach { case (t, i) =>
        println(f"[inspect] $name rep${i + 1}: $t%.3f s") }
      val s = run.times.sorted
      val med = if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
      println(f"[inspect] $name median=$med%.3f min=${s.head}%.3f max=${s.last}%.3f over $reps reps" +
        (if (run.anyFailed) " (FAILED)" else ""))
      if (!run.anyFailed) {
        val (_, cap) = Profile.during(spark)(Bench.materialize(fn(spark, dir)))
        spark.catalog.clearCache()
        cap.plans.zipWithIndex.foreach { case (p, i) =>
          if (p.contains(needle)) println(s"===== $name action $i =====\n$p")
        }
        cap.stages.foreach { st =>
          println(f"[inspect] $name stage ${st.id}%4d tasks=${st.tasks}%4d " +
            f"wall=${st.wallMs / 1e3}%6.2f s run=${st.runMs / 1e3}%6.2f s" +
            (if (serial(st)) " SERIAL " else " ") + st.scopes.take(70))
        }
        println(s"[inspect] $name ${cap.plans.size} actions, ${cap.stages.size} stages " +
          s"(${cap.stages.count(serial)} serial), ${cap.recordsRead} input records")
      }
    } finally spark.stop()
  }
}
