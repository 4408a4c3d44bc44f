package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The benchmark's JVM side: builds the session graft's correctness gate
  * certifies (`Sessions.local(n, n)`), runs one workload against the
  * library's public entry points and writes a record file of raw
  * timings, outputs to check and (with --trace 1) layer figures. The
  * launcher (`perfbench/run.py`) checks the outputs and turns the
  * record into metrics.
  *
  *   perfbench.Main --workload batch_mix --data DIR --work DIR --seconds 8
  *     --passes 2 --trace 0 --cores 4 --launched-at EPOCH_S --queries q01_agg,q05_join3
  */
object Main {
  final case class Args(workload: String, data: String, work: String, seconds: Double,
      passes: Int, trace: Boolean, cores: Int, launchedAt: Double, queries: Seq[String])

  def epochS(): Double = {
    val n = java.time.Instant.now()
    n.getEpochSecond + n.getNano / 1e9
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv.getOrElse("passes", "1").toInt, kv.get("trace").contains("1"), kv.getOrElse("cores", "4").toInt,
      kv("launched-at").toDouble, kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mutable.LinkedHashMap.empty[String, Any]
    val t = System.nanoTime()
    val spark = graft.Sessions.local(a.cores, a.cores)
    rec("build_s") = (System.nanoTime() - t) / 1e9
    val trace = if (a.trace) Some(new Trace(spark)) else None
    try a.workload match {
      case "batch_mix" | "stream_backfill" => Closed.run(spark, a, rec, trace)
      case "live_tail" => Live.run(spark, a, rec, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      Files.writeString(Paths.get(a.work, "record.json"), Serialization.write(rec.toMap)(DefaultFormats))
      spark.stop()
    }
  }

  /** Used heap after full collections, in MB. Spark's ContextCleaner
    * frees checkpointed and broadcast blocks asynchronously once a
    * collection has found their handles unreachable, so collect until
    * the figure stops falling. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var rounds = 0
    while ({ Thread.sleep(200); cur = used(); rounds += 1; cur < prev * 0.99 && rounds < 10 })
      prev = cur
    cur
  }
}

/** The closed loop of `batch_mix` and `stream_backfill`: one client runs
  * the workload's list in order: three untimed warm-up passes, then a
  * fixed number of timed whole passes.
  * Each timed call builds the query's frame (for a pairing that runs
  * its stream) and collects every row and column.
  */
object Closed {
  /** Untimed passes before the timed ones. The first pays class loading
    * and code generation; the JIT still speeds the second up by ~20% and
    * the third by a few per cent more, which would otherwise land,
    * unevenly, in the first timed pass. */
  val WarmupPasses = 3

  private final case class Call(q: String, pass: Int, s: Double, endMs: Long,
      ok: Boolean, err: String, digest: String)

  def run(spark: SparkSession, a: Main.Args, rec: mutable.Map[String, Any],
      trace: Option[Trace]): Unit = {
    val fns = a.queries.map(q => q -> graft.SparkEntry.queries(q))
    val oracle = graft.SparkEntry.oracleSql
    rec("oracle_sql") = a.queries.map(q => q -> oracle.getOrElse(q, null)).toMap
    val tw = System.nanoTime()
    Seq.fill(Closed.WarmupPasses)(fns).flatten.foreach { case (q, f) =>
      try f(spark, a.data).collect()
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up $q failed: $e") }
      spark.catalog.clearCache()
    }
    rec("warmup_s") = (System.nanoTime() - tw) / 1e9
    rec("setup_s") = Main.epochS() - a.launchedAt

    val calls = mutable.ArrayBuffer.empty[Call]
    // first timed result per (query, digest): written out after the
    // region so the launcher can check it against the oracle
    val toCheck = mutable.LinkedHashMap.empty[(String, String), (Array[Row], org.apache.spark.sql.types.StructType)]
    trace.foreach(_.begin())
    val t0 = System.nanoTime()
    for (pass <- 1 to a.passes) {
      fns.foreach { case (q, f) =>
        trace.foreach(_.enter(calls.size))
        val s = System.nanoTime()
        val res =
          try {
            val df: DataFrame = f(spark, a.data)
            Right((df.collect(), df.schema))
          } catch { case NonFatal(e) => Left(e.toString) }
        val dur = (System.nanoTime() - s) / 1e9
        val endMs = System.currentTimeMillis()
        calls += (res match {
          case Right((rows, schema)) =>
            val d = Canon.digest(rows, schema)
            if (!toCheck.contains((q, d))) toCheck((q, d)) = (rows, schema)
            Call(q, pass, dur, endMs, ok = true, null, d)
          case Left(err) => Call(q, pass, dur, endMs, ok = false, err, null)
        })
        spark.catalog.clearCache()
      }
    }
    rec("timed_s") = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.end())
    rec("passes") = a.passes
    rec("calls") = calls.map(c => Map("q" -> c.q, "pass" -> c.pass, "s" -> c.s, "ok" -> c.ok,
      "err" -> c.err, "digest" -> c.digest))
    // untimed: every distinct result, to the launcher's oracle check
    val outs = toCheck.zipWithIndex.map { case (((q, d), (rows, schema)), i) =>
      val path = Paths.get(a.work, "out", f"$q%s-$i%03d").toString
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(path)
      Map("q" -> q, "digest" -> d, "path" -> path)
    }
    rec("outputs") = outs
    toCheck.clear()
    trace.foreach(t => rec("layers") = t.metrics(a.cores, i => calls(i).endMs))
    rec("retained_heap_mb") = Main.retainedHeapMb()
  }
}

/** Order-insensitive digest of a result: columns by name, rows by their
  * rendered cells, doubles in their exact shortest form. Two calls with
  * the same digest returned the same rows, so one oracle check covers
  * both; a differing digest gets its own check.
  */
object Canon {
  private def cell(x: Any): String = x match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, v) => cell(k) + ":" + cell(v) }.sorted.mkString("<", ",", ">")
    case b: Array[Byte] => b.mkString("b", ".", "")
    case other => other.toString
  }

  def digest(rows: Array[Row], schema: org.apache.spark.sql.types.StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map(b => f"$b%02x").mkString.take(32)
  }
}
