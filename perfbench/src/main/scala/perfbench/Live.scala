package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{KvStore, Topic}
import graft.streaming.{EventFlow, Stateful}

/** `live_tail`: deva's `source >> accumulate >> DB` path as graft builds
  * it. A `Topic` subscription folds per key with `Stateful.foldPerKey`
  * and every micro-batch upserts its running totals into a `KvStore`
  * through `foreachBatchSink`. The events come from an open-loop
  * generator process the launcher starts once this side has written
  * `live/ready`; it writes `live/gen_done` when it has published its
  * last file.
  */
object Live {
  final case class Ev(event_id: Long, key: Long, value: Long, sched_us: Long)
  final case class Tot(cnt: Long, total: Long)
  final case class KeyTot(key: Long, cnt: Long, total: Long)

  val schema: StructType = StructType(Seq("event_id", "key", "value", "sched_us")
    .map(StructField(_, LongType, nullable = false)))

  /** (batch id, upsert start, upsert end) in epoch seconds. */
  final class Commits {
    val rows = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    def add(id: Long, s: Double, e: Double): Unit = synchronized(rows += ((id, s, e)))
  }

  private def start(spark: SparkSession, root: String, store: String, ckpt: String,
      commits: Commits): (StreamingQuery, KvStore) = {
    import spark.implicits._
    val events = Topic(spark, root, "events").subscribe(schema).df.as[Ev]
    val totals = Stateful.foldPerKey(events)(_.key)(Tot(0L, 0L))(
      (s, e) => Tot(s.cnt + 1, s.total + e.value))((k, s) => KeyTot(k, s.cnt, s.total))
    val kv = new KvStore(spark, store, Seq("key"), "cnt")
    val q = EventFlow(totals.toDF()).foreachBatchSink(ckpt, Trigger.ProcessingTime(0L)) {
      (batch, id) =>
        val s = Main.epochS()
        kv.upsert(batch)
        commits.add(id, s, Main.epochS())
    }
    (q, kv)
  }

  private def await(p: Path, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(p)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $p")
      Thread.sleep(5)
    }
  }

  def run(spark: SparkSession, a: Main.Args, rec: mutable.Map[String, Any],
      trace: Option[Trace]): Unit = {
    val work = Paths.get(a.work)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")

    // warm-up stream: the same pipeline over pre-generated files, moved
    // into its topic one micro-batch at a time
    val tw = System.nanoTime()
    val warm = work.resolve("warm")
    Files.createDirectories(warm.resolve("topic/events"))
    val (wq, _) = start(spark, warm.resolve("topic").toString, warm.resolve("store").toString,
      warm.resolve("ckpt").toString, new Commits)
    Files.list(warm.resolve("stage")).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString).foreach { f =>
        Files.move(f, warm.resolve("topic/events").resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        wq.processAllAvailable()
      }
    wq.stop()
    rec("warmup_s") = (System.nanoTime() - tw) / 1e9

    val live = work.resolve("live")
    val commits = new Commits
    trace.foreach(_.begin())
    val (q, kv) = start(spark, live.resolve("topic").toString, live.resolve("store").toString,
      live.resolve("ckpt").toString, commits)
    val t0 = System.nanoTime()
    rec("setup_s") = Main.epochS() - a.launchedAt
    Files.writeString(live.resolve("ready"), "")
    await(live.resolve("gen_done"), a.seconds + 120)
    q.processAllAvailable()
    rec("timed_s") = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))
    }
    q.stop()
    trace.foreach(_.end())
    rec("commits") = commits.synchronized(commits.rows.map { case (id, s, e) => Seq(id, s, e) }.toList)
    rec("progress") = progress.toSeq
    rec("store") = kv.get().select("key", "cnt", "total").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    rec("checkpoint") = live.resolve("ckpt").toString
    trace.foreach(t => rec("layers") = t.metrics(a.cores, _ => 0L))
    rec("retained_heap_mb") = Main.retainedHeapMb()
  }
}
