package graft.tools

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Two-process Topic fan-out roles (VERDICT r14 stretch 7): the
  * deployment-shaped half of the Topic/Heartbeat/Schedule stack.
  * ScheduleTopicSpec proves the pub/sub contracts inside ONE JVM;
  * this main is what TopicIpcSpec forks into SEPARATE JVMs —
  * publisher process and subscriber process sharing nothing but the
  * topic directory — so the exactly-once claim is tested against a
  * real process boundary and a real `kill -9`, not a shared
  * SparkContext.
  *
  * Roles (all args positional after the role):
  *   - `publisher root topic batches rowsPerBatch sleepMs
  *     [gateAfter gateFile]` — publishes `batches` batches of
  *     `rowsPerBatch` rows each (id = batch·1e6 + j, so the full
  *     published set is enumerable by the asserting spec), sleeping
  *     between batches. With the optional gate args the publisher
  *     BLOCKS after `gateAfter` batches until `gateFile` exists —
  *     the spec's handle for making "the subscriber was killed while
  *     the topic was still growing" deterministic instead of a race
  *     against JVM boot times.
  *   - `subscribe root topic outDir checkpoint` — continuous
  *     file-stream subscriber (250 ms trigger) writing a parquet
  *     sink; runs until killed. This is the process the spec
  *     `kill -9`s mid-flight.
  *   - `drain root topic outDir checkpoint` — same subscriber
  *     resumed on the SAME checkpoint with Trigger.AvailableNow:
  *     recovers whatever the kill left (offsets logged without a
  *     commit marker are reprocessed; sink files without a
  *     _spark_metadata entry are invisible orphans), processes the
  *     backlog, and exits 0. Exactly-once then holds at READ time:
  *     the spec's metadata-log read of outDir must equal the
  *     published multiset exactly.
  */
object TopicIpc {
  def main(args: Array[String]): Unit = {
    val role = args(0)
    val spark = graft.Bench.session(graft.Bench.cpus)
    val schema = new StructType().add("id", LongType).add("batch", LongType)
    role match {
      case "publisher" =>
        val (root, topic, batches, rowsPerBatch, sleepMs) =
          (args(1), args(2), args(3).toInt, args(4).toInt, args(5).toLong)
        val gate: Option[(Int, java.nio.file.Path)] =
          if (args.length > 7) Some((args(6).toInt, java.nio.file.Paths.get(args(7))))
          else None
        val t = graft.sources.Topic(spark, root, topic)
        val sp = spark
        import sp.implicits._
        (0 until batches).foreach { b =>
          gate.foreach { case (after, f) =>
            if (b == after) {
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (!java.nio.file.Files.exists(f)) {
                if (System.nanoTime() > deadline)
                  sys.error(s"gate file $f never appeared")
                Thread.sleep(100)
              }
            }
          }
          val df = (0 until rowsPerBatch)
            .map(j => (b.toLong * 1000000L + j, b.toLong))
            .toDF("id", "batch").coalesce(1)
          t.publish(df)
          println(s"[topic-ipc] published batch $b")
          Thread.sleep(sleepMs)
        }
      case "subscribe" | "drain" =>
        val Array(_, root, topic, outDir, ckpt) = args
        val t = graft.sources.Topic(spark, root, topic)
        val trigger =
          if (role == "drain") Trigger.AvailableNow()
          else Trigger.ProcessingTime("250 milliseconds")
        val q = t.subscribe(schema).toParquet(outDir, ckpt, trigger)
        q.awaitTermination()
      case other => sys.error(s"unknown TopicIpc role: $other")
    }
    spark.stop()
    // a clean explicit exit — stray non-daemon threads from the
    // killed-and-restarted checkpoint machinery must not hang the
    // forked process after the work is done
    sys.exit(0)
  }
}
