package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Sessions

/** Synthetic keyed-state provider A/B (VERDICT r15 item 7): measure
  * the on-heap (HDFSBackedStateStore) vs RocksDB crossover with a
  * state size the GATE cannot reach. Pairing.withBigStateStore's
  * docstring claims RocksDB wins once keyed state outgrows executor
  * heap ("tens of GB"); this rung replaces that assertion with a
  * number — or with "not reachable in this box", measured.
  *
  * Design: K distinct keys × R rows each, written as F parquet files
  * and drained with maxFilesPerTrigger=1 so the state survives F
  * micro-batch commits (state RESIDENCY across commits is exactly
  * what differs between the providers — the on-heap provider keeps
  * every version map on the executor heap, RocksDB keeps it native).
  * The stateful op is a minimal per-key (sum, count) fold emitting
  * nothing, so the measured wall is state machinery, not sink I/O.
  * On-heap entries cost ~200 B each (UnsafeRow pair + map overhead),
  * so 30M keys ≈ 6 GB — at the default 8 GB JVM that is the
  * "state outgrows heap" regime the opt-in exists for.
  *
  *   sbt "runMain graft.tools.StateScale <keys> <heap|rocksdb> [files]"
  *
  * Prints ONE json line: {"metric":"state_scale","keys":K,
  * "provider":p,"files":F,"sec":S}. Run both providers at ascending
  * K (e.g. 2M, 10M, 30M) and record the curve in SCALE_r16/PLANS.
  *
  * The one tool that does not build Bench's `SPARK_GRAFT_CPUS`-wide
  * session: it keeps 32 cores and 32 state partitions, the width at
  * which SCALE_r16 measured the RocksDB crossover, so new runs stay
  * comparable with that curve.
  */
object StateScale {

  case class KV(k: Long, v: Long)
  case class Acc(sum: Long, n: Long)

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toLong).getOrElse(2_000_000L)
    val provider = args.lift(1).getOrElse("heap")
    val files = args.lift(2).map(_.toInt).getOrElse(4)
    require(Set("heap", "rocksdb")(provider), s"unknown provider $provider")
    val spark = Sessions.local(cores = 32, shufflePartitions = 32)
    import spark.implicits._

    if (provider == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // source: files × (keys rows), every key present in every file so
    // each micro-batch touches the FULL key space (worst-case state
    // access pattern, the regime the providers differ in)
    val src = s"/tmp/graft_state_scale/src_${keys}_$files"
    // completion marker, not bare directory existence: a prior
    // generation killed mid-loop (the 30M-key heap rung OOMs by
    // design) would otherwise leave a partial dataset that every
    // later run silently reuses — fewer commits, fewer keys, and an
    // A/B crossover number that understates the workload
    val done = new java.io.File(src, "_GRAFT_COMPLETE")
    if (!done.isFile) {
      val d = new java.io.File(src)
      if (d.isDirectory) {
        println(s"[state] partial dataset at $src (no completion marker) — regenerating")
        org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
      (0 until files).foreach { f =>
        spark.range(keys)
          .select(col("id").as("k"), (col("id") % 1000).as("v"))
          .coalesce(1).write.mode("append").parquet(src)
      }
      done.createNewFile()
      println(s"[state] wrote $files files x $keys keys at $src")
    }

    val ckpt = java.nio.file.Files.createTempDirectory("graft_state_ckpt").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "long")
    val t0 = System.nanoTime()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .as[KV]
      .groupByKey(_.k)
      .flatMapGroupsWithState[Acc, Long](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[KV], state: GroupState[Acc]) =>
          val prev = state.getOption.getOrElse(Acc(0L, 0L))
          var sum = prev.sum; var n = prev.n
          rows.foreach { r => sum += r.v; n += 1 }
          state.update(Acc(sum, n))
          Iterator.empty // state machinery only — no sink volume
      }
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("noop")
      .start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"state_scale","keys":$keys,"provider":"$provider","files":$files,"sec":$sec}""")
    spark.stop()
  }
}
