package graft

import java.net.URI

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale-oriented defaults.
  *
  * Mirrors the event-loop bootstrap role of the reference's
  * `deva.core.Deva.run` (deva/core/core.py:1964) — but in Spark the
  * "loop" is the cluster scheduler; we only pin configuration:
  * UTC (oracle parity), AQE (runtime re-planning / skew joins),
  * shuffle partitions sized for the local test harness, and the
  * fork-free local filesystem ([[graft.io.NioRawLocalFileSystem]]) for
  * both Hadoop APIs.
  */
object Sessions {
  def local(cores: Int = 4, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces post-shuffle partitions by BYTE size; this
      // engine's text/graph kernels carry seconds of compute per MB
      // (shingle explode, array_distinct, intersect verification), so
      // the default 1 MB floor collapses those stages to 1–2 tasks at
      // test SFs (measured: q127's shingle build 9 s single-task vs
      // 0.4 s wide). A 64 KB floor keeps small-but-hot shuffles at the
      // parallelism target; at production scale shuffle bytes dwarf
      // any floor and this setting is inert.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // codegen class cache sized for a 283-query session (r16): the
      // default 100 entries thrashes across the gate — thread dumps
      // showed executor threads parked on the codegen compile KeyLock
      // re-compiling evicted projections, inflating a contiguous band
      // of queries 3–15×. Static conf, so it must be set at session
      // build; its size is bound by query diversity, not data size.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      // `file:` without a process per chmod/readlink (see graft.io):
      // the FileSystem API (KvStore, parquet writes) and the FileContext
      // API (streaming checkpoints, state store)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Hadoop caches one FileSystem per scheme and user, whatever the
    // configuration: one built before this session (from a bare
    // Configuration) would keep serving `file:`. Drop it so the next
    // lookup builds the configured class.
    val local = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    if (!local.isInstanceOf[graft.io.NioLocalFileSystem]) local.close()
    spark
  }
}
