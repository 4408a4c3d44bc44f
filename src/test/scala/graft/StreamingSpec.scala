package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventFlow, Pairing, Stateful}

/** Streaming semantics specs with MemoryStream — the shapes the
  * DuckDB gate cannot exercise: incremental arrival, watermarks,
  * sliding/session windows, stateful scans, interval joins.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 4)

  def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("timed_window tumbling counts match batch aggregation of same data") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(61), "b", 3.0), (ts(62), "a", 4.0))
    val flow = EventFlow(mem.toDF.toDF("ts", "k", "v"))
      .timedWindow("ts", "1 hour", Seq(col("k")), Seq(count(lit(1)).as("n"), sum("v").as("s")))
    val got = flow.df.writeStream.format("memory").queryName("tw_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    got.awaitTermination()
    val rows = spark.table("tw_spec")
      .select(col("window.start"), col("k"), col("n"), col("s"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.map(t => (t._2, t._3, t._4)) == Set(("a", 2L, 3.0), ("b", 1L, 3.0), ("a", 1L, 4.0)))
  }

  test("stream-static enrichment join broadcasts the static dimension") {
    val dir = "/root/testdata/sf0.001"
    val dim = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val enriched = EventFlow.fromEvents(spark, dir).df
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.format("memory").queryName("enrich_plan_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the executed micro-batch plan must probe the dim as a broadcast:
    // the stream side shuffles only for the aggregation, never for the join
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"static dim not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"stream side shuffled for the join:\n$plan")
    // and the enrichment itself is correct vs a batch join
    val got = spark.table("enrich_plan_spec").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = Tables.events(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expect, s"stream enrichment diverges from batch: $got vs $expect")
  }

  test("sliding window emits overlapping windows") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    mem.addData((ts(10), 1.0), (ts(40), 2.0))
    val flow = EventFlow(mem.toDF.toDF("ts", "v"))
      .slidingWindow("ts", "1 hour", "30 minutes", Seq(), Seq(sum("v").as("s")))
    val q = flow.df.writeStream.format("memory").queryName("sw_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // event at min10 belongs to 2 hour-long windows sliding by 30m; min40 likewise
    val n = spark.table("sw_spec").count()
    assert(n == 3, s"expected 3 overlapping windows, got $n")
  }

  test("session window groups by inactivity gap") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    // two bursts for key u separated by > 10m gap → 2 sessions
    mem.addData((ts(0), "u"), (ts(2), "u"), (ts(30), "u"))
    val flow = EventFlow(mem.toDF.toDF("ts", "k"))
      .sessionWindow("ts", "10 minutes", Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = flow.df.writeStream.format("memory").queryName("ssw_spec")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sessions = spark.table("ssw_spec").select("n").collect().map(_.getLong(0)).sorted.toSeq
    assert(sessions == Seq(1L, 2L))
  }

  test("uniqueWithinWatermark dedups within the watermark horizon") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData((ts(1), 7L), (ts(2), 7L), (ts(3), 8L))
    val flow = EventFlow(mem.toDF.toDF("ts", "id"))
      .withWatermark("ts", "1 hour")
      .uniqueWithinWatermark(Seq("id"))
    val q = flow.df.writeStream.format("memory").queryName("uq_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("uq_spec").select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
  }

  test("uniqueWithinWatermark EVICTS state once the watermark passes (bounded state)") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val flow = EventFlow(mem.toDF.toDF("ts", "id"))
      .withWatermark("ts", "10 minutes")
      .uniqueWithinWatermark(Seq("id"))
    val q = flow.df.writeStream.format("memory").queryName("uq_evict_spec")
      .outputMode("append").start()
    try {
      // key 7 arrives (and a same-horizon duplicate is dropped)
      mem.addData((ts(0), 7L), (ts(1), 7L))
      q.processAllAvailable()
      // unrelated traffic 2 h later advances the watermark far past
      // key 7's expiry (ts(0) + 10 min)
      mem.addData((ts(120), 9L))
      q.processAllAvailable()
      // key 7 again, far outside the horizon: its state MUST be gone,
      // so it is emitted a second time — the bounded-state contract
      // (an unbounded dropDuplicates would suppress it forever)
      mem.addData((ts(121), 7L))
      q.processAllAvailable()
      val ids = spark.table("uq_evict_spec").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(7L, 7L, 9L),
        s"expected key 7 re-emitted after eviction, got $ids")
      // and the store itself shrank: eviction is observable in the
      // state operator metrics (whichever micro-batch did the removal),
      // not just implied by the output
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed > 0, "state rows must have been removed by the watermark")
      assert(q.lastProgress.stateOperators.head.numRowsTotal <= 2,
        "state must stay bounded (evicted keys gone)")
    } finally q.stop()
  }

  test("scanPerKey emits running state per event (deva accumulate)") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    mem.addData(("a", 1L), ("a", 2L), ("b", 10L))
    val scanned = Stateful.scanPerKey[String, (String, Long), Long, (String, Long, Long)](
      mem.toDS())(_._1)(0L)((s, i) => s + i._2)((k, s, i) => (k, i._2, s))
    val q = scanned.toDF("k", "v", "running")
      .writeStream.format("memory").queryName("scan_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("scan_spec").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("a", 1L, 1L), ("a", 2L, 3L), ("b", 10L, 10L)))
  }

  test("scanPerKey carries state across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val scanned = Stateful.scanPerKey[String, (String, Long), Long, (String, Long, Long)](
      mem.toDS())(_._1)(0L)((s, i) => s + i._2)((k, s, i) => (k, i._2, s))
    val q = scanned.toDF("k", "v", "running")
      .writeStream.format("memory").queryName("scan_mb_spec")
      .outputMode("append").start()
    mem.addData(("a", 1L))
    q.processAllAvailable()
    mem.addData(("a", 5L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("scan_mb_spec").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("a", 1L, 1L), ("a", 5L, 6L)), s"state not carried: $rows")
  }

  test("stream-stream interval join pairs within time bound") {
    val sp = spark
    import sp.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views = MemoryStream[(Timestamp, Long)]
    clicks.addData((ts(1), 1L), (ts(50), 2L))
    views.addData((ts(3), 1L), (ts(90), 2L))
    val cf = EventFlow(clicks.toDF.toDF("cts", "cid")).withWatermark("cts", "2 hours")
    val vf = EventFlow(views.toDF.toDF("vts", "vid")).withWatermark("vts", "2 hours")
    val joined = cf.intervalJoin(vf,
      col("cid") === col("vid") &&
        col("vts") >= col("cts") && col("vts") <= col("cts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.df.writeStream.format("memory").queryName("ij_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = spark.table("ij_spec").select("cid").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L), s"only click 1 has a view within 10m, got $ids")
  }

  test("q62 streaming accumulate equals the same fold over the batch events") {
    // Stateful runs flatMapGroupsWithState per group on batch
    // Datasets too, so the gate's deva `accumulate` must equal its
    // own fold over the batch events table, row for row
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = Stateful.foldPerKey[Long, Pairing.EvRow, (Long, Long), (Long, Long, Long)](
        Tables.events(spark, dir).as[Pairing.EvRow])(_.user_id)((0L, 0L))(
        (s, e) => (s._1 + math.floor(e.value * 100 + 0.5).toLong, s._2 + 1))(
        (k, s) => (k, s._1, s._2))
      .collect().toSeq.sortBy(_._1)
    val stream = graft.queries.StreamQueries.q62_stream_accumulate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream.nonEmpty, "q62 emitted no rows")
    assert(stream == batch,
      s"stream fold diverges from batch: ${stream.size} vs ${batch.size} rows; " +
        s"first diff ${stream.zip(batch).find(p => p._1 != p._2)}")
  }

  test("fromEvents reads a directory of part files as it reads the single file") {
    // the gate corpus ships events.parquet as one FILE (nanos as
    // long); Spark-written copies (the ScaleSmoke layout) are a
    // DIRECTORY of part files with real timestamps
    val dir = "/root/testdata/sf0.001"
    val copy = java.nio.file.Files.createTempDirectory("graft_events_parts").toString
    Tables.events(spark, dir).repartition(3).write.parquet(s"$copy/events.parquet")
    val parts = new java.io.File(s"$copy/events.parquet").list().count(_.endsWith(".parquet"))
    assert(parts == 3, s"expected 3 part files, got $parts")
    def rows(d: String) = {
      val flow = EventFlow.fromEvents(spark, d)
      (flow.df.schema, flow.toMemory(spark, "append").collect().map(_.toString).sorted.toSeq)
    }
    val (fileSchema, fromFile) = rows(dir)
    val (dirSchema, fromDir) = rows(copy)
    assert(fromFile.nonEmpty, "the single-file events read no rows")
    assert(dirSchema == fileSchema, s"schemas differ:\n$dirSchema\n$fileSchema")
    assert(fromDir == fromFile,
      s"${fromDir.size} vs ${fromFile.size} rows; " +
        s"first diff ${fromDir.zip(fromFile).find(p => p._1 != p._2)}")
  }

  test("Tables.stream opens every table with the batch loader's schema") {
    // a pairing is only comparable to its batch twin if both read the
    // same columns with the same types — events' ts normalization
    // included
    val dir = "/root/testdata/sf0.001"
    Tables.names.foreach { t =>
      val st = Tables.stream(spark, dir, t)
      assert(st.isStreaming, s"$t: not a stream")
      assert(st.schema == Tables(spark, dir, t).schema,
        s"$t: stream and batch schemas differ:\n${st.schema}\n${Tables(spark, dir, t).schema}")
    }
    assert(Tables.stream(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("view-projected pairings q103, q170 and q172 leave no temp view behind") {
    // a registered view pins its drained frame in the session catalog
    // for the life of the process — the leak toMemory's own
    // dropTempView exists to stop
    val dir = "/root/testdata/sf0.001"
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    val q = graft.queries.StreamQueries
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
        q.q103_stream_drift, q.q170_stream_quantiles, q.q172_stream_transitions)
      .foreach(f => assert(f(spark, dir).collect().nonEmpty))
    val leaked = views -- before
    assert(leaked.isEmpty, s"temp views left behind: $leaked")
  }

  test("rate source produces rows (deva from_periodic)") {
    val flow = EventFlow.fromRate(spark, rowsPerSecond = 100)
    val q = flow.df.writeStream.format("memory").queryName("rate_spec")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("rate_spec").count() >= 0) // source wired; rows arrive with wall time
    } finally q.stop()
  }
}
