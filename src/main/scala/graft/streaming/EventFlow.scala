package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Structured-Streaming port of the reference's `Stream` node graph
  * (deva/core/core.py:391): a fluent flow of transforms over an
  * unbounded DataFrame.
  *
  * Mapping (SURVEY §2.1/§2.7):
  *  - `map`/`starmap`      → [[select]] (codegen'd column exprs)
  *  - `filter`             → [[where]]
  *  - `timed_window`       → [[timedWindow]] (tumbling event-time agg)
  *  - sliding variant      → [[slidingWindow]]
  *  - session gap grouping → [[sessionWindow]] (beyond the reference)
  *  - `unique`             → [[unique]] / [[uniqueWithinWatermark]]
  *  - `union`              → [[union]]
  *  - `accumulate`/`scan`  → Stateful.scanPerKey (flatMapGroupsWithState)
  *  - `delay` (lateness)   → [[withWatermark]]
  *  - `rate_limit`/`buffer`→ trigger cadence on the sink ([[start]])
  *  - `sink`/`to_textfile` → [[toMemory]] / [[toParquet]] / [[foreachBatchSink]]
  *
  * deva pushes one Python object at a time through callbacks on an
  * event loop; EventFlow declares the same dataflow and lets Spark
  * run it incrementally with partial aggregation, state stores and
  * watermark-bounded state — the form that survives 100 TB/day.
  */
final case class EventFlow(df: DataFrame) {

  def select(cols: Column*): EventFlow = EventFlow(df.select(cols: _*))

  /** Graphviz DOT of the streaming topology (deva graph.py:358
    * parity); callable before start() — the analyzed plan is the
    * dataflow graph.
    */
  def toDot(title: String = "stream"): String = graft.tools.PlanDot.dot(df, title)

  def where(cond: Column): EventFlow = EventFlow(df.where(cond))

  /** Bound lateness/state: deva `delay` + state-expiry analogue. */
  def withWatermark(tsCol: String, delay: String): EventFlow =
    EventFlow(df.withWatermark(tsCol, delay))

  /** Tumbling event-time window aggregation (deva timed_window). */
  def timedWindow(tsCol: String, duration: String, keys: Seq[Column], aggs: Seq[Column]): EventFlow =
    EventFlow(
      df.groupBy(window(col(tsCol), duration) +: keys: _*)
        .agg(aggs.head, aggs.tail: _*))

  /** Sliding event-time window aggregation. */
  def slidingWindow(tsCol: String, duration: String, slide: String,
      keys: Seq[Column], aggs: Seq[Column]): EventFlow =
    EventFlow(
      df.groupBy(window(col(tsCol), duration, slide) +: keys: _*)
        .agg(aggs.head, aggs.tail: _*))

  /** Session windows by inactivity gap (no deva equivalent — a
    * streaming capability the Spark engine adds for free).
    */
  def sessionWindow(tsCol: String, gap: String, keys: Seq[Column], aggs: Seq[Column]): EventFlow =
    EventFlow(
      df.groupBy(session_window(col(tsCol), gap) +: keys: _*)
        .agg(aggs.head, aggs.tail: _*))

  /** Drop duplicate events by key (deva unique, unbounded history). */
  def unique(cols: Seq[String]): EventFlow = EventFlow(df.dropDuplicates(cols))

  /** Dedup with bounded state — requires a watermark upstream. */
  def uniqueWithinWatermark(cols: Seq[String]): EventFlow =
    EventFlow(df.dropDuplicatesWithinWatermark(cols))

  def union(other: EventFlow): EventFlow = EventFlow(df.unionByName(other.df))

  /** Stream-stream interval join (the keyed, bounded-time pairing
    * that replaces deva's zip/combine_latest at scale).
    */
  def intervalJoin(other: EventFlow, cond: Column, joinType: String = "inner"): EventFlow =
    EventFlow(df.join(other.df, cond, joinType))

  // ---- sinks -------------------------------------------------------

  /** Memory-sink drain: run to completion, then return the sink's
    * rows as an EAGER local checkpoint and RELEASE the sink itself by
    * dropping its temp view — the reference that otherwise pins every
    * sink's rows on the heap for the life of the process (terminated
    * queries themselves are already unregistered by Spark's
    * unregisterTerminatedStream — ADVICE r15). Found in the r15 bench:
    * 283 queries × reps of never-dropped sinks (some order- or
    * edge-sized) accumulate into GC pressure that inflates the
    * late-alphabet pairings 3–6× in-process while their isolated
    * medians sit at their floors. The one place graft starts a memory
    * sink (Pairing.runStream included); it names the sink itself, so
    * no caller sees the name. Callers get a frame whose plan is a
    * LogicalRDD — independent of the view, safe to use lazily.
    *
    * Stream width: stateful streaming allocates ONE state-store
    * instance per shuffle partition per stateful operator, and every
    * micro-batch pays a commit/maintenance round-trip on each of them.
    * For the local gate (≤100k rows of state) 32 partitions is pure
    * fixed overhead — the round-2 bench measured q61/q64 at 2.3×/2.6×
    * for exactly this reason. The query starts under a small
    * partition count (GRAFT_STREAM_SHUFFLE, default 5) and the session
    * default is restored afterwards; Spark copies the session conf
    * when a streaming query starts, so the width is fixed for the
    * query's life. On a real cluster this knob is sized to executor
    * cores × executors, not hard-coded.
    */
  def toMemory(spark: SparkSession, outputMode: String): DataFrame = {
    val name = s"graft_mem_${EventFlow.sinkId.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, sys.env.getOrElse("GRAFT_STREAM_SHUFFLE", "5"))
    try {
      df.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally spark.conf.set(key, prev)
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Streaming parquet sink (deva to_textfile/Sink analogue). */
  def toParquet(path: String, checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Arbitrary per-batch action (deva sink(func) analogue); also the
    * hook for the KV upsert store (graft.sources.KvStore).
    */
  def foreachBatchSink(checkpoint: String, trigger: Trigger)(f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Generic start with a configured writer tweak — rate limiting
    * (deva rate_limit/buffer) is the trigger cadence here.
    */
  def start(configure: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery =
    configure(df.writeStream).start()
}

object EventFlow {

  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** File-source flow over a parquet path (deva from_textfile's
    * tail-a-growing-source analogue; new files become new events).
    */
  def fromParquet(spark: SparkSession, path: String, schema: StructType): EventFlow =
    EventFlow(spark.readStream.schema(schema).parquet(path))

  /** The test-data events table as a stream, opened and `ts`
    * normalized by [[graft.Tables.stream]] exactly as the batch
    * [[graft.Tables.events]] is.
    */
  def fromEvents(spark: SparkSession, dir: String): EventFlow =
    EventFlow(graft.Tables.stream(spark, dir, "events"))

  /** Text-file tail source (deva from_textfile, sources.py:199). */
  def fromText(spark: SparkSession, dir: String): EventFlow =
    EventFlow(spark.readStream.text(dir))

  /** Synthetic periodic source (deva from_periodic, sources.py:1419). */
  def fromRate(spark: SparkSession, rowsPerSecond: Int): EventFlow =
    EventFlow(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load())

  /** Socket text source (deva from_tcp_port, sources.py:341). */
  def fromSocket(spark: SparkSession, host: String, port: Int): EventFlow =
    EventFlow(spark.readStream.format("socket")
      .option("host", host).option("port", port.toString).load())

  /** Kafka topic source config (deva from_kafka, sources.py:682).
    * Returns the configured reader — no broker in this container.
    */
  def kafkaReader(spark: SparkSession, servers: String, topics: String) =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topics)
}
