package graft.queries

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{EventFlow, Stateful}
import graft.streaming.Pairing.micros
import graft.functions.Determinism._

/** Queries that run REAL Structured Streaming jobs inside the gate
  * (SURVEY §2.7): the events parquet is consumed through
  * `readStream` + AvailableNow, results land in a memory sink, and
  * the returned DataFrame is compared against the same DuckDB oracle
  * as a batch query — proving the streaming plans produce the exact
  * batch answers (Dataflow-model consistency).
  */
object StreamQueries {

  // per-invocation q243 scratch isolation (ADVICE r13)
  private val q243Run = new AtomicInteger(0)

  /** The events row type, shared with the pairing harness. */
  type EvRow = graft.streaming.Pairing.EvRow

  /** q60 — deva timed_window as a streaming tumbling aggregation
    * (complete mode, so all windows are emitted at end of input).
    */
  def q60_stream_tumbling(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow.fromEvents(spark, dir)
      .timedWindow("ts", "1 hour", Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("v")))
      .toMemory(spark, "complete")
    res.select(col("window.start").as("bucket"), col("event_type"), col("n"), col("v"))
      .orderBy(col("bucket"), col("event_type"))
  }

  val q60_stream_tumbling_sql: String =
    """SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  /** q61 — deva unique on a stream: streaming dedup with
    * WATERMARK-BOUNDED state (`dropDuplicatesWithinWatermark`) — the
    * only form whose state stops growing on an unbounded stream; the
    * unbounded `dropDuplicates` variant remains available as
    * EventFlow.unique but the gate exercises the scale-safe path.
    * The emitted key set equals batch DISTINCT (first-arrival rows
    * are nondeterministic under parallelism, the key set is not).
    * The equality is exact here because the gate source is one
    * AvailableNow micro-batch and the 7-day horizon exceeds the
    * dataset's span; on a multi-batch stream the operator's CONTRACT
    * is weaker — a key recurring beyond the watermark horizon is
    * correctly re-emitted after its state is evicted (see the
    * eviction spec in StreamingSpec).
    */
  def q61_stream_unique(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow.fromEvents(spark, dir)
      .withWatermark("ts", "7 days")
      .uniqueWithinWatermark(Seq("user_id", "event_type"))
      .toMemory(spark, "append")
    res.select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q61_stream_unique_sql: String =
    "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"

  /** q62 — deva accumulate on a stream: per-key stateful fold via
    * flatMapGroupsWithState (cents-exact so the fold is
    * order-independent and matches the batch oracle bit-for-bit).
    */
  def q62_stream_accumulate(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val folded = Stateful.foldPerKey[Long, EvRow, (Long, Long), (Long, Long, Long)](
      graft.streaming.Pairing.events(spark, dir))(_.user_id)((0L, 0L))(
      (s, e) => (s._1 + math.floor(e.value * 100 + 0.5).toLong, s._2 + 1))(
      (k, s) => (k, s._1, s._2))
    EventFlow(folded.toDF("user_id", "total_cents", "n")).toMemory(spark, "append")
      .orderBy(col("user_id"))
  }

  val q62_stream_accumulate_sql: String =
    """SELECT user_id, CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents, COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q63 — streaming SLIDING window (1h window, 30m slide): each
    * event lands in 2 overlapping windows. The DuckDB oracle
    * reconstructs the same windows by exploding each event into its
    * two covering window-starts — verifying Spark's streaming window
    * assignment semantics exactly.
    */
  def q63_stream_sliding(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow.fromEvents(spark, dir)
      .slidingWindow("ts", "1 hour", "30 minutes", Seq(col("event_type")),
        Seq(count(lit(1)).as("n"), dsum(col("value")).as("v")))
      .toMemory(spark, "complete")
    res.select(col("window.start").as("bucket"), col("event_type"), col("n"), col("v"))
      .orderBy(col("bucket"), col("event_type"))
  }

  val q63_stream_sliding_sql: String =
    """WITH e AS (
      |  SELECT event_type, value,
      |    make_timestamp(unnest([
      |      CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800,
      |      CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800]) * 1000000) AS bucket,
      |    ts
      |  FROM events)
      |SELECT bucket, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM e
      |GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin

  /** q64 — streaming SESSION windows (30-min inactivity gap per
    * user): Spark's `session_window` merges events into sessions in
    * the state store; the DuckDB oracle reconstructs the identical
    * sessions with the lag/cumsum technique (same definition), so
    * the streaming merge logic is verified against an independent
    * batch algorithm.
    */
  def q64_stream_session(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow.fromEvents(spark, dir)
      .sessionWindow("ts", "30 minutes", Seq(col("user_id")),
        Seq(count(lit(1)).as("n_events"), dsum(col("value")).as("v")))
      .toMemory(spark, "complete")
    res.select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("v"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val q64_stream_session_sql: String =
    """SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT *, CASE WHEN prev_ts IS NULL
      |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |    FROM (SELECT *, lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |          FROM events) a) b) c
      |GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin

  /** q69 — stream-stream INTERVAL JOIN (the keyed bounded-time
    * pairing that replaces deva's zip/combine_latest at scale): each
    * click pairs with the same user's purchases in the following
    * hour. Watermarks on BOTH sides bound the join state (late rows
    * beyond 1h+watermark are dropped from the store); the streaming
    * result must equal the batch join bit-for-bit. Bit-equality with
    * the batch join holds because the gate source is ONE AvailableNow
    * micro-batch (no watermark advances mid-data); on a live
    * multi-batch stream the bounded state correctly DROPS pairs whose
    * partner arrives later than the watermark allows — that is the
    * operator's contract, not a defect, but it is why the oracle
    * comparison pins the single-batch case.
    */
  def q69_stream_join(spark: SparkSession, dir: String): DataFrame = {
    val clicks = EventFlow.fromEvents(spark, dir)
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = EventFlow.fromEvents(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
    val res = clicks.intervalJoin(purchases,
        col("user_id") === col("p_user") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .toMemory(spark, "append")
    res.select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  val q69_stream_join_sql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id AS user_id
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  /** q103 — STREAMING drift monitor: per-hour Jensen–Shannon
    * divergence of the event-type distribution against the whole
    * stream's distribution — the alarm that says "this hour's traffic
    * mix looks wrong", the streaming counterpart of q101's
    * source-pair divergence. The STREAM computes the per-window
    * histogram (the stateful part, complete-mode tumbling agg — q60's
    * proven machinery); the divergence is a batch projection over the
    * label-sized result (#types × #windows rows), so the state stores
    * hold counts, never distributions.
    *
    * Determinism follows q101's rule exactly: exact-division doubles
    * for p/q, the ~1-magnitude ln factor quantized at 1e-6, term
    * product D(18,12)×D(18,6) at precision 37, ln 2 as the shared
    * literal. The event-type domain is label-sized, and window types
    * are a subset of global types by construction, so the
    * intersection decomposition's only residual is global-only mass.
    */
  def q103_stream_drift(spark: SparkSession, dir: String): DataFrame = {
    val hist = EventFlow.fromEvents(spark, dir)
      .timedWindow("ts", "1 hour", Seq(col("event_type")),
        Seq(count(lit(1)).as("n")))
      .toMemory(spark, "complete")
    // three derivations of the one histogram meet in a join, so the
    // divergence runs as Spark SQL over a view (see [[overView]]); the
    // text mirrors the DuckDB oracle clause-for-clause
    overView(spark, hist.select(col("window.start").as("bucket"), col("event_type"), col("n"))) { h =>
      s"""WITH wt AS (SELECT bucket, SUM(n) AS wt FROM $h GROUP BY bucket),
         |g AS (SELECT event_type, SUM(n) AS gn FROM $h GROUP BY event_type),
         |gt AS (SELECT SUM(gn) AS gt FROM g),
         |pq AS (
         |  SELECT h.bucket, wt.wt,
         |    CAST(h.n AS DOUBLE) / CAST(wt.wt AS DOUBLE) AS p,
         |    CAST(g.gn AS DOUBLE) / CAST(gt.gt AS DOUBLE) AS q
         |  FROM $h h JOIN wt USING (bucket) JOIN g USING (event_type)
         |  CROSS JOIN gt),
         |terms AS (
         |  SELECT bucket, wt,
         |    ${graft.functions.Determinism.decqSql("p", 12)} AS pad,
         |    ${graft.functions.Determinism.decqSql("q", 12)} AS qad,
         |    ${graft.functions.Determinism.decqSql("ln(2.0D * p / (p + q))", 6)} AS la,
         |    ${graft.functions.Determinism.decqSql("ln(2.0D * q / (p + q))", 6)} AS lb
         |  FROM pq),
         |agg AS (
         |  SELECT bucket, wt, COUNT(*) AS n_types,
         |    SUM(pad * la) AS sa, SUM(qad * lb) AS sb,
         |    SUM(pad) AS spa, SUM(qad) AS spb
         |  FROM terms GROUP BY bucket, wt)
         |SELECT bucket, CAST(wt AS BIGINT) AS n_events,
         |  CAST(n_types AS BIGINT) AS n_types,
         |  0.5D * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE) +
         |    (1.0D - CAST(spa AS DOUBLE)) * 0.6931471805599453D +
         |    (1.0D - CAST(spb AS DOUBLE)) * 0.6931471805599453D) AS js
         |FROM agg ORDER BY bucket""".stripMargin
    }
  }

  /** `sql(view)` over `df` registered as a fresh temp view, which is
    * dropped again before returning. For projections in which several
    * derivations of one drained sink meet in a join: the drained frame
    * trips the analyzer's reference dedup when self-joined through
    * DataFrame lineage ("conflicting references in Join"), while each
    * SQL reference to a view resolves to fresh attributes. spark.sql
    * analyzes eagerly, so the view can go as soon as the frame exists;
    * left registered it would pin the drained frame in the session
    * catalog for the life of the process.
    */
  private def overView(spark: SparkSession, df: DataFrame)(sql: String => String): DataFrame = {
    val view = s"graft_view_${viewId.incrementAndGet()}"
    df.createOrReplaceTempView(view)
    try spark.sql(sql(view)) finally spark.catalog.dropTempView(view)
  }
  private val viewId = new AtomicInteger(0)

  val q103_stream_drift_sql: String =
    s"""WITH w AS (
      |  SELECT date_trunc('hour', ts) AS bucket, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |wt AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS wt FROM w GROUP BY bucket),
      |g AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS gn FROM w GROUP BY event_type),
      |gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gt FROM g),
      |pq AS (
      |  SELECT w.bucket, wt.wt,
      |    CAST(w.n AS DOUBLE) / CAST(wt.wt AS DOUBLE) AS p,
      |    CAST(g.gn AS DOUBLE) / CAST(gt.gt AS DOUBLE) AS q
      |  FROM w JOIN wt USING (bucket) JOIN g USING (event_type), gt),
      |terms AS (
      |  SELECT bucket, wt,
      |    ${graft.functions.Determinism.decqSql("p", 12)} AS pad,
      |    ${graft.functions.Determinism.decqSql("q", 12)} AS qad,
      |    ${graft.functions.Determinism.decqSql("ln(2.0 * p / (p + q))", 6)} AS la,
      |    ${graft.functions.Determinism.decqSql("ln(2.0 * q / (p + q))", 6)} AS lb
      |  FROM pq),
      |agg AS (
      |  SELECT bucket, wt, COUNT(*) AS n_types,
      |    SUM(pad * la) AS sa, SUM(qad * lb) AS sb,
      |    SUM(pad) AS spa, SUM(qad) AS spb
      |  FROM terms GROUP BY bucket, wt)
      |SELECT bucket, CAST(wt AS BIGINT) AS n_events,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  0.5 * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE) +
      |    (1.0 - CAST(spa AS DOUBLE)) * 0.6931471805599453 +
      |    (1.0 - CAST(spb AS DOUBLE)) * 0.6931471805599453) AS js
      |FROM agg ORDER BY bucket""".stripMargin

  /** q109 — stream-STATIC enrichment join: the live event stream
    * joined against a batch dimension (customer → nation) and
    * aggregated per enriched key — the canonical streaming-pipeline
    * shape (deva streams enrich from a store/reference table the same
    * way: `deva/core/sources.py` DBStream lookups; here it is ONE
    * declarative plan). Spark plans the static side as a broadcast
    * probed by every micro-batch: the stream side never shuffles
    * until the aggregation, and the dimension is read once, not per
    * batch — at cluster scale this is exactly the map-side hash join
    * you want under a 100 TB/day stream (a growing dim would instead
    * arrive via a slowly-changing KvStore snapshot, same plan shape).
    *
    * Complete-mode agg over the enriched keys (nation × event_type —
    * label-sized state, like q60); determinism via the exact
    * DECIMAL(18,2) value sums (dsum).
    */
  def q109_stream_enrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val res = EventFlow(Tables.stream(spark, dir, "events")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("n_name"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v")))
      .toMemory(spark, "complete")
    res.select(col("n_name").as("nation"), col("event_type"), col("n"), col("v"))
      .orderBy(col("nation"), col("event_type"))
  }

  val q109_stream_enrich_sql: String =
    """SELECT n.n_name AS nation, e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q110 — STREAMING per-key rolling anomaly: q108's detector as a
    * live stateful stream — the state store carries each user's
    * trailing 5-event window (as exact cents, q62's trick) across
    * micro-batches, and every arriving event is flagged against the
    * mean of the window BEFORE it. The monitoring deployment q108's
    * scaladoc promises ("the first events per user score on the next
    * tick's window") — here that behavior is real, and the gate pins
    * it to the SAME oracle as the batch detector.
    *
    * Order contract: within a micro-batch each group sorts by
    * (ts, event_id) — the same total order the batch window uses;
    * across batches a file stream delivers time-ordered batches, so
    * the carried deque state composes in order (the standard
    * event-time-ordered-source contract of any stateful detector).
    *
    * Determinism: the trailing window holds exact cent longs; the
    * mean sumCents→double/100/5 is bit-identical to the batch form's
    * DECIMAL(18,2)-sum→double/5 (both are the correctly-rounded
    * double of the same exact rational, then one IEEE division), so
    * stream and batch flags CANNOT diverge — spec-asserted against
    * q108 row-for-row, oracle-asserted at the gate.
    *
    * Scale/shape: state per key is O(1) (five longs); one stream
    * shuffle on user_id into the state operator; append mode — only
    * warmed-up events emit, exactly once each.
    */
  def q110_stream_anomaly(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, List[Long], (Long, Long, Double, Double, Boolean)](
      spark, dir, Seq("event_id", "user_id", "value", "roll_mean", "is_anomaly"))(
      _.user_id)(List.empty[Long]) { (k, window0, ordered) =>
        var window = window0
        val outs = ordered.flatMap { e =>
          val res = if (window.length == 5) {
            val mean = window.sum.toDouble / 100.0 / 5.0
            Some((e.event_id, k, e.value, mean,
              math.abs(e.value - mean) > 130.0))
          } else None
          window = (window :+ graft.functions.Determinism.centsOfDouble(e.value)).takeRight(5)
          res
        }
        (window, outs)
      } (_.orderBy(col("event_id")))
  }

  /** Same oracle as the batch detector — the point of the query. */
  val q110_stream_anomaly_sql: String =
    """SELECT event_id, user_id, value,
      |  CAST(roll_sum AS DOUBLE) / 5 AS roll_mean,
      |  (abs(value - CAST(roll_sum AS DOUBLE) / 5) > 130.0) AS is_anomaly
      |FROM (
      |  SELECT event_id, user_id, value,
      |    COUNT(*) OVER w AS roll_n,
      |    SUM(CAST(value AS DECIMAL(18,2))) OVER w AS roll_sum
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) r
      |WHERE roll_n = 5 ORDER BY event_id""".stripMargin

  /** q114 — streaming trending entities: per tumbling day window, the
    * top-5 most active users — the "what's hot right now" view every
    * event pipeline serves. The STREAM computes the (window, user)
    * count histogram (q60's complete-mode machinery — state is
    * windows × active-users, the per-window support, never raw
    * events); the rank over the label-sized result is a batch
    * projection through GroupTopK's skew-proof two-pass, so a viral
    * window with millions of active users never funnels into one
    * task's sort. Ties at the k boundary break by user_id — a total
    * order shared with the oracle's naive ROW_NUMBER window.
    */
  def q114_stream_trending(spark: SparkSession, dir: String): DataFrame = {
    val hist = EventFlow.fromEvents(spark, dir)
      .timedWindow("ts", "1 day", Seq(col("user_id")),
        Seq(count(lit(1)).as("n")))
      .toMemory(spark, "complete")
    val counts = hist.select(col("window.start").as("bucket"), col("user_id"), col("n"))
    graft.operators.GroupTopK.rank(counts, Seq("bucket"),
        Seq(col("n").desc, col("user_id")), 5, "pos")
      .orderBy(col("bucket"), col("pos"))
  }

  val q114_stream_trending_sql: String =
    """SELECT bucket, user_id, n, pos FROM (
      |  SELECT bucket, user_id, n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n DESC, user_id)
      |      AS BIGINT) AS pos
      |  FROM (
      |    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |      user_id, COUNT(*) AS n
      |    FROM events GROUP BY 1, 2) c) r
      |WHERE pos <= 5 ORDER BY bucket, pos""".stripMargin

  /** q124 — STREAMING changelog compaction: the CDC "latest snapshot
    * per key" upsert view maintained incrementally over the live
    * event stream — q121's streaming twin (the pairing q108 ≡ q110
    * established for the anomaly detector, now for compaction). The
    * same single max(struct) aggregation runs as a streaming
    * complete-mode agg: per micro-batch each task reduces its slice
    * to one candidate row per key before the shuffle (the partial-agg
    * property that made q121 the scale shape is exactly what makes
    * the STREAMING state one row per key), and the state store holds
    * the running maxima — not the changelog. Oracle: q121's batch
    * SQL verbatim, so the gate proves stream ≡ batch row-for-row; a
    * spec additionally asserts bit-equality against q121 itself.
    */
  def q124_stream_snapshot(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow(Tables.stream(spark, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          dec2(col("value")).as("v"))).as("m")))
      .toMemory(spark, "complete")
    res.select(col("user_id"),
        col("m.ts").as("last_ts"),
        col("m.event_id").as("last_event"),
        col("m.event_type").as("last_type"),
        col("m.v").cast("double").as("last_value"))
      .orderBy(col("user_id"))
  }

  val q124_stream_snapshot_sql: String = AnalyticsQueries.q121_latest_snapshot_sql

  /** q130 — STREAMING EWMA: q126's 10-tap decayed average maintained
    * incrementally per key over the live stream — the third
    * batch≡stream pairing (q108≡q110 anomaly, q121≡q124 compaction,
    * now the smoother every monitoring dashboard plots). State per
    * key is the last ≤10 cent values (O(1) — the tap window, never
    * history); each arriving event appends, trims, and emits its
    * smoothed value exactly once (append mode).
    *
    * Determinism: the state holds EXACT cent longs and the weights
    * are the same exact int64 3^j·4^(9-j) taps as the batch query
    * ([[EventQueries.ewmaWeights]] — shared constant, cannot drift),
    * so the emitted ewma is the identical one IEEE division — the
    * oracle is q126's SQL verbatim, proving stream ≡ batch
    * row-for-row at the gate.
    */
  def q130_stream_ewma(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val weights = EventQueries.ewmaWeights
    graft.streaming.Pairing.run[Long, List[Long], (Long, Long, Timestamp, Double)](
      spark, dir, Seq("user_id", "event_id", "ts", "ewma"))(
      _.user_id)(List.empty[Long]) { (k, window0, ordered) =>
        var window = window0
        val outs = ordered.map { e =>
          window = (window :+ graft.functions.Determinism.centsOfDouble(e.value)).takeRight(10)
          val len = window.length
          var num = 0L; var den = 0L
          var i = 0
          while (i < len) {
            val w = weights(len - 1 - i) // recency of position i
            num += window(i) * w; den += w
            i += 1
          }
          (k, e.event_id, e.ts, num.toDouble / (den * 100).toDouble)
        }
        (window, outs)
      } (_.orderBy(col("user_id"), col("ts"), col("event_id")))
  }

  /** Same oracle as the batch smoother — the point of the query. */
  val q130_stream_ewma_sql: String = EventQueries.q126_ewma_sql

  /** q134 — STREAMING CUSUM: q133's level-shift alarm maintained
    * incrementally — the FOURTH batch≡stream pairing (anomaly,
    * compaction, smoothing, now changepoint). The architecture is the
    * realistic monitoring split: the baseline mean is TRAINED
    * batch-side (one aggregation over the historical corpus — the
    * q109 stream-static pattern, collected to a per-type map since
    * the label set is bounded), and the detector runs Page's literal
    * recursion as O(1) state per key (ONE long — the running S).
    * Batch q133 needed the prefix-decomposition trick because a batch
    * window cannot carry sequential state; the stream just… carries
    * it. Oracle is q133's SQL verbatim + a bit-equality spec: the
    * closed form and the recursion meet at the gate.
    */
  def q134_stream_cusum(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    // batch-trained baseline: label-bounded per-type integer means
    val mu: Map[String, Long] = Tables.events(spark, dir)
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(expr("(2 * sum(cents) + count(1)) div (2 * count(1))").as("mu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.streaming.Pairing.run[String, Long, (String, Long, Timestamp, Double, Boolean)](
      spark, dir, Seq("event_type", "event_id", "ts", "cusum_dollars", "shifted"))(
      _.event_type)(0L) { (k, s0, ordered) =>
        var s = s0
        val base = mu(k)
        val outs = ordered.map { e =>
          val cents = graft.functions.Determinism.centsOfDouble(e.value)
          s = math.max(0L, s + (cents - base - 100L))
          (k, e.event_id, e.ts, s.toDouble / 100.0, s > 50000L)
        }
        (s, outs)
      } (_.orderBy(col("event_type"), col("ts"), col("event_id")))
  }

  /** Same oracle as the batch detector — the point of the query. */
  val q134_stream_cusum_sql: String = AnalyticsQueries.q133_cusum_sql

  /** q143 — STREAMING last-touch attribution: q140 maintained
    * incrementally — the FIFTH batch≡stream pairing. The state per
    * user is ONE string: the most recent non-purchase event type;
    * each purchase reads it (or 'direct') and emits an attribution
    * row, exactly what q140's window derives after the fact. The
    * final channel rollup aggregates the emitted attributions —
    * label-sized, same as batch. Oracle is q140's SQL verbatim.
    *
    * Scale/shape: state is O(1) per user (a single enum-like string),
    * partitioned by user key — the canonical mapGroupsWithState
    * sizing; within a micro-batch events replay in (ts, event_id)
    * order so batch boundaries cannot reorder a user's history.
    */
  def q143_stream_attribution(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, String, (String, Long)](
      spark, dir, Seq("channel", "cents"))(_.user_id)("direct") { (_, ch0, ordered) =>
        var ch = ch0
        val outs = ordered.flatMap { e =>
          if (e.event_type != "purchase") { ch = e.event_type; None }
          else Some((ch, graft.functions.Determinism.centsOfDouble(e.value)))
        }
        (ch, outs)
      } (_.groupBy(col("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            (sum(col("cents")).cast("decimal(38,0)").cast("double") / 100).as("revenue"))
          .orderBy(col("channel")))
  }

  /** Same oracle as the batch attribution — the point of the query. */
  val q143_stream_attribution_sql: String = ReportQueries.q140_attribution_sql

  /** q157 — STREAMING Holt linear-trend smoothing: q156's recursion
    * maintained incrementally per event_type — the SIXTH batch≡stream
    * pairing (anomaly, compaction, smoothing, changepoint,
    * attribution, now trend forecasting). State per key is the
    * day-count series (calendar-bounded — the same frame the batch
    * side collects per group); each micro-batch merges its events
    * into the day counts and re-emits the folded (level, trend,
    * forecast) — O(days) per key per batch, days bounded by the
    * calendar. Day bucketing is epoch-day floor of the UTC millis,
    * bit-identical to `to_date(ts)` under the session's pinned UTC.
    * Oracle is q156's recursive-CTE SQL verbatim; a parity spec
    * asserts stream ≡ batch bit-for-bit.
    */
  def q157_stream_holt(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[String, Vector[(Long, Long)], (String, Long, Double, Double, Double)](
      spark, dir, Seq("event_type", "n_days", "level", "trend", "forecast_7"))(
      _.event_type)(Vector.empty[(Long, Long)]) { (k, days, batch) =>
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        days.foreach { case (d, c) => m(d) = c }
        batch.foreach { e =>
          val d = Math.floorDiv(e.ts.getTime, 86400000L)
          m(d) = m.getOrElse(d, 0L) + 1L
        }
        val sorted = m.toVector.sortBy(_._1)
        if (sorted.size < 2) (sorted, Vector.empty)
        else {
          // identical IEEE op sequence to q156's array fold
          val xs = sorted.map(_._2.toDouble)
          var l = xs(0)
          var b = xs(1) - xs(0)
          var t = 1
          while (t < xs.length) {
            val lNew = 0.5 * xs(t) + 0.5 * (l + b)
            b = 0.25 * ((0.5 * xs(t) + 0.5 * (l + b)) - l) + 0.75 * b
            l = lNew
            t += 1
          }
          (sorted, Vector((k, xs.length.toLong, l, b, l + 7.0 * b)))
        }
      } (
        // one emission per key per batch; n_days only grows, so the
        // max-struct picks each key's final state (the q121 idiom)
        _.groupBy(col("event_type"))
          .agg(max(struct(col("n_days"), col("level"), col("trend"), col("forecast_7"))).as("s"))
          .select(col("event_type"), col("s.n_days").as("n_days"),
            col("s.level").as("level"), col("s.trend").as("trend"),
            col("s.forecast_7").as("forecast_7"))
          .orderBy(col("event_type")))
  }

  /** Same oracle as the batch Holt — the point of the query. */
  val q157_stream_holt_sql: String = TimeSeriesQueries.q156_holt_sql

  /** q165 — STREAMING FUNNEL: q111's view→click→purchase staging
    * maintained as a per-user state machine — the SEVENTH
    * batch≡stream pairing. State is three micro-timestamps; each
    * event advances at most one stage. The subtle bit is TIES: batch
    * q111's `click.ts >= first_view` admits a click at the exact
    * first-view timestamp, so the stream processes each equal-
    * timestamp group in stage order (views, then clicks, then
    * purchases) — a plain per-event scan ordered by (ts, event_id)
    * would miss a same-instant click sorted before its view. Oracle
    * is q111's SQL verbatim; a parity spec asserts stream ≡ batch.
    */
  def q165_stream_funnel(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long),
        (Long, Option[Long], Option[Long], Option[Long], Long)](
      spark, dir, Seq("user_id", "fv", "fc", "fp", "stage"))(
      _.user_id)((-1L, -1L, -1L)) { (k, s0, ordered) =>
        var (fv, fc, fp) = s0
        ordered
          .map(e => (micros(e.ts), e.event_type))
          .groupBy(_._1).toVector.sortBy(_._1)
          .foreach { case (us, group) =>
            // stage order within an instant mirrors the batch >=
            if (fv < 0 && group.exists(_._2 == "view")) fv = us
            if (fv >= 0 && fc < 0 && group.exists(_._2 == "click") && us >= fv) fc = us
            if (fc >= 0 && fp < 0 && group.exists(_._2 == "purchase") && us >= fc) fp = us
          }
        val stage = if (fp >= 0) 3L else if (fc >= 0) 2L else if (fv >= 0) 1L else 0L
        ((fv, fc, fp), Vector((k,
          if (fv >= 0) Some(fv) else None,
          if (fc >= 0) Some(fc) else None,
          if (fp >= 0) Some(fp) else None, stage)))
      } (
        // one emission per user per batch; fields are set-once and stage
        // only grows, so min-ignoring-nulls + max(stage) pick the finals
        _.groupBy(col("user_id"))
          .agg(min(col("fv")).as("fv"), min(col("fc")).as("fc"),
            min(col("fp")).as("fp"), max(col("stage")).as("stage"))
          .select(col("user_id"),
            timestamp_micros(col("fv")).as("first_view"),
            timestamp_micros(col("fc")).as("first_click"),
            timestamp_micros(col("fp")).as("first_purchase"),
            col("stage"))
          .orderBy(col("user_id")))
  }

  /** Same oracle as the batch funnel — the point of the query. */
  val q165_stream_funnel_sql: String = EventQueries.q111_funnel_steps_sql

  /** q168 — STREAMING trailing-7-day distinct reach: q115 maintained
    * incrementally — the EIGHTH batch≡stream pairing. The stream
    * holds only the watermark-bounded DISTINCT (user, day) frame —
    * the minimal sufficient statistic for any trailing-distinct
    * report (q115's own first move, here as streaming dedup state
    * instead of a batch distinct); the ×7 window-end fan-out and the
    * countDistinct are a batch projection of the emitted state, so
    * raw events never accumulate anywhere. Same single-micro-batch
    * exactness contract as q61 (the 7-day horizon exceeds the gate
    * data's span; on a longer stream a (user, day) pair recurring
    * past the horizon is correctly re-emitted and the downstream
    * distinct re-collapses it). Oracle is q115's SQL verbatim + a
    * parity spec.
    */
  def q168_stream_sliding_distinct(spark: SparkSession, dir: String): DataFrame = {
    val res = EventFlow.fromEvents(spark, dir)
      .select(col("ts"), col("user_id"), to_date(col("ts")).as("day"))
      .withWatermark("ts", "7 days")
      .uniqueWithinWatermark(Seq("user_id", "day"))
      .toMemory(spark, "append")
    val days = res.select(col("user_id"), col("day"))
    val ends = days.select(col("day").as("window_end")).distinct()
    days
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("window_end"))
      .join(broadcast(ends), Seq("window_end"), "left_semi")
      .groupBy(col("window_end"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_end"))
  }

  /** Same oracle as the batch sliding distinct — the point. */
  val q168_stream_sliding_distinct_sql: String = EventQueries.q115_sliding_distinct_sql

  /** q170 — STREAMING exact quantiles: q117's per-type value
    * histogram maintained as a streaming aggregation (complete mode)
    * — the NINTH batch≡stream pairing, and the q124 state argument
    * for EXACT percentiles: the streaming state is the (type, cents)
    * count frame, bounded by the VALUE DOMAIN, not the stream length,
    * so a monitoring dashboard gets exact p50/p90/p99 incrementally
    * forever. The cumulative-rank projection (window + integer rank
    * targets) is batch math over the emitted histogram — it never
    * touches raw events. Oracle is q117's SQL verbatim + a parity
    * spec against the batch query.
    */
  def q170_stream_quantiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = EventFlow(Tables.stream(spark, dir, "events")
        .groupBy(col("event_type"), dec2(col("value")).as("v"))
        .agg(count(lit(1)).as("c")))
      .toMemory(spark, "complete")
    // two derivations of the one histogram meet in a join, so the
    // cumulative-rank projection runs as Spark SQL over a view (see
    // [[overView]]), mirroring the oracle clause-for-clause
    overView(spark, hist) { h =>
      s"""WITH cum AS (
         |  SELECT event_type, v, c,
         |    SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
         |  FROM $h),
         |tot AS (SELECT event_type, SUM(c) AS n FROM $h GROUP BY event_type)
         |SELECT c.event_type, ps.p, CAST(MIN(c.v) AS DOUBLE) AS q
         |FROM cum c JOIN tot t ON c.event_type = t.event_type
         |CROSS JOIN (SELECT explode(array(50L, 90L, 99L)) AS p) ps
         |WHERE c.cum >= (ps.p * t.n + 99) div 100
         |GROUP BY c.event_type, ps.p
         |ORDER BY c.event_type, ps.p""".stripMargin
    }
  }

  /** Same oracle as the batch exact quantiles — the point. */
  val q170_stream_quantiles_sql: String = AnalyticsQueries.q117_exact_quantiles_sql

  /** q171 — STREAMING inter-arrival histogram: q116's per-user gap
    * distribution maintained incrementally — the TENTH pairing.
    * State per user is the (last_us, last_event_id) pair alone (O(1)
    * — never history); each micro-batch sorts its events into the
    * batch order (ts, event_id), emits one exact-µs gap per event
    * after the user's first, and the log2 bucketing + label×64 count
    * is a batch projection of the emitted gaps. The bucket stays the
    * INTEGER bit-length path (`bin` length) — the q116 discipline —
    * so stream and batch cannot disagree at exact powers of two.
    * Oracle is q116's SQL verbatim + a parity spec.
    */
  def q171_stream_interarrival(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long), (String, Long)](
      spark, dir, Seq("event_type", "gap_us"))(
      _.user_id)((Long.MinValue, Long.MinValue)) { (_, last0, ordered) =>
        var last = last0
        val out = Vector.newBuilder[(String, Long)]
        ordered.foreach { e =>
          val us = micros(e.ts)
          if (last._1 != Long.MinValue) out += ((e.event_type, us - last._1))
          last = (us, e.event_id)
        }
        (last, out.result())
      } (_.withColumn("bucket", length(bin(col("gap_us"))).cast("long"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"), col("bucket")))
  }

  /** Same oracle as the batch inter-arrival histogram — the point. */
  val q171_stream_interarrival_sql: String = EventQueries.q116_interarrival_hist_sql

  /** q172 — STREAMING transition matrix: q113's Markov counts
    * maintained incrementally — the ELEVENTH pairing. State per user
    * is the (last_us, last_event_id, last_type) triple (O(1)); each
    * event after the user's first emits its (prev → curr) transition
    * once, and the label²-bounded count + conditional-probability
    * math is a batch projection of the emitted pairs (the one
    * division is the same exact-long IEEE op as batch q113). Oracle
    * is q113's SQL verbatim + a parity spec.
    */
  def q172_stream_transitions(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, String), (String, String)](
      spark, dir, Seq("event_type", "next_type"))(
      _.user_id)((Long.MinValue, Long.MinValue, "")) { (_, last0, ordered) =>
        var last = last0
        val out = Vector.newBuilder[(String, String)]
        ordered.foreach { e =>
          if (last._1 != Long.MinValue) out += ((last._3, e.event_type))
          last = (micros(e.ts), e.event_id, e.event_type)
        }
        (last, out.result())
      } { pairs =>
        // counts and totals both derive from the one emitted-pairs
        // frame, so the projection runs as Spark SQL over a view (see
        // [[overView]]), mirroring the oracle
        overView(spark, pairs) { v =>
          s"""WITH tr AS (
             |  SELECT event_type, next_type, COUNT(*) AS c
             |  FROM $v GROUP BY event_type, next_type),
             |tot AS (SELECT event_type, SUM(c) AS n FROM tr GROUP BY event_type)
             |SELECT tr.event_type, tr.next_type, tr.c,
             |  CAST(tr.c AS DOUBLE) / CAST(t.n AS DOUBLE) AS p
             |FROM tr JOIN tot t ON tr.event_type = t.event_type
             |ORDER BY tr.event_type, tr.next_type""".stripMargin
        }
      }
  }

  /** Same oracle as the batch transition matrix — the point. */
  val q172_stream_transitions_sql: String = EventQueries.q113_transition_matrix_sql

  /** q178 — STREAMING multi-touch attribution: q175's fractional
    * credit maintained incrementally — the TWELFTH pairing. State per
    * user is the LABEL-BOUNDED touch-count map since the last
    * purchase (never the touch list — the q114 histogram argument
    * applied to attribution state); each purchase drains it, emitting
    * one (channel, multiplicity, k) row per touched channel, and the
    * 1/k quantization + credit sum is a batch projection of the
    * emitted rows (m·dec6(1/k) summed exactly ≡ q175's per-touch
    * dec6(1/k) — multiplication by an integer distributes over the
    * quantized decimal). Trailing touches stay in state unemitted,
    * touch-less purchases drain nothing — q175's semantics by
    * construction. Oracle is q175's SQL verbatim + a parity spec.
    */
  def q178_stream_multitouch(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, Map[String, Long], (String, Long, Long)](
      spark, dir, Seq("channel", "m", "k"))(
      _.user_id)(Map.empty[String, Long]) { (_, acc0, ordered) =>
        var acc = acc0
        val out = Vector.newBuilder[(String, Long, Long)]
        ordered.foreach { e =>
          if (e.event_type == "purchase") {
            val k = acc.valuesIterator.sum
            if (k > 0) acc.foreach { case (ch, m) => out += ((ch, m, k)) }
            acc = Map.empty
          } else acc = acc.updated(e.event_type, acc.getOrElse(e.event_type, 0L) + 1L)
        }
        (acc, out.result())
      } (_.select(col("channel"), col("m"),
            // decq mirrors q175's floor-int64 credit quantization — the
            // parity property depends on the identical edge
            (decq(lit(1.0) / col("k").cast("double"), 6) * col("m")).as("cr"))
          .groupBy(col("channel"))
          .agg(sum(col("m")).as("n_touches"), sum(col("cr")).cast("double").as("credit"))
          .orderBy(col("channel")))
  }

  /** Same oracle as the batch multi-touch — the point. */
  val q178_stream_multitouch_sql: String = ReportQueries.q175_multitouch_sql

  /** q181 — STREAMING per-group correlation/OLS: q131's five exact
    * integer moments maintained as a streaming aggregation — the
    * THIRTEENTH pairing, and the moments-not-data argument live:
    * state per (type, day) is SIX longs (n, Σx, Σy, Σx², Σy², Σxy),
    * bounded by the key space whatever the stream length; the
    * closed-form Pearson/slope/intercept math is a batch projection
    * of the emitted moment frame running q131's exact expressions.
    * Oracle is q131's SQL verbatim + a parity spec.
    */
  def q181_stream_regression(spark: SparkSession, dir: String): DataFrame = {
    val m = EventFlow(Tables.stream(spark, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          hour(col("ts")).cast("long").as("x"),
          (dec2(col("value")) * 100).cast("long").as("y"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy")))
      .toMemory(spark, "complete")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    m.filter(col("n") >= 3 && vx > 0 && vy > 0)
      .select(col("event_type"), col("day"), col("n"),
        (cov.cast("double") / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("corr"),
        (cov.cast("double") / vx.cast("double")).as("slope_cents_per_hour"),
        ((col("sy").cast("double") - (cov.cast("double") / vx.cast("double"))
          * col("sx").cast("double")) / col("n").cast("double")).as("intercept_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Same oracle as the batch regression — the point. */
  val q181_stream_regression_sql: String = AnalyticsQueries.q131_daily_regression_sql

  /** q184 — STREAMING engagement streaks: q158's gaps-and-islands
    * maintained incrementally per user — the FOURTEENTH batch≡stream
    * pairing, and the first written as a ~30-line client of the
    * [[graft.streaming.Pairing]] harness. State per user is six
    * longs (last purchase day, current run start/length, best run
    * start/length, events seen): O(1) whatever the history length.
    * Each batch folds its purchase events in canonical order: a day
    * equal to the last is a same-day duplicate (batch's DISTINCT),
    * last+1 extends the run, anything later starts a new one; the
    * best-run update is STRICTLY-greater — runs arrive in start
    * order, so an equal-length later run must not displace the
    * earlier start (q158's longest-then-earliest tie-break).
    * Emissions carry a monotone per-user event count; the
    * projection compacts to the max-seq row per user (q124's
    * changelog idiom) so multi-batch runs supersede correctly. Day
    * is the epoch-day floor of UTC millis — bit-identical to
    * to_date(ts) under the pinned-UTC session (the q157 argument) —
    * and the date column is rebuilt columnar-side from it. Oracle is
    * q158's SQL verbatim + a bit-equality parity spec.
    */
  def q184_stream_streaks(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.runStream[EvRow, Long, (Long, Long, Long, Long, Long, Long),
        (Long, Long, Long, Long)](
      spark, graft.streaming.Pairing.events(spark, dir).filter(col("event_type") === "purchase"),
      Seq("user_id", "seq", "best_len", "best_start_day"), graft.streaming.Pairing.eventOrder)(
      _.user_id)((Long.MinValue, 0L, 0L, 0L, 0L, 0L)) { (u, s0, ordered) =>
        var (lastDay, curStart, curLen, bestStart, bestLen, seen) = s0
        ordered.foreach { e =>
          val day = math.floorDiv(e.ts.getTime, 86400000L)
          seen += 1
          if (day != lastDay) {
            if (day == lastDay + 1) curLen += 1
            else { curStart = day; curLen = 1 }
            lastDay = day
            if (curLen > bestLen) { bestLen = curLen; bestStart = curStart }
          }
        }
        ((lastDay, curStart, curLen, bestStart, bestLen, seen),
          if (ordered.isEmpty) Vector.empty
          else Vector((u, seen, bestLen, bestStart)))
      } (_.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("best_len"), col("best_start_day"))).as("b"))
          .select(col("user_id"), col("b.best_len").as("best_len"),
            date_add(lit("1970-01-01").cast("date"), col("b.best_start_day").cast("int")).as("best_start"))
          .orderBy(col("user_id")))
  }

  /** Same oracle as the batch streaks — the point of the query. */
  val q184_stream_streaks_sql: String = LifecycleQueries.q158_streaks_sql

  /** q188 — STREAMING cohort retention: q112 maintained
    * incrementally — the FIFTEENTH batch≡stream pairing, second
    * written against [[graft.streaming.Pairing]]. The state per user
    * is the distinct activity-day set (CALENDAR-bounded — the same
    * frame batch q112 collapses to first); each batch emits exactly
    * the (user, day) pairs NOT already in state, so the sink
    * accumulates the distinct user×day frame with cross-batch
    * exactly-once semantics (the q61 streaming-distinct contract,
    * keyed by user instead of globally). The projection then runs
    * q112's aggregation verbatim over the emitted frame — cohort =
    * min day, offsets, per-cell distinct users — so the stream
    * answers retention at any point without rescanning history. Day
    * is the epoch-day floor of UTC millis (bit-identical to
    * to_date(ts) under the pinned-UTC session); dates rebuild
    * columnar-side. Oracle is q112's SQL verbatim + a bit-equality
    * parity spec.
    */
  def q188_stream_retention(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, List[Long], (Long, Long)](
      spark, dir, Seq("user_id", "day"))(
      _.user_id)(Nil) { (u, seen, ordered) =>
        val fresh = ordered.map(e => math.floorDiv(e.ts.getTime, 86400000L))
          .distinct.filterNot(seen.contains).toList
        (fresh ::: seen, fresh.map(d => (u, d)).toVector)
      } { t =>
        // cohort via a user-partitioned window min instead of q112's
        // self-join: joining a memory-sink table to its own aggregate
        // trips Spark's conflicting-reference resolution (MemoryPlan
        // attributes don't dedup) — and the window is the same
        // user-keyed exchange the join would have paid anyway
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        t.select(col("user_id"),
            date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("day"))
          .withColumn("cohort", min(col("day")).over(w))
          .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("offset_days"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .select(col("cohort"), col("offset_days").cast("long").as("offset_days"),
            col("n_users"))
          .orderBy(col("cohort"), col("offset_days"))
      }
  }

  /** Same oracle as the batch retention — the point of the query. */
  val q188_stream_retention_sql: String = EventQueries.q112_cohort_retention_sql

  /** q191 — STREAMING journey patterns: q190's regexes compiled to
    * AUTOMATA — the SIXTEENTH pairing, and the true CEP streaming
    * story: the batch side scans a materialized history string with
    * 'v[^p]*p'; the stream cannot keep histories, so each pattern
    * becomes its one-bit machine (open-since-last-terminator), and
    * the per-user state is SIX SCALARS however long the history
    * grows — the regex ≡ automaton equivalence argument is in the
    * step's comment and the oracle (q190's SQL verbatim) proves it
    * on every user. Emissions carry the monotone event count;
    * max-seq compaction (q124) supersedes across batches.
    *
    * Automaton ≡ non-overlapping leftmost regex count: the engine's
    * scan resumes after each consumed terminator; the machine's
    * `open` flag arms at the first trigger symbol after the last
    * counted terminator and fires at the next terminator — the same
    * positions, pattern by pattern (the [^x]* body cannot cross its
    * terminator, so no other alignment exists).
    */
  def q191_stream_journeys(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    // state: (nEvents, nConv, openV, nErrShadow, openE, firstSym)
    graft.streaming.Pairing.run[Long, (Long, Long, Boolean, Long, Boolean, String),
        (Long, Long, Long, Long, Long, String)](
      spark, dir, Seq("user_id", "seq", "n_conversions", "n_error_shadowed", "n_events", "first_sym"))(
      _.user_id)((0L, 0L, false, 0L, false, "")) { (u, s0, ordered) =>
        var (n, conv, openV, errSh, openE, first) = s0
        ordered.foreach { e =>
          val c = e.event_type.charAt(0)
          n += 1
          if (first.isEmpty) first = c.toString
          if (c == 'v') openV = true
          if (c == 'e') openE = true
          if (c == 'p') {
            if (openV) { conv += 1; openV = false }
            if (openE) { errSh += 1; openE = false }
          }
        }
        ((n, conv, openV, errSh, openE, first),
          if (ordered.isEmpty) Vector.empty
          else Vector((u, n, conv, errSh, n, first)))
      } (_.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("n_conversions"), col("n_error_shadowed"),
            col("n_events"), col("first_sym"))).as("b"))
          .select(col("user_id"), col("b.n_events").as("n_events"),
            col("b.n_conversions").as("n_conversions"),
            col("b.n_error_shadowed").as("n_error_shadowed"),
            (col("b.first_sym") === "s").as("signup_first"))
          .orderBy(col("user_id")))
  }

  /** Same oracle as the batch pattern scan — the point of the query. */
  val q191_stream_journeys_sql: String = EventQueries.q190_journey_patterns_sql

  /** q194 — STREAMING audience overlap: q187's KMV set-operation
    * report maintained incrementally — the SEVENTEENTH pairing. The
    * sufficient statistic for EVERY pairwise overlap is the distinct
    * (user, type) incidence, so the state per user is ONE INT — a
    * bitmask over the label-bounded type alphabet — and emissions
    * fire only when a bit turns on; the mask is monotone, so max()
    * per user IS the compaction (no separate sequence). The
    * projection rebuilds the distinct frame from the masks and runs
    * q187's pipeline verbatim (shared code, shared oracle) — sketch
    * math, estimates, exact audit and all. One byte per user of
    * state answers continuous audience overlap at any moment; the
    * corpus never re-scans.
    */
  def q194_stream_overlap(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    graft.streaming.Pairing.run[Long, Int, (Long, Int)](
      spark, dir, Seq("user_id", "mask"))(
      _.user_id)(0) { (u, m0, ordered) =>
        var m = m0
        ordered.foreach { e =>
          val i = types.indexOf(e.event_type)
          // fail LOUDLY on alphabet drift: silently dropping an
          // unknown type would diverge from batch q187 (which sees
          // every type) without any error — the worst failure mode
          if (i < 0) throw new IllegalStateException(
            s"q194: event_type '${e.event_type}' outside the pinned alphabet " +
              s"$types — extend the bitmask alphabet to match batch q187")
          m |= (1 << i)
        }
        (m, if (m != m0) Vector((u, m)) else Vector.empty)
      } { t =>
        val du = t.groupBy(col("user_id")).agg(max(col("mask")).as("mask"))
          .select(col("user_id"), col("mask"), explode(sequence(lit(0), lit(4))).as("i"))
          .filter(expr("((mask >> i) & 1) = 1"))
          .select(
            element_at(array(types.map(lit): _*), col("i") + 1).as("event_type"),
            col("user_id"))
        EventQueries.kmvOverlapFrom(du)
      }
  }

  /** Same oracle as the batch overlap report — the point of the query. */
  val q194_stream_overlap_sql: String = EventQueries.q187_kmv_overlap_sql

  /** q195 — STREAMING Theil–Sen: q193's robust trend maintained
    * incrementally — the EIGHTEENTH pairing. State per type is the
    * day→cents map (CALENDAR-bounded — exactly the daily frame the
    * batch side collapses to first); each batch merges its events'
    * cents into the map and emits the whole series with a monotone
    * event count; max-seq compaction supersedes across batches, and
    * the projection replays q193's pairwise-median pipeline over the
    * reconstructed daily frame (shared code, shared oracle). The
    * pairwise expansion never touches the stream — it runs over the
    * label×calendar-bounded state image.
    */
  def q195_stream_theil_sen(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val epoch2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    graft.streaming.Pairing.run[String, (Long, Map[Long, Long]), (String, Long, Seq[Long], Seq[Long])](
      spark, dir, Seq("event_type", "seq", "days", "cents"))(
      _.event_type)((0L, Map.empty[Long, Long])) { (k, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { e =>
          val day = math.floorDiv(e.ts.getTime, 86400000L)
          val cents = graft.functions.Determinism.centsOfDouble(e.value)
          m = m.updated(day, m.getOrElse(day, 0L) + cents)
          seen += 1
        }
        val days = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((k, seen, days, days.map(m))))
      } { t =>
        val daily = t.groupBy(col("event_type"))
          .agg(max(struct(col("seq"), col("days"), col("cents"))).as("b"))
          .select(col("event_type"),
            explode(arrays_zip(col("b.days"), col("b.cents"))).as("z"))
          .select(col("event_type"),
            (col("z.days") - lit(epoch2024)).as("d"),
            col("z.cents").as("y"))
        TimeSeriesQueries.theilSenFrom(daily)
      }
  }

  /** Same oracle as the batch Theil–Sen — the point of the query. */
  val q195_stream_theil_sen_sql: String = TimeSeriesQueries.q193_theil_sen_sql

  /** q197 — STREAMING timed conversions: q196's within-1-hour CEP
    * pattern as its online machine — the NINETEENTH pairing. State
    * per user is FOUR LONGS (last view µs, last purchase µs, purchase
    * and conversion counters) + a view counter: the batch side's two
    * ignoreNulls window carries ARE this state, read off
    * incrementally; a purchase converts iff the carried view is
    * newer than the carried purchase and within the window —
    * evaluated in the same integer microseconds, so the decision is
    * bit-identical event for event (oracle q196 verbatim + parity
    * spec). The time constraint costs the stream nothing extra —
    * exactly why CEP engines run this shape online.
    */
  def q197_stream_timed_conversion(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long, Long, Long, Long), (Long, Long, Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "n_views", "n_purchases", "n_conversions_1h"))(
      _.user_id)((Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L)) { (u, s0, ordered) =>
        var (lastView, lastPurch, views, purchases, convs, seen) = s0
        ordered.foreach { e =>
          val us = e.ts.getTime * 1000L + e.ts.getNanos / 1000 % 1000
          seen += 1
          e.event_type match {
            case "view" =>
              views += 1; lastView = us
            case "purchase" =>
              purchases += 1
              if (lastView != Long.MinValue &&
                (lastPurch == Long.MinValue || lastView > lastPurch) &&
                us - lastView <= 3600L * 1000000L) convs += 1
              lastPurch = us
            case _ => ()
          }
        }
        ((lastView, lastPurch, views, purchases, convs, seen),
          if (ordered.isEmpty) Vector.empty
          else Vector((u, seen, views, purchases, convs)))
      } (_.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("n_views"), col("n_purchases"),
            col("n_conversions_1h"))).as("b"))
          .select(col("user_id"), col("b.n_views").as("n_views"),
            col("b.n_purchases").as("n_purchases"),
            col("b.n_conversions_1h").as("n_conversions_1h"))
          .orderBy(col("user_id")))
  }

  /** Same oracle as the batch pattern — the point of the query. */
  val q197_stream_timed_conversion_sql: String = EventQueries.q196_timed_conversion_sql

  /** q198 — STREAMING join-key skew profile: q153's planning report
    * maintained incrementally — the TWENTIETH pairing. The profiled
    * STREAM column (events.user_id — the one that actually arrives as
    * a stream at 100 TB) keeps ONE LONG of state per key: its running
    * row count, emitted monotonically, so max() per key is the
    * compaction and the counts-of-counts histogram is a label-bounded
    * projection over the compacted counts. The three static dims
    * (lineitem ×2, orders) are read at projection through the SHARED
    * staticHists — the q109 stream-static precedent: you stream what
    * streams, you scan what sits. Downstream (exact p50/p90/p99 over
    * the histogram, max/avg skew factors) is q153's skewProfileFrom
    * verbatim — shared code, shared oracle. Continuous skew telemetry
    * is exactly what sizes q83's salting and the AQE skew-join knobs
    * online; the corpus never re-scans for it.
    */
  def q198_stream_skew(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, Long, (Long, Long)](
      spark, dir, Seq("user_id", "cnt"))(
      _.user_id)(0L) { (u, c0, ordered) =>
        val c = c0 + ordered.size
        (c, if (ordered.isEmpty) Vector.empty else Vector((u, c)))
      } { t =>
        // cnt is monotone per user — max() IS the compaction
        val evHist = t.groupBy(col("user_id")).agg(max(col("cnt")).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("keys"))
          .select(lit("events.user_id").as("col_name"), col("c"), col("keys"))
        StatsQueries.skewProfileFrom(
          StatsQueries.staticHists(spark, dir).unionByName(evHist))
      }
  }

  /** Same oracle as the batch skew profile — the point of the query. */
  val q198_stream_skew_sql: String = StatsQueries.q153_skew_profile_sql

  /** q199 — STREAMING Kaplan–Meier survival: q159's per-cohort
    * churn-signal curves maintained incrementally — the
    * TWENTY-FIRST pairing. The sufficient statistic per user is
    * THREE DAY-NUMBERS: first-event day (min — monotone), first
    * `error` day (min over errors; sentinel when none), and the
    * user's own max day; the corpus horizon that right-censors
    * never-error users is just the max of the per-user maxima, so no
    * global state exists at all. Emissions supersede by a monotone
    * event count (max-by-seq compaction — q124's idiom); the
    * projection rebuilds the lifetimes frame from the compacted
    * state and reruns q159's survivalFrom verbatim — at-risk
    * windows, survival-product fold and all (shared code, shared
    * oracle). Continuous survival monitoring from 24 bytes of state
    * per user; the corpus never re-scans.
    */
  def q199_stream_survival(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val none = Long.MaxValue
    graft.streaming.Pairing.run[Long, (Long, Long, Long, Long), (Long, Long, Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "d0", "de", "dmax"))(
      _.user_id)((0L, none, none, Long.MinValue)) { (u, s0, ordered) =>
        var (seq, d0, de, dmax) = s0
        ordered.foreach { e =>
          val day = math.floorDiv(e.ts.getTime, 86400000L)
          seq += 1
          if (day < d0) d0 = day
          if (day > dmax) dmax = day
          if (e.event_type == "error" && day < de) de = day
        }
        ((seq, d0, de, dmax),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, d0, de, dmax)))
      } { t =>
        val cmp = t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("d0"), col("de"), col("dmax"))).as("b"))
          .select(col("user_id"), col("b.d0").as("d0"),
            col("b.de").as("de"), col("b.dmax").as("dmax"))
        val epoch = to_date(lit("1970-01-01"))
        val life = cmp.select(col("user_id"),
          date_add(epoch, col("d0").cast("int")).as("d0"),
          when(col("de") =!= lit(none), date_add(epoch, col("de").cast("int"))).as("de"))
        val mx = cmp.agg(date_add(epoch, max(col("dmax")).cast("int")).as("mx"))
        LifecycleQueries.survivalFrom(life, mx)
      }
  }

  /** Same oracle as the batch Kaplan–Meier — the point of the query. */
  val q199_stream_survival_sql: String = LifecycleQueries.q159_survival_sql

  /** q200 — STREAMING conversion-lag quantiles: q146's
    * view→purchase latency report maintained incrementally — the
    * TWENTY-SECOND pairing, and the APPEND-FACT pattern's cleanest
    * form: the per-user state machine is (first-view µs, converted?)
    * — nine bytes — and it emits exactly ONE (v_us, p_us) fact at the
    * moment the first post-view purchase lands (the canonical replay
    * order makes "first view" and "first later purchase" exact).
    * Facts never supersede, so there is no compaction at all; the
    * projection feeds the accumulated fact table to q146's
    * lagQuantilesFrom verbatim — dow histogram, exact p50/p90/p99
    * and all (shared code, shared oracle). This is the online
    * conversion-latency dashboard: each conversion contributes the
    * instant it happens.
    */
  def q200_stream_conversion_lag(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val noView = Long.MaxValue
    graft.streaming.Pairing.run[Long, (Long, Boolean), (Long, Long, Long)](
      spark, dir, Seq("user_id", "v_us", "p_us"))(
      _.user_id)((noView, false)) { (u, s0, ordered) =>
        var (vUs, done) = s0
        val out = Vector.newBuilder[(Long, Long, Long)]
        ordered.foreach { e =>
          val us = e.ts.getTime * 1000L + e.ts.getNanos / 1000 % 1000
          e.event_type match {
            case "view" if us < vUs => vUs = us
            case "purchase" if !done && us > vUs =>
              done = true
              out += ((u, vUs, us))
            case _ => ()
          }
        }
        ((vUs, done), out.result())
      } { t =>
        ReportQueries.lagQuantilesFrom(
          t.select(col("user_id"), col("v_us"), col("p_us")))
      }
  }

  /** Same oracle as the batch conversion-lag report — the point. */
  val q200_stream_conversion_lag_sql: String = ReportQueries.q146_conversion_lag_sql

  /** q201 — STREAMING A/B readout: q149's experiment dashboard
    * maintained incrementally — the TWENTY-THIRD pairing. The
    * per-user sufficient statistic is THREE LONGS (event count for
    * compaction, big-ticket-conversion flag, purchase cents total) —
    * 24 bytes of state; the arm assignment is a pure hash of the key,
    * so it lives in the projection, not the state. Emissions
    * supersede by the monotone event count (max-by-seq compaction,
    * q124's idiom); the projection reruns q149's abFrom verbatim —
    * pooled z, Welch t and all (shared code, shared oracle). This is
    * the live experiment monitor: every arriving purchase moves the
    * readout, and the corpus never re-scans.
    */
  def q201_stream_ab_test(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long), (Long, Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "conv", "c"))(
      _.user_id)((0L, 0L, 0L)) { (u, s0, ordered) =>
        var (seq, conv, c) = s0
        ordered.foreach { e =>
          seq += 1
          if (e.event_type == "purchase") {
            val cents = graft.functions.Determinism.centsOfDouble(e.value)
            c += cents
            if (cents >= 20000L) conv = 1L
          }
        }
        ((seq, conv, c),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, conv, c)))
      } { t =>
        StatsQueries.abFrom(t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("conv"), col("c"))).as("b"))
          .select(col("user_id"), col("b.conv").as("conv"), col("b.c").as("c")))
      }
  }

  /** Same oracle as the batch A/B readout — the point of the query. */
  val q201_stream_ab_test_sql: String = StatsQueries.q149_ab_test_sql

  /** q247 — STREAMING Mann–Whitney U: q246's rank-sum readout
    * maintained online — the SIXTY-FIFTH pairing, giving the robust
    * two-sample test the same online form its parametric sibling
    * q201 has. Per-user state is (rows seen, exact purchase cents) —
    * two longs, user-bounded like q201's; ranks never touch the
    * stream: the projection compacts the per-user revenue image and
    * replays q246's histogram + doubled-rank-sum tail verbatim
    * (shared mannWhitneyFrom, shared oracle).
    */
  def q247_stream_mann_whitney(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long), (Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "c"))(
      _.user_id)((0L, 0L)) { (u, s0, ordered) =>
        var (seq, c) = s0
        ordered.foreach { e =>
          seq += 1
          if (e.event_type == "purchase")
            c += graft.functions.Determinism.centsOfDouble(e.value)
        }
        ((seq, c),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, c)))
      } { t =>
        StatsQueries.mannWhitneyFrom(t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("c"))).as("b"))
          .select(col("user_id"), col("b.c").as("c")))
      }
  }

  /** Same oracle as the batch rank-sum readout — the point. */
  val q247_stream_mann_whitney_sql: String = StatsQueries.q246_mann_whitney_sql

  /** q265 — STREAMING Kolmogorov–Smirnov: q264's two-sample max-ECDF-
    * gap test maintained online — the SEVENTY-NINTH pairing, the
    * online "the arm changed SHAPE, not just level" monitor beside
    * the rank-sum (q247) and the location tests (q253). State is the
    * SAME per-user (seq, purchase-cents) accumulator q247 keeps —
    * one user-keyed stateful channel serves the whole two-sample
    * family; histogram, prefix sums, exact integer gap and the
    * D/√-scaled readout replay verbatim (shared ksFrom, shared
    * oracle).
    */
  def q265_stream_ks_test(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long), (Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "c"))(
      _.user_id)((0L, 0L)) { (u, s0, ordered) =>
        var (seq, c) = s0
        ordered.foreach { e =>
          seq += 1
          if (e.event_type == "purchase")
            c += graft.functions.Determinism.centsOfDouble(e.value)
        }
        ((seq, c),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, c)))
      } { t =>
        StatsQueries.ksFrom(t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("c"))).as("b"))
          .select(col("user_id"), col("b.c").as("c")))
      }
  }

  /** Same oracle as the batch KS readout — the point. */
  val q265_stream_ks_test_sql: String = StatsQueries.q264_ks_test_sql

  /** q267 — STREAMING Spearman: q266's engagement-vs-spend rank
    * correlation maintained online — the EIGHTIETH pairing, the live
    * "does activity still buy revenue" dial. State is the SAME
    * per-user (seq, purchase-cents) accumulator as q247/q265 — the
    * event count IS the seq the channel already tracks, so the ONE
    * user-keyed state now serves rank-sum, KS and the bivariate rank
    * correlation (the q254/q257 amortization on the user channel);
    * midrank maps, centered doubled ranks and the exact decimal
    * moments replay verbatim (shared spearmanFrom, shared oracle).
    */
  def q267_stream_spearman(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long), (Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "c"))(
      _.user_id)((0L, 0L)) { (u, s0, ordered) =>
        var (seq, c) = s0
        ordered.foreach { e =>
          seq += 1
          if (e.event_type == "purchase")
            c += graft.functions.Determinism.centsOfDouble(e.value)
        }
        ((seq, c),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, c)))
      } { t =>
        StatsQueries.spearmanFrom(t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("c"))).as("b"))
          .select(col("user_id"), col("b.seq").as("x"), col("b.c").as("y")))
      }
  }

  /** Same oracle as the batch Spearman readout — the point. */
  val q267_stream_spearman_sql: String = StatsQueries.q266_spearman_sql

  /** q275 — STREAMING Wilcoxon signed-rank: q274's paired
    * even-vs-odd-day spend test maintained online — the EIGHTY-SIXTH
    * pairing, completing the online rank family's paired member
    * (rank-sum q247, KS q265, Spearman q267 — all on the same user
    * channel; this one keeps TWO parity-split cents accumulators per
    * user). The JVM day-parity computation mirrors the batch
    * column's `unix_micros div 86400000000` exactly (epoch seconds ×
    * 10⁶ + nanos/1000, positive epochs → truncating and floor
    * division agree); histogram, midranks, 2W⁺ and the tie-corrected
    * readout replay verbatim (shared wilcoxonFrom, shared oracle).
    */
  def q275_stream_wilcoxon(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long), (Long, Long, Long, Long)](
      spark, dir, Seq("user_id", "seq", "ce", "co"))(
      _.user_id)((0L, 0L, 0L)) { (u, s0, ordered) =>
        var (seq, ce, co) = s0
        ordered.foreach { e =>
          seq += 1
          if (e.event_type == "purchase") {
            val micros = Math.floorDiv(e.ts.getTime, 1000L) * 1000000L +
              e.ts.getNanos / 1000L
            val c = graft.functions.Determinism.centsOfDouble(e.value)
            if (Math.floorDiv(micros, 86400000000L) % 2 == 0) ce += c else co += c
          }
        }
        ((seq, ce, co),
          if (ordered.isEmpty) Vector.empty else Vector((u, seq, ce, co)))
      } { t =>
        StatsQueries.wilcoxonFrom(t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("ce"), col("co"))).as("b"))
          .select(col("b.ce").as("ce"), col("b.co").as("co")))
      }
  }

  /** Same oracle as the batch signed-rank readout — the point. */
  val q275_stream_wilcoxon_sql: String = StatsQueries.q274_wilcoxon_sql

  /** q248 — STREAMING brute-force cosine top-k: q50's exact ANN
    * baseline over the EMBEDDINGS stream — the SIXTY-SIXTH pairing,
    * and the vector family's first online form: an ingest-time
    * index whose serve answers are bit-identical to the batch
    * baseline. State per vec_id is the compacted (rows seen, latest
    * vector) image — exactly what a production online vector index
    * maintains per id (re-ingested ids re-emit; the compaction keeps
    * the latest image, the q124 idiom). The scoring never runs on
    * the stream: the projection rebuilds the (vec_id, embedding)
    * frame and replays q50's broadcast-probe + per-probe top-5 tail
    * verbatim (shared annTopkFrom, shared oracle — the sink
    * self-joins through runStream's localCheckpoint).
    */
  def q248_stream_ann_topk(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.Pairing.VecRow]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.VecRow,
        Long, (Long, Seq[Float]), (Long, Long, Seq[Float])](
      spark, st, Seq("vec_id", "seq", "emb"), r => (r.vec_id, 0L))(
      _.vec_id)((0L, Seq.empty[Float])) { (id, s0, ordered) =>
        val seq = s0._1 + ordered.size
        val emb = if (ordered.isEmpty) s0._2 else ordered.last.embedding
        ((seq, emb),
          if (ordered.isEmpty) Vector.empty else Vector((id, seq, emb)))
      } { t =>
        VectorQueries.annTopkFrom(t.groupBy(col("vec_id"))
          .agg(max(struct(col("seq"), col("emb"))).as("b"))
          .select(col("vec_id"), col("b.emb").as("embedding")))
      }
  }

  /** Same oracle as the batch brute-force top-k — the point. */
  val q248_stream_ann_topk_sql: String = VectorQueries.q50_ann_topk_sql

  /** q251 — STREAMING IVF top-k: q51's cell-pruned serve over the
    * EMBEDDINGS stream — the SIXTY-EIGHTH pairing, the SCALE path of
    * the online vector index q248 baselines (a probe touches ~2/k of
    * the corpus, not all of it). Same per-vec_id compacted state;
    * the projection rebuilds the corpus, re-derives the count-pinned
    * centroid set from the REBUILT frame (same count → same modulus
    * → same centroids as batch), re-assigns cells and serves the
    * 2-probe top-3 verbatim (shared ivfTopkFrom, shared oracle).
    */
  def q251_stream_ivf_topk(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.Pairing.VecRow]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.VecRow,
        Long, (Long, Seq[Float]), (Long, Long, Seq[Float])](
      spark, st, Seq("vec_id", "seq", "emb"), r => (r.vec_id, 0L))(
      _.vec_id)((0L, Seq.empty[Float])) { (id, s0, ordered) =>
        val seq = s0._1 + ordered.size
        val emb = if (ordered.isEmpty) s0._2 else ordered.last.embedding
        ((seq, emb),
          if (ordered.isEmpty) Vector.empty else Vector((id, seq, emb)))
      } { t =>
        VectorQueries.ivfTopkFrom(t.groupBy(col("vec_id"))
          .agg(max(struct(col("seq"), col("emb"))).as("b"))
          .select(col("vec_id"), col("b.emb").as("embedding")))
      }
  }

  /** Same oracle as the batch IVF serve — the point. */
  val q251_stream_ivf_topk_sql: String = VectorQueries.q51_ivf_topk_sql

  /** q271 — STREAMING semantic dedup: q86's SemDeDup cell-pruned
    * near-dup removal over the EMBEDDINGS stream — the EIGHTY-FOURTH
    * pairing, completing the online vector family (serve: q248
    * brute-force, q251 IVF; now CURATION: which just-ingested
    * vectors are semantic dups of the corpus so far). Same per-vec_id
    * compacted embedding state as q248/q251; the projection rebuilds
    * the corpus and re-derives the count-pinned centroid set FROM
    * THE REBUILT FRAME (same count → same modulus → same centroids
    * as batch — the q251 lesson, now shared via semdedupFrom), then
    * replays cell assignment, within-cell pairs and the keep-lowest
    * rule verbatim (shared oracle + parity spec).
    */
  def q271_stream_semdedup(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.Pairing.VecRow]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.VecRow,
        Long, (Long, Seq[Float]), (Long, Long, Seq[Float])](
      spark, st, Seq("vec_id", "seq", "emb"), r => (r.vec_id, 0L))(
      _.vec_id)((0L, Seq.empty[Float])) { (id, s0, ordered) =>
        val seq = s0._1 + ordered.size
        val emb = if (ordered.isEmpty) s0._2 else ordered.last.embedding
        ((seq, emb),
          if (ordered.isEmpty) Vector.empty else Vector((id, seq, emb)))
      } { t =>
        VectorQueries.semdedupFrom(t.groupBy(col("vec_id"))
          .agg(max(struct(col("seq"), col("emb"))).as("b"))
          .select(col("vec_id"), col("b.emb").as("embedding")))
      }
  }

  /** Same oracle as the batch SemDeDup — the point. */
  val q271_stream_semdedup_sql: String = VectorQueries.q86_semdedup_sql

  /** q282 — STREAMING IVF+PQ serve: q166's two-stage production ANN
    * path over the EMBEDDINGS stream — the NINETY-THIRD pairing,
    * completing the online vector family's SERVING ladder (q248
    * exact flat, q251 IVF coarse, now IVF + int8 PQ shortlist +
    * exact rerank — the FAISS-style path a production recall/latency
    * trade actually ships). Same per-vec_id compacted state; the
    * projection rebuilds the corpus and derives centroids, int8
    * codes and both ranking stages from the REBUILT frame (the
    * count-pinned seed rule travels with it — shared ivfPqFrom,
    * shared oracle).
    */
  def q282_stream_ivf_pq(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[graft.streaming.Pairing.VecRow]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.VecRow,
        Long, (Long, Seq[Float]), (Long, Long, Seq[Float])](
      spark, st, Seq("vec_id", "seq", "emb"), r => (r.vec_id, 0L))(
      _.vec_id)((0L, Seq.empty[Float])) { (id, s0, ordered) =>
        val seq = s0._1 + ordered.size
        val emb = if (ordered.isEmpty) s0._2 else ordered.last.embedding
        ((seq, emb),
          if (ordered.isEmpty) Vector.empty else Vector((id, seq, emb)))
      } { t =>
        VectorQueries.ivfPqFrom(t.groupBy(col("vec_id"))
          .agg(max(struct(col("seq"), col("emb"))).as("b"))
          .select(col("vec_id"), col("b.emb").as("embedding")))
      }
  }

  /** Same oracle as the batch IVF+PQ serve — the point. */
  val q282_stream_ivf_pq_sql: String = VectorQueries.q166_ivf_pq_sql

  /** q253 — STREAMING Mood's median test: q252's k-sample robust
    * location test maintained online — the SIXTY-NINTH pairing,
    * joining the online robust-stats family (q247 rank-sum, q204
    * MAD, q195 Theil–Sen). The streaming aggregation maintains the
    * same (type, cents) value histogram the batch query collapses to
    * (label×value-domain-bounded state — the q170 complete-mode
    * idiom); the pooled-median + chi-square tail replays verbatim
    * over the compacted histogram (shared medianTestFrom, shared
    * oracle; the sink's multiple derivations ride the checkpoint
    * toMemory's drain already applied — never a second one here,
    * SourceLintSpec pins that).
    */
  def q253_stream_median_test(spark: SparkSession, dir: String): DataFrame = {
    val hist = EventFlow(Tables.stream(spark, dir, "events")
        .groupBy(col("event_type"), StatsQueries.cents(col("value")).as("c"))
        .agg(count(lit(1)).as("cnt")))
      .toMemory(spark, "complete")
    StatsQueries.medianTestFrom(hist)
  }

  /** Same oracle as the batch median test — the point. */
  val q253_stream_median_test_sql: String = StatsQueries.q252_median_test_sql

  /** q263 — STREAMING Kruskal–Wallis: q262's k-sample rank test over
    * the EVENTS stream — the SEVENTY-EIGHTH pairing, the rank
    * family's online k-sample form (the monitor that says "one of
    * the k event types drifted in DISTRIBUTION, not just location"
    * the trigger it happens). State is the SAME (event_type, cents)
    * histogram q253's median test maintains — one online value
    * histogram serves both robust k-sample reports, the q254/q257
    * amortization on the events side; midranks, doubled rank sums
    * and the normalized tie-corrected H replay verbatim (shared
    * kruskalWallisFrom, shared oracle).
    */
  def q263_stream_kruskal_wallis(spark: SparkSession, dir: String): DataFrame = {
    val hist = EventFlow(Tables.stream(spark, dir, "events")
        .groupBy(col("event_type"), StatsQueries.cents(col("value")).as("c"))
        .agg(count(lit(1)).as("cnt")))
      .toMemory(spark, "complete")
    StatsQueries.kruskalWallisFrom(hist)
  }

  /** Same oracle as the batch Kruskal–Wallis — the point. */
  val q263_stream_kruskal_wallis_sql: String = StatsQueries.q262_kruskal_wallis_sql

  /** q254 — STREAMING Zipf monitor: q100's per-language rank-
    * frequency slope over the DOCUMENTS stream — the SEVENTIETH
    * pairing, the ingest-time "is this crawl's token distribution
    * still natural-language-shaped" check (a Zipf slope drifting
    * from ≈−1 flags boilerplate floods or spam injection before
    * they hit training). The streaming aggregation maintains the
    * (lang, tok, c) vocabulary histogram — the state any online LM
    * stats pipeline keeps; tokenization is stateless in-plan prep
    * (the SHARED TA.tokens expression, so counts cannot drift). The
    * rank window + decq log fit replays verbatim over the compacted
    * histogram (shared zipfFrom, shared oracle).
    */
  def q254_stream_zipf(spark: SparkSession, dir: String): DataFrame = {
    val freq = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("lang"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c")))
      .toMemory(spark, "complete")
    TextQueries.zipfFrom(freq)
  }

  /** Same oracle as the batch Zipf fit — the point. */
  val q254_stream_zipf_sql: String = TextQueries.q100_zipf_slope_sql

  /** q255 — STREAMING count-min heavy hitters: q59's sketch-vs-exact
    * audit over the DOCUMENTS stream — the SEVENTY-FIRST pairing,
    * the sketch family's second online form (q231 audits KMV/HLL
    * distinct; this audits CMS point frequency). The streaming
    * aggregation maintains the (tok, h, exact_n) count state; the
    * projection rebuilds the d×w COUNTER MATRIX from that state by
    * CMS LINEARITY — the sketch of a token stream is exactly the
    * sketch of its aggregated counts, cell for cell what the batch
    * UDAF folds (same perms, same mod-P bucket arithmetic, Long
    * wrap included) — then takes each heavy token's min cell and
    * applies q59's shared threshold + tolerance expressions
    * (hhIsHeavy / hhCmsInTol, shared oracle).
    */
  def q255_stream_heavy_hitters(spark: SparkSession, dir: String): DataFrame = {
    val depth = 5; val width = 2048
    val counts = EventFlow(Tables.stream(spark, dir, "documents")
        .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("tok"),
          pmod(hash60(col("tok")), lit(graft.operators.Dedup.P)).as("h"))
        .groupBy(col("tok"), col("h")).agg(count(lit(1)).as("exact_n")))
      .toMemory(spark, "complete")
    def cellKeys = (0 until depth).map { j =>
      val (a, c) = graft.operators.Dedup.perms(j)
      struct(lit(j).as("j"),
        pmod(pmod(lit(a) * col("h") + lit(c), lit(graft.operators.Dedup.P)),
          lit(width)).as("b"))
    }
    val cells = counts.select(col("exact_n"), explode(array(cellKeys: _*)).as("rb"))
      .groupBy(col("rb.j").as("j"), col("rb.b").as("b"))
      .agg(sum(col("exact_n")).as("cell"))
    val global = counts.agg(sum(col("exact_n")).as("n_total"))
    counts.join(broadcast(global))
      .filter(TextQueries.hhIsHeavy(col("exact_n"), col("n_total")))
      .select(col("tok"), col("exact_n"), col("n_total"),
        explode(array(cellKeys: _*)).as("rb"))
      .join(cells, col("rb.j") === cells("j") && col("rb.b") === cells("b"))
      .groupBy(col("tok"), col("exact_n"), col("n_total"))
      .agg(min(col("cell")).as("est"))
      .select(col("tok"), col("exact_n"),
        TextQueries.hhCmsInTol(col("est"), col("exact_n"), col("n_total"), width)
          .as("cms_in_tol"))
      .orderBy(col("tok"))
  }

  /** Same oracle as the batch heavy-hitter audit — the point. */
  val q255_stream_heavy_hitters_sql: String = TextQueries.q59_heavy_hitters_sql

  /** q256 — STREAMING PMI collocations: q104's top-scoring adjacent
    * pairs over the DOCUMENTS stream — the SEVENTY-SECOND pairing,
    * the online collocation monitor (tokenizer-merge candidates and
    * boilerplate phrases surface as they enter the corpus, not at
    * the next batch rebuild). ONE complete-mode aggregation (r16 —
    * previously TWO full stream passes) maintains the unigram and
    * bigram count histograms as one tagged state: each doc explodes
    * into unigram entries (x = tok, y = NULL — arrays_zip against a
    * same-length null array, codegen'd, no HOF) concatenated with
    * the SHARED adjacent-pair entries (x, y), so one scan + one
    * shuffle + one state operator carry exactly the union of the two
    * histograms (vocab- + observed-bigram-bounded, the same state
    * rows as before — y's nullness is the tag, and tokenizer output
    * is never null, so the split-back is exact). The scoring join +
    * decq log PMI + top-k replay verbatim (shared pmiFrom, shared
    * oracle).
    */
  def q256_stream_pmi(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val tk = TA.tokens(col("text"))
    val uniE = arrays_zip(tk.as("x"),
      array_repeat(lit(null).cast("string"), size(tk)).as("y"))
    // raw text through an exchange before the tokenize+explode —
    // the q259/q261 single-file micro-batch scan lesson
    val hist = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(explode(concat(uniE, TA.adjacentPairs(tk))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c")))
      .toMemory(spark, "complete")
    TextQueries.pmiFrom(
      hist.filter(col("y").isNull).select(col("x").as("tok"), col("c")),
      hist.filter(col("y").isNotNull)
        .select(col("x"), col("y"), col("c").as("c_xy")))
  }

  /** Same oracle as the batch PMI collocations — the point. */
  val q256_stream_pmi_sql: String = TextQueries.q104_pmi_collocations_sql

  /** q257 — STREAMING vocabulary coverage: q79's "how many ranked
    * types cover 90/95/99% of tokens" curve over the DOCUMENTS
    * stream — the SEVENTY-THIRD pairing, the tokenizer-sizing
    * monitor maintained at ingest over the SAME (lang, tok, c)
    * histogram state as q254's Zipf fit (one online vocabulary
    * histogram serves both reports — exactly how a production LM
    * stats pipeline amortizes its state). Coverage ranks + cutoffs
    * replay verbatim (shared vocabCoverageFrom, shared oracle).
    */
  def q257_stream_vocab_coverage(spark: SparkSession, dir: String): DataFrame = {
    val freq = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("lang"),
          explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c")))
      .toMemory(spark, "complete")
    TextQueries.vocabCoverageFrom(freq)
  }

  /** Same oracle as the batch vocabulary coverage — the point. */
  val q257_stream_vocab_coverage_sql: String = TextQueries.q79_vocab_coverage_sql

  /** q258 — STREAMING tf-idf cosine pairs: q105's shared-term
    * near-dup report over the DOCUMENTS stream — the SEVENTY-FOURTH
    * pairing, putting the content-similarity monitor online (template
    * families and boilerplate clusters surface as docs ingest, not at
    * the next batch sweep). State keys by DOC (r16, the q261 per-doc
    * fold): each doc's token histogram (doc-size bounded), folded per
    * batch and monotonically growing — the previous form kept a
    * complete-mode (doc_id, tok, tf) aggregation whose state AND
    * per-trigger sink image were distinct-(doc, token)-sized, plus a
    * SECOND full stream pass for the 1-row corpus size. The per-doc
    * fold keeps the same information in doc-count state rows, emits
    * doc-count sink rows, and the corpus size DERIVES from the
    * compacted doc universe (every doc enters state, including ones
    * the tokenizer empties — their histogram is just empty, exactly
    * the docs the batch tokc frame drops but nd still counts). The
    * projection compacts to each doc's latest image (max by total
    * token count — growth is monotone), re-explodes the histogram
    * and replays df counts, idf weights, norms and the pair join
    * verbatim (shared tfidfPairsFrom, shared oracle).
    */
  def q258_stream_tfidf_pairs(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    // raw text through an exchange before the interpreted tokenize —
    // the q259/q261 single-file micro-batch scan lesson
    val base = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), TA.tokens(col("text")).as("ts"))
      .as[graft.streaming.Pairing.DocSet]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocSet,
        Long, (Seq[String], Seq[Long]), (Long, Long, Seq[String], Seq[Long])](
      spark, base, Seq("doc_id", "n", "toks", "tfs"), d => (d.doc_id, 0L))(
      _.doc_id)((Seq.empty[String], Seq.empty[Long])) { (id, s0, ordered) =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        s0._1.iterator.zip(s0._2.iterator).foreach { case (t, c) => m(t) = c }
        ordered.iterator.flatMap(_.ts).foreach(t => m(t) = m.getOrElse(t, 0L) + 1L)
        val sorted = m.toSeq.sortBy(_._1)
        val s1 = (sorted.map(_._1), sorted.map(_._2))
        (s1, if (ordered.isEmpty) Vector.empty
             else Vector((id, s1._2.sum, s1._1, s1._2)))
      } { t =>
        val compact = t.groupBy(col("doc_id"))
          .agg(max(struct(col("n"), col("toks"), col("tfs"))).as("b"))
          .select(col("doc_id"), col("b.toks").as("toks"), col("b.tfs").as("tfs"))
        val tokc = compact
          .select(col("doc_id"), explode(arrays_zip(col("toks"), col("tfs"))).as("z"))
          .select(col("doc_id"), col("z.toks").as("tok"), col("z.tfs").as("tf"))
        TextQueries.tfidfPairsFrom(tokc, compact.agg(count(lit(1)).as("n")))
      }
  }

  /** Same oracle as the batch tf-idf pairs — the point. */
  val q258_stream_tfidf_pairs_sql: String = TextQueries.q105_tfidf_pairs_sql

  /** q259 — STREAMING bigram perplexity: q107's corpus-LM fluency
    * gate over the DOCUMENTS stream — the SEVENTY-FIFTH pairing, the
    * online form of the CCNet-style quality filter (a doc's keep
    * flag is ready the trigger after it ingests, scored against the
    * corpus LM as of that trigger). State keys by DOC (r16, the q261
    * per-doc fold): each doc's (lang, bigram → cnt) histogram
    * (doc-size bounded), folded per batch and monotonically growing —
    * the previous form kept a complete-mode (doc_id, lang, x, y, cnt)
    * aggregation whose state AND per-trigger sink image were
    * distinct-(doc, bigram)-sized. Corpus frequencies, prefix totals
    * and vocabulary all DERIVE from the compacted histogram in the
    * projection (shared bigramPerplexityFrom, shared oracle). The
    * bigram zip runs in the fold (tokens.zip(tokens.tail) — the
    * definition of adjacent pairs), so the shuffle into the state
    * operator carries each doc's token array once.
    */
  def q259_stream_bigram_perplexity(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    // raw text through an exchange before the interpreted tokenize —
    // the q107 batch lesson applied to the single-file micro-batch
    // scan (see q261)
    val base = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), TA.tokens(col("text")).as("ts"))
      .as[graft.streaming.Pairing.DocLang]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocLang,
        Long, (String, Seq[String], Seq[String], Seq[Long]),
        (Long, String, Long, Seq[String], Seq[String], Seq[Long])](
      spark, base, Seq("doc_id", "lang", "n", "xs", "ys", "cnts"),
      d => (d.doc_id, 0L))(
      _.doc_id)(("", Seq.empty[String], Seq.empty[String], Seq.empty[Long])) {
      (id, s0, ordered) =>
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        s0._2.indices.foreach(i => m((s0._2(i), s0._3(i))) = s0._4(i))
        ordered.iterator.foreach(d =>
          d.ts.iterator.zip(d.ts.iterator.drop(1)).foreach(bg =>
            m(bg) = m.getOrElse(bg, 0L) + 1L))
        val lang = ordered.headOption.map(_.lang).getOrElse(s0._1)
        val sorted = m.toSeq.sortBy(_._1)
        val s1 = (lang, sorted.map(_._1._1), sorted.map(_._1._2), sorted.map(_._2))
        (s1, if (ordered.isEmpty) Vector.empty
             else Vector((id, lang, s1._4.sum, s1._2, s1._3, s1._4)))
      } { t =>
        val bgc = t.groupBy(col("doc_id"))
          .agg(max(struct(col("n"), col("lang"), col("xs"), col("ys"), col("cnts"))).as("b"))
          .select(col("doc_id"), col("b.lang").as("lang"),
            explode(arrays_zip(col("b.xs").as("xs"), col("b.ys").as("ys"),
              col("b.cnts").as("cnts"))).as("z"))
          .select(col("doc_id"), col("lang"), col("z.xs").as("x"),
            col("z.ys").as("y"), col("z.cnts").as("cnt"))
        TextQueries.bigramPerplexityFrom(bgc)
      }
  }

  /** Same oracle as the batch bigram perplexity — the point. */
  val q259_stream_bigram_perplexity_sql: String =
    TextQueries.q107_bigram_perplexity_sql

  /** q268 — STREAMING BM25: q89's lexical ranker over the DOCUMENTS
    * stream — the EIGHTY-FIRST pairing, the online form of the
    * retrieval arm (a production search service never rebuilds its
    * index per batch sweep; it maintains postings + doc lengths as
    * docs ingest and scores queries against the live stats). State
    * keys by DOC (r16, the q261 per-doc fold): each doc's length AND
    * its query-term-filtered token histogram live in ONE state row
    * (term-bounded — at most |bm25Terms| histogram entries per doc),
    * folded per batch and monotonically growing — the previous form
    * ran TWO full stream passes (a postings aggregation and a
    * separate corpus-wide length table; N and avgdl need docs with NO
    * query-term hits, which is why the length side could not be a
    * projection of the postings). The per-doc fold carries both in
    * one pass: every doc enters state, docs without hits just carry
    * an empty histogram, and the projection splits the compacted
    * image back into the postings and length frames (df counts, N and
    * avgdl all DERIVE — BM25's corpus stats are functions of the
    * state, never a third aggregation). Scoring + the top-20 rank
    * tail replay verbatim (shared bm25RankedFrom, shared oracle).
    */
  def q268_stream_bm25(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    val terms = TextQueries.bm25Terms.toSet
    // raw text through an exchange before the interpreted tokenize —
    // the q259/q261 single-file micro-batch scan lesson
    val base = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), TA.tokens(col("text")).as("ts"))
      .as[graft.streaming.Pairing.DocSet]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocSet,
        Long, (Long, Seq[String], Seq[Long]), (Long, Long, Seq[String], Seq[Long])](
      spark, base, Seq("doc_id", "dl", "toks", "tfs"), d => (d.doc_id, 0L))(
      _.doc_id)((0L, Seq.empty[String], Seq.empty[Long])) { (id, s0, ordered) =>
        var dl = s0._1
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        s0._2.iterator.zip(s0._3.iterator).foreach { case (t, c) => m(t) = c }
        ordered.iterator.foreach { d =>
          dl += d.ts.length
          d.ts.iterator.filter(terms).foreach(t => m(t) = m.getOrElse(t, 0L) + 1L)
        }
        val sorted = m.toSeq.sortBy(_._1)
        val s1 = (dl, sorted.map(_._1), sorted.map(_._2))
        (s1, if (ordered.isEmpty) Vector.empty
             else Vector((id, dl, s1._2, s1._3)))
      } { t =>
        val compact = t.groupBy(col("doc_id"))
          .agg(max(struct(col("dl"), col("toks"), col("tfs"))).as("b"))
          .select(col("doc_id"), col("b.dl").as("dl"),
            col("b.toks").as("toks"), col("b.tfs").as("tfs"))
        val tf = compact
          .select(col("doc_id"), explode(arrays_zip(col("toks"), col("tfs"))).as("z"))
          .select(col("doc_id"), col("z.toks").as("tok"), col("z.tfs").as("tf"))
        TextQueries.bm25RankedFrom(tf, compact.select(col("doc_id"), col("dl")))
      }
  }

  /** Same oracle as the batch BM25 ranking — the point. */
  val q268_stream_bm25_sql: String = TextQueries.q89_bm25_sql

  /** q269 — STREAMING Jensen–Shannon divergence: q101's pairwise
    * source-language drift matrix over the DOCUMENTS stream — the
    * EIGHTY-SECOND pairing, the online form of the mixture-tuning
    * diagnostic (read live beside the Zipf monitor q254 and the
    * source-overlap audit: "did this crawl batch move source A's
    * language away from source B's"). ONE complete-mode aggregation
    * maintains the (source, tok, c) unigram histogram — q257's
    * (lang, tok) state keyed by source, distinct-(source, token)
    * bounded; totals, probabilities, the intersection-only pair join
    * and the decomposed JS combine replay verbatim (shared
    * jsDivergenceFrom, shared oracle).
    */
  def q269_stream_js_divergence(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    // raw text through an exchange before the interpreted tokenize
    // explode — the q259/q261 single-file micro-batch scan lesson
    val freq = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("source"), explode(TA.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c")))
      .toMemory(spark, "complete")
    TextQueries.jsDivergenceFrom(freq)
  }

  /** Same oracle as the batch JS divergence — the point. */
  val q269_stream_js_divergence_sql: String =
    TextQueries.q101_js_divergence_sql

  /** q270 — STREAMING decontamination: q75's eval-set 5-gram overlap
    * check over the DOCUMENTS stream — the EIGHTY-THIRD pairing, and
    * the one a training-data pipeline most obviously wants ONLINE:
    * benchmark leakage must be caught at ingest, not at the next
    * batch sweep before a training run. State keys by DOC (r16, the
    * q261 per-doc fold — q261's shape verbatim, one gram longer):
    * each doc's sorted distinct 5-gram set (doc-size bounded), folded
    * per batch and monotonically growing — the previous form kept a
    * complete-mode (doc_id, shingle, cnt) aggregation whose state AND
    * per-trigger sink image were distinct-(doc, shingle)-sized. The
    * projection compacts to each doc's latest image (max by set size
    * — growth is monotone), re-explodes the membership and replays
    * the eval split (doc_id % 31), broadcast semi-join and per-doc
    * distinct count verbatim (shared decontaminateFrom, shared oracle
    * — the tail is dup-insensitive by construction, which is exactly
    * what lets the compacted membership state stand in for the
    * exploded batch frame).
    */
  def q270_stream_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    // raw text through an exchange before the interpreted
    // tokenize+shingle pipeline — the q259/q261 scan lesson
    val base = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        array_sort(array_distinct(TA.shingles(TA.tokens(col("text")), 5))).as("ts"))
      .as[graft.streaming.Pairing.DocSet]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocSet,
        Long, Seq[String], (Long, Seq[String])](
      spark, base, Seq("doc_id", "ts"), d => (d.doc_id, 0L))(
      _.doc_id)(Seq.empty[String]) { (id, s0, ordered) =>
        val merged = (s0 ++ ordered.flatMap(_.ts)).distinct.sorted
        (merged, if (ordered.isEmpty) Vector.empty else Vector((id, merged)))
      } { t =>
        TextQueries.decontaminateFrom(
          t.groupBy(col("doc_id"))
            .agg(max(struct(size(col("ts")).as("n"), col("ts").as("ts"))).as("b"))
            .select(col("doc_id"), explode(col("b.ts")).as("s")))
      }
  }

  /** Same oracle as the batch decontamination — the point. */
  val q270_stream_decontaminate_sql: String =
    TextQueries.q75_decontaminate_sql

  /** The online MinHash index state, rebuilt as a signature frame:
    * TWO complete-mode aggregations — the (doc_id) universe (a
    * shingle-less doc still needs its sentinel signature) and the
    * (doc_id, shingle-hash) membership (dup rows harmless — min is
    * dup-insensitive, see sigFromHashes). Shared by the q276/q277
    * twins, which are two readouts of ONE index state — exactly how
    * a production dedup service serves both its candidate-pair feed
    * and its cluster assignment from one maintained index.
    *
    * The sharing is REALIZED, not conceptual (ADVICE r14): the built
    * index frame is memoized per (SparkContext, corpus dir), so
    * within a process whichever twin runs first pays the stream
    * build and the other serves off the same eagerly-checkpointed
    * state — the amortization the docstrings claim. The memo
    * invalidates on a stopped/recycled context or a different dir;
    * checkpointed RDDs are outside the catalog cache, so the bench's
    * between-query clearCache() leaves the maintained index alone
    * (by design — q73's persistent postings get the same treatment
    * via warm()).
    */
  @volatile private var sigMemo:
      (org.apache.spark.SparkContext, String, DataFrame, Seq[DataFrame]) = null
  private def streamSigFrame(spark: SparkSession, dir: String): DataFrame = synchronized {
    val sc = spark.sparkContext
    if (sigMemo == null || (sigMemo._1 ne sc) || sc.isStopped ||
        sigMemo._2 != dir) {
      // release the superseded index's checkpoint blocks before the
      // memo pointer moves (ADVICE r15): on a dir change within one
      // live context (e.g. Bench's main-SF → aux-sf0.01 transition)
      // the old eagerly-checkpointed frames would otherwise pin
      // executor storage until the ContextCleaner got around to them
      // — the same heap-accumulation class toMemory's release targets.
      if (sigMemo != null && (sigMemo._1 eq sc) && !sc.isStopped)
        sigMemo._4.foreach(releaseCheckpoint)
      val (sig, ckpts) = buildSigFrame(spark, dir)
      sigMemo = (sc, dir, sig, ckpts)
    }
    sigMemo._3
  }
  /** Unpersist the RDD behind an eagerly localCheckpoint'ed frame
    * (its plan is a LogicalRDD leaf; a plain `.rdd.unpersist` would
    * only touch a derived MapPartitionsRDD, not the pinned blocks). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ =>
    }
  private def buildSigFrame(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    val TA = graft.operators.TextAnalysis
    // no extra localCheckpoint here: toMemory already returns its
    // eagerly-checkpointed LogicalRDD — a second
    // checkpoint would double the pinned copy AND hide the inner one
    // from releaseCheckpoint (the memo release would then free only
    // the outer copy while the corpus-sized inner blocks lingered
    // until the ContextCleaner got to them)
    val ids = EventFlow(Tables.stream(spark, dir, "documents")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("cnt")))
      .toMemory(spark, "complete")
    // raw text through an exchange before the interpreted
    // tokenize+shingle explode — the q259/q261 scan lesson
    val hashes = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          explode(TA.shingles(TA.tokens(col("text")), 3)).as("s"))
        .select(col("doc_id"), graft.operators.Dedup.baseHash(col("s")).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("cnt")))
      .toMemory(spark, "complete")
    (TextQueries.sigFromHashes(
      ids.select(col("doc_id")), hashes.select(col("doc_id"), col("h"))),
      Seq(ids, hashes))
  }

  /** q276 — STREAMING MinHash-LSH candidate pairs: q45's near-dup
    * candidate feed over the DOCUMENTS stream — the EIGHTY-SEVENTH
    * pairing, putting the dedup family's MINHASH end online (exact
    * q239, cosine q258, typo q260, set-overlap q261, semantic q271 —
    * this is the banded-signature workhorse between them). State is
    * the online MinHash index (doc universe + shingle-hash
    * membership); signatures, banding and in-bucket pair expansion
    * replay verbatim (shared sigFromHashes + minhashPairsFrom,
    * shared oracle).
    */
  def q276_stream_minhash_pairs(spark: SparkSession, dir: String): DataFrame =
    TextQueries.minhashPairsFrom(streamSigFrame(spark, dir))

  /** Same oracle as the batch LSH pairs — the point. */
  val q276_stream_minhash_pairs_sql: String =
    TextQueries.q45_minhash_lsh_pairs_sql

  /** q277 — STREAMING near-dup clustering: q54's connected-component
    * cluster assignment over the DOCUMENTS stream — the
    * EIGHTY-EIGHTH pairing, the SECOND readout of q276's index state
    * (one maintained index serves the candidate feed AND the cluster
    * map — the amortization a production dedup service runs on);
    * signatures, banding, pair expansion and the CC label
    * propagation replay verbatim (shared dedupClustersFrom, shared
    * recursive-CTE oracle).
    */
  def q277_stream_dedup_clusters(spark: SparkSession, dir: String): DataFrame =
    TextQueries.dedupClustersFrom(streamSigFrame(spark, dir))

  /** Same oracle as the batch dedup clusters — the point. */
  val q277_stream_dedup_clusters_sql: String =
    TextQueries.q54_dedup_clusters_sql

  /** q278 — STREAMING source-overlap matrix: q95's verbatim
    * window-overlap audit over the DOCUMENTS stream — the
    * EIGHTY-NINTH pairing, the contamination dial read beside the
    * statistical JS drift (q269): "how much VERBATIM text do sources
    * share as of this trigger". State is the compacted (doc_id,
    * source, text) doc store — the q260 rep-text idiom: an exact
    * verbatim-window auditor NEEDS the text, so the text IS the
    * state; rolling-window hashes, candidate windows and the
    * source-set pair expansion replay verbatim (shared
    * sourceOverlapFrom, shared oracle).
    */
  def q278_stream_source_overlap(spark: SparkSession, dir: String): DataFrame = {
    val d = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("source"), col("text"))).as("b")))
      .toMemory(spark, "complete")
    TextQueries.sourceOverlapFrom(d
      .select(col("doc_id"), col("b.source").as("source"), col("b.text").as("text")))
  }

  /** Same oracle as the batch source overlap — the point. */
  val q278_stream_source_overlap_sql: String =
    TextQueries.q95_source_overlap_sql

  /** q279 — STREAMING BPE merge step: q92's next-merge candidate
    * ranking over the DOCUMENTS stream — the NINETIETH pairing, the
    * online form of tokenizer training's inner loop (the word
    * histogram is THE sufficient statistic for a BPE merge step, so
    * a live corpus maintains it and ranks candidate merges on
    * demand). ONE complete-mode aggregation maintains the (w, freq)
    * word-frequency state; the adjacent-pair expansion and top-k
    * rank replay verbatim (shared bpePairsFrom, shared oracle).
    */
  def q279_stream_bpe_pairs(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    // raw text through an exchange before the interpreted tokenize
    // explode — the q259/q261 scan lesson
    val wf = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))
        .select(explode(TA.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq")))
      .toMemory(spark, "complete")
    TextQueries.bpePairsFrom(wf)
  }

  /** Same oracle as the batch BPE merge step — the point. */
  val q279_stream_bpe_pairs_sql: String = TextQueries.q92_bpe_pairs_sql

  /** q280 — STREAMING curation funnel: q99's first-drop attribution
    * over the DOCUMENTS stream — the NINETY-FIRST pairing, and the
    * composite that shows the whole ONLINE CURATION PIPELINE in one
    * report: language, length, stopword-quality, exact-dup and
    * contamination screens all evaluated against the corpus AS OF
    * THIS TRIGGER (a doc's exact-dup verdict can change as its twin
    * arrives; the funnel is live, not a nightly sweep). State is the
    * compacted (doc_id, source, lang, text) doc store — q278's
    * state, one more consumer; every stage derives from it in the
    * shared funnelFrom tail (shared oracle).
    */
  def q280_stream_funnel(spark: SparkSession, dir: String): DataFrame = {
    val d = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("source"), col("lang"), col("text"))).as("b")))
      .toMemory(spark, "complete")
    TextQueries.funnelFrom(d
      .select(col("doc_id"), col("b.source").as("source"),
        col("b.lang").as("lang"), col("b.text").as("text")))
  }

  /** Same oracle as the batch curation funnel — the point. */
  val q280_stream_funnel_sql: String = TextQueries.q99_funnel_sql

  /** q281 — STREAMING exact-quota mixture: q102's reproducible
    * sampler over the DOCUMENTS stream — the NINETY-SECOND pairing,
    * the live form of "which exact docs are in the training mix
    * right now" (the plan reallocates as sources grow — a new doc
    * can push a previously-selected one out, and the hash ranking
    * makes the survivor set a pure function of the corpus, so the
    * online and nightly answers agree by construction). State is the
    * slim (doc_id, source) membership — counts, the
    * largest-remainder plan and the hash-ranked survivors ALL derive
    * from it (shared mixtureExactFrom, shared oracle).
    */
  def q281_stream_mixture_exact(spark: SparkSession, dir: String): DataFrame = {
    val d = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .groupBy(col("doc_id")).agg(max(col("source")).as("source")))
      .toMemory(spark, "complete")
    TextQueries.mixtureExactFrom(d)
  }

  /** Same oracle as the batch exact-quota mixture — the point. */
  val q281_stream_mixture_exact_sql: String =
    TextQueries.q102_mixture_exact_sql

  /** q283 — STREAMING hash-gate mixture audit: q98's thresholded
    * keep-rate readout over the DOCUMENTS stream — the NINETY-FOURTH
    * pairing, the SECOND consumer of q281's slim (doc_id, source)
    * membership state (one maintained membership serves the exact
    * sampler AND the rate audit — plan, per-source hash threshold
    * and achieved-vs-planned deviation all derive; shared
    * mixtureApplyFrom, shared oracle).
    */
  def q283_stream_mixture_apply(spark: SparkSession, dir: String): DataFrame = {
    val d = EventFlow(Tables.stream(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .groupBy(col("doc_id")).agg(max(col("source")).as("source")))
      .toMemory(spark, "complete")
    TextQueries.mixtureApplyFrom(d)
  }

  /** Same oracle as the batch mixture apply — the point. */
  val q283_stream_mixture_apply_sql: String =
    TextQueries.q98_mixture_apply_sql

  /** q260 — STREAMING banded edit-distance pairs: q90's typo-level
    * near-dup report over the DOCUMENTS stream — the SEVENTY-SIXTH
    * pairing, the online form of the character-noise quarantine (a
    * crawl's near-verbatim mutations pair up at ingest). State keys
    * by exact-dup CLASS (r16, the q261 fold idiom on the class key):
    * each class's sorted distinct member-id set plus its one text
    * (all members of a class share the text — cls IS its md5), folded
    * per batch and monotonically growing. The previous form ran TWO
    * full stream passes (a members aggregation and a reps
    * aggregation); the per-class fold carries both in one pass, and
    * the projection splits the compacted image back into the members
    * frame (explode the id set) and the reps frame (min id = head of
    * the sorted set, the class text). Blocking, banded DP and pair
    * expansion replay verbatim (shared editPairsFrom, shared oracle).
    */
  def q260_stream_edit_pairs(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val base = Tables.stream(spark, dir, "documents")
      .select(md5(col("text")).as("cls"), col("doc_id"), col("text"))
      .as[graft.streaming.Pairing.ClsDoc]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.ClsDoc,
        String, (Seq[Long], String), (String, Long, Seq[Long], String)](
      spark, base, Seq("cls", "n", "docs", "text"), r => (r.doc_id, 0L))(
      _.cls)((Seq.empty[Long], "")) { (cls, s0, ordered) =>
        if (ordered.isEmpty) (s0, Vector.empty)
        else {
          val docs = (s0._1 ++ ordered.map(_.doc_id)).distinct.sorted
          val text = if (s0._1.nonEmpty) s0._2 else ordered.head.text
          ((docs, text), Vector((cls, docs.size.toLong, docs, text)))
        }
      } { t =>
        val compact = t.groupBy(col("cls"))
          .agg(max(struct(col("n"), col("docs"), col("text"))).as("b"))
          .select(col("cls"), col("b.docs").as("docs"), col("b.text").as("text"))
        TextQueries.editPairsFrom(
          compact.select(col("cls"), explode(col("docs")).as("doc_id")),
          compact.select(col("cls"), element_at(col("docs"), 1).as("rep_id"),
            col("text")))
      }
  }

  /** Same oracle as the batch edit-distance pairs — the point. */
  val q260_stream_edit_pairs_sql: String = TextQueries.q90_edit_pairs_sql

  /** q261 — STREAMING prefix-filter similarity join: q127's exact
    * Jaccard≥0.5 pair report over the DOCUMENTS stream — the
    * SEVENTY-SEVENTH pairing, completing the dedup family's online
    * coverage at the set-similarity end (exact q239, fuzzy-cosine
    * q258, typo q260, set-overlap here). State keys by DOC: each
    * doc's sorted distinct shingle SET (doc-size bounded, the same
    * bound the batch class collapse enforces), folded per batch and
    * monotonically growing — r16: the previous form kept a
    * complete-mode (doc_id, shingle, c) aggregation whose state AND
    * per-trigger sink image were distinct-(doc, shingle)-sized (~1.2M
    * rows at sf0.1, most of the pairing's wall); the per-doc fold
    * keeps the same information in doc-count state rows and emits
    * doc-count sink rows. The projection compacts to each doc's
    * latest image (max by set size — growth is monotone, so equal
    * size means equal set) and replays the class collapse + prefix
    * filter + verify verbatim (shared tail, shared oracle).
    * Empty-shingle docs enter with an empty set; the tail's
    * docstring proves they are output-inert in the batch frame too.
    */
  def q261_stream_prefix_join(spark: SparkSession, dir: String): DataFrame = {
    val TA = graft.operators.TextAnalysis
    val sp = spark
    import sp.implicits._
    // raw text through an exchange BEFORE the interpreted
    // tokenize+shingle explode — the single-file micro-batch scan
    // is one task, and leaving the HOF pipeline on it serializes
    // the whole maintenance pass (the q127/q107 batch lesson,
    // measured ~9 s → ~6 s at sf0.1 here)
    val base = Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        array_sort(array_distinct(TA.shingles(TA.tokens(col("text")), 3))).as("ts"))
      .as[graft.streaming.Pairing.DocSet]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocSet,
        Long, Seq[String], (Long, Seq[String])](
      spark, base, Seq("doc_id", "ts"), d => (d.doc_id, 0L))(
      _.doc_id)(Seq.empty[String]) { (id, s0, ordered) =>
        val merged = (s0 ++ ordered.flatMap(_.ts)).distinct.sorted
        (merged, if (ordered.isEmpty) Vector.empty else Vector((id, merged)))
      } { t =>
        TextQueries.prefixJoinFrom(
          t.groupBy(col("doc_id"))
            .agg(max(struct(size(col("ts")).as("n"), col("ts").as("ts"))).as("b"))
            .select(col("doc_id"), col("b.ts").as("ts")))
      }
  }

  /** Same oracle as the batch prefix-filter join — the point. */
  val q261_stream_prefix_join_sql: String = TextQueries.q127_prefix_join_sql

  /** q202 — STREAMING session paths: q132's top trigram-path report
    * maintained incrementally — the TWENTY-FOURTH pairing, and the
    * online form of sessionization itself: per-user state is the
    * OPEN session only (its index, last-event µs and its event-type
    * sequence — session-bounded by the 30-minute gap rule, never
    * corpus-bounded). Each batch advances the session machine in the
    * canonical replay order; every session TOUCHED in the batch emits
    * its latest snapshot keyed (user, session) with the monotone
    * event count, so a session closed in an earlier batch is final
    * the moment it stops being touched — no close/timeout machinery
    * needed under compaction (max-by-seq per (user, session), q124's
    * idiom). The projection shingles the compacted per-session type
    * arrays through q132's pathsFrom verbatim (shared code, shared
    * oracle).
    */
  def q202_stream_paths(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long, Seq[String]), (Long, Long, Long, Seq[String])](
      spark, dir, Seq("user_id", "session_id", "seq", "types"))(
      _.user_id)((0L, 0L, 0L, Vector.empty[String])) { (u, s0, ordered) =>
        var (seq, lastUs, sess, cur) = s0
        val touched = scala.collection.mutable.LinkedHashMap[Long, Seq[String]]()
        ordered.foreach { e =>
          val us = e.ts.getTime * 1000L + e.ts.getNanos / 1000 % 1000
          seq += 1
          if (sess == 0L || us - lastUs > 1800L * 1000000L) {
            sess += 1; cur = Vector(e.event_type)
          } else cur = cur :+ e.event_type
          lastUs = us
          touched(sess) = cur
        }
        ((seq, lastUs, sess, cur),
          touched.iterator.map { case (sid, ts) => (u, sid, seq, ts) }.toVector)
      } { t =>
        EventQueries.pathsFrom(t.groupBy(col("user_id"), col("session_id"))
          .agg(max(struct(col("seq"), col("types"))).as("b"))
          .select(col("b.types").as("types")))
      }
  }

  /** Same oracle as the batch path report — the point of the query. */
  val q202_stream_paths_sql: String = EventQueries.q132_top_paths_sql

  /** q203 — STREAMING gap-fill/LOCF: q137's calendar-regridded
    * purchase series maintained incrementally — the TWENTY-FIFTH
    * pairing. State per user is the purchase day→cents map
    * (CALENDAR-bounded — exactly the daily frame the batch side
    * collapses to first, q195's state shape) plus the user's own
    * min/max event-day pair; the corpus day spine that the batch
    * derives from a global min/max is just the min/max over the
    * per-user bounds, so no global state exists (q199's horizon
    * idiom). Max-seq compaction supersedes across batches; the
    * projection rebuilds users/spine/daily and reruns q137's
    * gapFillFrom verbatim — LOCF windows, staleness counters and all
    * (shared code, shared oracle). The forward-fill itself never
    * runs on the stream: it is a projection over the calendar-bounded
    * state image, which is what makes LOCF streamable at all.
    */
  def q203_stream_gap_fill(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Long, Long, Map[Long, Long]), (Long, Long, Long, Long, Seq[Long], Seq[Long])](
      spark, dir, Seq("user_id", "seq", "dmin", "dmax", "days", "cents"))(
      _.user_id)((0L, Long.MaxValue, Long.MinValue, Map.empty[Long, Long])) { (u, s0, ordered) =>
        var (seq, dmin, dmax, m) = s0
        ordered.foreach { e =>
          val day = math.floorDiv(e.ts.getTime, 86400000L)
          seq += 1
          if (day < dmin) dmin = day
          if (day > dmax) dmax = day
          if (e.event_type == "purchase") {
            val cents = graft.functions.Determinism.centsOfDouble(e.value)
            m = m.updated(day, m.getOrElse(day, 0L) + cents)
          }
        }
        val days = m.keys.toSeq.sorted
        ((seq, dmin, dmax, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((u, seq, dmin, dmax, days, days.map(m))))
      } { t =>
        val epoch = to_date(lit("1970-01-01"))
        val cmp = t.groupBy(col("user_id"))
          .agg(max(struct(col("seq"), col("dmin"), col("dmax"),
            col("days"), col("cents"))).as("b"))
          .select(col("user_id"), col("b.dmin").as("dmin"),
            col("b.dmax").as("dmax"), col("b.days").as("days"),
            col("b.cents").as("cents"))
        val users = cmp.select(col("user_id"))
        val days = cmp.agg(date_add(epoch, min(col("dmin")).cast("int")).as("d0"),
            date_add(epoch, max(col("dmax")).cast("int")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val daily = cmp
          .select(col("user_id"), explode(arrays_zip(col("days"), col("cents"))).as("z"))
          .select(col("user_id"),
            date_add(epoch, col("z.days").cast("int")).as("day"),
            (col("z.cents").cast("decimal(38,2)") / 100).as("s"))
        ReportQueries.gapFillFrom(users, days, daily)
      }
  }

  /** Same oracle as the batch gap-fill report — the point. */
  val q203_stream_gap_fill_sql: String = ReportQueries.q137_gap_fill_sql

  /** q204 — STREAMING MAD outliers: q139's robust outlier report
    * maintained incrementally — the TWENTY-SIXTH pairing. State per
    * event_type is the cents→count VALUE HISTOGRAM (value-domain
    * bounded — exactly the frame batch q139 collapses to first, and
    * the same state shape the exact-quantile pairing q170 carries);
    * each batch folds its events' cents into the histogram and emits
    * the whole image with a monotone event count. Max-seq compaction
    * supersedes across batches; the projection replays q139's
    * madFrom verbatim — integer med2/mad2 selection, the exact 2·d >
    * 3·mad2 outlier test and all (shared code, shared oracle). The
    * median-of-deviations never touches the stream: like q203's
    * LOCF, it is a projection over the label×value-bounded state
    * image — which is what makes a ROBUST statistic streamable
    * without approximation.
    */
  def q204_stream_mad(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[String, (Long, Map[Long, Long]), (String, Long, Seq[Long], Seq[Long])](
      spark, dir, Seq("event_type", "seq", "cs", "cnts"))(
      _.event_type)((0L, Map.empty[Long, Long])) { (k, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { e =>
          val cents = graft.functions.Determinism.centsOfDouble(e.value)
          m = m.updated(cents, m.getOrElse(cents, 0L) + 1L)
          seen += 1
        }
        val cs = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((k, seen, cs, cs.map(m))))
      } { t =>
        ReportQueries.madFrom(t.groupBy(col("event_type"))
          .agg(max(struct(col("seq"), col("cs"), col("cnts"))).as("b"))
          .select(col("event_type"),
            explode(arrays_zip(col("b.cs"), col("b.cnts"))).as("z"))
          .select(col("event_type"), col("z.cs").as("c"), col("z.cnts").as("cnt")))
      }
  }

  /** Same oracle as the batch MAD report — the point of the query. */
  val q204_stream_mad_sql: String = ReportQueries.q139_mad_outliers_sql

  /** q207 — STREAMING Neyman allocation: q205's variance-optimal
    * stratified sampling report maintained incrementally over the
    * DOCUMENTS stream — the TWENTY-SEVENTH pairing, and the first on
    * the corpus side (Pairing.runDocs). State per source is the
    * moment triple (n, Σy, Σy²) PLUS the hash-threshold histogram
    * hm → (cnt, Σy, Σy²) where hm = hash60("ney:"+doc_id) mod 10⁶ —
    * bounded by min(n_source, 10⁶) cells per label at ANY corpus
    * size, because the draw rule's domain IS the 10⁶ threshold grid.
    * Each batch folds its documents into the histogram and emits the
    * whole image with a monotone doc count (max-seq compaction, the
    * q124 idiom); the projection rebuilds both sufficient frames by
    * summation and replays q205's allocation + draw tail verbatim
    * (shared neymanReport, shared oracle). The allocation — a global
    * optimization over ALL strata — re-derives from label-sized
    * state at every moment; the corpus never re-scans.
    */
  def q207_stream_neyman(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.runDocs[String, (Long, Map[Long, (Long, Long, Long)]),
        (String, Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])](
      spark, dir, Seq("source", "seq", "hms", "cnts", "sys", "syys"))(
      _.source)((0L, Map.empty[Long, (Long, Long, Long)])) { (src, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { d =>
          val hm = graft.plans.Hash60.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              "ney:" + d.doc_id.toString)) % 1000000L
          val (c, sy, syy) = m.getOrElse(hm, (0L, 0L, 0L))
          m = m.updated(hm, (c + 1L, sy + d.n_chars, syy + d.n_chars * d.n_chars))
          seen += 1
        }
        val hms = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((src, seen, hms,
            hms.map(m(_)._1), hms.map(m(_)._2), hms.map(m(_)._3))))
      } { t =>
        val img = t.groupBy(col("source"))
          .agg(max(struct(col("seq"), col("hms"), col("cnts"),
            col("sys"), col("syys"))).as("b"))
          .select(col("source"), explode(arrays_zip(col("b.hms"), col("b.cnts"),
            col("b.sys"), col("b.syys"))).as("z"))
          .select(col("source"), col("z.hms").as("hm"), col("z.cnts").as("cnt"),
            col("z.sys").as("sy"), col("z.syys").as("syy"))
        val strata = img.groupBy(col("source"))
          .agg(sum(col("cnt")).as("n"), sum(col("sy")).as("s"),
            sum(col("syy")).as("ss"))
        TextQueries.neymanReport(strata,
          img.select(col("source"), col("hm"), col("cnt"), col("sy")))
      }
  }

  /** Same oracle as the batch Neyman report — the point. */
  val q207_stream_neyman_sql: String = TextQueries.q205_neyman_sample_sql

  /** q208 — STREAMING quantile normalization: q206's cross-source
    * length re-gridding maintained incrementally over the DOCUMENTS
    * stream — the TWENTY-EIGHTH pairing. State per source is the
    * length→count VALUE HISTOGRAM (value-domain bounded at any
    * corpus size — the q170/q204 state shape on the corpus side);
    * the GLOBAL length distribution and N are sums over the
    * per-source histograms (every document carries a source), so one
    * frame is the entire sufficient statistic. Each batch folds its
    * documents' lengths and emits the whole image with a monotone
    * doc count; max-seq compaction supersedes across batches, and
    * the projection replays q206's exact-integer rank arithmetic
    * verbatim (shared quantileNormalizeFrom, shared oracle) — the
    * global CDF re-derives from label×value-bounded state, never
    * from a corpus re-scan.
    */
  def q208_stream_quantile_normalize(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.runDocs[String, (Long, Map[Long, Long]),
        (String, Long, Seq[Long], Seq[Long])](
      spark, dir, Seq("source", "seq", "ys", "cnts"))(
      _.source)((0L, Map.empty[Long, Long])) { (src, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { d =>
          m = m.updated(d.n_chars, m.getOrElse(d.n_chars, 0L) + 1L)
          seen += 1
        }
        val ys = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((src, seen, ys, ys.map(m))))
      } { t =>
        TextQueries.quantileNormalizeFrom(t.groupBy(col("source"))
          .agg(max(struct(col("seq"), col("ys"), col("cnts"))).as("b"))
          .select(col("source"),
            explode(arrays_zip(col("b.ys"), col("b.cnts"))).as("z"))
          .select(col("source"), col("z.ys").as("y"), col("z.cnts").as("cnt")))
      }
  }

  /** Same oracle as the batch quantile normalization — the point. */
  val q208_stream_quantile_normalize_sql: String =
    TextQueries.q206_quantile_normalize_sql

  /** q209 — STREAMING chi-square independence: q150's
    * segment×priority contingency audit maintained incrementally
    * over the ORDERS stream — the TWENTY-NINTH pairing, and the
    * first on the fact-table side (Pairing.runStream): each arriving
    * order is enriched by a broadcast stream-static join to the
    * customer dimension (the q109 idiom) BEFORE keying, so the
    * state key is the star-schema label pair (segment, priority) —
    * at most |segments|×|priorities| = 25 keys with ONE long of
    * state each, at any order count. Each batch emits the key's
    * monotone running count; max-obs compaction supersedes across
    * batches, and the projection replays q150's margins/expected/
    * chi2 tail verbatim (shared chiSquareFrom, shared oracle).
    */
  def q209_stream_chi_square(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val st = Tables.stream(spark, dir, "orders")
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("ok"), col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pri"))
      .as[graft.streaming.Pairing.OrdSeg]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdSeg,
        (String, String), Long, (String, String, Long)](
      spark, st, Seq("segment", "priority", "obs"), r => (r.ok, 0L))(
      r => (r.seg, r.pri))(0L) { (k, s0, ordered) =>
        val s1 = s0 + ordered.size
        (s1, if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, s1)))
      } { t =>
        StatsQueries.chiSquareFrom(t.groupBy(col("segment"), col("priority"))
          .agg(max(col("obs")).as("obs")))
      }
  }

  /** Same oracle as the batch chi-square audit — the point. */
  val q209_stream_chi_square_sql: String = StatsQueries.q150_chi_square_sql

  /** q210 — STREAMING Benford audit: q151's first-digit screen over
    * the LINEITEM stream — the THIRTIETH pairing. The leading digit
    * derives at the scan projection with the batch side's exact
    * expression (first char of the DECIMAL-cents int64 rendering —
    * no log10), so the state key is the digit itself: NINE keys, one
    * long of running count each, at any corpus size. Monotone
    * emissions, max-obs compaction, and the projection replays
    * q151's expected-share/chi2 tail verbatim (shared benfordFrom,
    * shared oracle with the fixed decimal Benford literals).
    */
  def q210_stream_benford(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        substring((dec2(col("l_extendedprice")) * 100).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .as[graft.streaming.Pairing.LiDigit]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiDigit,
        Int, Long, (Int, Long)](
      spark, st, Seq("digit", "obs"), r => (r.ok, r.ln))(
      _.digit)(0L) { (d, s0, ordered) =>
        val s1 = s0 + ordered.size
        (s1, if (ordered.isEmpty) Vector.empty else Vector((d, s1)))
      } { t =>
        StatsQueries.benfordFrom(t.groupBy(col("digit"))
          .agg(max(col("obs")).as("obs")))
      }
  }

  /** Same oracle as the batch Benford audit — the point. */
  val q210_stream_benford_sql: String = StatsQueries.q151_benford_sql

  /** q211 — STREAMING Gini per region: q144's inequality report over
    * the ORDERS stream — the THIRTY-FIRST pairing. Each order is
    * enriched to its region by ONE broadcast stream-static join
    * (customer⋈nation⋈region collapses to a c_custkey→r_name map,
    * dim-sized), then keyed by region — FIVE keys whose state is the
    * order-total cents→count VALUE HISTOGRAM (bounded by the price
    * domain, not the order count — the q170/q204/q208 state shape on
    * the fact side). Each batch folds its orders and emits the whole
    * image with a monotone order count; max-seq compaction
    * supersedes, and the projection replays q144's cumulative-
    * histogram Gini tail verbatim (shared giniFrom, shared oracle) —
    * the Lorenz sum re-derives from value-bounded state, never from
    * an order re-scan.
    */
  def q211_stream_gini(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val dim = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val st = Tables.stream(spark, dir, "orders")
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("ok"), col("r_name"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdRegion]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdRegion,
        String, (Long, Map[Long, Long]), (String, Long, Seq[Long], Seq[Long])](
      spark, st, Seq("r_name", "seq", "cs", "cnts"), r => (r.ok, 0L))(
      _.r_name)((0L, Map.empty[Long, Long])) { (rn, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { r =>
          m = m.updated(r.c, m.getOrElse(r.c, 0L) + 1L)
          seen += 1
        }
        val cs = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((rn, seen, cs, cs.map(m))))
      } { t =>
        ReportQueries.giniFrom(t.groupBy(col("r_name"))
          .agg(max(struct(col("seq"), col("cs"), col("cnts"))).as("b"))
          .select(col("r_name"),
            explode(arrays_zip(col("b.cs"), col("b.cnts"))).as("z"))
          .select(col("r_name"), col("z.cs").as("c"), col("z.cnts").as("cnt")))
      }
  }

  /** Same oracle as the batch Gini report — the point. */
  val q211_stream_gini_sql: String = ReportQueries.q144_gini_sql

  /** q212 — STREAMING weighted median: q147's per-returnflag
    * quantity-weighted price median over the LINEITEM stream — the
    * THIRTY-SECOND pairing. State per returnflag (THREE keys) is the
    * price-cents → total-quantity-cents VALUE-WEIGHT HISTOGRAM —
    * price-domain bounded at any corpus size, the q211 state shape
    * with weights instead of counts. Each batch folds its rows and
    * emits the whole image with a monotone row count; max-seq
    * compaction supersedes, and the projection replays q147's
    * cumulative rank-target tail verbatim (shared weightedMedianFrom,
    * shared oracle) — an exact weighted order statistic online
    * without approximation.
    */
  def q212_stream_weighted_median(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        col("l_returnflag").as("rf"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("v"),
        (dec2(col("l_quantity")) * 100).cast("long").as("w"))
      .as[graft.streaming.Pairing.LiWm]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiWm,
        String, (Long, Map[Long, Long]), (String, Long, Seq[Long], Seq[Long])](
      spark, st, Seq("rf", "seq", "vs", "ws"), r => (r.ok, r.ln))(
      _.rf)((0L, Map.empty[Long, Long])) { (rf, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { r =>
          m = m.updated(r.v, m.getOrElse(r.v, 0L) + r.w)
          seen += 1
        }
        val vs = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((rf, seen, vs, vs.map(m))))
      } { t =>
        ReportQueries.weightedMedianFrom(t.groupBy(col("rf"))
          .agg(max(struct(col("seq"), col("vs"), col("ws"))).as("b"))
          .select(col("rf"),
            explode(arrays_zip(col("b.vs"), col("b.ws"))).as("z"))
          .select(col("rf"), col("z.vs").as("v"), col("z.ws").as("w")))
      }
  }

  /** Same oracle as the batch weighted median — the point. */
  val q212_stream_weighted_median_sql: String =
    ReportQueries.q147_weighted_median_sql

  /** q213 — STREAMING correlation matrix: q169's corpus-wide
    * quantity/price/discount/tax Pearson matrix over the LINEITEM
    * stream — the THIRTY-THIRD pairing. The sufficient statistic is
    * the 15-number moment frame (n, four linear sums, ten canonical
    * product sums), which is ASSOCIATIVE — so the state shards by
    * l_orderkey mod 32 rather than funnelling every row through one
    * key (32 independent state cells; a cluster deployment sizes the
    * shard count to cores, exactly like a map-side partial
    * aggregation). Products of two cent values overflow int64 under
    * corpus-scale sums, so each shard accumulates in BigInt and
    * emits decimal STRINGS; the projection re-sums the shard images
    * as DECIMAL(38,0) — the batch side's exact type — and replays
    * q169's cell algebra verbatim (shared corrMatrixFrom, shared
    * oracle).
    */
  def q213_stream_corr_matrix(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val vars = Seq("q", "p", "d", "t")
    val names = vars.map(a => s"s_$a") ++
      (for (a <- vars; b <- vars if a <= b) yield s"s_$a$b")
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 32).cast("int").as("shard"),
        (dec2(col("l_quantity")) * 100).cast("long").as("q"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("p"),
        (dec2(col("l_discount")) * 100).cast("long").as("d"),
        (dec2(col("l_tax")) * 100).cast("long").as("t"))
      .as[graft.streaming.Pairing.LiMom]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiMom,
        Int, (Long, Map[String, String]), (Int, Long, Seq[String], Seq[String])](
      spark, st, Seq("shard", "seq", "ks", "vs"), r => (r.ok, r.ln))(
      _.shard)((0L, Map.empty[String, String])) { (sh, s0, ordered) =>
        var (seen, img) = s0
        var acc = names.map(k => k -> BigInt(img.getOrElse(k, "0"))).toMap
        ordered.foreach { r =>
          val v = Map("q" -> BigInt(r.q), "p" -> BigInt(r.p),
            "d" -> BigInt(r.d), "t" -> BigInt(r.t))
          vars.foreach(a => acc = acc.updated(s"s_$a", acc(s"s_$a") + v(a)))
          for (a <- vars; b <- vars if a <= b)
            acc = acc.updated(s"s_$a$b", acc(s"s_$a$b") + v(a) * v(b))
          seen += 1
        }
        img = acc.map { case (k, x) => k -> x.toString }
        ((seen, img),
          if (ordered.isEmpty) Vector.empty
          else Vector((sh, seen, names, names.map(img))))
      } { t =>
        val perShard = t.groupBy(col("shard"))
          .agg(max(struct(col("seq"), col("ks"), col("vs"))).as("b"))
        val nRow = perShard.agg(sum(col("b.seq")).as("n"))
        val sums = perShard
          .select(explode(arrays_zip(col("b.ks"), col("b.vs"))).as("z"))
          .select(col("z.ks").as("k"), col("z.vs").cast("decimal(38,0)").as("v"))
          .groupBy(col("k")).agg(sum(col("v")).cast("decimal(38,0)").as("s"))
        val wide = sums.agg(
          max(when(col("k") === names.head, col("s"))).as(names.head),
          names.tail.map(nm => max(when(col("k") === nm, col("s"))).as(nm)): _*)
        AnalyticsQueries.corrMatrixFrom(broadcast(nRow).crossJoin(wide))
      }
  }

  /** Same oracle as the batch correlation matrix — the point. */
  val q213_stream_corr_matrix_sql: String = AnalyticsQueries.q169_corr_matrix_sql

  /** q214 — STREAMING Pareto/ABC: q161's cumulative revenue-share
    * classification over the LINEITEM stream — the THIRTY-FOURTH
    * pairing. State per part (entity-bounded, one long each) is the
    * running revenue-cents total; each batch emits only the parts it
    * touched, with the monotone total as its own compaction sequence
    * (max-obs, the q209 idiom — never a whole-corpus image). The
    * global Lorenz ordering never touches the stream: the projection
    * replays q161's range-partitioned prefix-sum + broadcast-total
    * tail verbatim over the compacted per-part frame (shared
    * abcFrom, shared oracle).
    */
  def q214_stream_abc(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        col("l_partkey").as("pk"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.LiRev]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiRev,
        Long, Long, (Long, Long)](
      spark, st, Seq("l_partkey", "cents"), r => (r.ok, r.ln))(
      _.pk)(0L) { (pk, s0, ordered) =>
        val s1 = s0 + ordered.map(_.c).sum
        (s1, if (ordered.isEmpty) Vector.empty else Vector((pk, s1)))
      } { t =>
        graft.queries.LifecycleQueries.abcFrom(t.groupBy(col("l_partkey"))
          .agg(max(col("cents")).as("cents")))
      }
  }

  /** Same oracle as the batch Pareto/ABC report — the point. */
  val q214_stream_abc_sql: String = LifecycleQueries.q161_abc_sql

  /** q215 — STREAMING SLA report: q162's ship-latency threshold
    * shares and exact percentiles over the LINEITEM stream — the
    * THIRTY-FIFTH pairing. Each line item resolves its order date
    * and priority through a stream-static join to the ORDERS table
    * (NOT broadcast — orders is fact-sized; the per-batch join lets
    * Spark pick its strategy, and a production deployment buckets
    * both sides on the order key). State per priority (5 keys) is
    * the latency-days → count histogram — day-domain bounded (TPC-H
    * ship latencies span ~122 days) at any corpus size. Max-seq
    * image compaction; the projection replays q162's shares +
    * cumulative rank-target tail verbatim (shared slaFrom, shared
    * oracle).
    */
  def q215_stream_sla(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("ln"),
        col("o_orderpriority").as("pri"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lat"))
      .as[graft.streaming.Pairing.LiSla]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiSla,
        String, (Long, Map[Long, Long]), (String, Long, Seq[Long], Seq[Long])](
      spark, st, Seq("priority", "seq", "lats", "cs"), r => (r.ok, r.ln))(
      _.pri)((0L, Map.empty[Long, Long])) { (pri, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { r =>
          m = m.updated(r.lat, m.getOrElse(r.lat, 0L) + 1L)
          seen += 1
        }
        val lats = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((pri, seen, lats, lats.map(m))))
      } { t =>
        OpsQueries.slaFrom(t.groupBy(col("priority"))
          .agg(max(struct(col("seq"), col("lats"), col("cs"))).as("b"))
          .select(col("priority"),
            explode(arrays_zip(col("b.lats"), col("b.cs"))).as("z"))
          .select(col("priority"), col("z.lats").as("lat"), col("z.cs").as("c")))
      }
  }

  /** Same oracle as the batch SLA report — the point. */
  val q215_stream_sla_sql: String = OpsQueries.q162_sla_sql

  /** q216 — STREAMING k-anonymity audit: q177's quasi-identifier
    * risk rollup over the CUSTOMER stream — the THIRTY-SIXTH
    * pairing, proving the pairing harness covers DIMENSION tables
    * too (replay order = c_custkey). Each arriving customer resolves
    * its nation through the broadcast nation dimension, then keys by
    * the quasi-identifier leaf cell (n_name, segment) — label²-
    * bounded state, one long each. Counts are additive, so the three
    * rollup levels re-derive exactly from the compacted leaf cells
    * in the projection (shared kAnonFrom, shared oracle).
    */
  def q216_stream_k_anonymity(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val dim = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val st = Tables.stream(spark, dir, "customer")
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("ck"), col("n_name"),
        col("c_mktsegment").as("seg"))
      .as[graft.streaming.Pairing.CustAnon]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.CustAnon,
        (String, String), Long, (String, String, Long)](
      spark, st, Seq("n_name", "c_mktsegment", "n"), r => (r.ck, 0L))(
      r => (r.n_name, r.seg))(0L) { (k, s0, ordered) =>
        val s1 = s0 + ordered.size
        (s1, if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, s1)))
      } { t =>
        StatsQueries.kAnonFrom(t.groupBy(col("n_name"), col("c_mktsegment"))
          .agg(max(col("n")).as("n")))
      }
  }

  /** Same oracle as the batch k-anonymity audit — the point. */
  val q216_stream_k_anonymity_sql: String = StatsQueries.q177_k_anonymity_sql

  /** q217 — STREAMING per-part trend classes: q163's catalog-wide
    * growth screen over the LINEITEM stream — the THIRTY-SEVENTH
    * pairing. State per part is the month-index → revenue-cents map
    * (calendar-bounded — the shipping window spans ~84 months
    * regardless of corpus size); each batch folds its rows and emits
    * the part's monthly image with a monotone row count. Max-seq
    * compaction; the projection rebuilds the monthly frame and
    * replays q163's exact-moment regression + sign tests + broadcast
    * brand rollup verbatim (shared partTrendFrom, shared oracle) —
    * no slope double anywhere, so stream and batch classes cannot
    * diverge.
    */
  def q217_stream_part_trend(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        col("l_partkey").as("pk"),
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("x"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.LiTrend]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiTrend,
        Long, (Long, Map[Long, Long]), (Long, Long, Seq[Long], Seq[Long])](
      spark, st, Seq("l_partkey", "seq", "xs", "ys"), r => (r.ok, r.ln))(
      _.pk)((0L, Map.empty[Long, Long])) { (pk, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { r =>
          m = m.updated(r.x, m.getOrElse(r.x, 0L) + r.c)
          seen += 1
        }
        val xs = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((pk, seen, xs, xs.map(m))))
      } { t =>
        OpsQueries.partTrendFrom(spark, dir,
          t.groupBy(col("l_partkey"))
            .agg(max(struct(col("seq"), col("xs"), col("ys"))).as("b"))
            .select(col("l_partkey"),
              explode(arrays_zip(col("b.xs"), col("b.ys"))).as("z"))
            .select(col("l_partkey"), col("z.xs").as("x"), col("z.ys").as("y")))
      }
  }

  /** Same oracle as the batch trend screen — the point. */
  val q217_stream_part_trend_sql: String = OpsQueries.q163_part_trend_sql

  /** q218 — STREAMING autocorrelation: q154's lag-1..7 dependence
    * screen of daily order revenue over the ORDERS stream — the
    * THIRTY-EIGHTH pairing. State keys by EPOCH DAY (calendar-
    * bounded — ~2.4k distinct order days at any corpus size), one
    * monotone cents total each; max-obs compaction rebuilds the
    * daily series, and the projection replays q154's half-up mean,
    * exact deviation products, and 7-lag day-offset self-join
    * verbatim (shared acfFrom, shared oracle). The global statistic
    * never touches the stream — only the calendar-bounded series
    * image does.
    */
  def q218_stream_acf(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("epd"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdDay]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdDay,
        Long, Long, (Long, Long)](
      spark, st, Seq("epd", "cents"), r => (r.ok, 0L))(
      _.epd)(0L) { (epd, s0, ordered) =>
        val s1 = s0 + ordered.map(_.c).sum
        (s1, if (ordered.isEmpty) Vector.empty else Vector((epd, s1)))
      } { t =>
        TimeSeriesQueries.acfFrom(t.groupBy(col("epd"))
          .agg(max(col("cents")).as("cents"))
          .select(date_add(lit("1970-01-01").cast("date"),
            col("epd").cast("int")).as("day"), col("cents")))
      }
  }

  /** Same oracle as the batch autocorrelation screen — the point. */
  val q218_stream_acf_sql: String = TimeSeriesQueries.q154_acf_sql

  /** q219 — STREAMING trailing run rates: q164's per-customer
    * 30-day RANGE-frame revenue/order report over the ORDERS
    * stream — the THIRTY-NINTH pairing. State per customer is the
    * epoch-day → (cents, orders) daily map (calendar-bounded per
    * key); each batch folds its orders and emits the customer's
    * daily image with a monotone row count. Max-seq compaction; the
    * projection rebuilds the daily grid and replays q164's
    * RANGE-window tail verbatim (shared trailingFrom, shared
    * oracle) — the value-frame window never runs on the stream.
    */
  def q219_stream_trailing(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("epd"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdCust]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdCust,
        Long, (Long, Map[Long, (Long, Long)]),
        (Long, Long, Seq[Long], Seq[Long], Seq[Long])](
      spark, st, Seq("o_custkey", "seq", "epds", "cs", "ns"), r => (r.ok, 0L))(
      _.ck)((0L, Map.empty[Long, (Long, Long)])) { (ck, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { r =>
          val (c0, n0) = m.getOrElse(r.epd, (0L, 0L))
          m = m.updated(r.epd, (c0 + r.c, n0 + 1L))
          seen += 1
        }
        val epds = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((ck, seen, epds, epds.map(m(_)._1), epds.map(m(_)._2))))
      } { t =>
        OpsQueries.trailingFrom(t.groupBy(col("o_custkey"))
          .agg(max(struct(col("seq"), col("epds"), col("cs"), col("ns"))).as("b"))
          .select(col("o_custkey"), explode(arrays_zip(col("b.epds"),
            col("b.cs"), col("b.ns"))).as("z"))
          .select(col("o_custkey"),
            date_add(lit("1995-01-01").cast("date"),
              col("z.epds").cast("int")).as("day"),
            col("z.cs").as("cents"), col("z.ns").as("n"),
            col("z.epds").as("epd")))
      }
  }

  /** Same oracle as the batch trailing run-rate report — the point. */
  val q219_stream_trailing_sql: String = OpsQueries.q164_trailing_sql

  /** q220 — STREAMING RFM segmentation: q160's recency/frequency/
    * monetary quintile grid over the ORDERS stream — the FORTIETH
    * pairing. State per customer is the (freq, last-order epoch day,
    * revenue cents) triple — O(1) per key, every component MONOTONE
    * under appends, so the triple is its own compaction sequence
    * (max-struct with freq leading). The projection derives recency
    * against the global max order day (itself the max of the
    * compacted last-day column), then replays q160's histogram
    * quintile breaks, score cuts, and segment rollup verbatim
    * (shared rfmFrom, shared oracle).
    */
  def q220_stream_rfm(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("epd"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdCust]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdCust,
        Long, (Long, Long, Long), (Long, Long, Long, Long)](
      spark, st, Seq("o_custkey", "freq", "last_epd", "mon"), r => (r.ok, 0L))(
      _.ck)((0L, Long.MinValue, 0L)) { (ck, s0, ordered) =>
        var (freq, last, mon) = s0
        ordered.foreach { r =>
          freq += 1; mon += r.c
          if (r.epd > last) last = r.epd
        }
        ((freq, last, mon),
          if (ordered.isEmpty) Vector.empty else Vector((ck, freq, last, mon)))
      } { t =>
        val per0 = t.groupBy(col("o_custkey"))
          .agg(max(struct(col("freq"), col("last_epd"), col("mon"))).as("b"))
          .select(col("o_custkey"), col("b.freq").as("freq"),
            col("b.last_epd").as("last_epd"), col("b.mon").as("mon"))
        val mx = per0.agg(max(col("last_epd")).as("mx"))
        LifecycleQueries.rfmFrom(per0.crossJoin(broadcast(mx))
          .select(col("o_custkey"), (col("mx") - col("last_epd")).as("rec"),
            col("freq"), col("mon")))
      }
  }

  /** Same oracle as the batch RFM segmentation — the point. */
  val q220_stream_rfm_sql: String = LifecycleQueries.q160_rfm_sql

  /** q221 — STREAMING seasonal decomposition: q155's weekday index
    * of daily revenue over the ORDERS stream — the FORTY-FIRST
    * pairing. Identical state to q218 (epoch-day keys, monotone
    * cents totals, calendar-bounded); the projection rebuilds the
    * daily series and replays q155's ±3 moving-average join + exact
    * ×7 detrending + weekday mean verbatim (shared seasonalFrom,
    * shared oracle).
    */
  def q221_stream_seasonal(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("epd"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdDay]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdDay,
        Long, Long, (Long, Long)](
      spark, st, Seq("epd", "cents"), r => (r.ok, 0L))(
      _.epd)(0L) { (epd, s0, ordered) =>
        val s1 = s0 + ordered.map(_.c).sum
        (s1, if (ordered.isEmpty) Vector.empty else Vector((epd, s1)))
      } { t =>
        TimeSeriesQueries.seasonalFrom(t.groupBy(col("epd"))
          .agg(max(col("cents")).as("cents"))
          .select(date_add(lit("1970-01-01").cast("date"),
            col("epd").cast("int")).as("day"), col("cents")))
      }
  }

  /** Same oracle as the batch seasonal decomposition — the point. */
  val q221_stream_seasonal_sql: String = TimeSeriesQueries.q155_seasonal_sql

  /** q222 — STREAMING Holt backtest: q173's rolling-origin forecast
    * evaluation over the EVENTS stream — the FORTY-SECOND pairing.
    * State per event type is the epoch-day → count map
    * (calendar-bounded per key); the inherently sequential Holt
    * recursion never runs on the stream — the projection rebuilds
    * the daily count series and replays q173's day-sorted array
    * fold + horizon scoring verbatim (shared holtBacktestFrom,
    * shared RECURSIVE-CTE oracle), so all three shapes — fold,
    * state machine, recursive SQL — still meet at one bit-exact
    * answer.
    */
  def q222_stream_holt_backtest(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[String, (Long, Map[Long, Long]),
        (String, Long, Seq[Long], Seq[Long])](
      spark, dir, Seq("event_type", "seq", "epds", "cs"))(
      _.event_type)((0L, Map.empty[Long, Long])) { (et, s0, ordered) =>
        var (seen, m) = s0
        ordered.foreach { e =>
          val epd = Math.floorDiv(e.ts.getTime, 86400000L)
          m = m.updated(epd, m.getOrElse(epd, 0L) + 1L)
          seen += 1
        }
        val epds = m.keys.toSeq.sorted
        ((seen, m),
          if (ordered.isEmpty) Vector.empty
          else Vector((et, seen, epds, epds.map(m))))
      } { t =>
        TimeSeriesQueries.holtBacktestFrom(t.groupBy(col("event_type"))
          .agg(max(struct(col("seq"), col("epds"), col("cs"))).as("b"))
          .select(col("event_type"),
            explode(arrays_zip(col("b.epds"), col("b.cs"))).as("z"))
          .select(col("event_type"),
            date_add(lit("1970-01-01").cast("date"),
              col("z.epds").cast("int")).as("day"),
            col("z.cs").cast("double").as("x")))
      }
  }

  /** Same oracle as the batch Holt backtest — the point. */
  val q222_stream_holt_backtest_sql: String =
    TimeSeriesQueries.q173_holt_backtest_sql

  /** q223 — STREAMING share-of-parent: q176's nation→region→world
    * revenue hierarchy over the ORDERS stream — the FORTY-THIRD
    * pairing. Each order resolves its nation through the broadcast
    * customer→nation map before keying, so state is one running
    * total per nation (25 keys) — accumulated in BigInt and emitted
    * as decimal STRINGS because per-nation cent totals brush the
    * int64 ceiling at 100 TB (the q213 discipline); the projection
    * casts back to DECIMAL(38,0) — the batch side's exact type —
    * joins the dimension names, and replays q176's two-level share
    * tail verbatim (shared shareOfParentFrom, shared oracle).
    */
  def q223_stream_share_of_parent(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val st = Tables.stream(spark, dir, "orders")
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("ok"), col("c_nationkey").as("nk"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("c"))
      .as[graft.streaming.Pairing.OrdNat]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdNat,
        Int, (Long, String), (Int, Long, String)](
      spark, st, Seq("nk", "seq", "ncents"), r => (r.ok, 0L))(
      _.nk)((0L, "0")) { (nk, s0, ordered) =>
        var (seen, acc) = (s0._1, BigInt(s0._2))
        ordered.foreach { r => acc += r.c; seen += 1 }
        ((seen, acc.toString),
          if (ordered.isEmpty) Vector.empty
          else Vector((nk, seen, acc.toString)))
      } { t =>
        val nat = t.groupBy(col("nk"))
          .agg(max(struct(col("seq"), col("ncents"))).as("b"))
          .select(col("nk"), col("b.ncents").cast("decimal(38,0)").as("ncents"))
          .join(broadcast(Tables.nation(spark, dir)),
            col("nk") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), col("ncents"))
        ReportQueries.shareOfParentFrom(nat)
      }
  }

  /** Same oracle as the batch share-of-parent report — the point. */
  val q223_stream_share_of_parent_sql: String =
    ReportQueries.q176_share_of_parent_sql

  /** q224 — STREAMING component census: q180's co-purchase
    * connected-components report over the LINEITEM stream — the
    * FORTY-FOURTH pairing, and the first STREAMING GRAPH pairing.
    * Pairs cannot form from a single row, so state keys by ORDER:
    * each order's distinct part set (order-size bounded — the same
    * cap the batch edge build enforces) grows monotonically and is
    * its own compaction sequence (max-by-row-count image). The
    * graph algorithm never runs on the stream: the projection
    * rebuilds the (o, p) membership frame and replays q180's edge
    * build + distributed connected components + census verbatim
    * (shared componentCensusFrom, shared RECURSIVE-CTE oracle).
    */
  def q224_stream_component_census(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.componentCensusFrom(op.select(col("o"), col("m").as("p")))
    }

  /** The order-keyed pairings' state TTL — 7 days in the derived
    * orderkey-as-hours clock, the horizon PairingLifecycleSpec's
    * planted two-batch run proves both output-preserving and
    * actually firing. EXPIRY ON is the gate default (VERDICT r13
    * item 6): the scale-safe configuration — per-order state removed
    * once the watermark passes a quiet order's deadline — is the
    * certified configuration, not a spec-only variant. The
    * never-expire variant stays reachable as `orderMembers(…, None)`
    * (q224_without_expiry).
    */
  private[queries] val orderTtlMs: Option[Long] = Some(7L * 24 * 3600 * 1000)

  /** Shared prelude for the per-order membership pairings (#44/#45
    * and the #47–#50 basket/graph family): pairs and edges cannot
    * form from one row, so state keys by ORDER — each order's
    * distinct member set (order-size bounded, the batch edge/basket
    * builds' own cap) grows monotonically and is its own compaction
    * sequence (max-by-row-count image). The graph/basket algorithm
    * never runs on the stream: the projection receives the rebuilt
    * (o, m) membership frame and replays the batch tail verbatim.
    *
    * Expiry is ON by default ([[orderTtlMs]]); output is identical
    * as long as no order's lines reappear past its horizon — the
    * standard keyed-TTL assumption, trivially satisfied by the
    * single-batch AvailableNow replays the gate and smoke run (the
    * watermark only advances after the one data batch, and a state
    * that times out in the wrap-up batch emits nothing) and pinned
    * for genuinely multi-batch replays by PairingLifecycleSpec.
    */
  private[queries] def orderMembers(spark: SparkSession, dir: String,
      member: Column, expireHorizonMs: Option[Long] = orderTtlMs)(
      project: DataFrame => DataFrame): DataFrame = {
    val sp = spark
    import sp.implicits._
    val base = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        member.as("m"))
    // expiry mode (VERDICT r12 item 6): the shared orderkey-as-hours
    // synthetic event time — the +1 epoch-tie guard and the orderkey
    // scale ceiling are documented ONCE at Pairing.orderkeyEventTime
    val st = expireHorizonMs.fold(base)(_ =>
        base.withColumn("evt", graft.streaming.Pairing.orderkeyEventTime(col("ok")))
          .withWatermark("evt", "0 milliseconds"))
      .as[graft.streaming.Pairing.LiPair]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiPair,
        Long, (Long, Seq[Long]), (Long, Long, Seq[Long])](
      spark, st, Seq("o", "seq", "ms"), r => (r.ok, r.ln), expireHorizonMs,
      // order-count keys (150k/sf0.1, ×N under replication) — marked
      // big-state: GRAFT_PAIRING_STATESTORE=rocksdb moves this family
      // off-heap when deployed state outgrows executor heap (the
      // measured default stays on-heap — Pairing.withBigStateStore)
      bigState = true)(
      _.ok)((0L, Seq.empty[Long])) { (o, s0, ordered) =>
        val seen = s0._1 + ordered.size
        val ms = (s0._2 ++ ordered.map(_.m)).distinct.sorted
        ((seen, ms),
          if (ordered.isEmpty) Vector.empty else Vector((o, seen, ms)))
      } { t =>
        project(t.groupBy(col("o"))
          .agg(max(struct(col("seq"), col("ms"))).as("b"))
          .select(col("o"), explode(col("b.ms")).as("m")))
      }
  }

  /** Shared prelude for the customer↔supplier edge pairings (q226,
    * q273): each line item resolves its customer through a
    * stream-static join to ORDERS (fact-sized, not broadcast — the
    * q215 discipline), then keys by the encoded (customer, supplier)
    * EDGE with one long of presence state. The projection receives
    * the distinct directed edge frame (a, b) and replays the batch
    * tail verbatim.
    *
    * Expiry-on ([[orderTtlMs]]), and expiry-safe even when a key DOES
    * reappear past its horizon: the re-observed edge re-inits to 0
    * and re-emits, which the distinct absorbs.
    */
  private[queries] def orderEdges(spark: SparkSession, dir: String)(
      project: DataFrame => DataFrame): DataFrame = {
    val sp = spark
    import sp.implicits._
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        col("l_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("ln"),
        (col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      // +1 epoch-tie guard + orderkey scale ceiling: documented at
      // the shared Pairing.orderkeyEventTime
      .withColumn("evt", graft.streaming.Pairing.orderkeyEventTime(col("ok")))
      .withWatermark("evt", "0 milliseconds")
      .as[graft.streaming.Pairing.LiEdge]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiEdge,
        (Long, Long), Long, (Long, Long)](
      spark, st, Seq("a", "b"), r => (r.ok, r.ln), orderTtlMs,
      // edge-count keys (~400k at ×10) — marked big-state (see
      // Pairing.withBigStateStore for the measured provider choice)
      bigState = true)(
      r => (r.a, r.b))(0L) { (k, s0, ordered) =>
        (s0 + ordered.size,
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2)))
      } { t =>
        project(t.select(col("a"), col("b")).distinct())
      }
  }

  /** q224 with expiry DISABLED — spec-only (PairingLifecycleSpec):
    * since r14 the gate entry runs expiry-on by default, so the
    * bit-parity proof compares it against this never-expire variant.
    */
  private[graft] def q224_without_expiry(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey"), None) { op =>
      ReportQueries.componentCensusFrom(op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch component census — the point. */
  val q224_stream_component_census_sql: String =
    ReportQueries.q180_component_census_sql

  /** q225 — STREAMING clustering coefficient: q186's supplier
    * co-occurrence triangle report over the LINEITEM stream — the
    * FORTY-FIFTH pairing. Same per-order membership state as q224
    * (supplier sets, order-size bounded); the projection rebuilds
    * the (o, s) frame and replays q186's edge build + degree-
    * oriented triangle enumeration + per-node coefficients + nation
    * rollup verbatim (shared clusteringCoeffFrom, shared oracle).
    */
  def q225_stream_clustering_coeff(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_suppkey")) { os =>
      AnalyticsQueries.clusteringCoeffFrom(spark, dir,
        os.select(col("o"), col("m").as("s")))
    }

  /** Same oracle as the batch clustering coefficient — the point. */
  val q225_stream_clustering_coeff_sql: String =
    AnalyticsQueries.q186_clustering_coeff_sql

  /** q226 — STREAMING multi-iteration PageRank: q189's
    * customer↔supplier rank over the LINEITEM stream — the
    * FORTY-SIXTH pairing. Each line item resolves its customer
    * through a stream-static join to ORDERS (fact-sized, not
    * broadcast — the q215 discipline), then keys by the encoded
    * (customer, supplier) EDGE with one long of presence state;
    * re-observed edges re-emit and the projection's distinct absorbs
    * them. The power iteration never runs on the stream: the
    * projection replays q189's symmetrize + degree + three
    * decq-quantized rounds verbatim over the compacted edge set
    * (shared pagerankIterFrom, shared oracle).
    */
  def q226_stream_pagerank(spark: SparkSession, dir: String): DataFrame =
    orderEdges(spark, dir)(AnalyticsQueries.pagerankIterFrom)

  /** Same oracle as the batch multi-iteration PageRank — the point. */
  val q226_stream_pagerank_sql: String = AnalyticsQueries.q189_pagerank_iter_sql

  /** q273 — STREAMING HITS: q272's hubs-and-authorities ranking over
    * the LINEITEM stream — the EIGHTY-FIFTH pairing, the online
    * "influential buyers / canonical suppliers" board beside the
    * PageRank twin q226 (SAME edge-keyed state, one more consumer of
    * it — the graph-channel amortization). The iterations never run
    * on the stream: the projection rebuilds the distinct directed
    * edge frame and replays q272's two exact-integer
    * mutual-reinforcement rounds verbatim (shared hitsFrom, shared
    * oracle). Expiry-on like q226, and expiry-safe the same way: a
    * re-observed edge re-inits and re-emits, which the projection's
    * distinct absorbs.
    */
  def q273_stream_hits(spark: SparkSession, dir: String): DataFrame =
    orderEdges(spark, dir)(AnalyticsQueries.hitsFrom)

  /** Same oracle as the batch HITS — the point. */
  val q273_stream_hits_sql: String = AnalyticsQueries.q272_hits_sql

  /** q227 — STREAMING association rules: q145's market-basket
    * confidence/lift report over the LINEITEM stream — the
    * FORTY-SEVENTH pairing. Baskets ARE per-order membership sets,
    * so the state is exactly the #44 prelude (parts per order); the
    * mining never runs on the stream — the projection rebuilds the
    * (o, p) frame and replays q145's basket build + support counts +
    * capped pair expansion + confidence/lift top-20 verbatim (shared
    * assocRulesFrom, shared oracle).
    */
  def q227_stream_assoc_rules(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.assocRulesFrom(op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch association rules — the point. */
  val q227_stream_assoc_rules_sql: String = ReportQueries.q145_assoc_rules_sql

  /** q228 — STREAMING item-item CF: q174's co-occurrence cosine
    * recommender over the LINEITEM stream — the FORTY-EIGHTH
    * pairing. Same per-order basket state as q227; the projection
    * replays q174's co-occurrence counts + cosine scoring + per-item
    * top-5 verbatim (shared itemCfFrom, shared oracle).
    */
  def q228_stream_item_cf(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.itemCfFrom(op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch item-item CF — the point. */
  val q228_stream_item_cf_sql: String = ReportQueries.q174_item_cf_sql

  /** q229 — STREAMING k-hop reachability: q138's 4-hop BFS from the
    * sampled part sources over the LINEITEM stream — the
    * FORTY-NINTH pairing. Same per-order membership state (parts per
    * order — the co-purchase graph's generator); the BFS never runs
    * on the stream — the projection rebuilds the (o, p) frame and
    * replays q138's edge build + symmetrize + frontier expansion
    * verbatim (shared khopFrom, shared RECURSIVE-CTE oracle).
    */
  def q229_stream_khop(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.khopFrom(spark, dir, op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch k-hop BFS — the point. */
  val q229_stream_khop_sql: String = ReportQueries.q138_khop_sql

  /** q245 — STREAMING bounded weighted shortest paths: q244's
    * 4-round Bellman–Ford over the LINEITEM stream — the
    * SIXTY-FOURTH pairing. Same per-order membership state as q229
    * (parts per order — the weighted co-purchase graph's generator);
    * the relaxation never runs on the stream — the projection
    * rebuilds the (o, p) frame and replays q244's support-weighted
    * edge build + 4 relaxation rounds verbatim (shared ssspFrom,
    * shared unrolled-CTE oracle).
    */
  def q245_stream_sssp(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.ssspFrom(spark, dir, op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch bounded SSSP — the point. */
  val q245_stream_sssp_sql: String = ReportQueries.q244_sssp_sql

  /** q250 — STREAMING k-core: q249's 4-round density peel over the
    * LINEITEM stream — the SIXTY-SEVENTH pairing, completing the
    * online graph family (census q224, coefficients q225, PageRank
    * q226, k-hop q229, triangles q230, SSSP q245 — and now core
    * extraction). Same per-order membership state; the peel never
    * runs on the stream — the projection rebuilds the (o, p) frame
    * and replays q249's edge build + 4 peeling rounds verbatim
    * (shared kcoreFrom, shared unrolled-CTE oracle).
    */
  def q250_stream_kcore(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_partkey")) { op =>
      ReportQueries.kcoreFrom(op.select(col("o"), col("m").as("p")))
    }

  /** Same oracle as the batch k-core — the point. */
  val q250_stream_kcore_sql: String = ReportQueries.q249_kcore_sql

  /** q230 — STREAMING triangle counting: q118's supplier
    * co-occurrence triangle census over the LINEITEM stream — the
    * FIFTIETH pairing. Same per-order membership state as q225
    * (supplier sets); the projection replays q118's one-shuffle edge
    * build + degree-oriented enumeration + nation rollup verbatim
    * (shared trianglesFrom, shared oracle).
    */
  def q230_stream_triangles(spark: SparkSession, dir: String): DataFrame =
    orderMembers(spark, dir, col("l_suppkey")) { os =>
      AnalyticsQueries.trianglesFrom(spark, dir,
        os.select(col("o"), col("m").as("s")))
    }

  /** Same oracle as the batch triangle count — the point. */
  val q230_stream_triangles_sql: String = AnalyticsQueries.q118_triangles_sql

  /** q231 — STREAMING sketch-distinct audit: q58's KMV/HLL-vs-exact
    * report over the EVENTS stream — the FIFTY-FIRST pairing, and
    * the sketch family's online form. Per event type the state holds
    * the distinct user set; the projection rebuilds the
    * (event_type, user_id) frame and replays q58's sketch build +
    * tolerance grading verbatim (shared sketchDistinctFrom, shared
    * oracle). The exact set is the AUDIT state — it exists because
    * the batch report grades sketches against truth (the q187
    * discipline: the exact column is what a production run drops);
    * a production stream keeps only the mergeable 64-long KMV
    * bottom-k and HLL registers, O(1) per key.
    */
  def q231_stream_sketch_distinct(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[String, (Long, Seq[Long]), (String, Long, Seq[Long])](
      spark, dir, Seq("et", "seq", "us"))(
      _.event_type)((0L, Seq.empty[Long])) { (et, s0, ordered) =>
        val seen = s0._1 + ordered.size
        val us = (s0._2 ++ ordered.map(_.user_id)).distinct.sorted
        ((seen, us),
          if (ordered.isEmpty) Vector.empty else Vector((et, seen, us)))
      } { t =>
        EventQueries.sketchDistinctFrom(t.groupBy(col("et"))
          .agg(max(struct(col("seq"), col("us"))).as("b"))
          .select(col("et").as("event_type"), explode(col("b.us")).as("user_id")))
      }
  }

  /** Same oracle as the batch sketch-distinct audit — the point. */
  val q231_stream_sketch_distinct_sql: String =
    EventQueries.q58_sketch_distinct_sql

  /** q232 — STREAMING SCD2 history build: q125's slowly-changing
    * dimension over the EVENTS stream — the FIFTY-SECOND pairing,
    * the CDC pattern SCD2 exists for, maintained online. State per
    * (user, type) is the CHANGE LOG — (ts, event_id, cents) rows
    * appended only when the 2-dp value actually changes (cents via
    * the shared centsOfDouble, replaying the batch dec2 edge
    * exactly) — so state is interval-table-sized, never
    * event-history-sized. The projection explodes the compacted log
    * and replays q125's valid_to window over CHANGE POINTS only
    * (shared scd2From, shared oracle); cents/100 in exact double
    * division reproduces the batch's decimal→double cast bit-for-bit
    * (both are the correctly-rounded double of the same 2-dp value).
    */
  def q232_stream_scd2(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[(Long, String),
        (Long, Seq[graft.streaming.Pairing.ScdChange]),
        (Long, String, Long, Seq[graft.streaming.Pairing.ScdChange])](
      spark, dir, Seq("u", "et", "seq", "chs"))(
      e => (e.user_id, e.event_type))(
      (0L, Seq.empty[graft.streaming.Pairing.ScdChange])) { (k, s0, ordered) =>
        var chs = s0._2
        ordered.foreach { e =>
          val c = centsOfDouble(e.value)
          if (chs.isEmpty || chs.last.c != c)
            chs = chs :+ graft.streaming.Pairing.ScdChange(e.ts, e.event_id, c)
        }
        val seen = s0._1 + ordered.size
        ((seen, chs),
          if (ordered.isEmpty) Vector.empty
          else Vector((k._1, k._2, seen, chs)))
      } { t =>
        AnalyticsQueries.scd2From(t.groupBy(col("u"), col("et"))
          .agg(max(struct(col("seq"), col("chs"))).as("b"))
          .select(col("u").as("user_id"), col("et").as("event_type"),
            explode(col("b.chs")).as("ch"))
          .select(col("user_id"), col("event_type"),
            (col("ch.c").cast("double") / lit(100.0)).as("v"),
            col("ch.ts").as("ts"), col("ch.eid").as("event_id")))
      }
  }

  /** Same oracle as the batch SCD2 build — the point. */
  val q232_stream_scd2_sql: String = AnalyticsQueries.q125_scd2_sql

  /** q233 — STREAMING set reconcile: q136's retained/churned/new
    * audience segmentation over the EVENTS stream — the FIFTY-THIRD
    * pairing. The segment split point is a property of the WHOLE
    * history ((min+max)/2 of event time), unknowable mid-stream, so
    * per-user state holds the distinct event-micros list (per-user
    * history, the q190/q202 journey-state discipline) and the
    * projection replays q136's midpoint + INTERSECT/EXCEPT tail
    * verbatim (shared setReconcileFrom, shared oracle).
    */
  def q233_stream_set_reconcile(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[Long, (Long, Seq[Long]), (Long, Long, Seq[Long])](
      spark, dir, Seq("u", "seq", "uss"))(
      _.user_id)((0L, Seq.empty[Long])) { (u, s0, ordered) =>
        val seen = s0._1 + ordered.size
        val uss = (s0._2 ++ ordered.map(e =>
          Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000))
          .distinct.sorted
        ((seen, uss),
          if (ordered.isEmpty) Vector.empty else Vector((u, seen, uss)))
      } { t =>
        AnalyticsQueries.setReconcileFrom(t.groupBy(col("u"))
          .agg(max(struct(col("seq"), col("uss"))).as("b"))
          .select(col("u").as("user_id"), explode(col("b.uss")).as("us")))
      }
  }

  /** Same oracle as the batch set reconcile — the point. */
  val q233_stream_set_reconcile_sql: String =
    AnalyticsQueries.q136_set_reconcile_sql

  /** q234 — STREAMING wide pivot: q120's per-day event-type matrix
    * over the EVENTS stream — the FIFTY-FOURTH pairing. State per
    * (day, type) cell is ONE (count, cent-total) pair — the
    * label-bounded shape the batch pivot's own partial aggregation
    * computes — and the projection rebuilds the cell frame (cents
    * back to DECIMAL exactly) and replays q120's pivot tail verbatim
    * (shared pivotWideFrom, shared oracle).
    */
  def q234_stream_pivot_wide(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[(Long, String), (Long, Long), (Long, String, Long, Long)](
      spark, dir, Seq("d", "et", "n", "c"))(
      e => (Math.floorDiv(e.ts.getTime, 86400000L), e.event_type))(
      (0L, 0L)) { (k, s0, ordered) =>
        val n = s0._1 + ordered.size
        val c = s0._2 + ordered.map(e => centsOfDouble(e.value)).sum
        ((n, c),
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n, c)))
      } { t =>
        AnalyticsQueries.pivotWideFrom(t.groupBy(col("d"), col("et"))
          .agg(max(struct(col("n"), col("c"))).as("b"))
          .select(expr("date_from_unix_date(cast(d as int))").as("day"),
            col("et").as("event_type"), col("b.n").as("n"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(28,2)").as("s")))
      }
  }

  /** Same oracle as the batch wide pivot — the point. */
  val q234_stream_pivot_wide_sql: String = AnalyticsQueries.q120_pivot_wide_sql

  /** q235 — STREAMING ROLLUP: q33's priority×status subtotal ladder
    * over the ORDERS stream — the FIFTY-FIFTH pairing, opening the
    * multi-level aggregation family online. State per finest
    * (priority, status) cell is ONE (count, cent-total) pair; the
    * subtotal levels never run on the stream — the projection
    * rebuilds the cell frame and replays q33's rollup verbatim
    * (shared rollupFrom — decimal addition over cells is exactly the
    * batch's partial aggregation; shared oracle).
    */
  def q235_stream_rollup(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "orders")
      .select(col("o_orderkey").as("ok"), col("o_orderpriority").as("pri"),
        col("o_orderstatus").as("st"),
        graft.plans.Cents(col("o_totalprice")).as("c"))
      .as[graft.streaming.Pairing.OrdPrSt]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdPrSt,
        (String, String), (Long, Long), (String, String, Long, Long)](
      spark, st, Seq("pri", "st", "n", "c"), r => (r.ok, 0L))(
      r => (r.pri, r.st))((0L, 0L)) { (k, s0, ordered) =>
        val n = s0._1 + ordered.size
        val c = s0._2 + ordered.map(_.c).sum
        ((n, c),
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n, c)))
      } { t =>
        RelationalQueries.rollupFrom(t.groupBy(col("pri"), col("st"))
          .agg(max(struct(col("n"), col("c"))).as("b"))
          .select(col("pri").as("o_orderpriority"), col("st").as("o_orderstatus"),
            col("b.n").as("n"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(28,2)").as("sc")))
      }
  }

  /** Same oracle as the batch rollup — the point. */
  val q235_stream_rollup_sql: String = RelationalQueries.q33_rollup_sql

  /** q236 — STREAMING CUBE: q96's segment×priority all-subtotals
    * matrix over the ORDERS stream — the FIFTY-SIXTH pairing. Orders
    * resolve their market segment through the stream-static customer
    * join before typing (the #29–#31 fact-pairing idiom); state per
    * finest (segment, priority) cell is ONE (count, cent-total)
    * pair, and the projection replays q96's cube + grouping_id tail
    * verbatim (shared cubeFrom, shared oracle).
    */
  def q236_stream_cube(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val st = Tables.stream(spark, dir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("ok"), col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pri"),
        graft.plans.Cents(col("o_totalprice")).as("c"))
      .as[graft.streaming.Pairing.OrdSegPri]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.OrdSegPri,
        (String, String), (Long, Long), (String, String, Long, Long)](
      spark, st, Seq("seg", "pri", "n", "c"), r => (r.ok, 0L))(
      r => (r.seg, r.pri))((0L, 0L)) { (k, s0, ordered) =>
        val n = s0._1 + ordered.size
        val c = s0._2 + ordered.map(_.c).sum
        ((n, c),
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n, c)))
      } { t =>
        RelationalQueries.cubeFrom(t.groupBy(col("seg"), col("pri"))
          .agg(max(struct(col("n"), col("c"))).as("b"))
          .select(col("seg").as("c_mktsegment"), col("pri").as("o_orderpriority"),
            col("b.n").as("n"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(28,2)").as("sc")))
      }
  }

  /** Same oracle as the batch cube — the point. */
  val q236_stream_cube_sql: String = RelationalQueries.q96_cube_sql

  /** q237 — STREAMING GROUPING SETS: q141's returnflag/linestatus
    * subtotal report over the LINEITEM stream — the FIFTY-SEVENTH
    * pairing, closing the multi-level family (rollup/cube/sets all
    * online). Same one-(count, cent-total)-per-cell state as q235;
    * projection replays q141's grouping-sets tail verbatim (shared
    * groupingSetsFrom, shared oracle).
    */
  def q237_stream_grouping_sets(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = Tables.stream(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        graft.plans.Cents(col("l_extendedprice")).as("c"))
      .as[graft.streaming.Pairing.LiRfLs]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiRfLs,
        (String, String), (Long, Long), (String, String, Long, Long)](
      spark, st, Seq("rf", "ls", "n", "c"), r => (r.ok, r.ln))(
      r => (r.rf, r.ls))((0L, 0L)) { (k, s0, ordered) =>
        val n = s0._1 + ordered.size
        val c = s0._2 + ordered.map(_.c).sum
        ((n, c),
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n, c)))
      } { t =>
        ReportQueries.groupingSetsFrom(t.groupBy(col("rf"), col("ls"))
          .agg(max(struct(col("n"), col("c"))).as("b"))
          .select(col("rf").as("l_returnflag"), col("ls").as("l_linestatus"),
            col("b.n").as("n"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(28,2)").as("sc")))
      }
  }

  /** Same oracle as the batch grouping sets — the point. */
  val q237_stream_grouping_sets_sql: String =
    ReportQueries.q141_grouping_sets_sql

  /** q238 — STREAMING bucket fingerprint diff: q142's
    * replica-reconciliation report over the LINEITEM stream — the
    * FIFTY-EIGHTH pairing, the online form of the cross-cluster
    * consistency check. The row fingerprints come from the SHARED
    * in-plan prep (bucketDiffRows — hash60 + cents, so the folded
    * sums cannot drift from the batch's); state per bucket is FOUR
    * longs (n/fp-sum × primary/replica, 64 buckets total), and the
    * projection applies q142's diff tail verbatim (shared
    * bucketDiffFrom, shared oracle).
    */
  def q238_stream_bucket_diff(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = ReportQueries.bucketDiffRows(
        Tables.stream(spark, dir, "lineitem"))
      .select(col("okey").as("ok"), col("lineno").cast("long").as("ln"),
        col("bucket"), col("fp"), col("r"))
      .as[graft.streaming.Pairing.LiFp]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.LiFp,
        Long, (Long, Long, Long, Long), (Long, Long, Long, Long, Long)](
      spark, st, Seq("bucket", "n", "fps", "nr", "fprs"), r => (r.ok, r.ln))(
      _.bucket)((0L, 0L, 0L, 0L)) { (b, s0, ordered) =>
        val n = s0._1 + ordered.size
        val fps = s0._2 + ordered.map(_.fp).sum
        val nr = s0._3 + ordered.count(_.r)
        val fprs = s0._4 + ordered.filter(_.r).map(_.fp).sum
        ((n, fps, nr, fprs),
          if (ordered.isEmpty) Vector.empty else Vector((b, n, fps, nr, fprs)))
      } { t =>
        ReportQueries.bucketDiffFrom(t.groupBy(col("bucket"))
          .agg(max(struct(col("n"), col("fps"), col("nr"), col("fprs"))).as("b"))
          .select(col("bucket"), col("b.n").as("n_primary"),
            col("b.fps").as("fp_primary"), col("b.nr").as("n_replica"),
            col("b.fprs").as("fp_replica")))
      }
  }

  /** Same oracle as the batch bucket diff — the point. */
  val q238_stream_bucket_diff_sql: String = ReportQueries.q142_bucket_diff_sql

  /** q239 — STREAMING exact corpus dedup: q43's survivor report over
    * the DOCUMENTS stream — the FIFTY-NINTH pairing, and the
    * LLM-dedup stack's online GATE form (the spec-only
    * IncrementalDedup's claim, now oracle-verified). The normalized
    * content key comes from the SHARED in-plan prep (dedupExactRows —
    * sorted-token md5 on both sides); state per content key is
    * exactly production streaming dedup's: (min doc_id, copy count),
    * two longs per distinct content. Projection applies q43's
    * survivor tail verbatim (shared dedupExactFrom, shared oracle).
    */
  def q239_stream_dedup_exact(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = TextQueries.dedupExactRows(
        Tables.stream(spark, dir, "documents"))
      .select(col("doc_id").as("id"), col("norm_key").as("k"))
      .as[graft.streaming.Pairing.DocKey]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocKey,
        String, (Long, Long), (String, Long, Long)](
      spark, st, Seq("k", "keep", "n"), r => (r.id, 0L))(
      _.k)((Long.MaxValue, 0L)) { (k, s0, ordered) =>
        val keep =
          if (ordered.isEmpty) s0._1 else math.min(s0._1, ordered.map(_.id).min)
        val n = s0._2 + ordered.size
        ((keep, n),
          if (ordered.isEmpty) Vector.empty else Vector((k, keep, n)))
      } { t =>
        TextQueries.dedupExactFrom(t.groupBy(col("k"))
          .agg(max(struct(col("n"), col("keep"))).as("b"))
          .select(col("k").as("norm_key"), col("b.keep").as("keep_id"),
            col("b.n").as("n_copies")))
      }
  }

  /** Same oracle as the batch exact dedup — the point. */
  val q239_stream_dedup_exact_sql: String = TextQueries.q43_dedup_exact_sql

  /** q240 — STREAMING train/val/test split census: q71's per-language
    * split monitor over the DOCUMENTS stream — the SIXTIETH pairing,
    * the ingest-time view of dataset splitting (is val staying ~5%
    * per language as the corpus grows?). Split assignment from the
    * SHARED in-plan prep (trainSplitRows — the deterministic hash60
    * rule both sides); state per (lang, split) cell is ONE count;
    * projection applies q71's census tail verbatim (shared
    * trainSplitFrom, shared oracle).
    */
  def q240_stream_train_split(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    val st = TextQueries.trainSplitRows(
        Tables.stream(spark, dir, "documents"))
      .select(col("doc_id").as("id"), col("lang"), col("split"))
      .as[graft.streaming.Pairing.DocSplit]
    graft.streaming.Pairing.runStream[graft.streaming.Pairing.DocSplit,
        (String, String), Long, (String, String, Long)](
      spark, st, Seq("lang", "split", "n"), r => (r.id, 0L))(
      r => (r.lang, r.split))(0L) { (k, s0, ordered) =>
        val n = s0 + ordered.size
        (n, if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n)))
      } { t =>
        TextQueries.trainSplitFrom(t.groupBy(col("lang"), col("split"))
          .agg(max(col("n")).as("n_docs")))
      }
  }

  /** Same oracle as the batch split census — the point. */
  val q240_stream_train_split_sql: String = TextQueries.q71_train_split_sql

  /** q241 — STREAMING unpivot/melt: q148's per-user long-form
    * spending report over the EVENTS stream — the SIXTY-FIRST
    * pairing. State per (user, type) cell is ONE (count, cent-total)
    * pair (the q234 shape on a finer key); the projection rebuilds
    * the cell frame and replays q148's widen-then-melt tail verbatim
    * (shared unpivotFrom, shared oracle).
    */
  def q241_stream_unpivot(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    graft.streaming.Pairing.run[(Long, String), (Long, Long), (Long, String, Long, Long)](
      spark, dir, Seq("u", "et", "n", "c"))(
      e => (e.user_id, e.event_type))((0L, 0L)) { (k, s0, ordered) =>
        val n = s0._1 + ordered.size
        val c = s0._2 + ordered.map(e => centsOfDouble(e.value)).sum
        ((n, c),
          if (ordered.isEmpty) Vector.empty else Vector((k._1, k._2, n, c)))
      } { t =>
        ReportQueries.unpivotFrom(t.groupBy(col("u"), col("et"))
          .agg(max(struct(col("n"), col("c"))).as("b"))
          .select(col("u").as("user_id"), col("et").as("event_type"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(28,2)").as("sc")))
      }
  }

  /** Same oracle as the batch unpivot — the point. */
  val q241_stream_unpivot_sql: String = ReportQueries.q148_unpivot_sql

  /** q242 — STREAMING CDC snapshot diff: q183's added/deleted/
    * updated/unchanged census over the EVENTS stream — the
    * SIXTY-SECOND pairing. State per event_id is the compacted
    * (type, cents) image (the q124 changelog-compaction state);
    * BOTH compared snapshots derive from that image inside the
    * shared tail, so maintaining the image online IS maintaining the
    * diff (shared snapshotDiffFrom, shared oracle; cents back to
    * DECIMAL(18,2) exactly).
    */
  def q242_stream_snapshot_diff(spark: SparkSession, dir: String): DataFrame = {
    val sp = spark
    import sp.implicits._
    // State carries a per-key monotone seq (rows seen) alongside the
    // image, and the sink compacts on max(struct(seq, et, c)) — the
    // q124/q234 idiom (ADVICE r12): compacting on the image alone
    // keeps the lexicographically-largest (et, c) rather than the
    // LATEST if one key's rows ever span micro-batches, which is the
    // stated premise of a CDC update stream.
    graft.streaming.Pairing.run[Long, (Long, String, Long), (Long, Long, String, Long)](
      spark, dir, Seq("id", "seq", "et", "c"))(
      _.event_id)((0L, "", 0L)) { (id, s0, ordered) =>
        val s1 = ordered.lastOption
          .map(e => (s0._1 + ordered.size, e.event_type, centsOfDouble(e.value)))
          .getOrElse(s0)
        (s1,
          if (ordered.isEmpty) Vector.empty else Vector((id, s1._1, s1._2, s1._3)))
      } { t =>
        AnalyticsQueries.snapshotDiffFrom(t.groupBy(col("id"))
          .agg(max(struct(col("seq"), col("et"), col("c"))).as("b"))
          .select(col("id").as("event_id"), col("b.et").as("event_type"),
            (col("b.c").cast("decimal(38,4)") / 100).cast("decimal(18,2)").as("v")))
      }
  }

  /** Same oracle as the batch snapshot diff — the point. */
  val q242_stream_snapshot_diff_sql: String =
    AnalyticsQueries.q183_snapshot_diff_sql

  /** q243 — INCREMENTALLY-MAINTAINED rollup: q33's priority×status
    * ROLLUP report kept fresh through [[graft.streaming.IncrementalAgg]]
    * — the SIXTY-THIRD pairing, and the first maintained by the
    * BASE+DELTA materialized-view channel instead of
    * flatMapGroupsWithState (VERDICT r12 item 8: the last spec-only
    * streaming claim promoted to a driver-verified gate row). The
    * orders table is spilled into four part files and replayed as
    * four genuine micro-batches (maxFilesPerTrigger=1); each batch
    * appends one per-key (count, exact decimal sum) delta —
    * idempotent under batch replay (delta/batch=<id> OVERWRITE), so
    * a crashed tick re-converges. compact() then folds deltas into a
    * base version and drops them, serve() reads the view, and the
    * batch rollup tail subtotals the cells — decimal addition over
    * associative partials is exact, so four-batch maintenance ≡ one
    * whole-table aggregation bit for bit (oracle: q33's SQL
    * verbatim). At 100 TB each tick costs the NEW data plus a
    * key-sized merge; history is never re-read.
    */
  def q243_stream_mv_rollup(spark: SparkSession, dir: String): DataFrame = {
    // fresh lifecycle per invocation, ISOLATED per invocation (ADVICE
    // r13): a per-run suffix means a bench rep redoes the maintenance
    // without racing a concurrent same-JVM invocation's recursive
    // delete against its running stream/serve. Roots are registered
    // with the scratch shutdown hook; per-run growth is 4 small part
    // files + a key-sized view, cleaned at JVM exit.
    val root = RelationalQueries.scratch(s"q243_mv_r${q243Run.incrementAndGet()}")
    val keys = Seq("o_orderpriority", "o_orderstatus")
    Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/src")
    val schema = spark.read.parquet(s"$root/src").schema
    graft.streaming.Schedule.runOnceForeach(spark, s"$root/src", schema,
      s"$root/ck", Map("maxFilesPerTrigger" -> "1"))(identity) { (batch, id) =>
      graft.streaming.IncrementalAgg.processBatch(
        batch, id, s"$root/view", keys, "o_totalprice")
    }
    graft.streaming.IncrementalAgg.compact(spark, s"$root/view", keys)
    RelationalQueries.rollupFrom(
      graft.streaming.IncrementalAgg.serve(spark, s"$root/view", keys)
        .withColumnRenamed("s", "sc"))
  }

  /** Same oracle as the batch rollup — the point. */
  val q243_stream_mv_rollup_sql: String = RelationalQueries.q33_rollup_sql

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_stream_neyman" -> (q207_stream_neyman _),
    "q208_stream_quantile_normalize" -> (q208_stream_quantile_normalize _),
    "q209_stream_chi_square" -> (q209_stream_chi_square _),
    "q210_stream_benford" -> (q210_stream_benford _),
    "q211_stream_gini" -> (q211_stream_gini _),
    "q212_stream_weighted_median" -> (q212_stream_weighted_median _),
    "q213_stream_corr_matrix" -> (q213_stream_corr_matrix _),
    "q214_stream_abc" -> (q214_stream_abc _),
    "q215_stream_sla" -> (q215_stream_sla _),
    "q216_stream_k_anonymity" -> (q216_stream_k_anonymity _),
    "q217_stream_part_trend" -> (q217_stream_part_trend _),
    "q218_stream_acf" -> (q218_stream_acf _),
    "q219_stream_trailing" -> (q219_stream_trailing _),
    "q220_stream_rfm" -> (q220_stream_rfm _),
    "q221_stream_seasonal" -> (q221_stream_seasonal _),
    "q222_stream_holt_backtest" -> (q222_stream_holt_backtest _),
    "q223_stream_share_of_parent" -> (q223_stream_share_of_parent _),
    "q224_stream_component_census" -> (q224_stream_component_census _),
    "q225_stream_clustering_coeff" -> (q225_stream_clustering_coeff _),
    "q226_stream_pagerank" -> (q226_stream_pagerank _),
    "q273_stream_hits" -> (q273_stream_hits _),
    "q227_stream_assoc_rules" -> (q227_stream_assoc_rules _),
    "q228_stream_item_cf" -> (q228_stream_item_cf _),
    "q229_stream_khop" -> (q229_stream_khop _),
    "q245_stream_sssp" -> (q245_stream_sssp _),
    "q250_stream_kcore" -> (q250_stream_kcore _),
    "q230_stream_triangles" -> (q230_stream_triangles _),
    "q231_stream_sketch_distinct" -> (q231_stream_sketch_distinct _),
    "q232_stream_scd2" -> (q232_stream_scd2 _),
    "q233_stream_set_reconcile" -> (q233_stream_set_reconcile _),
    "q234_stream_pivot_wide" -> (q234_stream_pivot_wide _),
    "q235_stream_rollup" -> (q235_stream_rollup _),
    "q236_stream_cube" -> (q236_stream_cube _),
    "q237_stream_grouping_sets" -> (q237_stream_grouping_sets _),
    "q238_stream_bucket_diff" -> (q238_stream_bucket_diff _),
    "q239_stream_dedup_exact" -> (q239_stream_dedup_exact _),
    "q240_stream_train_split" -> (q240_stream_train_split _),
    "q241_stream_unpivot" -> (q241_stream_unpivot _),
    "q242_stream_snapshot_diff" -> (q242_stream_snapshot_diff _),
    "q243_stream_mv_rollup" -> (q243_stream_mv_rollup _),
    "q204_stream_mad" -> (q204_stream_mad _),
    "q201_stream_ab_test" -> (q201_stream_ab_test _),
    "q247_stream_mann_whitney" -> (q247_stream_mann_whitney _),
    "q265_stream_ks_test" -> (q265_stream_ks_test _),
    "q267_stream_spearman" -> (q267_stream_spearman _),
    "q275_stream_wilcoxon" -> (q275_stream_wilcoxon _),
    "q268_stream_bm25" -> (q268_stream_bm25 _),
    "q269_stream_js_divergence" -> (q269_stream_js_divergence _),
    "q270_stream_decontaminate" -> (q270_stream_decontaminate _),
    "q276_stream_minhash_pairs" -> (q276_stream_minhash_pairs _),
    "q277_stream_dedup_clusters" -> (q277_stream_dedup_clusters _),
    "q278_stream_source_overlap" -> (q278_stream_source_overlap _),
    "q279_stream_bpe_pairs" -> (q279_stream_bpe_pairs _),
    "q280_stream_funnel" -> (q280_stream_funnel _),
    "q281_stream_mixture_exact" -> (q281_stream_mixture_exact _),
    "q283_stream_mixture_apply" -> (q283_stream_mixture_apply _),
    "q248_stream_ann_topk" -> (q248_stream_ann_topk _),
    "q251_stream_ivf_topk" -> (q251_stream_ivf_topk _),
    "q271_stream_semdedup" -> (q271_stream_semdedup _),
    "q282_stream_ivf_pq" -> (q282_stream_ivf_pq _),
    "q253_stream_median_test" -> (q253_stream_median_test _),
    "q254_stream_zipf" -> (q254_stream_zipf _),
    "q255_stream_heavy_hitters" -> (q255_stream_heavy_hitters _),
    "q256_stream_pmi" -> (q256_stream_pmi _),
    "q257_stream_vocab_coverage" -> (q257_stream_vocab_coverage _),
    "q258_stream_tfidf_pairs" -> (q258_stream_tfidf_pairs _),
    "q259_stream_bigram_perplexity" -> (q259_stream_bigram_perplexity _),
    "q260_stream_edit_pairs" -> (q260_stream_edit_pairs _),
    "q261_stream_prefix_join" -> (q261_stream_prefix_join _),
    "q263_stream_kruskal_wallis" -> (q263_stream_kruskal_wallis _),
    "q202_stream_paths" -> (q202_stream_paths _),
    "q203_stream_gap_fill" -> (q203_stream_gap_fill _),
    "q200_stream_conversion_lag" -> (q200_stream_conversion_lag _),
    "q199_stream_survival" -> (q199_stream_survival _),
    "q198_stream_skew" -> (q198_stream_skew _),
    "q197_stream_timed_conversion" -> (q197_stream_timed_conversion _),
    "q194_stream_overlap" -> (q194_stream_overlap _),
    "q195_stream_theil_sen" -> (q195_stream_theil_sen _),
    "q191_stream_journeys" -> (q191_stream_journeys _),
    "q188_stream_retention" -> (q188_stream_retention _),
    "q184_stream_streaks" -> (q184_stream_streaks _),
    "q157_stream_holt" -> (q157_stream_holt _),
    "q165_stream_funnel" -> (q165_stream_funnel _),
    "q168_stream_sliding_distinct" -> (q168_stream_sliding_distinct _),
    "q170_stream_quantiles" -> (q170_stream_quantiles _),
    "q171_stream_interarrival" -> (q171_stream_interarrival _),
    "q172_stream_transitions" -> (q172_stream_transitions _),
    "q178_stream_multitouch" -> (q178_stream_multitouch _),
    "q181_stream_regression" -> (q181_stream_regression _),
    "q143_stream_attribution" -> (q143_stream_attribution _),
    "q134_stream_cusum" -> (q134_stream_cusum _),
    "q130_stream_ewma" -> (q130_stream_ewma _),
    "q124_stream_snapshot" -> (q124_stream_snapshot _),
    "q60_stream_tumbling" -> (q60_stream_tumbling _),
    "q109_stream_enrich" -> (q109_stream_enrich _),
    "q110_stream_anomaly" -> (q110_stream_anomaly _),
    "q114_stream_trending" -> (q114_stream_trending _),
    "q103_stream_drift" -> (q103_stream_drift _),
    "q69_stream_join" -> (q69_stream_join _),
    "q61_stream_unique" -> (q61_stream_unique _),
    "q62_stream_accumulate" -> (q62_stream_accumulate _),
    "q63_stream_sliding" -> (q63_stream_sliding _),
    "q64_stream_session" -> (q64_stream_session _)
  )

  def oracles: Map[String, String] = Map(
    "q207_stream_neyman" -> q207_stream_neyman_sql,
    "q208_stream_quantile_normalize" -> q208_stream_quantile_normalize_sql,
    "q209_stream_chi_square" -> q209_stream_chi_square_sql,
    "q210_stream_benford" -> q210_stream_benford_sql,
    "q211_stream_gini" -> q211_stream_gini_sql,
    "q212_stream_weighted_median" -> q212_stream_weighted_median_sql,
    "q213_stream_corr_matrix" -> q213_stream_corr_matrix_sql,
    "q214_stream_abc" -> q214_stream_abc_sql,
    "q215_stream_sla" -> q215_stream_sla_sql,
    "q216_stream_k_anonymity" -> q216_stream_k_anonymity_sql,
    "q217_stream_part_trend" -> q217_stream_part_trend_sql,
    "q218_stream_acf" -> q218_stream_acf_sql,
    "q219_stream_trailing" -> q219_stream_trailing_sql,
    "q220_stream_rfm" -> q220_stream_rfm_sql,
    "q221_stream_seasonal" -> q221_stream_seasonal_sql,
    "q222_stream_holt_backtest" -> q222_stream_holt_backtest_sql,
    "q223_stream_share_of_parent" -> q223_stream_share_of_parent_sql,
    "q224_stream_component_census" -> q224_stream_component_census_sql,
    "q225_stream_clustering_coeff" -> q225_stream_clustering_coeff_sql,
    "q226_stream_pagerank" -> q226_stream_pagerank_sql,
    "q273_stream_hits" -> q273_stream_hits_sql,
    "q227_stream_assoc_rules" -> q227_stream_assoc_rules_sql,
    "q228_stream_item_cf" -> q228_stream_item_cf_sql,
    "q229_stream_khop" -> q229_stream_khop_sql,
    "q245_stream_sssp" -> q245_stream_sssp_sql,
    "q250_stream_kcore" -> q250_stream_kcore_sql,
    "q230_stream_triangles" -> q230_stream_triangles_sql,
    "q231_stream_sketch_distinct" -> q231_stream_sketch_distinct_sql,
    "q232_stream_scd2" -> q232_stream_scd2_sql,
    "q233_stream_set_reconcile" -> q233_stream_set_reconcile_sql,
    "q234_stream_pivot_wide" -> q234_stream_pivot_wide_sql,
    "q235_stream_rollup" -> q235_stream_rollup_sql,
    "q236_stream_cube" -> q236_stream_cube_sql,
    "q237_stream_grouping_sets" -> q237_stream_grouping_sets_sql,
    "q238_stream_bucket_diff" -> q238_stream_bucket_diff_sql,
    "q239_stream_dedup_exact" -> q239_stream_dedup_exact_sql,
    "q240_stream_train_split" -> q240_stream_train_split_sql,
    "q241_stream_unpivot" -> q241_stream_unpivot_sql,
    "q242_stream_snapshot_diff" -> q242_stream_snapshot_diff_sql,
    "q243_stream_mv_rollup" -> q243_stream_mv_rollup_sql,
    "q204_stream_mad" -> q204_stream_mad_sql,
    "q201_stream_ab_test" -> q201_stream_ab_test_sql,
    "q247_stream_mann_whitney" -> q247_stream_mann_whitney_sql,
    "q265_stream_ks_test" -> q265_stream_ks_test_sql,
    "q267_stream_spearman" -> q267_stream_spearman_sql,
    "q275_stream_wilcoxon" -> q275_stream_wilcoxon_sql,
    "q268_stream_bm25" -> q268_stream_bm25_sql,
    "q269_stream_js_divergence" -> q269_stream_js_divergence_sql,
    "q270_stream_decontaminate" -> q270_stream_decontaminate_sql,
    "q276_stream_minhash_pairs" -> q276_stream_minhash_pairs_sql,
    "q277_stream_dedup_clusters" -> q277_stream_dedup_clusters_sql,
    "q278_stream_source_overlap" -> q278_stream_source_overlap_sql,
    "q279_stream_bpe_pairs" -> q279_stream_bpe_pairs_sql,
    "q280_stream_funnel" -> q280_stream_funnel_sql,
    "q281_stream_mixture_exact" -> q281_stream_mixture_exact_sql,
    "q283_stream_mixture_apply" -> q283_stream_mixture_apply_sql,
    "q248_stream_ann_topk" -> q248_stream_ann_topk_sql,
    "q251_stream_ivf_topk" -> q251_stream_ivf_topk_sql,
    "q271_stream_semdedup" -> q271_stream_semdedup_sql,
    "q282_stream_ivf_pq" -> q282_stream_ivf_pq_sql,
    "q253_stream_median_test" -> q253_stream_median_test_sql,
    "q254_stream_zipf" -> q254_stream_zipf_sql,
    "q255_stream_heavy_hitters" -> q255_stream_heavy_hitters_sql,
    "q256_stream_pmi" -> q256_stream_pmi_sql,
    "q257_stream_vocab_coverage" -> q257_stream_vocab_coverage_sql,
    "q258_stream_tfidf_pairs" -> q258_stream_tfidf_pairs_sql,
    "q259_stream_bigram_perplexity" -> q259_stream_bigram_perplexity_sql,
    "q260_stream_edit_pairs" -> q260_stream_edit_pairs_sql,
    "q261_stream_prefix_join" -> q261_stream_prefix_join_sql,
    "q263_stream_kruskal_wallis" -> q263_stream_kruskal_wallis_sql,
    "q202_stream_paths" -> q202_stream_paths_sql,
    "q203_stream_gap_fill" -> q203_stream_gap_fill_sql,
    "q200_stream_conversion_lag" -> q200_stream_conversion_lag_sql,
    "q199_stream_survival" -> q199_stream_survival_sql,
    "q198_stream_skew" -> q198_stream_skew_sql,
    "q197_stream_timed_conversion" -> q197_stream_timed_conversion_sql,
    "q194_stream_overlap" -> q194_stream_overlap_sql,
    "q195_stream_theil_sen" -> q195_stream_theil_sen_sql,
    "q191_stream_journeys" -> q191_stream_journeys_sql,
    "q188_stream_retention" -> q188_stream_retention_sql,
    "q184_stream_streaks" -> q184_stream_streaks_sql,
    "q157_stream_holt" -> q157_stream_holt_sql,
    "q165_stream_funnel" -> q165_stream_funnel_sql,
    "q168_stream_sliding_distinct" -> q168_stream_sliding_distinct_sql,
    "q170_stream_quantiles" -> q170_stream_quantiles_sql,
    "q171_stream_interarrival" -> q171_stream_interarrival_sql,
    "q172_stream_transitions" -> q172_stream_transitions_sql,
    "q178_stream_multitouch" -> q178_stream_multitouch_sql,
    "q181_stream_regression" -> q181_stream_regression_sql,
    "q143_stream_attribution" -> q143_stream_attribution_sql,
    "q130_stream_ewma" -> q130_stream_ewma_sql,
    "q134_stream_cusum" -> q134_stream_cusum_sql,
    "q124_stream_snapshot" -> q124_stream_snapshot_sql,
    "q60_stream_tumbling" -> q60_stream_tumbling_sql,
    "q109_stream_enrich" -> q109_stream_enrich_sql,
    "q110_stream_anomaly" -> q110_stream_anomaly_sql,
    "q114_stream_trending" -> q114_stream_trending_sql,
    "q103_stream_drift" -> q103_stream_drift_sql,
    "q69_stream_join" -> q69_stream_join_sql,
    "q61_stream_unique" -> q61_stream_unique_sql,
    "q62_stream_accumulate" -> q62_stream_accumulate_sql,
    "q63_stream_sliding" -> q63_stream_sliding_sql,
    "q64_stream_session" -> q64_stream_session_sql
  )
}
