package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The batch≡stream pairing harness: the one place graft builds a
  * keyed-state streaming pairing. [[runStream]] holds the machinery —
  * groupByKey + flatMapGroupsWithState with a canonical per-key
  * replay order, optional event-time state expiry, and an
  * AvailableNow append memory sink drained, at the small stream
  * width, through [[EventFlow.toMemory]]. [[run]] (events) and [[runDocs]]
  * (documents) are thin source adapters: each opens its table as a
  * typed stream, names its replay order, and delegates. A pairing is
  * then just its key, state type, fold step and final projection —
  * plus the batch twin's SQL as its verbatim oracle.
  *
  * Contract notes:
  *  - `step` sees each micro-batch's rows for one key in the
  *    source's replay order — for events (micros(ts), event_id) —
  *    so batch boundaries cannot reorder a key's history (the q143
  *    discipline).
  *  - State must stay O(1)-or-label/calendar-bounded per key; the
  *    harness cannot enforce that, the pairing's docstring must
  *    argue it (SURVEY §2.7 discipline).
  *  - Emissions land in an append-mode memory sink; `project` shapes
  *    the sink table into the gate frame. Multi-batch pairings whose
  *    per-batch emissions supersede each other compact in `project`
  *    (q124's max-by-monotone-sequence idiom).
  *
  * Replay economics (VERDICT r12): the graph/basket pairings
  * (q224–q230) deliberately re-run the full batch algorithm in
  * `project` over the state-rebuilt frame — per-TRIGGER replay is
  * what makes the oracle-parity gate exact, and the replayed tails
  * are the audited scale-safe batch plans. A production deployment
  * does NOT pay that per trigger: the state maintenance (this
  * harness) runs continuously, while the projection replay runs on a
  * REFRESH cadence (minutes/hours) sized to how fresh the derived
  * report must be — per-trigger cost is O(accumulated state), so the
  * cadence, not the trigger rate, owns that cost. The ×10 ScaleSmoke
  * list carries q226/q229 so the replay cost curve is measured, not
  * assumed.
  */
object Pairing {

  /** The events-table row as the stateful operators consume it. */
  case class EvRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** The documents-table row as the corpus-side pairings (#27/#28)
    * consume it — the text payload is deliberately absent: those
    * pairings' states are metadata histograms and moment triples,
    * and dropping `text` at the stream scan keeps the shuffle a few
    * dozen bytes per document.
    */
  case class DocRow(doc_id: Long, source: String, n_chars: Long)

  /** Fact-table row types for the star-schema pairings (#29–#31),
    * each already enriched by its broadcast stream-static dimension
    * join and carrying only the replay key(s) + state key + value —
    * the shuffle into the state operator is a few dozen bytes per
    * fact row regardless of the fact table's width.
    */
  case class OrdSeg(ok: Long, seg: String, pri: String)
  case class OrdRegion(ok: Long, r_name: String, c: Long)
  case class LiDigit(ok: Long, ln: Long, digit: Int)
  case class LiWm(ok: Long, ln: Long, rf: String, v: Long, w: Long)
  case class LiMom(ok: Long, ln: Long, shard: Int, q: Long, p: Long, d: Long, t: Long)
  case class LiRev(ok: Long, ln: Long, pk: Long, c: Long)
  case class LiSla(ok: Long, ln: Long, pri: String, lat: Long)
  case class CustAnon(ck: Long, n_name: String, seg: String)
  case class LiTrend(ok: Long, ln: Long, pk: Long, x: Long, c: Long)
  case class OrdDay(ok: Long, epd: Long, c: Long)
  case class OrdCust(ok: Long, ck: Long, epd: Long, c: Long)
  case class OrdNat(ok: Long, nk: Int, c: Long)
  case class LiPair(ok: Long, ln: Long, m: Long)
  case class LiEdge(ok: Long, ln: Long, a: Long, b: Long)
  case class ScdChange(ts: Timestamp, eid: Long, c: Long)
  case class OrdPrSt(ok: Long, pri: String, st: String, c: Long)
  case class OrdSegPri(ok: Long, seg: String, pri: String, c: Long)
  case class LiRfLs(ok: Long, ln: Long, rf: String, ls: String, c: Long)
  case class LiFp(ok: Long, ln: Long, bucket: Long, fp: Long, r: Boolean)
  case class DocKey(id: Long, k: String)
  case class DocSet(doc_id: Long, ts: Seq[String])
  case class DocLang(doc_id: Long, lang: String, ts: Seq[String])
  case class ClsDoc(cls: String, doc_id: Long, text: String)
  case class VecRow(vec_id: Long, embedding: Seq[Float])
  case class DocSplit(id: Long, lang: String, split: String)

  private implicit val evEnc: Encoder[EvRow] = Encoders.product[EvRow]
  private implicit val docEnc: Encoder[DocRow] = Encoders.product[DocRow]

  /** Scoped state-store provider switch for the BIG-STATE pairings
    * (VERDICT r14 item 4), resolved by MEASUREMENT in r15. The r14
    * hypothesis was that the default on-heap provider's state
    * residency caused q226's super-linear ×25 replay cost (slope 3.5
    * vs data 2.5); the r15 quiet-box A/B matrix (SCALE_r15.json)
    * refuted it: the r14 number was box contention. On a quiet box
    * the ON-HEAP provider is exactly edge-linear (q226 ×10 50.5 s →
    * ×25 125.9 s = 2.49× vs data 2.5×) and BEATS RocksDB at both
    * rungs (67.7 s / 187.8 s) — at ~1M keys the state is ~100 MB,
    * trivial for the heap, while RocksDB pays native get/put +
    * serialization on every group access. So the DEFAULT stays
    * on-heap, and RocksDB is the opt-in path
    * (GRAFT_PAIRING_STATESTORE=rocksdb) for deployments whose keyed
    * state genuinely outgrows executor heap. The r16 StateScale rung
    * (graft.tools.StateScale, SCALE_r16.json) MEASURED that
    * crossover on the 8 GiB JVM: on-heap wins at 2M synthetic keys
    * (12.3 s vs 24.9 s), RocksDB wins at 10M (87.6 s vs 102.3 s),
    * and at 30M keys on-heap DIES (java.lang.OutOfMemoryError,
    * reproduced twice) while RocksDB completes — so the opt-in
    * threshold is keyed state around a quarter of executor heap,
    * not "tens of GB". The bigState call sites stay marked so the
    * switch travels with the family that needs it.
    */
  def withBigStateStore[T](spark: SparkSession)(body: => T): T = {
    // system property first (lets a spec exercise the RocksDB branch
    // in-process — env vars are immutable per JVM), env second
    val want = sys.props.get("graft.pairing.statestore")
      .orElse(sys.env.get("GRAFT_PAIRING_STATESTORE"))
    if (!want.contains("rocksdb")) body
    else {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.get(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body finally spark.conf.set(key, prev)
    }
  }

  /** Microseconds since the epoch — the resolution Spark timestamps
    * carry, so ordering by it equals ordering by (getTime, getNanos).
    */
  def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** The canonical per-key replay order of events. */
  val eventOrder: EvRow => (Long, Long) = e => (micros(e.ts), e.event_id)

  /** The events table as a typed stream (see [[EventFlow.fromEvents]]). */
  def events(spark: SparkSession, dir: String): Dataset[EvRow] =
    EventFlow.fromEvents(spark, dir).df.as[EvRow]

  /** [[runStream]] over the events table in [[eventOrder]]. A pairing
    * over a subset of events filters [[events]] and calls
    * [[runStream]] itself.
    *
    * @param cols    sink column names for the emission tuples
    * @param key     grouping key (state partitioning)
    * @param init    initial state for a first-seen key
    * @param step    (key, state, batch rows in canonical order) →
    *                (next state, emissions)
    * @param project shapes the memory-sink table into the gate frame
    */
  def run[K, S, O](spark: SparkSession, dir: String, cols: Seq[String])
      (key: EvRow => K)(init: => S)
      (step: (K, S, Vector[EvRow]) => (S, Vector[O]))
      (project: DataFrame => DataFrame)
      (implicit ek: Encoder[K], es: Encoder[S], eo: Encoder[O]): DataFrame =
    runStream[EvRow, K, S, O](spark, events(spark, dir), cols, eventOrder)(
      key)(init)(step)(project)

  /** Synthetic event time for fact rows under expiry mode: TPC-H fact
    * rows carry no ingestion timestamp, so the TTL clock derives one
    * from the replay key — orderkey-as-hours. A production fact
    * stream uses its ingestion/commit timestamp instead. Two
    * load-bearing details, shared by every orderkey-keyed pairing
    * (q226/q245/q273 and the LiEdge family):
    *
    *   - The +1: orderkey 0 (present at sf0.01) would map to the
    *     EPOCH, tie the stateful operator's initial watermark (0),
    *     and be dropped as late — one silently missing order (caught
    *     by the r14 gate when expiry went default: q227/q228 drifted
    *     in their 4th digit; the probe found exactly one absent
    *     membership row).
    *   - The ceiling (ADVICE r14): (ok+1)·3 600 000 ms overflows the
    *     long-MICROS timestamp range (±2⁶³ µs ≈ ±292k years) once
    *     orderkey exceeds ~2.56e12 — far above TPC-H sf100k's ~6e12
    *     ROWS but only ~1.5e12 ORDERS at sf250k. A deployment past
    *     that scale shrinks the multiplier (minutes/seconds-as-key)
    *     or, correctly, uses real ingestion time; the per-query call
    *     sites inherit this bound from here, in one place.
    */
  def orderkeyEventTime(ok: Column): Column =
    org.apache.spark.sql.functions.timestamp_millis(
      (ok + org.apache.spark.sql.functions.lit(1L)) * 3600000L)

  /** Test-observable count of states removed through the event-time
    * expiry path — the removal is deliberately invisible in query
    * output, so the lifecycle spec needs a side channel to prove
    * expiry actually fired. A Spark LongAccumulator, NOT a JVM
    * AtomicLong (ADVICE r13): the increment runs inside
    * flatMapGroupsWithState on EXECUTORS, so an AtomicLong would only
    * move in single-JVM local mode — the accumulator's merged value
    * reaches the driver on any deployment. Registered lazily against
    * the live SparkContext and re-registered if the context was
    * recycled between suites. Task retries can over-count (standard
    * accumulator semantics) — the side channel proves expiry FIRED,
    * it is not an exactly-once metric.
    */
  @volatile private var expiredReg:
      (org.apache.spark.SparkContext, org.apache.spark.util.LongAccumulator) = null
  private def expiredFor(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    synchronized {
      val sc = spark.sparkContext
      if (expiredReg == null || (expiredReg._1 ne sc) || expiredReg._1.isStopped)
        expiredReg = (sc, sc.longAccumulator("graft.pairing.expired"))
      expiredReg._2
    }

  /** Driver-side view of the merged expiry count. */
  def expiredCount: Long =
    Option(expiredReg).map(_._2.value.longValue()).getOrElse(0L)

  /** The generic core: run a per-key stateful pairing over a
    * caller-prepared typed stream with a caller-declared canonical
    * replay order (a two-long sort key — (doc_id, 0) for documents,
    * (o_orderkey, 0) for orders, (l_orderkey, l_linenumber) for
    * lineitem, [[eventOrder]] for events). Callers may enrich the
    * stream with broadcast stream-static dimension joins before typing
    * it (the q109 idiom) — that is how the fact-table pairings
    * (#29–#31) key their state by star-schema labels. State must be
    * label/value-domain bounded, emissions land in an append memory
    * sink, `project` shapes the gate frame.
    *
    * State lifecycle (VERDICT r12 item 6): by default state lives
    * forever — correct for the AvailableNow parity gate, where every
    * key's history is finite and replayed once. A PRODUCTION
    * deployment of an order-keyed pairing must expire state once an
    * order's lines stop arriving, or the store grows with lifetime
    * key cardinality: pass `expireHorizonMs` and a stream that
    * carries a WATERMARKED event-time column (`withWatermark`
    * upstream — EventTimeTimeout requires it). Each batch that
    * touches a key re-arms its timeout at watermark + horizon; once
    * the watermark passes a quiet key's deadline the state is
    * REMOVED, emitting nothing. Output is identical to the
    * no-timeout run as long as no key reappears after its horizon —
    * the same assumption any keyed-state TTL makes, spec-pinned by
    * PairingLifecycleSpec (q224 in both modes, plus a planted
    * two-batch expiry run).
    */
  def runStream[R, K, S, O](spark: SparkSession, stream: Dataset[R],
      cols: Seq[String], order: R => (Long, Long),
      expireHorizonMs: Option[Long] = None, bigState: Boolean = false)
      (key: R => K)(init: => S)
      (step: (K, S, Vector[R]) => (S, Vector[O]))
      (project: DataFrame => DataFrame)
      (implicit ek: Encoder[K], es: Encoder[S], eo: Encoder[O]): DataFrame = {
    val timeoutConf =
      if (expireHorizonMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // acquired on the DRIVER before closure construction; the closure
    // captures the (serializable) accumulator itself
    val expAcc = expireHorizonMs.map(_ => expiredFor(spark))
    def maybeBig[T](body: => T): T =
      if (bigState) withBigStateStore(spark)(body) else body
    val out = stream.groupByKey(key)(ek)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeoutConf) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            expAcc.foreach(_.add(1L))
            Iterator.empty
          } else {
            val ordered = it.toVector.sortBy(order)
            val (s1, outs) = step(k, state.getOption.getOrElse(init), ordered)
            state.update(s1)
            expireHorizonMs.foreach(h =>
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + h))
            outs.iterator
          }
      }(es, eo)
    // the drained sink is an eagerly checkpointed LogicalRDD: a
    // projection that SELF-JOINS it (q188's cohort join, q194's
    // pair/audit joins) would trip Spark's conflicting-reference
    // resolution on MemoryPlan attributes, which don't dedup like
    // relation outputs
    val drained = maybeBig { EventFlow(out.toDF(cols: _*)).toMemory(spark, "append") }
    project(drained)
  }

  /** [[runStream]] over the DOCUMENTS table — the corpus-side
    * pairing source (#27 streaming Neyman, #28 streaming quantile
    * normalization). The canonical per-key replay order is doc_id
    * (unique and stable — documents carry no event time).
    */
  def runDocs[K, S, O](spark: SparkSession, dir: String, cols: Seq[String])
      (key: DocRow => K)(init: => S)
      (step: (K, S, Vector[DocRow]) => (S, Vector[O]))
      (project: DataFrame => DataFrame)
      (implicit ek: Encoder[K], es: Encoder[S], eo: Encoder[O]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ds = graft.Tables.stream(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
      .as[DocRow]
    runStream[DocRow, K, S, O](spark, ds, cols, d => (d.doc_id, 0L))(
      key)(init)(step)(project)
  }
}
