package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry, Tables}
import graft.operators.VectorIndex
import graft.sources.Topic
import graft.streaming.Heartbeat

/** Scale smoke: replicate the sf0.1 tables N× with shifted keys into
  * a scratch dir and run representative operators — measuring how the
  * plans behave an order of magnitude past the bench SF (shuffle
  * sizing, dedup under heavy duplication, window state). Replication
  * makes every document an exact 10-way duplicate, which stresses the
  * LSH bucket → pair path far harder than the original corpus.
  *
  *   sbt "runMain graft.tools.ScaleSmoke [factor] [srcSf] [outDir]
  *        [skipwrite] [only=q54_dedup_clusters,q65_corpus_pipeline]"
  */
object ScaleSmoke {

  def replicate(df: DataFrame, factor: Int, shifts: Map[String, Long]): DataFrame =
    (0 until factor).map { i =>
      shifts.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + lit(i * span))
      }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val skipWrite = args.contains("skipwrite")
    val spark = Bench.session(Bench.cpus)

    val span = 10_000_000L
    val specs: Seq[(String, Map[String, Long])] = Seq(
      "lineitem" -> Map("l_orderkey" -> span, "l_suppkey" -> span, "l_partkey" -> span),
      "orders" -> Map("o_orderkey" -> span, "o_custkey" -> span),
      "customer" -> Map("c_custkey" -> span),
      "supplier" -> Map("s_suppkey" -> span),
      "part" -> Map("p_partkey" -> span),
      "nation" -> Map(), "region" -> Map(),
      "events" -> Map("event_id" -> span, "user_id" -> span),
      "documents" -> Map("doc_id" -> span),
      "embeddings" -> Map("vec_id" -> span))

    if (!skipWrite) specs.foreach { case (t, shifts) =>
      val d = Tables(spark, src, t)
      replicate(d, factor, shifts)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] wrote $t x$factor")
    }

    // absorb JVM/codegen/parquet warmup outside the measurements
    Bench.runOne(spark, "q01_agg", SparkEntry.queries("q01_agg"), out, 1)

    val queries = Seq(
      "q01_agg", "q05_join3", "q06_join5", "q16_timed_window",
      "q34_sessionize", "q43_dedup_exact", "q45_minhash_lsh_pairs",
      "q46_simhash", "q52_vec_lsh", "q53_cosine_neardup",
      // round 2: clustering under ×N-way duplication (every doc has
      // N-1 exact copies → LSH pairs explode quadratically per
      // bucket — the worst realistic case for label propagation) and
      // the plan-time recursive flatten
      "q54_dedup_clusters", "q57_traverse",
      // round 2b: the sketch (global mergeable agg), and the full
      // curation pipeline — under ×N duplication every survivor doc
      // drags N-1 exact copies through exact-dedup and the LSH
      // cluster stage, the heaviest realistic load for both
      "q59_heavy_hitters", "q65_corpus_pipeline",
      // round 3: the nonlinear-risk set at higher factors — stream
      // interval join state, shard-local packing windows
      "q69_stream_join", "q72_seq_packing",
      // round 4: passage-grid dedup (×N duplication makes every
      // passage an N-way duplicate — worst case for the global
      // passage-hash shuffle), the assignment+explode k-means step,
      // and the vocab window over distinct tokens
      "q76_passage_dedup", "q77_repetition_trim", "q78_kmeans_step",
      "q79_vocab_coverage",
      // round 4b: the corpus-sized rank join and the tiny mixing agg
      "q80_token_rarity", "q81_mix_temperature",
      // round 5: the former scale-killers — global arrival index now
      // two-pass range-partitioned (operators/Sequence), so they run
      // here precisely BECAUSE they used to be allowlisted out
      "q19_zip", "q20_partition",
      // round 5b: the newly gated scale joins — salted scatter,
      // runtime-bloom prune, bucketed co-location (the bucketed-table
      // WRITE dominates its time at ×N; the join itself is
      // exchange-free)
      "q83_salt", "q84_bloom", "q85_bucket",
      // round 7: semantic dedup (k-bounded seeds; ×N duplication makes
      // every vector an N-way in-cell near-dup — worst case for the
      // per-cell pair term), sliding-window substring dedup (every
      // window an N-way cross-doc duplicate — worst case for the
      // window-hash shuffle), and the GroupTopK two-pass rank
      "q86_semdedup", "q87_substring_dedup", "q09_rank_slice",
      // round 7c: the production-kernel substring gate (rolling-hash
      // candidates — ×N duplication makes EVERY position a candidate,
      // the verify join's worst case), BM25 (df/N grow ×N together —
      // scores shift but the plan must stay broadcast+top-k), the
      // levenshtein verify over ×N-exploded pigeonhole buckets, and
      // the surprisal join (freq table stays vocab-sized under ×N)
      "q88_rollhash_substring", "q89_bm25", "q90_edit_pairs",
      "q91_surprisal",
      // round 7d: the BPE pair kernel (corpus fold must stay
      // vocab-bounded under ×N), the window-free shuffle-shard export
      // (range exchange + map pass — the two-pass rank's grouped
      // client), and boilerplate masking (×N duplication makes every
      // 5-gram shared — the worst case for the mask-union explode:
      // EVERY position masked, frame stays linear in tokens)
      "q92_bpe_pairs", "q93_shuffle_shard", "q94_boilerplate_mask",
      // round 7e: source-overlap matrix (×N replication makes every
      // window shared WITHIN each source — the distinct (h, source)
      // collapse is what keeps the pairing frame bounded) and the
      // 4-level cube over the joined stream
      "q95_source_overlap", "q96_cube",
      // round 7h: the pagerank step (×N on TPC-H keys densifies the
      // bipartite graph — edge distinct + node-keyed aggs must stay
      // linear in edges), hash-threshold mixture application (map-only
      // regardless of ×N), the funnel (every flag path at once; ×N
      // makes EVERY doc an exact dup — the sig-agg worst case), and
      // the zipf regression (vocab-sized frame under ×N growth)
      "q97_pagerank_step", "q98_mixture_apply", "q99_funnel",
      "q100_zipf_slope",
      // round 7i: JS divergence — the pair frame is vocab×labels²
      // bounded; ×N replication grows counts, not support, so the
      // intersection decomposition's cost must stay vocab-shaped
      "q101_js_divergence",
      // exact-quota selection: per-group-k two-pass rank; ×N grows
      // every source, local pass must keep each task's sort bounded
      "q102_mixture_exact",
      // streaming drift monitor: state holds per-window COUNTS (label-
      // sized), the divergence is a batch projection over them
      "q103_stream_drift",
      // PMI collocations: ×N replication grows counts, not vocab —
      // both count frames and the double joins must stay vocab-shaped,
      // and the final top-k stays a TakeOrderedAndProject
      "q104_pmi_collocations",
      // tf-idf cosine pairs: ×N multiplies every df by N, pushing
      // MORE tokens over the absolute df cap — on THIS corpus (31
      // synthetic tokens, all head, no Zipf tail) ×10 prunes the
      // entire vocab and the smoke's expected result is 0 rows in
      // linear time: the cap doing its job on a corpus that is all
      // stop-words. The join fan-out itself is exercised at gate SF
      // (300 verified pairs from the tokens under the cap).
      "q105_tfidf_pairs",
      // quality-based survivor selection: ×N replication makes every
      // cluster N× larger — the per-cluster argmax must stay on the
      // skew-proof two-pass, and the CC loop linear in pair count
      "q106_dedup_keep_best",
      // bigram-LM perplexity: like q104, ×N grows counts not vocab² —
      // the persisted model frames and their broadcast joins must stay
      // vocab-shaped while the two corpus scans scale linearly
      "q107_bigram_perplexity",
      // rolling anomaly: the trailing frame is O(1) state per row; ×N
      // grows each user's history 10× — the per-user sort must stay
      // the only superlinear term (and user count itself scales too)
      "q108_rolling_anomaly",
      // funnel: three aggs + two joins all on user_id — the reused
      // exchange layout must hold as both users and history grow
      "q111_funnel_steps",
      // retention: the corpus must collapse to the distinct
      // (user, day) frame BEFORE any join — users×days-bounded
      "q112_cohort_retention",
      // transitions: the lead window's per-user sort is the only
      // superlinear term; count frames stay label²-bounded
      "q113_transition_matrix",
      // round 9: the analytics family under ×N — the quantile
      // histogram stays value-domain-bounded, the triangle kernel's
      // wedge fan-out stays out-degree-bounded (×N key-shifts
      // replicate the GRAPH N times — components don't merge, so
      // triangles scale exactly ×N), compaction's partial-max keeps
      // one candidate row per (task, key)
      "q117_exact_quantiles", "q118_triangles", "q121_latest_snapshot",
      // round 9: motif reuse over the source graph (edge frame stays
      // label-bounded under ×N — replication adds windows, not
      // sources) and weighted sampling (k per source fixed, so the
      // two-pass rank's survivor frame is ×N-invariant)
      "q122_source_triangles", "q123_weighted_sample",
      // round 9b: SCD2 (per-key history 10× longer — the shared
      // window exchange is the only shuffle), EWMA (O(taps) per row
      // whatever N), prefix join (×N duplication multiplies every
      // block's membership by N — the quadratic-in-dup-class term the
      // capped guard watches), Z-order (pure projection + 64-group
      // agg), drift (one pass, conditional partials), regression
      // (moments-not-data: 5 longs per (type, day) group)
      "q125_scd2", "q126_ewma", "q127_prefix_join", "q128_zorder",
      "q129_profile_drift", "q131_daily_regression",
      // path analysis: sessions grow with ×N history; the path count
      // frame stays label³-bounded
      "q132_top_paths",
      // round 9h: gap-fill (the user×day spine grows ×N with users
      // while days stay calendar-bounded — the LOCF window must stay
      // days-deep per user), k-hop BFS (×N key-shifts replicate the
      // graph N times — frontiers scale ×N, rounds stay k), MAD
      // (value-domain-bounded histograms whatever N), attribution
      // (per-user running state; user count and history both grow),
      // grouping sets (one Expand ×3 at any N), bucket diff (64-row
      // summary at any N), gini (region histogram value-bounded),
      // association rules (counts grow ×N, vocab of pairs does not —
      // supports join must stay pair-keyed), conversion lag
      // (seconds-quantized histogram bounded at any N)
      "q137_gap_fill", "q138_khop", "q139_mad_outliers",
      "q140_attribution", "q141_grouping_sets", "q142_bucket_diff",
      "q144_gini", "q145_assoc_rules", "q146_conversion_lag",
      // round 9i-9k: audit/time-series/lifecycle kits. A/B + chi2 +
      // Benford collapse to label/digit-bounded cells at any N;
      // expectations are one scan per table + anti-joins that grow
      // linearly; skew profile's counts-of-counts stays multiplicity-
      // bounded; acf/seasonal fold day-bounded series frames (the ×N
      // user replication fattens per-day counts, not the series
      // length); holt folds a calendar-bounded array per type; streaks
      // and survival are per-user windows + cohort-bounded folds; RFM
      // histograms are value-domain bounded; ABC's global prefix sum
      // is the one part-linear total order — the two-pass range
      // exchange must parallelize, never single-task
      "q149_ab_test", "q150_chi_square", "q151_benford",
      "q152_expectations", "q153_skew_profile", "q154_acf",
      "q155_seasonal", "q156_holt", "q158_streaks", "q159_survival",
      "q160_rfm", "q161_abc",
      // round 9l: SLA (latency-domain-bounded histogram), part trend
      // (catalog-keyed exact moments), trailing RANGE windows
      // (per-customer history depth)
      "q162_sla", "q163_part_trend", "q164_trailing",
      // round 9m/9n: IVF-PQ (cell-pruned coarse pass + 20-vector
      // rerank per probe), RAG chunking (map-only, output-sized
      // explode), corr matrix (15 map-side moment partials → 1 row)
      "q166_ivf_pq", "q167_rag_chunks", "q169_corr_matrix",
      // round 9p/9q: backtest folds calendar-bounded series; CF pairs
      // are order-size-bounded; multitouch is one per-user window;
      // shares/k-anonymity collapse to label-bounded frames; RRF arms
      // are top-50 TakeOrderedAndProject
      "q173_holt_backtest", "q174_item_cf", "q175_multitouch",
      "q176_share_of_parent", "q177_k_anonymity", "q179_hybrid_rrf",
      // round 10: JW linkage (×N duplication multiplies title-class
      // membership — the exact-class collapse must keep candidates
      // class²-not-doc²), clustering coefficient (corner explode and
      // degrees stay edge-keyed; ×N key-shifts replicate the graph so
      // cc distributions are ×N-invariant), KMV overlap (sketches are
      // k-longs whatever N), 3-round PageRank (edge frame ×N, vector
      // node-sized), journey regex (strings grow with ×N history —
      // the per-user agg is the only superlinear term), correlated
      // subqueries (decorrelated aggregates scale like any groupBy),
      // Theil-Sen (calendar²-bounded pair frame at any N)
      "q185_jaro_linkage", "q186_clustering_coeff", "q187_kmv_overlap",
      "q189_pagerank_iter", "q190_journey_patterns",
      "q192_correlated_sub", "q193_theil_sen",
      // round 12: component census — the iterative distributed-CC
      // loop is the one graph fixpoint not already covered by the
      // pagerank/triangle rows; ×N key-shifts replicate the graph so
      // the label-propagation round count (log-diameter) must not
      // grow with N, only the edge frame each round folds
      "q180_component_census",
      // round 11: timed conversions (two per-user window carries at
      // any N); the q198 skew-profile batch twin is q153 (already
      // here); KM survival's at-risk frame is cohort×day-bounded at
      // any N (q159 already here); conversion-lag (q146 already
      // here). The streaming twins run micro-batch machinery, not ×N
      // plan shapes — the batch pipelines they share are the scale
      // surface, so the smoke exercises those.
      "q196_timed_conversion",
      // round 11 cont.: Neyman allocation (label-sized allocation
      // frames + one map-only draw pass) and quantile normalization
      // (value-domain-bounded histograms + broadcast non-equi
      // lookup — the |values|² product is the term to watch at ×N)
      "q205_neyman_sample", "q206_quantile_normalize",
      // round 13 (VERDICT r12 item 7): the two heaviest streaming
      // pairings — per-trigger replay of the k-hop and PageRank
      // batch tails over state-rebuilt graphs. Their ×10 cost curve
      // is the replay economics Pairing.scala documents (production
      // amortizes on a refresh cadence); measuring them keeps that
      // claim a number, not an assumption. The micro-batch state
      // maintenance itself is N-linear; the replayed tails follow
      // the q138/q189 width laws already smoked above.
      "q226_stream_pagerank", "q229_stream_khop",
      // round 13 continuation: bounded weighted SSSP — ×N key-shifts
      // replicate the weighted graph, so per-round relaxation cost is
      // edge-linear and the dist frame node-linear (no reached-set
      // anti-join to degrade); Mann–Whitney folds the per-user frame
      // to a value histogram whose rank partials are DECIMAL(38,0) —
      // the globalPrefixSum range exchange is the one total order;
      // k-core's per-round degree recount is edge-linear with a
      // node-bounded broadcast survivor set
      "q244_sssp", "q246_mann_whitney", "q249_kcore",
      // round 14: the k-core replay twin joins q226/q229 as the third
      // measured point of the per-trigger replay family (VERDICT r13
      // item 5 asks for a ×25 rung beside ×10 so "linear in
      // accumulated edges" is a measured slope — run with
      // only=q226_stream_pagerank,q229_stream_khop,q250_stream_kcore
      // at both factors); Kruskal–Wallis folds to the same
      // value-domain histogram as q246 (the rank partials' DECIMAL
      // overflow envelope is the thing the ×N run certifies)
      "q250_stream_kcore", "q262_kruskal_wallis",
      // round 14 pairings #74–#77: the online text/similarity
      // monitors — complete-mode histogram states over ×N docs; the
      // replayed batch tails follow the q105/q107/q90/q127 width laws
      // already smoked above, so the ×N number isolates the state
      // maintenance + rebuild cost
      "q258_stream_tfidf_pairs", "q259_stream_bigram_perplexity",
      "q260_stream_edit_pairs", "q261_stream_prefix_join",
      // round 14 continuation: the new exact rank tests fold to
      // value-domain histograms (same envelope as q246/q262 — the ×N
      // run certifies the DECIMAL(38,0) rank partials and the double
      // prefix-sum in KS); Spearman adds the distinct-spend rank-map
      // hash join, the one join here whose build side grows with
      // users; HITS is two exact-integer edge-sum rounds (edge-linear
      // like SSSP, without even the decq step); the online BM25 /
      // MinHash-index twins measure postings/membership state
      // maintenance + verbatim tail replay at ×N docs
      "q264_ks_test", "q266_spearman", "q274_wilcoxon", "q272_hits",
      "q268_stream_bm25", "q276_stream_minhash_pairs",
      "q279_stream_bpe_pairs")
    // round 5: the persisted-serving paths — not SparkEntry
    // queries (they need a built store), so they run as named extras.
    // round 16 adds sidx (the q73 postings index: build / incremental
    // tick / serve — VERDICT r15 item 6's maintained-index rung).
    val extras = Seq("vidx", "heartbeat", "sidx")
    val only = args.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet)
    // a typo'd name must fail the smoke, not pass it vacuously
    only.foreach { s =>
      val unknown = s -- queries.toSet -- extras.toSet
      require(unknown.isEmpty,
        s"unknown smoke queries ${unknown.mkString(",")} — known: ${(queries ++ extras).mkString(",")}")
    }
    val selected = only.fold(queries)(s => queries.filter(s.contains))
    // the shared timing loop: each query computes its full result, and
    // clears the cache after, so ×N-sized persisted frames don't pile up;
    // a failed query reads -1
    val times = selected.map { name =>
      val sec = Bench.runOne(spark, name, SparkEntry.queries(name), out, 1).best
      println(f"[scale] $name%-24s $sec%8.2f s")
      name -> sec
    } ++
      (if (only.forall(_.contains("vidx"))) smokeVectorIndex(spark, out, factor) else Nil) ++
      (if (only.forall(_.contains("heartbeat"))) smokeHeartbeat(spark, factor) else Nil) ++
      (if (only.forall(_.contains("sidx"))) smokeSearchIndex(spark, out, factor) else Nil)
    val qs = times.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"scale_smoke_total","value":${times.map(_._2).filter(_ >= 0).sum},"unit":"sec","failed":${times.count(_._2 < 0)},"factor":$factor,"queries":$qs}"""
    println(line)
    // driver-adjacent artifact (VERDICT r9 item 5): the per-round
    // scale regression check should be a mechanical diff of this file,
    // not PLANS prose. Same rung format as Bench's bench_out.json.
    val artifact = args.find(_.startsWith("artifact="))
      .map(_.stripPrefix("artifact=")).getOrElse("SCALE.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  private def timed[A](label: String)(body: => A): (A, (String, Double)) = {
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[scale] $label%-24s $sec%8.2f s")
    (a, label -> sec)
  }

  /** Persisted-IVF serving at scale: k GROWS with the corpus (the
    * production contract — per-cell size stays ~constant), so a probe
    * reading its nprobe cells' buckets does ~flat work as the corpus
    * multiplies. Build cost is reported separately from steady-state
    * serve cost; the serve number is what should stay flat across
    * factors.
    */
  def smokeVectorIndex(spark: SparkSession, out: String, factor: Int): Seq[(String, Double)] = {
    val vecs = spark.read.parquet(s"$out/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = vecs.count()
    val k = math.max(16, (n / 2000).toInt) // cells scale with corpus
    val base = java.nio.file.Files.createTempDirectory("graft_scale_vidx").toString
    val store = VectorIndex.open(spark, s"$base/cells", numBuckets = 32)
    val (cents, tTrain) = timed("vidx_train")(
      VectorIndex.train(spark, vecs, k, iters = 2, samplePermille = 100))
    val (_, tIndex) = timed("vidx_index")(VectorIndex.index(store, vecs, cents))
    // incremental tick (r16): a 1% delta arrives under the watched
    // dir. Structural term: a random delta assigns across ALL cells,
    // so the merge-on-write upsert rewrites every touched bucket —
    // worst-case O(touched-bucket bytes), the read-optimized store's
    // documented tradeoff (amortized in production by tick cadence).
    // Measured (SCALE_r16): at these store sizes the tick is
    // micro-batch-machinery-dominated — ×50/×10 slope 1.4 ≤ data 5.
    val srcDir = s"$base/src"
    vecs.sample(withReplacement = false, 0.01, seed = 7)
      .withColumn("vec_id", col("vec_id") + lit(900_000_000L))
      .write.mode("append").parquet(srcDir)
    val (_, tTick) = timed("vidx_tick")(
      VectorIndex.updateTick(spark, srcDir, vecs.schema, s"$base/ckpt", store, cents))
    val probeIds = vecs.select(col("vec_id")).orderBy(col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val probes = vecs.filter(col("vec_id").isin(probeIds.map(Long.box): _*))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pemb"))
    val (nServed, tServe) = timed("vidx_serve")(
      VectorIndex.serve(spark, store, cents, probes, nprobe = 2, k = 5)(_.count()))
    require(nServed == probeIds.length * 5L,
      s"expected ${probeIds.length * 5} served rows, got $nServed")
    println(s"[scale] vidx n=$n k=$k served=$nServed")
    Seq(tTrain, tIndex, tTick, tServe)
  }

  /** Persisted full-text postings at scale (the q73 serve path —
    * VERDICT r15 item 6's maintained-index rung): the bulk build
    * scales with the corpus; the incremental tick ingests a 1% delta
    * whose tokens span every tok-bucket, so under the store's
    * merge-on-write protocol its worst case is O(touched-bucket
    * bytes) — the documented tradeoff, amortized in production by
    * tick cadence (measured in SCALE_r16: machinery-dominated at
    * these sizes, ×50/×10 slope 1.7 ≤ data 5); serve reads ≤|terms|
    * bucket dirs,
    * so the serve number should stay ~flat as the corpus multiplies.
    * Query terms are picked from the corpus head so the AND is
    * satisfiable at any factor.
    */
  def smokeSearchIndex(spark: SparkSession, out: String, factor: Int): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"$out/documents.parquet")
      .select(col("doc_id"), col("text"))
    val terms = docs.limit(1000)
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).count().orderBy(col("count").desc, col("tok")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_scale_sidx").toString
    val store = graft.operators.SearchIndex.open(spark, s"$base/postings", numBuckets = 32)
    val (_, tBuild) = timed("sidx_build")(
      graft.operators.SearchIndex.index(store, docs, "doc_id", "text"))
    // delta tick: 1% new docs land under the watched dir; the tick's
    // cost is the thing that must NOT grow with the corpus factor
    val srcDir = s"$base/src"
    docs.sample(withReplacement = false, 0.01, seed = 7)
      .withColumn("doc_id", col("doc_id") + lit(900_000_000L))
      .write.mode("append").parquet(srcDir)
    val (_, tTick) = timed("sidx_tick")(
      graft.operators.SearchIndex.updateTick(spark, srcDir, docs.schema,
        s"$base/ckpt", store, "doc_id", "text"))
    val (hits, tServe) = timed("sidx_serve") {
      (1 to 5).map(_ =>
        graft.operators.SearchIndex.search(spark, store, terms, 10).count()).sum
    }
    require(hits > 0, s"sidx serve returned no hits for terms $terms")
    println(s"[scale] sidx terms=${terms.mkString(",")} hits=$hits")
    Seq(tBuild, tTick, tServe)
  }

  /** Heartbeat liveness at scale: the beat LOG grows with factor
    * (fleet × ticks) but liveness is one groupBy-max producing a
    * worker-bounded frame — the scan parallelizes and the state never
    * exceeds one row per worker.
    */
  def smokeHeartbeat(spark: SparkSession, factor: Int): Seq[(String, Double)] = {
    val workers = 200
    val ticksPerBatch = math.max(1, factor / 10)
    val batches = 10
    val topic = Topic(spark,
      java.nio.file.Files.createTempDirectory("graft_scale_hb").toString, "beats")
    val (_, tPub) = timed("heartbeat_publish") {
      for (b <- 0 until batches) {
        val beats = for {
          t <- 0 until ticksPerBatch
          w <- 0 until workers
          tick = b * ticksPerBatch + t
          // half the fleet dies halfway through the run
          if w < workers / 2 || tick < batches * ticksPerBatch / 2
        } yield Heartbeat.Beat(f"w$w%04d", tick.toLong, tick * 1000L)
        Heartbeat.beat(topic, beats)
      }
    }
    val horizon = batches * ticksPerBatch * 1000L
    val (stale, tLive) = timed("heartbeat_liveness")(
      Heartbeat.staleWorkers(topic, asOfMs = horizon, staleAfterMs = 2000L).count())
    require(stale == workers / 2, s"expected ${workers / 2} stale workers, got $stale")
    println(s"[scale] heartbeat beats=${topic.replay().count()} stale=$stale")
    Seq(tPub, tLive)
  }
}
