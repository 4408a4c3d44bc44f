package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + shape checks for every registered query at sf0.001.
  * Full value-level verification runs through tools/check.py (DuckDB
  * oracle) — these specs guard compile-time wiring and plan health.
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 8)
  val dir = "/root/testdata/sf0.001"

  test("every query runs and yields a schema at sf0.001") {
    // materialize, not count(): count() lets Catalyst prune columns
    // (q44 keeps no MinHash), so every column is computed here
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.schema.nonEmpty, s"$name: empty schema")
      try Bench.materialize(df) catch { case e: Throwable => fail(s"$name: materialize failed", e) }
    }
  }

  test("every query has either an oracle or a documented omission") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but must be deliberate:
    assert(noOracle.forall(_.startsWith("q5")),
      s"queries missing oracle SQL: $noOracle")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench per-query line survives the harness tail window at the current query count") {
    // the harness keeps the last ~2000 chars of stdout and parses the
    // last line; Bench degrades full-name 2-dec → 1-dec → whole
    // seconds → SHORT-KEY ("q87") 1-dec → short-key whole seconds
    // before dropping per-query data entirely. The LAST per-query
    // rung (short keys, worst case 3-digit values) must fit the
    // 1900-char guard — this fails AT THE COMMIT that adds the query
    // that overflows, not two rounds later in a driver artifact.
    // the LAST per-query rung (r11: num-key whole-seconds LEAN — the
    // aux sf0.01 + batch/streaming split scalars drop off; they live
    // in bench_out.json and every earlier rung)
    val header = """{"metric":"total","value":99999,"unit":"sec","failed":0,"queries":"""
    // compact rungs carry the dir basename only (Bench sfTag)
    val tail = s""","sf":"sf0.1"}"""
    val short = SparkEntry.queries.keys.map(_.takeWhile(_ != '_')).toSeq
    // short keys must map 1:1 back to full names or the rung would
    // silently merge two queries' timings
    assert(short.distinct.length == short.length,
      s"duplicate short bench keys: ${short.diff(short.distinct).mkString(",")}")
    // The final SPARSE rung (r12, added when the dense num-key rung's
    // 2-digit worst case outgrew the window at 226 queries) omits
    // zero-valued entries, so its width scales with the number of
    // ≥0.5 s queries, not the gate size. Pin the capacity envelope:
    // 150 slow entries at the honest worst case (3-digit key +
    // 2-digit whole-second value — a ≥100 s query at sf0.1 is a blown
    // perf gate flagged by the driver artifact itself) must fit.
    // Today 92 of 226 queries are ≥0.5 s at sf0.1 and the slowest is
    // ~6 s; 150 two-digit entries is ~3× the contention-inflated
    // reality the r11 driver artifact showed.
    val slowBudget = 150
    val keyWidth = short.map(_.length - 1).max max 3
    val worst = Seq.fill(slowBudget)("\"" + "9" * keyWidth + "\":99")
      .mkString("{", ",", "}")
    val len = header.length + worst.length + tail.length
    assert(len <= 1900,
      s"sparse num-key bench rung at $slowBudget slow queries = $len chars > 1900 — per-query data would drop to totals-only")
    // and with today's distribution (≤92 slow queries) the margin is
    // comfortable even if every slow query hit 2 digits
    val today = header.length + tail.length +
      2 + 92 * (keyWidth + 7) // {…} + per-entry "kkk":99,
    assert(today <= 1600, s"sparse rung at today's slow-query count = $today chars — expected ample margin")
  }

  test("q82 largest-remainder split allocates the budget EXACTLY") {
    import org.apache.spark.sql.functions._
    val planned = SparkEntry.queries("q82_mix_largest_remainder")(spark, dir)
      .agg(sum(col("planned"))).collect()(0).getLong(0)
    assert(planned == 10000L, s"sum(planned) must equal the 10000 budget, got $planned")
    // and q81's floor split undershoots by at most one unit per
    // source (zero when the division is exact, as at sf0.001)
    val q81 = SparkEntry.queries("q81_mix_temperature")(spark, dir)
    val floored = q81.agg(sum(col("planned"))).collect()(0).getLong(0)
    val nSources = q81.count()
    assert(floored <= 10000L && floored > 10000L - nSources,
      s"floor split must undershoot by < 1/source ($nSources sources), got $floored")
  }

  test("q205 Neyman allocation: budget exact, weights match a driver recount, draw matches the hash rule") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q205_neyman_sample")(spark, dir).collect()
    assert(out.map(_.getAs[Long]("planned")).sum == 100L,
      "largest-remainder split must allocate the 100-doc budget exactly")
    // weights: w_q = floor(sqrt(n*ss - s*s) * 1e6) from collected raw lengths
    val raw = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    out.foreach { r =>
      val ys = raw(r.getAs[String]("source")).map(_._2)
      val (n, s, ss) = (ys.length.toLong, ys.sum, ys.map(y => y * y).sum)
      val w = math.floor(math.sqrt((n * ss - s * s).toDouble) * 1e6).toLong
      assert(r.getAs[Long]("w_q") == w, s"w_q drift for ${r.getString(0)}")
      assert(r.getAs[Long]("achieved") <= r.getAs[Long]("n"))
    }
    // more spread·size → more budget (monotone in w_q up to the ±1
    // largest-remainder bonus)
    val byW = out.sortBy(_.getAs[Long]("w_q"))
    assert(byW.last.getAs[Long]("planned") >= byW.head.getAs[Long]("planned") - 1)
  }

  test("q206 quantile normalization: exact-rank properties hold") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q206_quantile_normalize")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // monotone: within a source, higher length never maps lower
    out.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4, s"$src: qy not monotone")
        case _ => ()
      }
      // top value per source maps to the global maximum
      val gmax = out.map(_._2).max
      assert(sorted.last._4 == gmax, s"$src: top rank must map to global max")
    }
    // every mapped value is a real global value
    val globals = out.map(_._2).toSet
    assert(out.forall(r => globals.contains(r._4)))
  }

  test("q88's rolling-hash candidates+verify equals q87's md5 formulation where they overlap") {
    import org.apache.spark.sql.functions._
    // hash-independence contract: the verified shared-window count is
    // a pure function of the corpus, so the rolling-hash candidate
    // path (q88) must agree with the hash-everything md5 path (q87)
    // doc by doc — a false NEGATIVE in the rolling kernel would show
    // up here as q88 < q87.
    val q87 = SparkEntry.queries("q87_substring_dedup")(spark, dir)
      .select(col("doc_id"), col("n_shared_windows"))
    val q88 = SparkEntry.queries("q88_rollhash_substring")(spark, dir)
      .select(col("doc_id"), col("n_verified_shared"))
    val diff = q87.join(q88, "doc_id")
      .filter(col("n_shared_windows") =!= col("n_verified_shared"))
    assert(diff.isEmpty, s"q87/q88 disagree:\n${diff.limit(5).collect().mkString("\n")}")
  }

  test("q89 BM25 ranks are 1..20 with non-increasing scores") {
    val rows = SparkEntry.queries("q89_bm25")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq,
      "ranks must be dense from 1")
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse, "scores must be non-increasing in rank")
  }

  test("q90 verified pairs are symmetric-free and within the levenshtein band") {
    val rows = SparkEntry.queries("q90_edit_pairs")(spark, dir).collect()
    assert(rows.nonEmpty, "the synthetic corpus plants near-dup pairs; none found")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be a_id < b_id (no mirrored rows)")
      assert(r.getLong(2) <= 10, s"lev ${r.getLong(2)} above the gate band")
    }
  }

  test("q92 BPE pair counts equal a brute-force recount of the corpus") {
    // the gate checks vs DuckDB's replica of the SAME aggregation
    // shape; this asserts vs an INDEPENDENT formulation (per-doc
    // tokenization + in-memory pair fold), so a shared
    // misunderstanding of the kernel can't pass both
    val texts = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("text"))
      .collect().map(_.getString(0))
    val expect = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      t.split(" ").filter(_.nonEmpty).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          expect(p) = expect.getOrElse(p, 0L) + 1L
        }
      }
    }
    val top = expect.toSeq.sortBy { case (p, n) => (-n, p) }.take(30)
    val got = SparkEntry.queries("q92_bpe_pairs")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(got == top, s"BPE pair counts diverge from brute force:\n got=$got\n exp=$top")
  }

  test("q93 emits a shard-contiguous permutation with a Window-free plan") {
    val q = SparkEntry.queries("q93_shuffle_shard")(spark, dir)
    // the scale contract: within-shard positions WITHOUT the
    // per-shard window funnel — no Window node may exist at all
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q93 must stay window-free:\n$plan")
    val rows = q.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
    val n = rows.length
    assert(rows.map(r => (r._1, r._2)).distinct.length == n, "(shard,pos) must be unique")
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $shard positions not contiguous from 1")
    }
    // deterministic: a second independent run yields the identical permutation
    val again = SparkEntry.queries("q93_shuffle_shard")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0)))
    assert(again.sorted.toSeq == rows.sorted.toSeq, "re-run must reproduce the permutation")
  }

  test("q94 masked counts equal a brute-force positional mask union") {
    val docs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, tk) =>
      tk.sliding(5).filter(_.length == 5).foreach { g =>
        val k = g.mkString(" ")
        gramDocs(k) = gramDocs.getOrElse(k, Set.empty) + id
      }
    }
    val shared = gramDocs.filter(_._2.size >= 2).keySet
    val expect = docs.map { case (id, tk) =>
      val masked = tk.sliding(5).zipWithIndex
        .filter { case (g, _) => g.length == 5 && shared(g.mkString(" ")) }
        .flatMap { case (_, s) => s until s + 5 }.toSet
      (id, tk.length.toLong, masked.size.toLong)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q94_boilerplate_mask")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, "q94 masked counts diverge from brute force")
    assert(expect.exists(_._3 > 0), "the synthetic corpus plants cross-doc spans; none masked")
  }

  test("q95 overlap matrix equals a brute-force window-set intersection") {
    val docs = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getString(1), r.getString(2).split(" ").filter(_.nonEmpty).toSeq))
    val bySource = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap { case (_, tk) =>
        tk.sliding(50).filter(_.length == 50).map(_.mkString(" "))
      }.toSet
    }
    val expect = (for {
      (a, wa) <- bySource; (b, wb) <- bySource if a < b
      n = (wa intersect wb).size if n > 0
    } yield ((a, b), n.toLong)).toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q95_source_overlap")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
    assert(got == expect, s"overlap matrix diverges:\n got=$got\n exp=$expect")
    assert(expect.nonEmpty, "the synthetic corpus plants cross-source spans; none found")
  }

  test("q96 cube levels are each a complete partition of the joined rows") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q96_cube")(spark, dir).collect()
    // gid 0=(seg,prio) 1=(seg) 2=(prio) 3=grand total: every level's
    // counts must sum to the same joined-row total — subtotal rows
    // that double-count or drop rows fail here even if each row's own
    // aggregate is right
    val byGid = rows.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(byGid.keySet == Set(0L, 1L, 2L, 3L), s"cube must emit all 4 levels, got ${byGid.keySet}")
    assert(byGid.values.toSet.size == 1,
      s"every cube level must partition the same total, got $byGid")
    val total = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey")).count()
    assert(byGid(3L) == total, s"grand total ${byGid(3L)} != joined rows $total")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  test("q97 pagerank step equals brute force and conserves rank mass") {
    import org.apache.spark.sql.functions._
    val edges = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => ("c" + r.get(0).toString, "s" + r.get(1).toString))
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (u, es) => u -> es.length }
    val n = deg.size
    val inc = sym.groupBy(_._2).map { case (v, es) =>
      v -> es.map { case (u, _) =>
        // the query's decq edge: floor-int64 at scale 12 (round-11)
        java.math.BigDecimal.valueOf(
          math.floor(1.0 / (n.toLong * deg(u)).toDouble * 1e12).toLong, 12)
      }.reduce(_.add(_))
    }
    val got = SparkEntry.queries("q97_pagerank_step")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == n, s"${got.length} nodes vs $n")
    got.foreach { case (v, d, pr) =>
      assert(d == deg(v), s"$v degree $d vs ${deg(v)}")
      val expect = 0.15 / n + 0.85 * inc(v).doubleValue
      assert(math.abs(pr - expect) < 1e-12, s"$v: $pr vs $expect")
    }
    val mass = got.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass drifted from 1")
  }

  test("q98 achieved counts equal the hash-rule brute force; clamp takes all docs") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val got = SparkEntry.queries("q98_mixture_apply")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.foreach { case (src, nDocs, planned, thr, achieved, dev) =>
      assert(thr == math.min(1000000L, 1000000L * planned / nDocs),
        s"$src threshold rule broken")
      val brute = docs.count { case (id, s) =>
        s == src && h60("mix:" + id) % 1000000L < thr }
      assert(achieved == brute, s"$src achieved $achieved vs brute $brute")
      assert(dev == achieved - planned)
      if (thr == 1000000L) assert(achieved == nDocs,
        s"$src clamped threshold must keep every doc")
    }
  }

  test("q99 funnel attribution matches per-doc brute force and partitions each source") {
    import org.apache.spark.sql.functions._
    import graft.operators.{TextAnalysis => TA}
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val toks = docs.map { case (id, _, _, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val sigs = docs.map { case (id, _, _, t) => id -> md5hex(t) }.toMap
    val rep = sigs.toSeq.groupBy(_._2).map { case (sig, ids) =>
      sig -> ids.map(_._1).min }
    val evalGrams = docs.map(_._1).filter(_ % 31 == 0).toSet[Long]
      .flatMap(id => toks(id).sliding(5).filter(_.length == 5).map(_.mkString(" ")))
    val stopSet = TA.stopEn.toSet
    def stageOf(id: Long, lang: String): String = {
      val tk = toks(id)
      val stopRatio = tk.count(stopSet).toDouble / math.max(tk.length, 1).toDouble
      if (id % 31 == 0) "1_eval_holdout"
      else if (lang != "en") "2_non_en"
      else if (tk.length < 30) "3_too_short"
      else if (stopRatio < 0.10) "4_low_stopword"
      else if (id != rep(sigs(id))) "5_exact_dup"
      else if (tk.sliding(5).exists(g => g.length == 5 && evalGrams(g.mkString(" "))))
        "6_contaminated"
      else "7_kept"
    }
    val expect = docs.groupBy { case (id, src, lang, _) => (src, stageOf(id, lang)) }
      .map { case ((src, st), ds) => (src, st, ds.length.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q99_funnel")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect, s"funnel diverges:\n got=$got\n exp=$expect")
    val perSource = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val gotSource = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(gotSource == perSource, "stage counts must partition every source")
    assert(got.map(_._2).distinct.size >= 4, "synthetic corpus should hit several stages")
  }

  test("q101 JS divergence matches brute force over union support and sits in [0, ln2]") {
    import org.apache.spark.sql.functions._
    // the query's decq edge: floor through an exact int64 (round-11)
    def q(d: Double, s: Int): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(math.floor(d * math.pow(10, s)).toLong, s)
    val docs = Tables.documents(spark, dir).select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val dist = docs.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val n = toks.length.toDouble
      src -> toks.groupBy(identity).map { case (t, o) => t -> o.length / n }
    }
    val ln2 = 0.6931471805599453
    // brute force computed over the FULL UNION support (the textbook
    // formula) with the query's quantization — proving the
    // intersection decomposition didn't lose the disjoint mass
    def js(pa: Map[String, Double], pb: Map[String, Double]): Double = {
      val inter = pa.keySet intersect pb.keySet
      val sa = inter.toSeq.map { t =>
        q(pa(t), 12).multiply(q(math.log(2 * pa(t) / (pa(t) + pb(t))), 6)) }
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val sb = inter.toSeq.map { t =>
        q(pb(t), 12).multiply(q(math.log(2 * pb(t) / (pa(t) + pb(t))), 6)) }
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val spa = inter.toSeq.map(t => q(pa(t), 12))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val spb = inter.toSeq.map(t => q(pb(t), 12))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      0.5 * (sa.doubleValue + sb.doubleValue +
        (1.0 - spa.doubleValue) * ln2 + (1.0 - spb.doubleValue) * ln2)
    }
    val got = SparkEntry.queries("q101_js_divergence")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    val srcs = dist.keys.toSeq.sorted
    val expectPairs = for (a <- srcs; b <- srcs if a < b
      && (dist(a).keySet intersect dist(b).keySet).nonEmpty) yield (a, b)
    assert(got.keySet == expectPairs.toSet)
    got.foreach { case ((a, b), v) =>
      val e = js(dist(a), dist(b))
      assert(math.abs(v - e) < 1e-12, s"($a,$b): $v vs $e")
      assert(v >= -1e-9 && v <= ln2 + 1e-9, s"($a,$b) out of range: $v")
    }
  }

  test("q103 stream drift: windows partition the stream, JS within [0, ln2]") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q103_stream_drift")(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val total = Tables.events(spark, dir).count()
    assert(rows.map(_._2).sum == total,
      "per-window event counts must partition the stream exactly")
    val ln2 = 0.6931471805599453
    rows.foreach { case (b, n, nt, js) =>
      assert(n > 0 && nt > 0, s"$b empty window emitted")
      assert(js >= -1e-9 && js <= ln2 + 1e-9, s"$b JS out of range: $js")
    }
    // drift must actually vary across windows or the monitor is inert
    assert(rows.map(_._4).distinct.length > 1, "constant JS across all windows")
  }

  test("q100 zipf slope matches brute-force least squares and is negative") {
    import org.apache.spark.sql.functions._
    def q6(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(math.floor(d * 1e6).toLong, 6)
    val docs = Tables.documents(spark, dir).select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (lang, ds) =>
      val freq = ds.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (t, o) => (t, o.length) }
      val ranked = freq.toSeq.sortBy { case (t, c) => (-c, t) }
      val pts = ranked.zipWithIndex.map { case ((_, c), i) =>
        (q6(math.log((i + 1).toDouble)), q6(math.log(c.toDouble))) }
      val n = pts.length.toDouble
      def s(f: ((java.math.BigDecimal, java.math.BigDecimal)) => java.math.BigDecimal) =
        pts.map(f).reduce(_.add(_)).doubleValue
      val (sx, sy) = (s(_._1), s(_._2))
      val sxy = s(p => p._1.multiply(p._2)); val sxx = s(p => p._1.multiply(p._1))
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      lang -> (pts.length.toLong, slope, (sy - slope * sx) / n)
    }
    val got = SparkEntry.queries("q100_zipf_slope")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == expect.keySet)
    got.foreach { case (lang, nv, slope, icpt) =>
      val (en, es, ei) = expect(lang)
      assert(nv == en, s"$lang vocab $nv vs $en")
      assert(math.abs(slope - es) < 1e-12, s"$lang slope $slope vs $es")
      assert(math.abs(icpt - ei) < 1e-12, s"$lang intercept $icpt vs $ei")
      // synthetic sf0.001 text is flatter than natural Zipf (−1); the
      // diagnostic's sign is the portable invariant
      assert(slope < 0, s"$lang slope $slope is not Zipf-negative")
    }
  }

  test("q104 PMI top collocations equal a brute-force recount") {
    import org.apache.spark.sql.functions._
    def q6(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(math.floor(d * 1e6).toLong, 6)
    val toks = Tables.documents(spark, dir).select(col("text")).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (t, o) => (t, o.length.toLong) }
    val nUni = uni.values.sum
    val bi = toks.flatMap(tk => tk.zip(tk.drop(1)))
      .groupBy(identity).map { case (p, o) => (p, o.length.toLong) }
    val nBi = bi.values.sum
    val expect = bi.toSeq.collect { case ((x, y), cxy) if cxy >= 5 =>
      val pmi = q6(math.log((cxy.toDouble * nUni * nUni) /
        (uni(x).toDouble * uni(y) * nBi)))
      (x, y, cxy, pmi)
    }.map { case (x, y, c, pmi) => (x, y, c, pmi.doubleValue) }
      // decimal(18,6) → double is injective at this magnitude, so the
      // double sort equals the decimal sort the query uses
      .sortBy { case (x, y, _, pmi) => (-pmi, x, y) }.take(100)
    val got = SparkEntry.queries("q104_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "q104 returned no collocations at sf0.001")
    assert(got == expect,
      s"PMI top-k diverges from brute force:\n got=${got.take(5)}…\n exp=${expect.take(5)}…")
    assert(got.map(_._4).max > 0, "no positive-PMI collocation found")
  }

  test("q105 tfidf cosine pairs equal a brute-force sparse dot product") {
    import org.apache.spark.sql.functions._
    import java.math.{BigDecimal => JBD}
    def q6(d: Double): JBD = JBD.valueOf(math.floor(d * 1e6).toLong, 6)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    val n = docs.length.toLong
    val cap = math.min(math.max(2L, n / 5), 1000L)
    val tf = docs.flatMap { case (id, tk) =>
      tk.groupBy(identity).map { case (t, o) => ((id, t), o.length.toLong) } }.toMap
    val dfm = tf.keys.groupBy(_._2).map { case (t, ks) => (t, ks.size.toLong) }
    val wq = tf.collect { case ((id, t), c) if dfm(t) <= cap =>
      ((id, t), q6(math.log(n.toDouble / dfm(t))).multiply(JBD.valueOf(c))) }
    val norms = wq.groupBy(_._1._1).map { case (id, ws) =>
      (id, ws.map { case (_, w) => w.multiply(w) }.reduce(_.add(_))) }
    val byTok = wq.collect { case ((id, t), w) if dfm(t) >= 2 => (t, id, w) }
      .groupBy(_._1)
    val expect = byTok.values.flatMap { ws =>
      for { a <- ws; b <- ws; if a._2 < b._2 }
        yield ((a._2, b._2), a._3.multiply(b._3))
    }.groupBy(_._1).map { case ((ia, ib), ps) =>
      val num = ps.map(_._2).reduce(_.add(_))
      val cos = num.doubleValue / math.sqrt(norms(ia).doubleValue * norms(ib).doubleValue)
      (ia, ib, ps.size.toLong, cos)
    }.filter(_._4 >= 0.5).toSeq.sortBy(p => (p._1, p._2))
    val got = SparkEntry.queries("q105_tfidf_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "q105 found no similar pairs at sf0.001")
    assert(got.map(p => (p._1, p._2, p._3)) == expect.map(p => (p._1, p._2, p._3)),
      s"pair set diverges: got ${got.size} expect ${expect.size}")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-12, s"cosine ${g._4} vs ${e._4} for ${(g._1, g._2)}")
    }
  }

  test("q106 keeps exactly one best-quality doc per cluster and covers every doc") {
    val rows = SparkEntry.queries("q106_dedup_keep_best")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.length == nDocs, s"q106 rows ${rows.length} != docs $nDocs")
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate doc_id")
    rows.groupBy(_._2).foreach { case (cid, ms) =>
      val kept = ms.filter(_._4)
      assert(kept.length == 1, s"cluster $cid kept ${kept.length} docs")
      // the survivor is the quality argmax, ties by lowest doc_id
      val best = ms.minBy { case (id, _, q, _) => (-q, id) }
      assert(kept.head._1 == best._1,
        s"cluster $cid kept ${kept.head._1}, argmax is ${best._1}")
    }
    // near-dups exist at sf0.001, so somebody must have been dropped
    assert(rows.exists(!_._4), "no doc was dropped — cluster detection broke")
  }

  test("q107 bigram surprisal equals a brute-force per-doc recount") {
    import org.apache.spark.sql.functions._
    import java.math.{BigDecimal => JBD}
    def q6(d: Double): JBD = JBD.valueOf(math.floor(d * 1e6).toLong, 6)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty).toSeq))
    val bigrams = docs.map { case (id, lang, tk) => (id, lang, tk.zip(tk.drop(1))) }
    val bfreq = bigrams.flatMap { case (_, lang, bs) => bs.map((lang, _)) }
      .groupBy(identity).map { case (k, o) => (k, o.length.toLong) }
    val pfx = bfreq.groupBy { case ((lang, (x, _)), _) => (lang, x) }
      .map { case (k, m) => (k, m.values.sum) }
    val voc = bfreq.keys.groupBy(_._1)
      .map { case (lang, ks) => (lang, ks.map(_._2._2).toSet.size.toLong) }
    val expect = bigrams.collect { case (id, lang, bs) if bs.nonEmpty =>
      val ss = bs.map { case (x, y) =>
        q6(-math.log((bfreq((lang, (x, y))) + 1).toDouble /
          (pfx((lang, x)) + voc(lang)).toDouble))
      }
      val sum = ss.reduce(_.add(_)).doubleValue
      val mean = sum / bs.length
      (id, bs.length.toLong, sum, mean, mean <= 3.45)
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q107_bigram_perplexity")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(got.nonEmpty, "q107 returned no rows at sf0.001")
    assert(got.map(g => (g._1, g._2)) == expect.map(e => (e._1, e._2)),
      s"doc/bigram-count frame diverges: got ${got.size} expect ${expect.size}")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-9, s"doc ${g._1} sum ${g._3} vs ${e._3}")
      assert(math.abs(g._4 - e._4) < 1e-9, s"doc ${g._1} mean ${g._4} vs ${e._4}")
      assert(g._5 == e._5, s"doc ${g._1} keep ${g._5} vs ${e._5}")
    }
    // the gate is only interesting if it splits the corpus
    assert(got.exists(_._5) && got.exists(!_._5),
      s"threshold does not split: ${got.count(_._5)}/${got.size} kept")
  }

  test("q108 rolling anomaly equals a brute-force trailing-window recount") {
    import org.apache.spark.sql.functions._
    import java.math.{BigDecimal => JBD}
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = ev.groupBy(_._2).values.flatMap { rows =>
      val seq = rows.sortBy(r => (r._3, r._1))
      seq.indices.collect { case i if i >= 5 =>
        val window = seq.slice(i - 5, i)
        val mean = window.map(r => new JBD(r._4.toString).setScale(2, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).doubleValue / 5
        (seq(i)._1, seq(i)._2, seq(i)._4, mean, math.abs(seq(i)._4 - mean) > 130.0)
      }
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q108_rolling_anomaly")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(got.nonEmpty, "q108 returned no rows at sf0.001")
    assert(got.map(_._1) == expect.map(_._1),
      s"warmed-up event set diverges: got ${got.size} expect ${expect.size}")
    got.zip(expect).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9, s"event ${g._1} mean ${g._4} vs ${e._4}")
      assert(g._5 == e._5, s"event ${g._1} flag ${g._5} vs ${e._5}")
    }
    assert(got.exists(_._5) && got.exists(!_._5),
      s"band does not split: ${got.count(_._5)}/${got.size} flagged")
  }

  test("q110 streaming anomaly equals the batch detector bit-for-bit") {
    def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getBoolean(4))).toSeq
    val batch = rows("q108_rolling_anomaly")
    val stream = rows("q110_stream_anomaly")
    assert(stream.nonEmpty, "q110 emitted no rows")
    assert(stream == batch,
      s"stream detector diverges from batch: ${stream.size} vs ${batch.size} rows; " +
        s"first diff ${stream.zip(batch).find(p => p._1 != p._2)}")
  }

  test("q111 funnel stages equal a brute-force per-user replay") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect = ev.groupBy(_._1).map { case (u, rows) =>
      val v = rows.filter(_._3 == "view").map(_._2).minOption
      val c = v.flatMap(fv => rows.filter(r => r._3 == "click" && r._2 >= fv)
        .map(_._2).minOption)
      val p = c.flatMap(fc => rows.filter(r => r._3 == "purchase" && r._2 >= fc)
        .map(_._2).minOption)
      val stage = if (p.isDefined) 3L else if (c.isDefined) 2L else if (v.isDefined) 1L else 0L
      (u, v, c, p, stage)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("q111_funnel_steps")(spark, dir).collect().map { r =>
      def ts(i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getTimestamp(i).getTime * 1000 +
          r.getTimestamp(i).getNanos / 1000 % 1000)
      (r.getLong(0), ts(1), ts(2), ts(3), r.getLong(4))
    }.toSeq
    assert(got == expect, s"funnel diverges; first diff ${got.zip(expect).find(p => p._1 != p._2)}")
    assert(got.exists(_._5 == 3L), "nobody completed the funnel — data assumption broke")
  }

  test("q112 retention triangle invariants hold") {
    val rows = SparkEntry.queries("q112_cohort_retention")(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val nUsers = Tables.events(spark, dir).select("user_id").distinct().count()
    // offset-0 cells partition the user base: every user is in exactly
    // one cohort and active on their first day by definition
    val day0 = rows.filter(_._2 == 0L)
    assert(day0.map(_._1).distinct.length == day0.length, "duplicate cohort at offset 0")
    assert(day0.map(_._3).sum == nUsers, s"offset-0 sum ${day0.map(_._3).sum} != $nUsers users")
    // no cell can exceed its cohort's size, offsets are non-negative
    val size = day0.map(t => (t._1, t._3)).toMap
    rows.foreach { case (c, off, n) =>
      assert(off >= 0, s"negative offset $off")
      assert(n <= size(c), s"cohort $c offset $off: $n > cohort size ${size(c)}")
    }
  }

  test("q113 transition rows count every adjacent pair and normalize per type") {
    val rows = SparkEntry.queries("q113_transition_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val nEvents = Tables.events(spark, dir).count()
    val nUsers = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(rows.map(_._3).sum == nEvents - nUsers,
      s"pair count ${rows.map(_._3).sum} != events-users ${nEvents - nUsers}")
    rows.groupBy(_._1).foreach { case (t, ms) =>
      val psum = ms.map(_._4).sum
      assert(math.abs(psum - 1.0) < 1e-9, s"P(next|$t) sums to $psum")
    }
  }

  test("q01 plan pushes the shipdate filter to the parquet scan") {
    val plan = SparkEntry.queries("q01_agg")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushdown in plan:\n$plan")
  }

  test("q123 weighted sample oversamples quality and is k-bounded per source") {
    import org.apache.spark.sql.functions._
    val ta = graft.operators.TextAnalysis
    val toks = ta.tokens(col("text"))
    val nTok = size(toks).cast("long")
    val ratio = ta.stopCount(toks, ta.stopEn).cast("double") /
      greatest(nTok, lit(1L)).cast("double")
    val qual = least(lit(1.0), nTok.cast("double") / 100.0) * (lit(1.0) - ratio)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qual.as("q"))
    val corpusMean = scored.agg(avg(col("q"))).collect()(0).getDouble(0)
    val sel = SparkEntry.queries("q123_weighted_sample")(spark, dir)
    val perSource = sel.groupBy(col("source")).count().collect()
    assert(perSource.forall(_.getLong(1) <= 20L), "per-source k exceeded")
    val selMean = sel.join(scored, Seq("doc_id", "source"))
      .agg(avg(col("q"))).collect()(0).getDouble(0)
    // the whole point of weighting: the kept subsample is biased
    // toward quality (deterministic on the fixed corpus)
    assert(selMean > corpusMean,
      s"weighted sample mean quality $selMean not above corpus mean $corpusMean")
  }

  test("q127 prefix-filter join equals the brute-force all-pairs join (no false negatives)") {
    import org.apache.spark.sql.functions._
    // brute force in plain Scala over the SAME shingle definition
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect().toSeq
      .map { r =>
        val tk = r.getString(1).split(" ").filter(_.nonEmpty)
        val sh = if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSet
                 else Set.empty[String]
        (r.getLong(0), sh)
      }.filter(_._2.nonEmpty)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size; uni = sa.size + sb.size - inter
      if inter * 2 >= uni
    } yield (a, b, inter.toLong, uni.toLong)).sortBy(p => (p._1, p._2))
    val got = graft.queries.TextQueries.q127_prefix_join(spark, dir)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == want, s"prefix join diverges: got ${got.size}, want ${want.size}")
  }
}
