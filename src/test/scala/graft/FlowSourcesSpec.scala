package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Flow
import graft.operators.{Inference, Multimodal}
import graft.sources.{KvStore, Sources}

/** Specs for the deva-named batch DSL, file/command sources, the KV
  * upsert store (DBStream analogue), and multimodal plumbing.
  */
class FlowSourcesSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 4)
  val dir = "/root/testdata/sf0.001"

  test("Flow: map/filter/accumulate compose to the window-query answer") {
    val got = Flow(Tables.orders(spark, dir))
      .filter(col("o_totalprice") > 0)
      .accumulate(Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")),
        sum(col("o_totalprice")), "running")
      .toDF
    val custTotal = got.groupBy("o_custkey").agg(max("running").as("m"), sum("o_totalprice").as("s"))
      .filter(abs(col("m") - col("s")) > 1e-6)
    assert(custTotal.count() == 0, "running total must end at the per-key sum")
  }

  test("Flow: zipByIndex pairs positionally; combineLatest pairs as-of") {
    val ev = Tables.events(spark, dir)
    val clicks = Flow(ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("ts").as("cts")))
    val views = Flow(ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("ts").as("vts")))
    val zipped = clicks.zipByIndex(views, Seq(col("cts"), col("cid")), Seq(col("vts"), col("vid"))).toDF
    assert(zipped.count() > 0)
    val asof = Flow(ev.select(col("event_id"), col("user_id"), col("ts")))
      .combineLatest(
        Flow(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"), col("value").as("pvalue"))),
        "user_id", "ts", "pts", Seq("pvalue"))
      .toDF
    assert(asof.count() == ev.count(), "as-of join must preserve all left rows")
  }

  test("Flow: slidingWindow aggregates real columns over the trailing frame") {
    val got = Flow(Tables.orders(spark, dir))
      .slidingWindow(3, Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")),
        (sum(col("o_totalprice")), "mov_sum"), (count(lit(1)), "mov_n"))
      .toDF
    // frame of 1 row at partition start: mov_sum == o_totalprice there
    val first = got.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")))
      .filter(col("rn") === 1)
      .filter(abs(col("mov_sum") - col("o_totalprice")) > 1e-9)
    assert(first.count() == 0, "first row's trailing window must equal its own value")
    assert(got.filter(col("mov_n") > 3).count() == 0)
  }

  test("Flow: tail returns last-n in ascending order") {
    val t = Flow(Tables.orders(spark, dir))
      .tail(5, Seq(col("o_orderkey")))
      .toDF.select("o_orderkey").collect().map(_.getLong(0)).toSeq
    val all = Tables.orders(spark, dir).select("o_orderkey")
      .orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(t == all.takeRight(5), s"tail must be the last 5 keys ascending, got $t")
  }

  test("Flow: route partitions rows exhaustively and disjointly") {
    val ev = Tables.events(spark, dir)
    val routed = Flow(ev).route(Seq(
      "clicks" -> (col("event_type") === "click"),
      "big" -> (col("value") > 15.0)))
    val total = routed.values.map(_.toDF.count()).sum
    // "big" overlaps clicks with value>15 → disjointness only between
    // rest and the claimed union:
    val claimed = ev.filter(col("event_type") === "click" || col("value") > 15.0).count()
    assert(routed("rest").toDF.count() == ev.count() - claimed)
    assert(routed("clicks").toDF.count() == ev.filter(col("event_type") === "click").count())
    assert(total >= ev.count())
  }

  test("Flow: sampleHash is deterministic across evaluations") {
    val f = () => Flow(Tables.lineitem(spark, dir))
      .sampleHash(concat_ws("|", col("l_orderkey"), col("l_linenumber")), 10)
      .toDF.count()
    assert(f() == f())
  }

  test("Flow: append unions a name-bound literal row; misnamed column fails loudly") {
    val base = Flow(Tables.region(spark, dir).select(col("r_regionkey"), col("r_name")))
    val out = base.append("r_name" -> "ATLANTIS", "r_regionkey" -> 99L).toDF
    assert(out.count() == base.toDF.count() + 1)
    assert(out.filter(col("r_regionkey") === 99L).select(col("r_name"))
      .collect().map(_.getString(0)).toSeq == Seq("ATLANTIS"))
    intercept[Exception] {
      base.append("r_nmae" -> "TYPO", "r_regionkey" -> 98L).toDF.collect()
    }
  }

  test("Flow: indexOf finds the ordered position of the first match") {
    val nations = Flow(Tables.nation(spark, dir))
    val names = Tables.nation(spark, dir).select(col("n_name"))
      .collect().map(_.getString(0)).sorted
    val target = names(names.length / 2) // a name that certainly exists
    val idx = nations.indexOf(col("n_name") === target, Seq(col("n_name"))).toDF
      .collect()(0).getLong(0)
    assert(idx == names.indexOf(target).toLong)
    // no match → null (empty min), not a crash
    assert(nations.indexOf(col("n_name") === "NOWHERE", Seq(col("n_name")))
      .toDF.collect()(0).isNullAt(0))
  }

  test("Flow: slice is ordered offset+limit") {
    val all = Tables.nation(spark, dir).select(col("n_name"))
      .collect().map(_.getString(0)).sorted.toSeq
    val got = Flow(Tables.nation(spark, dir)).slice(3, 7, Seq(col("n_name")))
      .toDF.select(col("n_name")).collect().map(_.getString(0)).toSeq
    assert(got == all.slice(3, 7))
    assert(Flow(Tables.nation(spark, dir)).slice(5, 5, Seq(col("n_name")))
      .toDF.count() == 0)
  }

  test("Flow.toDot renders the operator topology as valid DOT") {
    val ev = Tables.events(spark, dir)
    val flow = Flow(ev.select(col("event_id"), col("user_id"), col("value")))
      .filter(col("value") > 0)
      .map(col("user_id"), (col("value") * 2).as("v2"))
    val dot = flow.toDot("demo")
    assert(dot.startsWith("digraph \"demo\" {") && dot.trim.endsWith("}"))
    // one node per analyzed-plan operator, wired child → parent
    val nodes = "n\\d+ \\[label=".r.findAllIn(dot).size
    val edges = "n\\d+ -> n\\d+;".r.findAllIn(dot).size
    assert(nodes >= 3, s"expected at least scan/filter/project nodes:\n$dot")
    assert(edges == nodes - 1, s"a linear flow must be a chain:\n$dot")
    assert(dot.contains("Filter") && dot.contains("Project") && dot.contains("Relation"),
      s"labels must name the operators:\n$dot")
    // labels with quotes/backslashes must stay DOT-parsable
    val sp = spark
    import sp.implicits._
    val tricky = Flow(Seq(("a")).toDF("s")).filter(col("s") =!= "x\"\\y").toDot()
    assert(!tricky.replace("\\\\", "").replace("\\\"", "").contains("\\"),
      s"unescaped backslash/quote in:\n$tricky")
    // the STREAMING side renders before start() — the analyzed plan
    // is the topology whether or not a query is running
    val sdot = graft.streaming.EventFlow.fromEvents(spark, dir)
      .where(col("value") > 0).toDot("stream_demo")
    assert(sdot.startsWith("digraph \"stream_demo\" {") && sdot.contains("Filter"),
      s"streaming toDot must render the pre-start topology:\n$sdot")
  }

  test("Sources: text round-trip and filenames") {
    val tmp = Files.createTempDirectory("graft_txt").toString
    Sources.toTextFile(
      Tables.nation(spark, dir).select(col("n_name")), tmp + "/out")
    val back = Sources.textFile(spark, tmp + "/out")
    assert(back.count() == 25)
    val withF = Sources.withFilenames(back)
    assert(withF.select("__file").distinct().count() >= 1)
  }

  test("Sources: fromCommand captures process stdout") {
    val df = Sources.fromCommand(spark, Seq("echo", "a\nb\nc"))
    assert(df.count() == 3)
  }

  test("KvStore: upsert is last-write-wins per key") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v")
    store.upsert(Seq(("a", 1L, "x"), ("b", 1L, "y")).toDF("k", "v", "payload"))
    store.upsert(Seq(("a", 2L, "x2"), ("c", 1L, "z")).toDF("k", "v", "payload"))
    val got = store.get().orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("a", 2L, "x2"), ("b", 1L, "y"), ("c", 1L, "z")))
  }

  test("KvStore: upsert rewrites ONLY the buckets its keys hash into") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_bkt").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 8)
    // seed enough keys that several buckets exist
    store.upsert((0 until 64).map(i => (s"k$i", 1L, s"p$i")).toDF("k", "v", "payload"))
    val before = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("b="))
      .map(d => d.getName -> d.lastModified()).toMap
    assert(before.size > 1, s"seed should populate multiple buckets, got ${before.keySet}")
    Thread.sleep(1100) // dir mtime granularity can be a full second
    // a single-key upsert must swap exactly one bucket directory
    store.upsert(Seq(("k3", 2L, "p3v2")).toDF("k", "v", "payload"))
    val after = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("b="))
      .map(d => d.getName -> d.lastModified()).toMap
    val changed = after.filter { case (n, m) => before.get(n).forall(_ != m) }.keySet
    assert(changed.size == 1, s"one bucket should change, got $changed")
    // and the merge is still correct
    val got = store.get().filter(col("k") === "k3").collect()
    assert(got.length == 1 && got.head.getString(2) == "p3v2")
    assert(store.get().count() == 64)
  }

  test("KvStore: a crash mid-swap rolls FORWARD on open (manifest recovery, no torn upsert)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_crash").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 8)
    store.upsert((0 until 64).map(i => (s"k$i", 1L, s"p$i")).toDF("k", "v", "payload"))
    // stage a second upsert the way upsert() does, then "crash" after
    // the manifest commit with only a PREFIX of the swaps applied —
    // exactly the torn state ADVICE r2 flagged
    val batch = (0 until 64).map(i => (s"k$i", 2L, s"v2_$i")).toDF("k", "v", "payload")
    val staged = tmp + ".staged"
    val withB = batch.withColumn("__b", pmod(hash(col("k")), lit(8)))
    withB.write.partitionBy("__b").mode("overwrite").parquet(staged)
    val touched = withB.select("__b").distinct().collect().map(_.getInt(0)).sorted
    assert(touched.length > 2, "need several buckets for a meaningful prefix")
    java.nio.file.Files.write(java.nio.file.Paths.get(staged, "_graft_swap"),
      touched.mkString("\n").getBytes("UTF-8"))
    // apply the FIRST swap only (main aside → staged in → debris left)
    val b0 = touched.head
    val main0 = new java.io.File(tmp, s"b=$b0")
    assert(main0.renameTo(new java.io.File(tmp, s"b=$b0.old")))
    assert(new java.io.File(staged, s"__b=$b0").renameTo(main0))
    // a fresh open must finish ALL remaining swaps, not restore the prefix
    val reopened = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 8)
    val got = reopened.get()
    assert(got.count() == 64)
    assert(got.filter(col("v") =!= 2L).count() == 0,
      "every bucket must show the manifested batch after recovery")
    assert(!new java.io.File(staged).exists(), "staging cleaned up after roll-forward")
    assert(!new java.io.File(tmp).listFiles().exists(_.getName.endsWith(".old")))
  }

  test("KvStore: staging WITHOUT a manifest rolls back on open (stage write died)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_rb").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    store.upsert((0 until 16).map(i => (s"k$i", 1L, s"p$i")).toDF("k", "v", "payload"))
    // a half-written staging dir with no commit manifest
    val staged = new java.io.File(tmp + ".staged/__b=0")
    staged.mkdirs()
    java.nio.file.Files.write(new java.io.File(staged, "part-junk").toPath, "x".getBytes)
    val reopened = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    assert(reopened.get().filter(col("v") =!= 1L).count() == 0, "old data intact")
    assert(!new java.io.File(tmp + ".staged").exists(), "uncommitted staging dropped")
  }

  test("KvStore: schema evolution is opt-in; widened reads merge across buckets") {
    import spark.implicits._
    // strict mode: one bucket so the union always sees both schemas
    val tmp = Files.createTempDirectory("graft_kv_evo").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 1)
    store.upsert(Seq(("a", 1L, "x")).toDF("k", "v", "payload"))
    intercept[org.apache.spark.sql.AnalysisException](
      store.upsert(Seq(("b", 1L, "y", "t1")).toDF("k", "v", "payload", "tag")))
    // evolution: the new column lands, pre-evolution rows read as null
    store.upsert(Seq(("b", 1L, "y", "t1")).toDF("k", "v", "payload", "tag"),
      evolveSchema = true)
    val got = store.get().orderBy("k").collect()
    assert(store.get().columns.toSet == Set("k", "v", "payload", "tag"))
    assert(got.map(_.getAs[String]("tag")).toSeq == Seq(null, "t1"))
    // key/version columns are NEVER evolvable away
    intercept[IllegalArgumentException](
      store.upsert(Seq(("c", "z")).toDF("k", "payload"), evolveSchema = true))
    // cross-bucket divergence: widen a key in one bucket, leave another
    // bucket pre-evolution on disk — reads must merge the footers
    val tmp2 = Files.createTempDirectory("graft_kv_evo2").toString + "/t"
    val store2 = new KvStore(spark, tmp2, Seq("k"), "v", numBuckets = 8)
    val ids = (0 until 32).map(i => s"k$i" -> store2.bucketIdsFor(Seq(s"k$i").toDF("k")).head)
    val (kA, bA) = ids.head
    val (kB, _) = ids.find(_._2 != bA).get // 32 keys over 8 buckets: exists
    store2.upsert(Seq((kA, 1L, "old")).toDF("k", "v", "payload"))
    store2.upsert(Seq((kB, 1L, "new", 42L)).toDF("k", "v", "payload", "score"),
      evolveSchema = true)
    val rows = store2.get().orderBy("k").collect()
    assert(rows.length == 2 && store2.get().columns.contains("score"))
    assert(rows.map(r => Option(r.getAs[Any]("score"))).toSeq == Seq(None, Some(42L))
      || rows.map(r => Option(r.getAs[Any]("score"))).toSeq == Seq(Some(42L), None))
  }

  test("KvStore: after an evolution, a strict upsert omitting the evolved column still fails") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_evo3").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 8)
    val ids = (0 until 64).map(i => s"k$i" -> store.bucketIdsFor(Seq(s"k$i").toDF("k")).head)
    val (kA, bA) = ids.head
    val (kB, bB) = ids.find(_._2 != bA).get
    val (kB2, _) = ids.find { case (k, b) => b == bB && k != kB }.get // 64 keys, 8 buckets
    store.upsert(Seq((kA, 1L, "old")).toDF("k", "v", "payload"))
    store.upsert(Seq((kB, 1L, "new", 42L)).toDF("k", "v", "payload", "score"),
      evolveSchema = true)
    // the touched bucket carries `score` on disk: dropping it silently
    // would lose kB's 42, so strict mode must refuse as before
    intercept[org.apache.spark.sql.AnalysisException](
      store.upsert(Seq((kB2, 1L, "strict")).toDF("k", "v", "payload")))
    val reopened = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 8)
    val rows = reopened.get().orderBy("k").collect()
      .map(r => (r.getAs[String]("k"), Option(r.getAs[Any]("score")))).toSet
    assert(rows == Set(kA -> None, kB -> Some(42L)))
  }

  test("KvStore: a store whose meta predates the schema record opens, upserts and reads") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_legacy").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    store.upsert((0 until 16).map(i => (s"k$i", 1L, s"p$i")).toDF("k", "v", "payload"))
    store.upsert(Seq(("k0", 2L, "p0v2", 7L)).toDF("k", "v", "payload", "score"),
      evolveSchema = true)
    // the layout an older writer left: a count-only meta, no record
    val root = java.nio.file.Paths.get(tmp)
    Seq("_graft_schema", "._graft_schema.crc", "._graft_buckets.crc")
      .foreach(n => Files.deleteIfExists(root.resolve(n)))
    Files.writeString(root.resolve("_graft_buckets"), "4")
    val legacy = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    assert(legacy.get().count() == 16)
    assert(legacy.get().filter(col("k") === "k0").select("score").as[Long].collect().toSeq == Seq(7L),
      "inference over every bucket finds the evolved column")
    legacy.upsert(Seq(("k1", 2L, "p1v2", 8L)).toDF("k", "v", "payload", "score"))
    assert(Files.exists(root.resolve("_graft_schema")), "the upsert records the schema")
    val got = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4).get()
    assert(got.count() == 16)
    assert(got.filter(col("score").isNotNull).orderBy("k").select("k", "score").as[(String, Long)]
      .collect().toSeq == Seq(("k0", 7L), ("k1", 8L)))
  }

  test("KvStore: an upsert into stored buckets runs a map-only probe and the staged write") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_jobs").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    store.upsert((0 until 16).map(i => (s"k$i", 1L, s"p$i")).toDF("k", "v", "payload"))
    val sc = spark.sparkContext
    sc.setJobGroup("kv_jobs", "one upsert")
    try store.upsert((0 until 16).map(i => (s"k$i", 2L, s"q$i")).toDF("k", "v", "payload"))
    finally sc.clearJobGroup()
    // job starts reach the status tracker through the listener bus, in
    // order: once a later job shows, every upsert job has
    sc.setJobGroup("kv_jobs_end", "marker")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup("kv_jobs_end").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    val stagesPerJob = sc.statusTracker.getJobIdsForGroup("kv_jobs").sorted.toSeq
      .map(id => sc.statusTracker.getJobInfo(id).get.stageIds.length)
    // the bucket probe (one map-only stage, no distinct shuffle), then
    // the staged write, which adaptive execution runs as its window's
    // shuffle-map job and the write job; no schema inference job
    assert(stagesPerJob == Seq(1, 1, 2), s"stages per job: $stagesPerJob")
    assert(store.get().filter(col("v") === 2L).count() == 16)
  }

  test("KvStore: a live second writer fails LOUDLY; a stale (crashed) lock is broken") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_kv_lock").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    store.upsert(Seq(("a", 1L, "x")).toDF("k", "v", "payload"))
    // lock released after a successful upsert
    assert(!new java.io.File(tmp + ".lock").exists(), "lock must not outlive the upsert")
    // another live writer holds the lock → this writer must refuse
    val lock = new java.io.File(tmp + ".lock")
    java.nio.file.Files.write(lock.toPath, "pid=other\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      store.upsert(Seq(("b", 1L, "y")).toDF("k", "v", "payload")))
    assert(e.getMessage.contains("locked by another writer"), e.getMessage)
    assert(store.get().count() == 1, "refused upsert must not have written")
    // the same lock gone STALE (holder crashed) is broken and the
    // upsert proceeds — open-time recovery owns whatever the dead
    // writer left behind
    assert(lock.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    store.upsert(Seq(("b", 1L, "y")).toDF("k", "v", "payload"))
    assert(store.get().count() == 2)
    assert(!lock.exists(), "lock released after the stale-break upsert")
  }

  test("KvStore lock: refresh keeps a live holder's lease; release/refresh verify OWNERSHIP after a break") {
    val tmp = Files.createTempDirectory("graft_kv_lock2").toString + "/t"
    val store = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    val store2 = new KvStore(spark, tmp, Seq("k"), "v", numBuckets = 4)
    val lock = new java.io.File(tmp + ".lock")
    // (a) a long-running holder refreshes between stages: even with the
    // mtime aged past the lease, refreshLock() makes the lock read
    // FRESH again, so a second writer refuses instead of breaking it
    store.acquireLock()
    assert(lock.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    store.refreshLock()
    val eLive = intercept[IllegalStateException](store2.acquireLock())
    assert(eLive.getMessage.contains("locked by another writer"), eLive.getMessage)
    store.releaseLock()
    assert(!lock.exists())
    // (b) a writer that DID outlive its lease (no refresh) and was
    // broken: its refresh fails BEFORE the commit point, its release
    // must not delete the breaker's lock, and the breaker releases fine
    store.acquireLock()
    assert(lock.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    store2.acquireLock() // breaks the stale lock; store2 owns the path now
    val eRef = intercept[IllegalStateException](store.refreshLock())
    assert(eRef.getMessage.contains("lock lost mid-upsert"), eRef.getMessage)
    val eRel = intercept[IllegalStateException](store.releaseLock())
    assert(eRel.getMessage.contains("no longer ours"), eRel.getMessage)
    assert(lock.exists(), "the breaker's lock must survive the overrun writer's release")
    store2.releaseLock()
    assert(!lock.exists())
  }

  test("Namespace: same name resolves to the same flow/topic/table from independent call sites") {
    import graft.api.Namespace
    val ns = new Namespace(spark, Files.createTempDirectory("graft_ns").toString)
    // two "modules" ask for the same named flow; the second gets the
    // first's registration, not a fresh evaluation
    var evals = 0
    def make = { evals += 1; Tables.nation(spark, dir).select(col("n_name")) }
    val a = ns.flow("nations")(make)
    val b = ns.flow("nations")(make)
    assert(evals == 1, "producer must run once; second call resolves by name")
    assert(a.toDF.count() == b.toDF.count())
    assert(ns.get("nations").toDF.count() == 25)
    intercept[NoSuchElementException](ns.get("missing"))
    // same-named topic is the same log
    val t1 = ns.topic("clicks"); val t2 = ns.topic("clicks")
    t1.publish(Tables.nation(spark, dir).select(col("n_name")).limit(3))
    assert(t2.replay().count() == 3, "publish via one handle, read via the other")
    // DIFFERENT roots must not see each other's names (regression:
    // flows used to be session-global regardless of root)
    val other = new graft.api.Namespace(spark, Files.createTempDirectory("graft_ns2").toString)
    intercept[NoSuchElementException](other.get("nations"))
    // same-named table is the same store INSTANCE (single-writer),
    // and re-registering with different keys fails loudly
    val s1 = ns.table("kv", Seq("k"), "v")
    assert(ns.table("kv", Seq("k"), "v") eq s1)
    intercept[IllegalArgumentException](ns.table("kv", Seq("other"), "v"))
    import spark.implicits._
    s1.upsert(Seq(("a", 1L)).toDF("k", "v"))
    assert(ns.table("kv", Seq("k"), "v").get().count() == 1)
  }

  test("Namespace: hashCode-colliding roots stay isolated; root spellings canonicalize") {
    import graft.api.Namespace
    val base = Files.createTempDirectory("graft_nsc").toString
    // "Aa" and "BB" have identical String.hashCode, so these two FULL
    // paths collide under the old 32-bit tag — they must not alias
    val rootA = s"$base/Aa"; val rootB = s"$base/BB"
    assert(rootA.hashCode == rootB.hashCode, "precondition: constructed collision")
    val nsA = new Namespace(spark, rootA)
    val nsB = new Namespace(spark, rootB)
    nsA.flow("shared_name")(Tables.nation(spark, dir).select(col("n_name")))
    intercept[NoSuchElementException](nsB.get("shared_name"))
    // trailing slash / redundant segments are the SAME namespace: one
    // registry key, one shared single-writer KvStore handle
    val ns1 = new Namespace(spark, s"$base/Aa")
    val ns2 = new Namespace(spark, s"$base/Aa/")
    val ns3 = new Namespace(spark, s"$base/BB/../Aa")
    assert(ns2.get("shared_name").toDF.count() == 25)
    val t1 = ns1.table("kvc", Seq("k"), "v")
    assert(ns2.table("kvc", Seq("k"), "v") eq t1)
    assert(ns3.table("kvc", Seq("k"), "v") eq t1)
  }

  test("Inference.annotate batches per partition and returns one response per row") {
    import graft.operators.Inference
    val docs = Tables.documents(spark, dir).limit(100)
    // deterministic stand-in for the external model call; counts
    // batch sizes through an accumulator to prove batching happened
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val out = Inference.annotate(spark, docs, "doc_id", "text", batchSize = 16) { prompts =>
      batchSizes.add(prompts.length)
      prompts.map(p => s"len=${p.length}")
    }
    val rows = out.collect()
    assert(rows.length == 100, "one response per input row")
    assert(rows.forall(_.getString(1).startsWith("len=")))
    val sizes = batchSizes.value
    assert(sizes.size() < 100, s"calls must be batched, saw ${sizes.size()} calls")
    sizes.forEach(s => assert(s <= 16))
    // responses keyed by id → order-independent join back
    val joined = docs.join(out, "doc_id")
    assert(joined.filter(length(col("text")) =!= expr("CAST(substring(response, 5) AS INT)")).count() == 0)
  }

  test("Inference.httpTransport: real batched annotation over live HTTP") {
    import java.util.concurrent.atomic.AtomicInteger
    val calls = new AtomicInteger()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/annotate", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        calls.incrementAndGet()
        val prompts = Inference.decodeBatch(
          new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        val resp = Inference.encodeBatch(prompts.map(p => s"len=${p.length}"))
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
      } finally ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/annotate"
      // texts include quotes/newlines/unicode — the wire codec must
      // round-trip them exactly
      val docs = spark.range(60).selectExpr("id AS doc_id",
        """concat('doc "', id, '"', char(10), 'ünïcode ', repeat('x', CAST(id AS INT))) AS text""")
      val out = Inference.annotate(spark, docs, "doc_id", "text", batchSize = 16)(
        Inference.httpTransport(url))
      val rows = out.collect()
      assert(rows.length == 60, "one response per input row")
      val joined = docs.join(out, "doc_id")
      assert(joined.filter(length(col("text")) =!= expr("CAST(substring(response, 5) AS INT)")).count() == 0,
        "every annotation must reflect its own prompt's length")
      assert(calls.get() < 60, s"calls must be batched over HTTP, saw ${calls.get()}")
      // a failing endpoint fails the job loudly, not a silent drop
      server.removeContext("/annotate")
      server.createContext("/annotate", (ex: com.sun.net.httpserver.HttpExchange) => {
        try ex.sendResponseHeaders(500, -1) finally ex.close()
      })
      intercept[org.apache.spark.SparkException] {
        Inference.annotate(spark, docs.limit(5), "doc_id", "text", batchSize = 4)(
          Inference.httpTransport(url)).collect()
      }
      // a STALLED endpoint must fail the task within requestTimeout —
      // HttpTimeoutException, never an indefinite hang Spark's retry
      // can't see (ADVICE r4: the timeout is the at-least-once story)
      server.removeContext("/annotate")
      server.createContext("/annotate", (ex: com.sun.net.httpserver.HttpExchange) => {
        Thread.sleep(8000) // far past the 500ms request timeout; bounded
        ex.close()         // so a lingering handler can't delay JVM exit
      })
      val t0 = System.nanoTime()
      intercept[java.net.http.HttpTimeoutException] {
        Inference.httpTransport(url,
          requestTimeout = java.time.Duration.ofMillis(500))(Seq("stall"))
      }
      val waitedMs = (System.nanoTime() - t0) / 1e6
      assert(waitedMs < 7000, f"timeout must fire at ~500ms, waited $waitedMs%.0f ms")
    } finally server.stop(0)
  }

  test("Inference wire codec round-trips ARBITRARY strings (property)") {
    // scalacheck generates adversarial strings (control chars, lone
    // surrogates, json-meta chars); the codec is char-level so every
    // String must round-trip exactly — 500 cases, any failure shrinks
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Arbitrary.arbitrary
    val prop = Prop.forAll(Gen.listOf(arbitrary[String])) { ss =>
      Inference.decodeBatch(Inference.encodeBatch(ss)) == ss
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"codec property failed: ${res.status}")
  }

  test("Inference wire codec round-trips and rejects malformed JSON") {
    val cases = Seq("", "plain", "with \"quotes\" and \\backslash\\",
      "line1\nline2\r\ttab", "ünïcode ☃", "controlchar")
    assert(Inference.decodeBatch(Inference.encodeBatch(cases)) == cases)
    assert(Inference.decodeBatch("[]") == Seq.empty)
    assert(Inference.decodeBatch("""[ "a" , "b" ]""") == Seq("a", "b"))
    intercept[IllegalArgumentException](Inference.decodeBatch("""["a""""))
    intercept[IllegalArgumentException](Inference.decodeBatch("""["a", 3]"""))
    intercept[IllegalArgumentException](Inference.decodeBatch("""["truncated"""))
    // trailing bytes = corrupted/concatenated response bodies — must
    // fail loudly, never silently take the first array (regression)
    intercept[IllegalArgumentException](Inference.decodeBatch("""["a"]["b"]"""))
    intercept[IllegalArgumentException](Inference.decodeBatch("""[]junk"""))
    intercept[IllegalArgumentException](Inference.decodeBatch("""["a"] x"""))
    assert(Inference.decodeBatch("""["a"]  """) == Seq("a"), "trailing whitespace is fine")
  }

  test("Multimodal: stub decode is deterministic, frame slices cover payload") {
    val corpus = Multimodal.fakeCorpus(spark, 8, "image")
    val f1 = Multimodal.decodeStub(corpus).collect().map(f => (f.media_id, f.checksum)).toSet
    val f2 = Multimodal.decodeStub(Multimodal.fakeCorpus(spark, 8, "image"))
      .collect().map(f => (f.media_id, f.checksum)).toSet
    assert(f1 == f2 && f1.size == 8)
    val framed = Multimodal.frameSample(corpus.toDF, 4)
      .select(col("media_id"), expr("aggregate(transform(frames, f -> length(f)), 0, (a, x) -> a + x)").as("tot"))
    framed.collect().foreach(r => assert(r.getInt(1) == 1024, "4 frames must cover the 1 KiB payload"))
  }

  test("Multimodal: real WAV decode recovers closed-form sine features") {
    val feats = Multimodal.decodeAudio(Multimodal.wavCorpus(spark, 4))
      .collect().sortBy(_.media_id)
    assert(feats.length == 4)
    feats.foreach { f =>
      assert(f.sample_rate == 8000 && f.channels == 1)
      assert(f.n_samples == 2000 && f.duration_ms == 250)
      // sine at amplitude 0.5: RMS = 0.5/sqrt(2), peak ≈ 0.5
      assert(math.abs(f.rms - 0.5 / math.sqrt(2)) < 0.01, s"rms ${f.rms}")
      assert(math.abs(f.peak - 0.5) < 0.01, s"peak ${f.peak}")
      // zero-crossing rate of a tone ≈ 2f/sr; f = 200 + 50*id
      val expected = 2.0 * (200.0 + 50.0 * f.media_id) / 8000.0
      assert(math.abs(f.zero_cross_rate - expected) < 0.01,
        s"zcr ${f.zero_cross_rate} vs $expected for id ${f.media_id}")
    }
    // decode is deterministic across runs
    val again = Multimodal.decodeAudio(Multimodal.wavCorpus(spark, 4))
      .collect().sortBy(_.media_id)
    assert(feats.map(_.rms).toSeq == again.map(_.rms).toSeq)
    // garbage bytes fail loudly, not silently
    import spark.implicits._
    val junk = spark.range(1).as[Long]
      .map(i => Multimodal.MediaRow(i, Multimodal.MediaMeta("audio", 0, 0, 0, 0L),
        Array.fill[Byte](64)(7)))
    intercept[org.apache.spark.SparkException](Multimodal.decodeAudio(junk).collect())
  }

  test("Multimodal: real MJPEG-AVI decode — container, frames, motion") {
    // moving bar: 8 real JPEG frames in a real AVI container
    val feats = Multimodal.decodeVideo(
      Multimodal.aviCorpus(spark, 3, 48, 32, nFrames = 8, fps = 4), sample = 4)
      .collect().sortBy(_.media_id)
    assert(feats.length == 3)
    feats.foreach { f =>
      assert(f.width == 48 && f.height == 32)
      assert(f.n_frames == 8 && f.n_sampled == 4)
      assert(math.abs(f.fps - 4.0) < 0.01, s"fps ${f.fps}")
      assert(f.duration_ms == 2000)
      assert(f.frame_lum.length == 4)
      // gradient background → every sampled frame has mid-range luminance
      f.frame_lum.foreach(l => assert(l > 0.05 && l < 0.95, s"lum $l"))
      // the bar moves a full column per frame → real inter-frame diff
      assert(f.motion > 0.005, s"moving bar must register motion, got ${f.motion}")
    }
    // control: identical frames → motion collapses to JPEG noise only
    val still = Multimodal.decodeVideo(
      Multimodal.aviCorpus(spark, 1, 48, 32, nFrames = 8, fps = 4, moving = false),
      sample = 4).collect().head
    assert(still.motion < 0.003, s"static clip must have ~zero motion, got ${still.motion}")
    assert(still.motion < feats.head.motion / 3,
      "motion score must separate moving from static clips")
    // decode is deterministic across runs
    val again = Multimodal.decodeVideo(
      Multimodal.aviCorpus(spark, 3, 48, 32, nFrames = 8, fps = 4), sample = 4)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.motion).toSeq == again.map(_.motion).toSeq)
    assert(feats.map(_.frame_lum.toSeq).toSeq == again.map(_.frame_lum.toSeq).toSeq)
    // garbage bytes fail loudly, not silently
    import spark.implicits._
    val junk = spark.range(1).as[Long]
      .map(i => Multimodal.MediaRow(i, Multimodal.MediaMeta("video", 0, 0, 0, 0L),
        Array.fill[Byte](64)(7)))
    intercept[org.apache.spark.SparkException](Multimodal.decodeVideo(junk).collect())
  }

  test("Multimodal: meta projection prunes the byte column at the scan") {
    val tmp = Files.createTempDirectory("graft_media").toString + "/media"
    Multimodal.fakeCorpus(spark, 8, "audio").write.mode("overwrite").parquet(tmp)
    val plan = Multimodal.metaOnly(spark.read.parquet(tmp))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("data#") || !plan.toLowerCase.contains("readschema: struct<media_id:bigint,meta"),
      "plan sanity")
    val read = plan.split("ReadSchema:").last
    assert(!read.contains("data:binary"), s"byte column must be pruned, got $read")
  }
}
