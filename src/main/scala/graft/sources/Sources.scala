package graft.sources

import scala.sys.process._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Batch sources & sinks mapping the reference's I/O surface
  * (deva/core/sources.py, core.py:1262 to_textfile) onto Spark's
  * data source API.
  *
  * Network/poll sources that need a live endpoint (kafka, socket,
  * rate) live in graft.streaming.EventFlow — streams are their
  * natural shape. Here: files, command output, and the KV sink.
  */
object Sources {

  /** deva from_textfile (sources.py:199): one row per line. */
  def textFile(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** deva filenames (sources.py:266): which files back the data —
    * as a column, so it distributes (no driver-side directory poll).
    */
  def withFilenames(df: DataFrame): DataFrame =
    df.withColumn("__file", input_file_name())

  /** deva from_command/from_process (sources.py:511,607): capture a
    * local command's stdout lines as a DataFrame. Driver-side by
    * nature (the process runs where it runs) — parallelize the
    * *lines*, not the process.
    */
  def fromCommand(spark: SparkSession, cmd: Seq[String]): DataFrame = {
    val lines = cmd.!!.split("\n").toIndexedSeq
    import spark.implicits._
    lines.toDF("value")
  }

  /** deva to_textfile (core.py:1262): newline-terminated sink. */
  def toTextFile(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** deva netwrite (pipe.py:663): fire-and-forget TCP send of each
    * row's first column as a newline-terminated line. DISTRIBUTED —
    * one socket per partition on the executors (the syslog-sink
    * shape), so the driver never funnels the rows.
    */
  def netwrite(df: DataFrame, host: String, port: Int): Unit = {
    val (h, p) = (host, port)
    df.select(df.columns.head).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val sock = new java.net.Socket(h, p)
        try {
          val out = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
          rows.foreach { r => out.write(String.valueOf(r.get(0))); out.write("\n") }
          out.flush()
        } finally sock.close()
      }
    }
  }

  /** deva netcat (pipe.py:622): send lines over one TCP connection and
    * collect the responses until the server closes. Request/response
    * over a single ordered connection is driver-side BY NATURE (like
    * [[fromCommand]]); the result parallelizes as a DataFrame. For
    * distributed fire-and-forget use [[netwrite]].
    */
  def netcat(spark: SparkSession, lines: Seq[String], host: String, port: Int,
      readTimeoutMs: Int = 30000): DataFrame = {
    val sock = new java.net.Socket(host, port)
    // a server that never closes must surface as a loud
    // SocketTimeoutException, not a hung caller (same contract as the
    // HTTP transports' request timeouts)
    sock.setSoTimeout(readTimeoutMs)
    val responses =
      try {
        val out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
        lines.foreach { l => out.write(l); out.write("\n") }
        out.flush()
        sock.shutdownOutput() // EOF tells line-oriented servers we're done
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        Iterator.continually(in.readLine()).takeWhile(_ != null).toIndexedSeq
      } finally sock.close()
    import spark.implicits._
    responses.toDF("response")
  }
}

/** Keyed upsert store — the reference's `DBStream` (store.py:44)
  * persistence pattern ("stream >> DB('table')") as a parquet-backed
  * last-write-wins table. In production this is exactly the
  * foreachBatch-merge shape used with lakehouse formats; here the
  * merge target is plain parquet (no extra deps available).
  *
  * The table is hash-bucketed by key into `numBuckets` directories
  * (`b=0 … b=N-1`); an upsert merges and rewrites ONLY the buckets
  * its keys land in — a batch touching k keys rewrites ≤ min(k, N)
  * buckets, not the whole table. That is the property that keeps
  * per-batch write cost proportional to the batch (× table/N), the
  * same layout contract a lakehouse MERGE gets from clustering.
  * Bucket count is fixed at creation (persisted in `_graft_buckets`)
  * so every future batch hashes keys identically. The store's schema
  * (the union over its buckets) is recorded in `_graft_schema`, so a
  * read names its columns instead of inferring them (see [[read]]).
  */
class KvStore(spark: SparkSession, path: String, keyCols: Seq[String],
    versionCol: String, numBuckets: Int = 16, bucketCols: Seq[String] = Nil,
    lockLeaseMs: Long = 10 * 60 * 1000L) {

  // Bucketing may use a SUBSET of the key (e.g. a postings table keyed
  // (term, doc) but bucketed by term alone, so one term's rows share a
  // directory and a term lookup reads one bucket). It must remain a
  // function of the key or a key could migrate between buckets.
  private val effBucketCols: Seq[String] = if (bucketCols.isEmpty) keyCols else bucketCols
  require(effBucketCols.forall(keyCols.contains),
    s"bucketCols $bucketCols must be a subset of keyCols $keyCols")

  // All metadata ops go through the Hadoop FileSystem API so the
  // bucketed store works on ANY filesystem Spark can reach (local fs,
  // HDFS, rename-capable object-store connectors) — not just
  // java.io.File. The FS is resolved from the store path itself.
  private val hconf = spark.sparkContext.hadoopConfiguration
  private val rootPath = new org.apache.hadoop.fs.Path(path)
  private val fs = rootPath.getFileSystem(hconf)
  private val stagedPath = new org.apache.hadoop.fs.Path(path + ".staged")
  private val manifestPath = new org.apache.hadoop.fs.Path(stagedPath, "_graft_swap")
  private val metaPath = new org.apache.hadoop.fs.Path(rootPath, "_graft_buckets")
  private val schemaPath = new org.apache.hadoop.fs.Path(rootPath, "_graft_schema")

  // rename reports failure via its return value, not an exception —
  // an unchecked false would silently lose the upsert
  private def renameOrThrow(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"KvStore rename failed: $src -> $dst")

  private def deleteOrThrow(p: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"KvStore delete failed: $p")

  // Single-writer contract, MECHANIZED (it used to be a comment): the
  // upsert takes an exclusive create-if-absent lock file next to the
  // store, so a second live writer fails LOUDLY instead of corrupting
  // the stage-then-swap protocol. A lock older than `lockLeaseMs` is
  // presumed crashed — the torn upsert it may have left is exactly what
  // open-time recovery repairs — and is broken. The lock file carries a
  // unique OWNERSHIP TOKEN (pid + nonce): release and stale-break both
  // verify the token before deleting, so a writer that outlived its
  // lease can never delete the lock of the writer that broke it (the
  // chain-of-three-writers hazard), and [[refreshLock]] bumps the lock
  // mtime between upsert stages so a legitimately long merge keeps its
  // lease while alive. Check-then-act windows remain non-atomic: this
  // store is the single-writer test double of a lakehouse table; the
  // lock converts ACCIDENTAL concurrency into an error, it is not a
  // distributed lock service.
  private val lockPath = new org.apache.hadoop.fs.Path(path + ".lock")
  private val lockToken =
    s"pid=${ProcessHandle.current().pid()} nonce=${java.util.UUID.randomUUID()}"

  private def readLockToken(): Option[String] =
    try Some(readSmallFile(lockPath).trim)
    catch { case _: java.io.IOException => None } // missing / racing delete

  private def tryCreateLock(): Boolean =
    try {
      val out = fs.create(lockPath, false) // overwrite=false: atomic create-if-absent
      try out.write(s"$lockToken\n".getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private[graft] def acquireLock(): Unit = {
    if (tryCreateLock()) return
    val ageMs =
      try System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L } // released just now
    if (ageMs >= 0 && ageMs < lockLeaseMs)
      throw new IllegalStateException(
        s"KvStore at $path is locked by another writer (lock age ${ageMs}ms < lease ${lockLeaseMs}ms) — " +
          "KvStore is single-writer; serialize upserts or raise lockLeaseMs only for crashed writers")
    if (ageMs >= lockLeaseMs) {
      // stale: holder presumed dead. Re-check IMMEDIATELY before the
      // delete: a now-fresh mtime means another writer already broke
      // this lock and re-acquired — deleting blindly would destroy the
      // live breaker's lock and admit a third writer.
      val nowAgeMs =
        try System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L } // vanished: fall through to create
      if (nowAgeMs >= 0 && nowAgeMs < lockLeaseMs)
        throw new IllegalStateException(
          s"KvStore at $path: stale lock was re-acquired by another writer while breaking it — retry the upsert")
      if (nowAgeMs >= lockLeaseMs) deleteOrThrow(lockPath)
    }
    if (!tryCreateLock())
      throw new IllegalStateException(
        s"KvStore at $path: lost the race re-acquiring a stale/released lock — retry the upsert")
  }

  private[graft] def releaseLock(): Unit = readLockToken() match {
    case Some(tok) if tok == lockToken => deleteOrThrow(lockPath)
    case other =>
      throw new IllegalStateException(
        s"KvStore at $path: writer lock is no longer ours on release " +
          s"(found ${other.getOrElse("no lock file")}) — this writer outlived its lease and another " +
          "writer broke the lock; the two upserts may have interleaved — re-upsert the batch")
  }

  /** Re-assert ownership and extend the lease between upsert stages
    * (mtime bump, content untouched) — an upsert that legitimately
    * runs longer than the lease stays live as long as each SINGLE
    * stage fits inside it. Fails LOUDLY before the commit point when
    * the lock is no longer ours, so a lease-overrun upsert aborts
    * instead of committing over the breaking writer's work.
    */
  private[graft] def refreshLock(): Unit = {
    if (!readLockToken().contains(lockToken))
      throw new IllegalStateException(
        s"KvStore at $path: writer lock lost mid-upsert (lease ${lockLeaseMs}ms exceeded and broken " +
          "by another writer) — aborting before commit; raise lockLeaseMs for batches this large")
    val now = System.currentTimeMillis()
    fs.setTimes(lockPath, now, now)
  }

  private def writeSmallFile(p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Finish one bucket's stage-then-swap, resumable from any crash
    * point: (a) main→.old, (b) staged→main, (c) drop .old. Used by
    * both the live upsert and open-time roll-forward, so there is
    * exactly one implementation of the protocol.
    */
  private def completeSwap(b: Int): Unit = {
    val stagedB = new org.apache.hadoop.fs.Path(stagedPath, s"__b=$b")
    val mainB = new org.apache.hadoop.fs.Path(rootPath, s"b=$b")
    val oldB = new org.apache.hadoop.fs.Path(rootPath, s"b=$b.old")
    if (fs.exists(stagedB)) {
      if (fs.exists(mainB)) {
        deleteOrThrow(oldB)
        renameOrThrow(mainB, oldB)
      }
      renameOrThrow(stagedB, mainB)
    } else if (!fs.exists(mainB) && fs.exists(oldB)) {
      // unreachable under the protocol (staged only vanishes by
      // becoming main) — but never drop the .old while no main exists
      renameOrThrow(oldB, mainB)
    }
    deleteOrThrow(oldB)
  }

  // SINGLE-WRITER store (like the reference's sqlite-backed DB): the
  // per-bucket stage-then-swap is not safe under concurrent writers —
  // enforced by the writer lock above, not just stated here.
  // Upsert protocol: (1) stage every touched bucket under
  // `path+".staged"`, (2) write the `_graft_swap` manifest naming the
  // touched buckets — THE commit point, (3) swap each bucket,
  // (4) drop manifest, (5) drop staging. Open-time recovery makes a
  // crashed upsert atomic: a manifest present means staging completed
  // → ROLL FORWARD (finish every listed swap); staging without a
  // manifest means the stage write itself died → ROLL BACK (drop it).
  // Afterwards ALL touched buckets show the new data or NONE do —
  // never the torn prefix a crash mid-loop used to leave.
  locally {
    if (fs.exists(manifestPath)) {
      readSmallFile(manifestPath).split("\n").filter(_.nonEmpty).map(_.trim.toInt)
        .foreach(completeSwap)
      deleteOrThrow(manifestPath)
      deleteOrThrow(stagedPath)
    } else deleteOrThrow(stagedPath)
    if (fs.exists(rootPath)) {
      val entries = fs.listStatus(rootPath)
      // residual `.old` outside any manifested swap: main vanished →
      // it IS the intact previous bucket, restore it; main live →
      // completed-swap debris, drop it
      entries.filter(_.getPath.getName.endsWith(".old")).foreach { old =>
        val main = new org.apache.hadoop.fs.Path(rootPath, old.getPath.getName.stripSuffix(".old"))
        if (!fs.exists(main)) renameOrThrow(old.getPath, main)
        else deleteOrThrow(old.getPath)
      }
      // refuse to silently shadow a store written in another layout:
      // anything at the root that is not a bucket dir or the meta
      // file (e.g. a pre-bucketing flat parquet table) would become
      // invisible to current() and permanently masked by upserts
      val strangers = fs.listStatus(rootPath).map(_.getPath.getName).filterNot { n =>
        n == "_graft_buckets" || n == "_graft_schema" || n.startsWith("b=")
      }
      if (strangers.nonEmpty)
        throw new IllegalStateException(
          s"KvStore at $path contains non-bucketed entries ${strangers.mkString(", ")} — " +
            "migrate the old flat-layout table (read it, then upsert into a fresh path) instead of opening it in place")
      // bucket dirs without the creation-time bucket count are
      // ambiguous: a different constructor count would mis-bucket
      // every future key
      if (fs.listStatus(rootPath).exists(_.getPath.getName.startsWith("b=")) &&
          !fs.exists(metaPath))
        throw new IllegalStateException(
          s"KvStore at $path has bucket dirs but no _graft_buckets meta — bucket count unknown")
      // a store bucketed on different columns would mis-route every
      // future key — refuse to open rather than silently re-bucket
      // (older meta files carry only the count; no second line → skip)
      if (fs.exists(metaPath)) {
        val lines = readSmallFile(metaPath).split("\n").map(_.trim).filter(_.nonEmpty)
        // legacy single-line meta (count only) predates bucketCols and
        // was always bucketed by the FULL key — opening it with a
        // subset would silently mis-route every future key
        val storedCols = if (lines.length > 1) lines(1) else keyCols.mkString(",")
        if (storedCols != effBucketCols.mkString(","))
          throw new IllegalStateException(
            s"KvStore at $path was bucketed by $storedCols — got ${effBucketCols.mkString(",")}")
      }
    }
  }

  /** Buckets in the on-disk layout (creation-time count wins). */
  private def buckets: Int =
    if (fs.exists(metaPath)) readSmallFile(metaPath).split("\n").head.trim.toInt
    else numBuckets

  private def bucketOf = pmod(hash(effBucketCols.map(col): _*), lit(buckets))

  private def bucketDirs: Seq[org.apache.hadoop.fs.Path] = {
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b=") &&
        !st.getPath.getName.endsWith(".old"))
      .map(_.getPath).toSeq.sortBy(_.getName)
  }

  // Parquet schema inference is a Spark job on every read, with or
  // without mergeSchema. The store records its schema instead: the
  // union over every bucket, widened by an upsert BEFORE its commit
  // point, so the record never names fewer columns than the committed
  // buckets carry. A store whose meta predates the record, or whose
  // record a crash tore mid-rewrite, falls back to inference over every
  // bucket once per handle; its next upsert writes the record.
  private var inferred: Option[StructType] = None

  private def recordedSchema(): Option[StructType] =
    try Some(DataType.fromJson(readSmallFile(schemaPath)).asInstanceOf[StructType])
    catch { case NonFatal(_) => None } // absent, or torn by a crash

  private def storeSchema(recorded: Option[StructType]): Option[StructType] =
    recorded.orElse {
      if (inferred.isEmpty) {
        val dirs = bucketDirs
        if (dirs.nonEmpty) inferred = Some(KvStore.nullable(
          spark.read.option("mergeSchema", "true").parquet(dirs.map(_.toString): _*).schema))
      }
      inferred
    }

  /** Read bucket dirs with the store's schema: columns a bucket's files
    * lack (it predates an evolution) read as null, as mergeSchema did.
    */
  private def read(dirs: Seq[org.apache.hadoop.fs.Path]): DataFrame =
    spark.read.schema(storeSchema(recordedSchema()).get).parquet(dirs.map(_.toString): _*)

  /** Upsert a batch: new rows win over stored rows at equal keys by
    * (versionCol, then presence in the incoming batch). Only buckets
    * containing incoming keys are read, merged, and swapped.
    */
  /** `evolveSchema = true` lets a batch ADD columns (old rows read as
    * null) or omit non-key columns (the winning row then carries null —
    * an upsert replaces the row wholesale, today's semantics). Strict
    * mode (default) keeps schema drift a loud error. Key and version
    * columns are required in every batch regardless — evolution must
    * never null out the merge identity.
    */
  def upsert(batch: DataFrame, evolveSchema: Boolean = false): Unit = {
    acquireLock()
    try {
      upsertLocked(batch, evolveSchema)
      releaseLock() // loud when the lock is no longer ours (lease overrun)
    } catch {
      case e: Throwable =>
        // best-effort release on the failure path: a lost-lock release
        // failure must not MASK the upsert's own exception
        try releaseLock() catch { case e2: Throwable if e2 ne e => e.addSuppressed(e2) }
        throw e
    }
  }

  private def upsertLocked(batch: DataFrame, evolveSchema: Boolean): Unit = {
    require((keyCols :+ versionCol).forall(batch.columns.contains),
      s"batch must carry key columns $keyCols and version column $versionCol — got ${batch.columns.mkString(",")}")
    // persisted: evaluated once for the touched-bucket probe and once
    // more by the staged write — without caching, a foreachBatch
    // source would be re-read per action
    val incoming = batch.withColumn("__gen", lit(1)).withColumn("__b", bucketOf)
      .persist()
    // a FAILED upsert (schema rejection, lease overrun, staged-write
    // crash) must release the cache too — r14's duplicate-persist
    // hunt found a retried upsert re-persisting the leaked entry's
    // identical plan. The happy paths below release-and-return, so
    // this catch only fires on the failure routes.
    try upsertStaged(incoming, evolveSchema)
    catch { case e: Throwable =>
      try incoming.unpersist(blocking = true)
      catch { case e2: Throwable if e2 ne e => e.addSuppressed(e2) }
      throw e
    }
  }

  private def upsertStaged(incoming: DataFrame, evolveSchema: Boolean): Unit = {
    val nb = buckets
    val touched = KvStore.bucketSet(incoming.select("__b"))
    refreshLock() // the probe job may have consumed a chunk of the lease
    if (touched.isEmpty) { incoming.unpersist(blocking = true); return }
    val recorded = recordedSchema()
    val prior = storeSchema(recorded)
    val existingTouched = touched.map(b => new org.apache.hadoop.fs.Path(rootPath, s"b=$b"))
      .filter(fs.exists)
    val merged = if (existingTouched.nonEmpty) {
      // bucket id re-derived from the keys (same deterministic hash)
      // rather than parsed from the directory name; the store's schema
      // covers touched buckets that straddle an earlier evolution
      val cur = spark.read.schema(prior.get).parquet(existingTouched.map(_.toString): _*)
        .withColumn("__gen", lit(0)).withColumn("__b", bucketOf)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col(versionCol).desc, col("__gen").desc)
      cur.unionByName(incoming, allowMissingColumns = evolveSchema)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__gen")
    } else incoming.drop("__gen")
    // one job stages every touched bucket; the manifest write below is
    // the commit point (see the recovery protocol above)
    deleteOrThrow(stagedPath)
    merged.write.partitionBy("__b").mode("overwrite").parquet(stagedPath.toString)
    // the merge write is the long stage: re-assert ownership BEFORE the
    // commit point — a lease-overrun upsert must abort here, not swap
    refreshLock()
    fs.mkdirs(rootPath)
    if (!fs.exists(metaPath))
      writeSmallFile(metaPath, s"$nb\n${effBucketCols.mkString(",")}")
    // widen the record to what was staged, before the commit point: the
    // staged columns' types win, a column only untouched buckets carry
    // stays
    val staged = KvStore.nullable(merged.drop("__b").schema)
    val before = prior.getOrElse(new StructType())
    val record = StructType(before.map(f => staged.find(_.name == f.name).getOrElse(f)) ++
      staged.filterNot(f => before.fieldNames.contains(f.name)))
    if (!recorded.contains(record)) writeSmallFile(schemaPath, record.json)
    // every staged bucket must exist BEFORE the manifest commits the
    // swap — a missing one here means the write job lied about success
    touched.foreach { b =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(stagedPath, s"__b=$b")))
        throw new IllegalStateException(s"KvStore staged bucket $b missing under $stagedPath")
    }
    writeSmallFile(manifestPath, touched.mkString("\n"))
    touched.foreach(completeSwap)
    deleteOrThrow(manifestPath)
    deleteOrThrow(stagedPath)
    incoming.unpersist(blocking = true)
  }

  // after an evolveSchema upsert, only the TOUCHED buckets carry the
  // widened schema on disk — untouched buckets keep the old one. The
  // store's schema makes every read see the union with nulls for
  // pre-evolution rows.
  def current(): Option[DataFrame] = {
    val dirs = bucketDirs
    if (dirs.isEmpty) None else Some(read(dirs))
  }

  /** The bucket ids the given bucket-column values hash into (same
    * expression the writer uses).
    */
  def bucketIdsFor(values: DataFrame): Seq[Int] =
    KvStore.bucketSet(values.select(bucketOf)).toSeq

  /** Point-lookup read path: scan ONLY the buckets the given values
    * hash into — ≤ |distinct values| directories instead of the whole
    * table (parquet predicate pushdown then prunes inside them). This
    * is what keeps index-serving cost proportional to the query, not
    * the corpus. `values` must carry the bucket columns.
    */
  def lookup(values: DataFrame): Option[DataFrame] = {
    val dirs = bucketIdsFor(values)
      .map(b => new org.apache.hadoop.fs.Path(rootPath, s"b=$b")).filter(fs.exists)
    if (dirs.isEmpty) None else Some(read(dirs))
  }

  /** The stored table; fails loudly when nothing has been written yet
    * (an empty store has no schema to return).
    */
  def get(): DataFrame =
    current().getOrElse(throw new NoSuchElementException(
      s"KvStore at $path is empty — upsert a batch before reading"))
}

object KvStore {
  /** The distinct values of a one-int-column frame of bucket ids, sorted,
    * in one map-only job: each task reduces its rows to a set of at most
    * N ids (N buckets), merged after `collect()`. `distinct()` would add
    * a shuffle stage.
    */
  private def bucketSet(ids: DataFrame): Array[Int] =
    ids.rdd.mapPartitions(rows => Iterator(rows.map(_.getInt(0)).toSet))
      .collect().flatten.distinct.sorted

  /** Parquet reads every column as nullable; so does the record. */
  private def nullable(t: StructType): StructType =
    StructType(t.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
