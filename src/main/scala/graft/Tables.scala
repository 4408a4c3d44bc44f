package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the test star schema (TESTDATA.md), as batch frames
  * ([[apply]]) and as file streams ([[stream]]).
  *
  * Each table is a single parquet file per scale factor in the gate
  * corpus; Spark-written copies are directories of part files. Both
  * readers open a table through one layout/schema memo and one
  * `events.ts` normalization, so a pairing and its batch twin read
  * the same rows with the same types.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What one probe of `(dir, table)` learns: whether
    * `$dir/$table.parquet` is a DIRECTORY of part files, and the
    * footer schema. */
  private final case class Layout(isDir: Boolean, schema: StructType)

  /** Layout memo, keyed by (dir, table) — r16: every loader call
    * re-inferred the schema from the parquet footer (~10–100 ms of
    * driver-side I/O per call), and a 283-query gate pass builds each
    * table's frame hundreds of times, batch and stream. The layout of
    * a given path is immutable metadata for the life of the process
    * (the gate's corpus dirs never change underneath it; test copies
    * land in fresh temp dirs), so one probe per (dir, table) serves
    * every later read via `.schema(...)`, which skips inference
    * entirely. Metadata only: no rows, plans or results are memoized.
    */
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Layout]()

  /** Probe `(dir, name)` once. File stream sources need a directory,
    * so the probe records what is on disk: a DIRECTORY of part files
    * is streamed as one; a single parquet FILE (the gate corpus), or
    * no literal child at all (date-partitioned trees), is streamed as
    * the parent dir scoped by glob filter. The events table sets
    * `nanosAsLong` before its read, so the memoized schema is the one
    * per-call inference produced (see [[normalizeTs]]).
    */
  private def layout(spark: SparkSession, dir: String, name: String): Layout = {
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    layouts.computeIfAbsent((dir, name), { _ =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Layout(fs.getFileStatus(p).isDirectory, spark.read.parquet(p.toString).schema)
      else Layout(false, spark.read.option("pathGlobFilter", s"$name.parquet").parquet(dir).schema)
    })
  }

  /** `name` as a batch frame. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val l = layout(spark, dir, name)
    normalizeTs(name, spark.read.schema(l.schema).parquet(s"$dir/$name.parquet"))
  }

  /** `name` as a file STREAM with the same schema as [[apply]] —
    * the one stream-table opener. Callers project/enrich/type the
    * frame before handing it to a sink or to `Pairing.runStream`.
    */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val l = layout(spark, dir, name)
    val r = spark.readStream.schema(l.schema)
    normalizeTs(name,
      if (l.isDir) r.parquet(s"$dir/$name.parquet")
      else r.option("pathGlobFilter", s"$name.parquet").parquet(dir))
  }

  /** events.ts has shipped in three physical forms across driver
    * generations: TIMESTAMP(NANOS) (read nanos-as-long and truncate to
    * microseconds — exactly what DuckDB's microsecond timestamps do on
    * read), plain timestamp[us] without timezone (Spark reads it as
    * TIMESTAMP_NTZ; cast to TIMESTAMP — value-preserving under the
    * session's pinned UTC, and it matches DuckDB's naive read of the
    * same file), and Spark-written LTZ copies (no conversion). All
    * three normalize to TimestampType here, batch and stream, so every
    * downstream query sees one ts type.
    */
  private def normalizeTs(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
