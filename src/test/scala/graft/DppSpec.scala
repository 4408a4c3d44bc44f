package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Dynamic partition pruning: the runtime analogue of static
  * partition pruning — when a fact table is directory-partitioned on
  * the join key and the dimension side carries a selective filter,
  * Spark injects the dim's key set as a runtime subquery into the
  * fact SCAN, so only matching partitions are read even though the
  * filter isn't on the fact table at all. At 100 TB with date-
  * partitioned facts this is the difference between scanning 3 days
  * and scanning 3 years.
  */
class DppSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 8)
  val dir = "/root/testdata/sf0.001"

  test("a selective dim filter prunes fact partitions at runtime (plan + I/O measured)") {
    val base = java.nio.file.Files.createTempDirectory("dpp").toString
    // date-partitioned fact layout, the standard warehouse shape
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(s"$base/events_by_day")
    val fact = spark.read.parquet(s"$base/events_by_day")
    val nDays = fact.select("day").distinct().count()
    assert(nDays > 5, s"corpus should span multiple days, got $nDays")
    // dimension: all days, with an attribute marking the 3 wanted
    // ones — DPP requires a SELECTIVE predicate on the dim side of
    // the plan (isnotnull alone does not qualify), so the query
    // filters on the attribute, the classic "dim.region = 'EU'" shape
    // the predicate must be one isLikelySelective recognizes
    // (comparison/In/Like — a bare boolean attribute is not), hence
    // the string tag
    val allDays = fact.select("day").distinct()
    val w3 = allDays.orderBy("day").limit(3)
      .collect().map(_.getDate(0).toString).toSet
    allDays.withColumn("tag",
        when(col("day").cast("string").isin(w3.toSeq: _*), "keep").otherwise("skip"))
      .write.parquet(s"$base/dim_days")
    val dim = spark.read.parquet(s"$base/dim_days").filter(col("tag") === "keep")

    val joined = fact.join(dim, "day")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan:\n$phys")

    // measure what is actually read
    def recordsRead(q: => Long): Long = Profile.during(spark)(q)._2.recordsRead
    val total = fact.count()
    val expected = joined.count() // rows on the 3 wanted days
    val read = recordsRead(joined.count())
    // reads = the 3 days' fact rows + the dim (and the pruning
    // subquery's dim scan) — far below the full fact table
    assert(expected < total / 2, "the 3-day slice should be a minority of the fact")
    assert(read < total,
      s"DPP should not scan the whole fact table: read $read of $total fact rows")
    assert(read <= expected + 4 * nDays + 16,
      s"read $read rows — expected ~$expected matching rows plus dim overhead")
  }
}
