package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.ZOrder
import graft.queries.AnalyticsQueries

/** Z-order layout: bit-level correctness of the Morton interleave and
  * a measured multi-dimension pruning advantage over row-order layout
  * — the claim q128's zone-map output makes, quantified.
  */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 4, shufflePartitions = 8)
  import spark.implicits._

  /** Reference Morton interleave in plain Scala. */
  private def morton(x: Int, y: Int): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((x >> i) & 1).toLong << (2 * i)
      z |= ((y >> i) & 1).toLong << (2 * i + 1)
    }
    z
  }

  test("interleave16 matches the bit-by-bit reference on edge and random values") {
    val rnd = new scala.util.Random(7)
    val cases = Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2)) ++
      Seq.fill(200)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.interleave16(col("x").cast("long"), col("y").cast("long")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == morton(r.getInt(0), r.getInt(1)),
        s"(${r.getInt(0)}, ${r.getInt(1)})")
    }
  }

  test("z-range files prune a 2-D box on BOTH dimensions; row-order layout cannot") {
    // 4096 points uniform over the 16-bit grid (deterministic LCG),
    // cut into 64 "files" two ways: by z-range and by arrival order.
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(4096)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = pts.toDF("x", "y")
      .select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .withColumn("z", ZOrder.interleave16(col("x"), col("y")))
    // zone maps per file = (min_x, max_x, min_y, max_y)
    def zones(bucket: org.apache.spark.sql.Column) = df
      .groupBy(bucket.as("f"))
      .agg(min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zZones = zones(shiftright(col("z"), 26))
    val rowZones = zones(monotonically_increasing_id() % 64)
    // box predicate: an eighth of each dimension → 1/64 of the plane
    val (lox, hix, loy, hiy) = (16384L, 24575L, 32768L, 40959L)
    def touched(zs: Seq[(Long, Long, Long, Long)]): Int =
      zs.count { case (mnx, mxx, mny, mxy) =>
        mxx >= lox && mnx <= hix && mxy >= loy && mny <= hiy }
    val zTouched = touched(zZones.toSeq)
    val rowTouched = touched(rowZones.toSeq)
    // row-order files are random samples of the plane: every file's
    // bbox spans nearly everything → no pruning. Z-range files tile
    // the plane → only files whose tile meets the box are read.
    assert(rowTouched >= 60, s"row layout unexpectedly pruned: $rowTouched/64")
    assert(zTouched <= 8, s"z layout should touch few files: $zTouched/64")
  }

  test("z-sorted parquet ACTUALLY prunes on disk: a pushed 2-D box reads a fraction of the rows") {
    // the zone-map claim measured at the I/O layer, not just on
    // logical bounds: parquet keeps per-row-group min/max for every
    // column, and Spark pushes comparison filters into the reader —
    // so a z-SORTED layout (rows clustered in both dimensions) lets
    // the reader skip most row groups on EITHER predicate, while the
    // same filter over a row-order layout reads everything (each row
    // group's min/max spans the whole domain).
    val rnd = new scala.util.Random(7)
    val n = 200000
    val pts = Seq.fill(n)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = pts.toDF("x", "y")
      .select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .withColumn("z", ZOrder.interleave16(col("x"), col("y")))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // small row groups so the 200k-row dataset spans many of them
    spark.conf.set("parquet.block.size", 64 * 1024)
    df.repartitionByRange(8, col("z")).sortWithinPartitions(col("z"))
      .write.parquet(s"$base/zsorted")
    df.repartition(8).write.parquet(s"$base/roworder")
    def recordsRead(path: String): Long =
      Profile.during(spark)(spark.read.parquet(path)
        .filter(col("x").between(16384, 24575) && col("y").between(32768, 40959))
        .count())._2.recordsRead
    val zRead = recordsRead(s"$base/zsorted")
    val rowRead = recordsRead(s"$base/roworder")
    assert(rowRead >= n * 9L / 10, s"row-order layout should read ~all rows, read $rowRead/$n")
    assert(zRead <= n / 4, s"z-sorted layout should skip most row groups, read $zRead/$n")
  }

  test("q128 buckets tile the plane: every bucket bbox is a bounded fraction of it") {
    val rows = AnalyticsQueries.q128_zorder(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // each z >> 26 range covers a 2^26 segment of the curve = 1/64 of
    // the plane; its bbox may over-approximate the tile but never by
    // more than the curve's constant — assert each bbox ≤ 1/4 of the
    // plane, vs ~1.0 for an unclustered cut
    val plane = 65536.0 * 65536.0
    rows.foreach { r =>
      val area = (r.getLong(3) - r.getLong(2) + 1).toDouble *
        (r.getLong(5) - r.getLong(4) + 1).toDouble
      assert(area / plane <= 0.25,
        s"bucket ${r.getLong(0)} bbox covers ${area / plane} of the plane")
    }
  }
}
