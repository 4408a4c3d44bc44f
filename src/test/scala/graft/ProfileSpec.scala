package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The listener capture drains on its end marker, not on a sleep: a
  * capture taken right after an action holds all of that action's
  * events and none of the one before it.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 2, shufflePartitions = 2)
  val dir = "/root/testdata/sf0.001"

  test("one action profiled 20 times back to back captures the same plans and records each time") {
    val li = Tables.lineitem(spark, dir)
    val rows = li.count()
    def action(): Long = li.filter(col("l_quantity") > 10).count()
    val caps = (1 to 20).map(_ => Profile.during(spark)(action()))
    assert(caps.map(_._1).distinct == Seq(action()))
    assert(caps.map(_._2.plans.size).distinct == Seq(1), caps.map(_._2.plans.size))
    assert(caps.map(_._2.recordsRead).distinct == Seq(rows), caps.map(_._2.recordsRead))
    assert(caps.forall(_._2.stages.nonEmpty))
    assert(caps.head._2.plans.head.contains("FileScan parquet"), caps.head._2.plans.head)
    assert(!caps.head._2.plans.head.contains("== Initial Plan =="))
  }

  test("a capture ignores the events of the action before it") {
    Tables.lineitem(spark, dir).filter(col("l_quantity") > 10).count()
    val (_, cap) = Profile.during(spark)(())
    assert(cap.plans.isEmpty && cap.stages.isEmpty && cap.recordsRead == 0L, cap)
  }

  test("the body's exception propagates and the next capture still drains") {
    intercept[IllegalStateException](Profile.during(spark)(throw new IllegalStateException("x")))
    assert(Profile.during(spark)(
      Tables.nation(spark, dir).filter(col("n_nationkey") >= 0).count())._2.recordsRead == 25L)
  }
}
