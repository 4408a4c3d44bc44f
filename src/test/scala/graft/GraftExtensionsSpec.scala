package graft

import org.apache.spark.sql.{AnalysisException, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** Every `graft_*` SQL function the extensions register answers as its
  * Column wrapper does, and the registration's own checks — arity and
  * literal width — fail the way their messages say.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(cores = 2, shufflePartitions = 2)

  private def viaSql(expr: String): Any = spark.sql(s"SELECT $expr AS v").collect()(0).get(0)

  private def viaColumn(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  test("all eight graft_* functions are callable from SQL and match their Column wrappers") {
    val tokens = array(lit("a"), lit("b"), lit("c"), lit("d"))
    val trail = array(
      struct(lit(2).as("t"), lit("y").as("s")), struct(lit(1).as("t"), lit("x").as("s")))
    val cases = Seq(
      "graft_hash60('hello')" -> Hash60(lit("hello")),
      "graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))" ->
        ArrayDot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))),
      "graft_rolling_hash(array('a', 'b', 'c', 'd'), 2)" -> RollingWindowHash(tokens, 2),
      "graft_shingles(array('a', 'b', 'c', 'd'), 3)" -> Shingles(tokens, 3),
      "graft_cents(12.345D)" -> Cents(lit(12.345)),
      "graft_jaro_winkler_q4('martha', 'marhta')" -> JaroWinklerQ4(lit("martha"), lit("marhta")),
      "graft_sorted_trail(array(named_struct('t', 2, 's', 'y'), named_struct('t', 1, 's', 'x')), 1)" ->
        GraftColumnBridge.column(SortedTrail(GraftColumnBridge.expression(trail), 1)),
      "graft_deflate_size('abcabcabc')" -> DeflateSize(lit("abcabcabc")))
    assert(cases.size == 8)
    cases.foreach { case (sql, c) =>
      assert(viaSql(sql) == viaColumn(c), sql)
    }
    assert(viaSql("graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))") == 11.0)
    assert(viaSql("graft_sorted_trail(array(named_struct('t', 2, 's', 'y'), " +
      "named_struct('t', 1, 's', 'x')), 1)") == Seq("x", "y"))
  }

  test("a wrong arity raises WRONG_NUM_ARGS") {
    Seq("graft_hash60('a', 'b')", "graft_array_dot(array(1.0D))", "graft_shingles(array('a'))",
        "graft_deflate_size()").foreach { sql =>
      val e = intercept[AnalysisException](viaSql(sql))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$sql: ${e.getMessage}")
    }
  }

  test("a non-literal width raises IllegalArgumentException") {
    Seq("graft_rolling_hash" -> "window length", "graft_shingles" -> "width",
        "graft_sorted_trail" -> "field ordinal").foreach { case (f, what) =>
      val arg = if (f == "graft_sorted_trail") "array(named_struct('t', id))" else "array('a', 'b')"
      val e = intercept[IllegalArgumentException](
        spark.range(3).selectExpr(s"$f($arg, CAST(id AS INT))").collect())
      assert(e.getMessage.startsWith(s"$f $what must be an integer literal"), e.getMessage)
    }
  }
}
