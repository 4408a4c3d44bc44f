package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions wiring: makes graft's custom expressions
  * first-class for SQL users (`SELECT graft_hash60(col)`) and injects
  * the library's optimizer rules ([[RewriteArrayDot]] — the natural
  * HOF dot-product silently gets the codegen'd kernel). A custom
  * Strategy/SparkPlan would register through the same channel if an
  * operator genuinely needed one (SURVEY §8 records why none does).
  *
  * Use: SparkSession.builder().withExtensions(new GraftExtensions) …
  * or spark.sql.extensions=graft.plans.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // injected Rules (r10): the natural HOF dot-product and the
    // composed md5-hex hash idiom rewrite to their codegen'd kernels;
    // (r11) the exact-cents cast chain fuses to the Cents kernel
    ext.injectOptimizerRule(_ => RewriteArrayDot)
    ext.injectOptimizerRule(_ => RewriteHash60)
    ext.injectOptimizerRule(_ => RewriteCents)
    // (r11 cont.) the natural word-shingling HOF fuses to the
    // codegen'd Shingles kernel
    ext.injectOptimizerRule(_ => RewriteShingles)
    // (r12) the journey/path idiom — transform(sort_array(
    // collect_list(struct)), x -> x.f) — fuses to the codegen'd
    // SortedTrail kernel (both steps were interpreter-bound)
    ext.injectOptimizerRule(_ => RewriteSortedTrail)
    // the SQL functions: a wrong arity fails analysis the way a
    // builtin's does
    def fn(name: String, cls: Class[_], arity: Int)(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          if (children.length != arity)
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
              messageParameters = Map(
                "functionName" -> s"`$name`",
                "expectedNum" -> arity.toString,
                "actualNum" -> children.length.toString,
                "docroot" -> "https://spark.apache.org/docs/latest"),
              cause = None)
          build(children)
        }))
    fn("graft_hash60", classOf[Hash60], 1)(c => Hash60(c.head))
    fn("graft_array_dot", classOf[ArrayDot], 2)(c => ArrayDot(c.head, c(1)))
    fn("graft_rolling_hash", classOf[RollingWindowHash], 2)(c =>
      RollingWindowHash(c.head, intLiteral("graft_rolling_hash window length", c(1))))
    fn("graft_shingles", classOf[Shingles], 2)(c =>
      Shingles(c.head, intLiteral("graft_shingles width", c(1))))
    fn("graft_cents", classOf[Cents], 1)(c =>
      Cents(c.head, org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
    fn("graft_jaro_winkler_q4", classOf[JaroWinklerQ4], 2)(c => JaroWinklerQ4(c.head, c(1)))
    fn("graft_sorted_trail", classOf[SortedTrail], 2)(c =>
      SortedTrail(c.head, intLiteral("graft_sorted_trail field ordinal", c(1))))
    fn("graft_deflate_size", classOf[DeflateSize], 1)(c => DeflateSize(c.head))
  }

  /** The width/ordinal argument of a SQL call, which the kernel fixes
    * at plan time: an integer literal. */
  private def intLiteral(what: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
