package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private[graft] def session(cpus: Int): SparkSession = Sessions.local(cpus, cpus)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict the dump to named queries (local
    // iteration); the driver always passes exactly two args
    val only = args.drop(2).toSet
    // the injected optimizer rules are registered (r12): the gate then
    // verifies the REWRITTEN plans against DuckDB — the strongest proof
    // the rules are value-identical, and the same session Bench measures
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist() intermediates (q54/q65 edges, filtered
      // corpus) must not pile cached partitions across the whole gate
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // environment stamp: when a local-vs-driver oracle split happens
    // (round 10: five hash fails reproducible only in the driver's
    // DuckDB build), the artifacts should say what each side ran —
    // check.py stamps its duckdb version beside this.
    val env = Seq(
      "spark" -> spark.version,
      "java" -> sys.props.getOrElse("java.version", "?"),
      "scala" -> scala.util.Properties.versionNumberString,
      "timezone" -> spark.conf.get("spark.sql.session.timeZone"),
      "note" -> ("local certification replica is tools/check.py; its DuckDB " +
        "version is recorded in env.json by check.py when it runs"))
    Files.writeString(Paths.get(s"$outDir/env.json"),
      env.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
