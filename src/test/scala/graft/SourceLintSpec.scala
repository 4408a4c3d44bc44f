package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source lint: keeps the float-division integer-decode class
  * EXTINCT.
  *
  * History: three times (VERDICT r14 low → hitsFrom; VERDICT r15
  * item 1 → pagerankIterFrom/q97; the r16 sweep → q20/q72/q90/q146/
  * q167/Flow.partitioned/RangeJoin and two `size()` sites) a column
  * holding an integral quantity was decoded by DOUBLE division plus
  * floor/cast instead of integer `div`. Each instance is exact only
  * below 2^53 — green at every testable SF, silently wrong past it —
  * which is why the class keeps slipping through review: the gate
  * cannot catch it, only a reader (or this lint) can.
  *
  * The rule: an integral bucket/shard/group/node id is derived with
  * SQL `div` (Spark IntegralDivide, exact at any width, long result)
  * and the DuckDB oracle spells the same decode `//`. Double
  * division is for genuinely real-valued math.
  *
  * What is NOT flagged: float math that is floor-QUANTIZED under a
  * documented determinism contract with a byte-identical oracle
  * rendering (operators/Similarity int8 quantization, functions/
  * Determinism decq) — those sites divide doubles on purpose, carry
  * the paired oracle SQL beside them, and do not match the banned
  * shapes below (the divisor side of a quantization carries `+ 0.5`
  * or decimal casts, never a bare `).cast("long")`).
  */
class SourceLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def scalaSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toVector

  private def offenders(re: scala.util.matching.Regex): Seq[String] =
    scalaSources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }

  test("no double division feeds an integral cast") {
    // a `/` whose enclosing expression is immediately cast to an
    // integral type — the decode must be spelled `div` instead
    val re = """/ [^)]*\)\s*\.cast\("(?:long|int)"\)""".r
    val hits = offenders(re)
    assert(hits.isEmpty,
      "double-division-then-integral-cast (use SQL `div`):\n" + hits.mkString("\n"))
  }

  test("no floor over a column division") {
    // floor(col(...) / ...) / floor((col(...) ...) / ...) — the
    // other spelling of the same decode
    val re = """floor\(\(?col\([^\n]*/""".r
    val hits = offenders(re)
    assert(hits.isEmpty,
      "floor-of-column-division (use SQL `div`):\n" + hits.mkString("\n"))
  }

  test("StreamQueries never hand-checkpoints a frame") {
    // toMemory/runStream already return the drained sink as an
    // eagerly-checkpointed LogicalRDD — a second localCheckpoint in
    // a streaming query re-materializes the frame (one extra job, a
    // doubled transient copy) and, for memoized frames, hides the
    // inner blocks from the release path (the r16 sigMemo fix).
    // Iteration lineage cuts belong in operators/ and the batch
    // tails, never here.
    val re = """\.localCheckpoint\(""".r
    val hits = Files.readAllLines(
        Paths.get("src/main/scala/graft/queries/StreamQueries.scala"))
      .asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined &&
          !Seq("*", "//", "/*").exists(line.trim.startsWith) =>
          s"StreamQueries.scala:${i + 1}: ${line.trim}"
      }
    assert(hits.isEmpty,
      "hand-checkpoint in StreamQueries (toMemory already drains):\n" +
        hits.mkString("\n"))
  }

  test("StreamQueries never hand-rolls a stateful memory-sink pairing") {
    // a keyed-state pairing goes through Pairing.runStream (or, for
    // q62's deva accumulate, Stateful) and every memory sink through
    // EventFlow.toMemory — one copy of the fold, the sink start, the
    // AvailableNow trigger and the drain, so a cut to the per-pairing
    // floor is made once
    // EventFlow.toMemory also names the sink and sets the stream
    // width, so StreamQueries holds no sink name or width scope
    val re = """\.writeStream\b|\bflatMapGroupsWithState\b|\bwithStreamShuffle\b|_mem_""".r
    val hits = Files.readAllLines(
        Paths.get("src/main/scala/graft/queries/StreamQueries.scala"))
      .asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined &&
          !Seq("*", "//", "/*").exists(line.trim.startsWith) =>
          s"StreamQueries.scala:${i + 1}: ${line.trim}"
      }
    assert(hits.isEmpty,
      "hand-rolled stream pipeline in StreamQueries (use Pairing.run/runStream " +
        "or EventFlow.toMemory):\n" + hits.mkString("\n"))
  }

  test("events.ts is normalized only in Tables") {
    // batch and stream read events through Tables, so the nanos-as-long
    // read and its truncation to microseconds live in one place — a
    // second copy could drift and make a pairing read other
    // timestamps than its batch twin
    val re = """timestamp_micros\(ts div 1000\)|nanosAsLong""".r
    val hits = offenders(re).filterNot(_.startsWith("src/main/scala/graft/Tables.scala:"))
    assert(hits.isEmpty,
      "events.ts normalization outside Tables.scala:\n" + hits.mkString("\n"))
  }

  test("oracle SQL never floors an integral decode through DOUBLE") {
    // CAST(floor(CAST(x AS DOUBLE) / n) AS BIGINT) in an oracle
    // string — DuckDB spells the exact decode `//`. A `+` between
    // the division and the close is round-half-up QUANTIZATION
    // (Similarity's int8 grid — a real-valued contract, not a
    // decode) and stays legal.
    val re = """floor\(CAST\([^)]*AS DOUBLE\) / [^+)]*\)""".r
    val hits = offenders(re)
    assert(hits.isEmpty,
      "oracle floors through DOUBLE (use DuckDB `//`):\n" + hits.mkString("\n"))
  }

  test("only Profile registers a Spark listener") {
    // one capture, drained on a marker job: a hand-rolled listener
    // brings back its own sleep and its own idea of when events are in
    val re = """addSpark[L]istener|listenerManager\.register""".r
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Profile.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
    }
    assert(hits.isEmpty, "listener registered outside graft/Profile.scala:\n" + hits.mkString("\n"))
  }
}
