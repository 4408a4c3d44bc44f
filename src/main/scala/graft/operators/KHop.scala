package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth BFS (k-hop reachability) as a reusable kernel —
  * q138's iterative-traversal primitive (deva: recursive traverse,
  * pipe.py:1013, bounded), extracted so the round frames are
  * materialized once per round instead of replaying lineage.
  *
  * Round discipline (r16, measured): each round frame (the new
  * frontier with its hop number) is cut with an EAGER
  * `localCheckpoint` — one materialization job per round, after
  * which the frame is a bare `LogicalRDD`. The r10–r15 form
  * persisted + counted + width-capped every round instead; at sf0.1
  * that bookkeeping (a count job per round, `rdd.getNumPartitions`,
  * a coalesce wrapper, and a logical plan that unions every cached
  * round's full tree — 24k plan lines by round 4) cost 2–4× the
  * traversal itself (the r16 A/B in PLANS.md: 6.3 s shipped vs
  * 1.3–2.4 s checkpointed at sf0.1, identical rows). Width now comes from AQE's
  * byte-based partition coalescing (the shipped sessions' advisory
  * size with a 64 KB floor): tiny round frames fold to a few
  * partitions — no near-empty-task spray — while a catalog-sized
  * frontier at 100× keeps advisory-sized parallel tasks, which is the
  * scale-adaptive policy (optimization guide §2.2) the old row-count
  * heuristic approximated by hand.
  *
  * Fault-tolerance note: `localCheckpoint` trades lineage for plan
  * truncation (executor loss during the query means recomputing the
  * query, not the block) — the same trade every sink frame in this
  * codebase already makes; round frames are node-bounded, orders of
  * magnitude smaller than the edge frame.
  */
object KHop {

  /** Expand `src` (column `n`) over directed edges `bidir` (columns
    * `x` → `y`; pass both directions for an undirected graph) for
    * exactly `maxHops` rounds, returning (n, hops) with each reached
    * node's MINIMUM hop count. Exactly `maxHops` plan iterations (no
    * data-dependent driver loop); each round is frontier⋈edges (hash
    * join on the frontier key), a distinct, and an anti-join against
    * the reached set — all hash operations AQE can re-plan. Each
    * round frame is an eager localCheckpoint, so lineage stays
    * 1-round deep and the reached union is a flat union of RDD scans.
    */
  def expand(bidir: DataFrame, src: DataFrame, maxHops: Int): DataFrame = {
    val src0 = src.select(col("n")).withColumn("hops", lit(0L)).localCheckpoint(true)
    var reached = src0
    var frontier = src0.select(col("n"))
    for (h <- 1 to maxHops) {
      val next = frontier.join(bidir, frontier("n") === bidir("x"))
        .select(col("y").as("n")).distinct()
        .join(reached.select(col("n")), Seq("n"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint(true)
      // the union is a flat read over the checkpointed rounds — no
      // shuffle, no cache entry, constant-depth plan
      reached = reached.unionByName(next)
      frontier = next.select(col("n"))
    }
    reached
  }
}
