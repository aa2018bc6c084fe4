package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance: for every node reachable from a seed
  * set, the minimum number of edges to the nearest seed. The
  * crawl-curation "link distance from trusted seeds" signal (the TrustRank
  * seed-propagation shape, hop-count form): distance-from-quality is a
  * standard document-level curation feature at corpus scale.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * == Deterministic contract ==
  *
  * Integer-only. The engine runs frontier-expansion rounds (only the NEW
  * nodes join each round) and early-stops when a round discovers nothing;
  * it requires convergence within `maxRounds`, loudly — only discovering
  * rounds count toward the cap, the confirming empty round is free (the
  * [[KCore]] discipline). The fixpoint is order-free (min-hop is unique),
  * so a DuckDB oracle replaying FIXED R rounds of Bellman-Ford-style
  * min-relaxation — d(v) <- min(d(v), min over in-neighbors d(u) + 1) —
  * agrees exactly for any R >= the reachable eccentricity: relaxation
  * rounds past the fixpoint are identity.
  *
  * == Scale shape ==
  *
  * Per round: one keyed equi-join of the (shrinking) frontier against the
  * edge list, one distinct on the discovered ids, one anti-join against
  * the visited set — all shuffling on node ids, never on pairs. Frontier
  * BFS does O(|E reachable|) total join work across ALL rounds combined
  * (each edge is expanded from its endpoint's discovery round only), vs
  * the oracle's fixed-R full relaxation doing O(R x |E|) — the engine
  * shape is the one that holds at 100 TB. Each frontier is checkpointed
  * with its size riding the checkpoint job ([[graft.sql.Checkpoint]]):
  * 5 jobs per round (CheckpointJobsSpec). The visited set is a lazy union
  * of those frontiers (each materialized once, never re-copied), so round
  * r's anti-join scans r pieces — O(rounds^2) scan legs in total, which
  * matters only past `maxRounds` 16. The loop-invariant symmetrized edge
  * frame is pinned once (the [[PageRank]] discipline).
  */
class BfsDistance(
    maxRounds: Int = 16,
    srcCol: String = "src",
    dstCol: String = "dst") {

  require(maxRounds >= 1, s"maxRounds ($maxRounds) must be >= 1")

  /** (id, dist) for every node reachable from `seeds` (a one-column frame
    * of node ids; duplicates collapsed; dist 0 even for seeds absent from
    * the edge list). Edges are treated as undirected: self-loops dropped,
    * duplicates and orientation collapsed before symmetrizing (the
    * [[KCore]] contract). Unreachable nodes are OMITTED, not infinity.
    */
  def run(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val sym = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint()
    val (s0, seeded) = Checkpoint.counted(seeds
      .select(col(seeds.columns.head).cast("long").as("id"))
      .where(col("id").isNotNull)
      .distinct()
      .withColumn("dist", lit(0L)))
    // the visited set is a UNION of the checkpointed frontiers, never
    // re-materialized: re-pinning it per round would cost a second action
    // and re-copy all of it (O(rounds × |V|)); the anti-join reads the
    // ≤ maxRounds-way union of memory-backed scans directly
    var frontiers = Vector(s0)
    var frontier = s0
    var round = 0
    var done = seeded == 0L
    while (!done) {
      val visitedIds = frontiers.map(_.select("id")).reduce(_ union _)
      val (next, found) = Checkpoint.counted(sym.join(frontier, sym("s") === frontier("id"))
        .select(sym("d").as("id")).distinct()
        .join(visitedIds, Seq("id"), "left_anti")
        .withColumn("dist", lit(round + 1L)))
      done = found == 0L
      if (!done) {
        round += 1
        require(round <= maxRounds,
          s"BFS did not exhaust the reachable set within maxRounds=$maxRounds " +
            "(raise it; the graph is deeper than this wiring expected)")
        frontiers :+= next
        frontier = next
      }
    }
    frontiers.reduce(_ union _).select(col("id"), col("dist"))
  }
}
