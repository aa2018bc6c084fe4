package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core at fixed k: iteratively peel nodes of degree < k until the
  * fixpoint — what survives is the maximal subgraph where every node
  * keeps at least k neighbors (Seidman 1983; the standard "dense
  * community" primitive). Curation use: run on a near-dup PAIR graph
  * (q20/q120's output is an edge list) and the k-core is the template
  * farm — documents near-duplicating k+ others that ALSO near-duplicate
  * k+ others — a far stronger spam-ring signal than raw pair degree,
  * which one popular boilerplate string already inflates.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * == Deterministic contract ==
  *
  * The k-core is a pure monotone fixpoint — no tie-breaks, no floats —
  * and peeling is idempotent once converged, so an oracle that runs a
  * FIXED round count R replays it exactly for any R >= the peeling
  * depth. The engine early-stops at the fixpoint and REQUIRES
  * convergence within `maxRounds` (loud — a deeper-than-expected
  * cascade should stop the job, not silently ship a non-core), so
  * engine and a fixed-R oracle agree by construction (q187 runs R = 12
  * against a measured depth of <= 6 on the bench graph).
  *
  * == Scale shape ==
  *
  * Each round: one partial-aggregated degree count (map-side combined,
  * one row per surviving node) and two semi-joins of the edge frame
  * against the (small, pinned) survivor set — all keyed on node ids,
  * nothing quadratic. The edge frame is REWRITTEN each round, so it
  * localCheckpoints per round (the StarContraction/DedupClusters
  * discipline for self-consuming iteration — unlike PageRank, whose
  * loop-invariant inputs make per-round pinning a measured 2.5×
  * pessimization); lineage stays O(1) and the early-stop edge count
  * rides the checkpoint job ([[graft.sql.Checkpoint]]): 5 jobs per round
  * (CheckpointJobsSpec). Rounds = the graph's peeling depth, capped
  * explicitly by `maxRounds`.
  */
class KCore(
    k: Int,
    maxRounds: Int = 12,
    srcCol: String = "src",
    dstCol: String = "dst") {

  require(k >= 1, s"k ($k) must be >= 1")
  require(maxRounds >= 1, s"maxRounds ($maxRounds) must be >= 1")

  /** (id, core_degree): the nodes of the k-core with their degree INSIDE
    * it (>= k by definition; empty frame when no k-core exists). Input
    * edges are treated as undirected: self-loops dropped, duplicates and
    * orientation collapsed before symmetrizing — (x,y) and (y,x) are the
    * same edge and never double-count a degree.
    */
  def vertices(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    var (cur, prevEdges) = Checkpoint.counted(und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d"))))
    // only rounds that REMOVE edges count toward the cap: convergence is
    // detected by one extra confirming round (equal edge count), and
    // charging that round against maxRounds made the engine need
    // depth <= maxRounds-1 while the doc (and the fixed-R oracle)
    // promise depth <= maxRounds (r15 ADVICE off-by-one). A graph whose
    // peeling depth equals maxRounds now converges instead of aborting.
    var peelRounds = 0
    var converged = prevEdges == 0L
    while (!converged) {
      // pinned so both semi-joins read ONE materialization of the same
      // survivor set (tiny: one row per surviving node)
      val keep = cur.groupBy(col("s")).agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= k).select(col("s").as("__keep"))
        .localCheckpoint()
      // every node in an edge list has degree >= 1, so pruning any node
      // removes at least one (symmetrized) edge: edge-count equality IS
      // the fixpoint test, no node-set diff needed
      val (next, nextEdges) = Checkpoint.counted(cur
        .join(keep, cur("s") === keep("__keep"), "left_semi")
        .join(keep.select(col("__keep").as("__keep2")),
          cur("d") === col("__keep2"), "left_semi"))
      converged = nextEdges == prevEdges
      if (!converged) {
        peelRounds += 1
        require(peelRounds <= maxRounds,
          s"k-core peeling did not converge within maxRounds=$maxRounds " +
            "(raise it; the cascade is deeper than this wiring expected)")
      }
      prevEdges = nextEdges
      cur = next
    }
    cur.groupBy(col("s")).agg(count(lit(1)).as("core_degree"))
      .select(col("s").as("id"), col("core_degree"))
  }
}
