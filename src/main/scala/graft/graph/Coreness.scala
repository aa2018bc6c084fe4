package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full coreness decomposition: k*(v) — the largest k such that v belongs
  * to the k-core — for EVERY node, via the h-index fixpoint iteration
  * (Lü, Zhou, Zhang, Stanley 2016): start from c(v) = degree(v) and
  * repeatedly replace c(v) with the H-INDEX of its neighbors' current
  * values (the largest h such that at least h neighbors have c >= h).
  * The sequence is monotone non-increasing per node and its fixpoint is
  * exactly the coreness. Where fixed-k [[KCore]] answers "is this node in
  * the k-core" per threshold, this answers the production question
  * directly: how deep is each document's duplication neighborhood.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * == Deterministic contract ==
  *
  * Integer-only (degrees, counts, max/least) and monotone, so — like
  * [[KCore]]'s peeling — a fixed round count R replays it exactly for any
  * R >= the refinement depth: extra rounds are identity at the fixpoint.
  * The engine early-stops at the fixpoint (the per-node values are
  * monotone non-increasing positive integers, so the GLOBAL SUM strictly
  * decreases until convergence — one cheap aggregate is the exact test)
  * and requires convergence within `maxRounds`, loudly. Only rounds that
  * CHANGE the sum count toward the cap; the confirming round is free
  * (the KCore discipline).
  *
  * == Scale shape ==
  *
  * Each round: one keyed equi-join (edge × current values), one
  * map-side-combinable count histogram over (node, value) pairs, one
  * per-node running sum over DISTINCT values, one per-node max. The
  * h-index is computed from the count histogram — h = max over distinct
  * neighbor values v of least(v, #neighbors with value >= v) — NOT from
  * a per-node sort of the raw neighbor list: a 10M-degree hub
  * contributes 10M rows to a map-side-combined count but at most
  * min(degree, max value) distinct rows to the window sort, so hub skew
  * is bounded by the value range, not the degree. The value frame is
  * self-consuming, so it is checkpointed per round, its sum riding the
  * checkpoint job ([[graft.sql.Checkpoint]]): 4 jobs per round
  * (CheckpointJobsSpec). The loop-invariant symmetrized edge frame is
  * pinned ONCE (the PageRank discipline — re-pinning loop invariants
  * measured 2.5x slower there).
  */
class Coreness(
    maxRounds: Int = 24,
    srcCol: String = "src",
    dstCol: String = "dst") {

  require(maxRounds >= 1, s"maxRounds ($maxRounds) must be >= 1")

  /** (id, coreness) for every non-isolated node. Input edges are treated
    * as undirected: self-loops dropped, duplicates and orientation
    * collapsed before symmetrizing (the [[KCore]] contract).
    */
  def run(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val sym = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint()
    // (pinned values, their sum): the sum rides the checkpoint job
    def pinned(df: DataFrame): (DataFrame, Long) = {
      val (ck, m) = Checkpoint.observed(df, coalesce(sum(col("c")), lit(0L)))
      (ck, m.getLong(0))
    }
    var (cur, sumC) = pinned(sym.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .select(col("s").as("node"), col("c")))
    var refineRounds = 0
    var converged = sumC == 0L
    while (!converged) {
      val nb = sym.join(cur, sym("d") === cur("node"))
        .select(sym("s").as("n"), cur("c").as("v"))
      // h-index from the (n, v) count histogram: running count of
      // neighbors with value >= v over the DISTINCT values of each node
      // (no per-node sort of raw neighbor lists — see the class doc)
      val hist = nb.groupBy(col("n"), col("v")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("n")).orderBy(col("v").desc)
      val (next, nextSum) = pinned(hist
        .withColumn("cnt_ge", sum(col("cnt")).over(w))
        .groupBy(col("n"))
        .agg(max(least(col("v"), col("cnt_ge"))).as("c"))
        .select(col("n").as("node"), col("c")))
      converged = nextSum == sumC
      if (!converged) {
        refineRounds += 1
        require(refineRounds <= maxRounds,
          s"coreness refinement did not converge within maxRounds=$maxRounds " +
            "(raise it; the cascade is deeper than this wiring expected)")
      }
      sumC = nextSum
      cur = next
    }
    cur.select(col("node").as("id"), col("c").as("coreness"))
  }
}
