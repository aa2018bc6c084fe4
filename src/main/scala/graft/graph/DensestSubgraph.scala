package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import scala.collection.mutable.ArrayBuffer

/** Greedy densest-subgraph extraction by parallel peeling (Charikar 2000;
  * distributed form: Bahmani, Kumar, Vassilvitskii, VLDB 2012): round r
  * drops every node whose degree is at most 2x the current average
  * (eps = 1), snapshots (|E|, |V|) first, and the answer is the snapshot
  * of maximum density |E|/|V| — a 4-approximation of the densest
  * subgraph, in O(log |V|) rounds. On a near-dup/co-purchase graph this
  * is "the single most intensely duplicated cluster" — the needle the
  * average-degree statistics of [[Coreness]] point at but don't extract.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * == Deterministic contract ==
  *
  * Integer-only end to end: the peel test is the cross-multiplied
  * deg * |V| > 4 * |E| (never a float average), and the best-round
  * argmax compares densities as exact cross-products (BigInt — immune
  * to overflow at any scale), ties to the EARLIEST round. A fixed-R
  * oracle replay agrees for any R >= the peeling depth: once the edge
  * set is empty every further round is identity, and the argmax is a
  * pure fold over the recorded (round, E, V) table. Termination is
  * guaranteed (the minimum-degree node always peels — min <= avg <
  * 2*avg) and `maxRounds` guards it loudly.
  *
  * == Scale shape ==
  *
  * Per round: one map-side-combinable degree count and two semi-joins
  * against the broadcast survivors — all keyed on node ids, the [[KCore]]
  * budget. The degree and edge frames re-materialize per round via
  * [[graft.sql.Checkpoint]], whose jobs also return |V| and |E|: 4 jobs per
  * round (CheckpointJobsSpec). Snapshots keep only the per-round NODE
  * frames, each a (node) column already materialized by its checkpoint.
  */
class DensestSubgraph(
    maxRounds: Int = 32,
    srcCol: String = "src",
    dstCol: String = "dst") {

  require(maxRounds >= 1, s"maxRounds ($maxRounds) must be >= 1")

  /** (id, density): the members of the best peel-round subgraph and its
    * exact density |E|/|V| (same value on every row). Empty input ->
    * empty output. Edges undirected, self-loops dropped, duplicates
    * collapsed (the [[KCore]] contract).
    */
  def run(edges: DataFrame): DataFrame = {
    // |E| and |V| ride the checkpoint jobs that pin each frame
    var (und, e) = Checkpoint.counted(edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct())
    val snaps = ArrayBuffer.empty[(Long, Long, DataFrame)] // (E, V, nodes)
    var round = 0
    while (e > 0L) {
      round += 1
      require(round <= maxRounds,
        s"densest-subgraph peeling did not empty the graph within maxRounds=$maxRounds " +
          "(raise it; the graph is deeper than this wiring expected)")
      val (deg, v) = Checkpoint.counted(und.select(col("a").as("s"))
        .union(und.select(col("b").as("s")))
        .groupBy(col("s")).agg(count(lit(1)).as("dg")))
      snaps += ((e, v, deg.select(col("s"))))
      // peel: KEEP deg * V > 4 * E (exact integer arithmetic; removal is
      // the <= complement, which always catches the minimum-degree node).
      // At most V survivors: broadcast by that exact count, as the planner
      // has only pre-checkpoint estimates (sort-merge joins AQE demotes late)
      val kept = deg.where(col("dg") * lit(v) > lit(4L * e)).select(col("s"))
      val keep = if (v * 8L <= SQLConf.get.autoBroadcastJoinThreshold) broadcast(kept) else kept
      val (next, nextE) = Checkpoint.counted(und
        .join(keep.select(col("s").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("s").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      und = next
      e = nextE
    }
    if (snaps.isEmpty) {
      und.select(col("a").as("id"), lit(0.0).as("density")).where(lit(false))
    } else {
      // argmax density = E/V by exact cross-multiplication, earliest round
      // on ties (the strict > keeps the earlier snapshot)
      val best = snaps.reduceLeft { (x, y) =>
        if (BigInt(y._1) * BigInt(x._2) > BigInt(x._1) * BigInt(y._2)) y else x
      }
      best._3.select(col("s").as("id"),
        lit(best._1.toDouble / best._2).as("density"))
    }
  }
}
