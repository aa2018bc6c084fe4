package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) for community
  * detection: every node starts labeled with its own id and each round
  * adopts the label MOST FREQUENT among its neighbors, ties broken by
  * the SMALLEST label — run for a FIXED number of rounds. On a near-dup
  * pair graph the stable labels name the duplicate families (which
  * template farm a document belongs to), the natural companion to
  * [[KCore]]'s "how dense is the farm" and [[Coreness]]'s "how deep".
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * == Deterministic contract ==
  *
  * Classic async LPA is order-dependent and randomized; this is the
  * deterministic variant: SYNCHRONOUS rounds (all nodes update from the
  * same previous labeling) with the (max count, then min label) rule —
  * integer-only, no coin anywhere. Synchronous LPA can 2-cycle on
  * bipartite structure instead of converging, so the contract is a FIXED
  * round count (the PageRank discipline, not the KCore fixpoint one):
  * engine and oracle both run exactly `rounds` rounds and agree row for
  * row at any round count.
  *
  * == Scale shape ==
  *
  * Each round: one keyed equi-join (edges × labels) and TWO partial-
  * aggregated aggregations — (node, label) count, then per-node
  * max(struct(count, −label)) — no window, no sort; the tie rule rides
  * the struct ordering. Label frames are self-consuming, so they
  * localCheckpoint per round; the symmetrized edge frame is pinned once
  * (loop-invariant). A hot node's neighbor list partial-aggregates
  * map-side per (node, label), so a 10M-degree hub costs its distinct
  * incident labels, not its degree, in the exchange.
  */
class LabelPropagation(
    rounds: Int = 5,
    srcCol: String = "src",
    dstCol: String = "dst") {

  require(rounds >= 1, s"rounds ($rounds) must be >= 1")

  /** (id, label) after exactly `rounds` synchronous updates. Input edges
    * are treated as undirected: self-loops dropped, duplicates and
    * orientation collapsed before symmetrizing (the [[KCore]] contract).
    * Labels are node ids, so ids must be non-negative (the struct-max
    * tie rule negates them; loud guard below).
    */
  def run(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    // the id probe rides the checkpoint job (null min: no edges)
    val (sym, ids) = Checkpoint.observed(und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d"))), min(col("s")))
    require(ids.isNullAt(0) || ids.getLong(0) >= 0L, "label propagation needs non-negative node ids " +
      "(the tie-break rides negated labels)")
    var labels = sym.select(col("s").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      val nb = sym.join(labels, sym("d") === labels("node"))
        .select(sym("s").as("n"), labels("lbl").as("l"))
      labels = nb.groupBy(col("n"), col("l")).agg(count(lit(1)).as("c"))
        // (max count, min label) as one struct-max: no window, no sort
        .groupBy(col("n"))
        .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
        .select(col("n").as("node"), (-col("m.nl")).as("lbl"))
        .localCheckpoint()
    }
    labels.select(col("node").as("id"), col("lbl").as("label"))
  }
}
