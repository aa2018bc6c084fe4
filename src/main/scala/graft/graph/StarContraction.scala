package graft.graph

import graft.sql.Checkpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  * 2014) — the O(log n)-round scale path beside
  * [[graft.dedup.DedupClusters]]'s O(diameter) min-label propagation.
  * Near-dup clusters are shallow, so label propagation wins there; star
  * contraction is the tool when components can be DEEP (link graphs,
  * session chains, transitive record linkage), where a diameter-10^4 path
  * would cost label propagation 10^4 keyed joins but star contraction
  * ~log2(n) rounds.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * Each round is two keyed aggregation+join passes over the edge list:
  *  - large-star: every node points its LARGER neighbors at the minimum
  *    of its closed neighborhood;
  *  - small-star: edges re-oriented (max, min), every node points its
  *    smaller neighbors (and itself) at its minimum neighbor.
  * Both preserve connectivity and strictly shrink tree height; at the
  * fixpoint every component is a star rooted at its minimum id.
  *
  * Convergence is certified EXACTLY, not by an edge-set-stability proxy:
  * derive labels (node -> min current partner, roots label themselves)
  * and count ORIGINAL edges whose endpoints disagree. Zero mismatches
  * proves per-component uniform labels, and the component's minimum node
  * always labels itself, so the uniform label IS the component min — the
  * same certificate-of-correctness shape DedupClusters uses. One count
  * job per round; `maxRounds` throws rather than returning a silent
  * partial clustering.
  *
  * Scale shape: everything is keyed groupBy/join on node ids (map-side
  * partial min aggregation); edge frames localCheckpoint per round so
  * lineage stays one round deep; no adjacency ever collects. Hot
  * high-degree nodes cost one combined partial min per upstream
  * partition.
  */
object StarContraction {

  /** (id, cluster) for every node: cluster = min id reachable through
    * `pairs` (undirected). Nodes absent from `pairs` are their own
    * cluster. Same contract as [[graft.dedup.DedupClusters.components]].
    */
  def components(
      nodes: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      maxRounds: Int = 25): DataFrame = {
    require(maxRounds > 0, s"maxRounds ($maxRounds) must be positive")
    val spark = nodes.sparkSession
    // canonical (big, small) orientation from the start: labelsOf's
    // min-partner derivation relies on every edge pointing DOWN (so no
    // node can ever label itself upward, and the component min always
    // labels itself — the property the convergence certificate rests on)
    val (original, pairRows) = Checkpoint.counted(pairs
      .select(
        greatest(col("id_a"), col("id_b")).as("a"),
        least(col("id_a"), col("id_b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val (nodesCk, nodeRows) = Checkpoint.counted(nodes.select(col(idCol).as("id")))

    // frame sizing: the round frames inherit upstream shuffle partitioning;
    // coalesce to ~1M rows/partition (capped at default parallelism) so
    // small graphs don't pay 32 tasks of scheduling per round; both sizes
    // ride the checkpoint jobs
    val rows = pairRows max nodeRows
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, rows / (1L << 20) + 1)).toInt

    def largeStar(e: DataFrame): DataFrame = {
      // symmetrize with one explode, not a two-select union (one read of
      // the round's edge frame instead of two — r16, guide §2.4)
      val n = e.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("s"))
        .select(col("s.u").as("u"), col("s.v").as("v"))
      val m = n.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      n.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(
        greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct()
      val m = d.groupBy(col("u")).agg(min(col("v")).as("m"))
      d.join(m, "u").select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b")).distinct()
    }

    // labels under the current edge set: min partner per node (edges are
    // (big, small) after smallStar, so "partner" = the b side), roots and
    // isolated nodes label themselves
    def labelsOf(e: DataFrame): DataFrame = {
      val owned = e.groupBy(col("a")).agg(min(col("b")).as("label"))
      nodesCk.join(owned.select(col("a").as("id"), col("label")), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }

    def mismatched(l: DataFrame): Long = original
      .join(l.select(col("id").as("a"), col("label").as("la")), "a")
      .join(l.select(col("id").as("b"), col("label").as("lb")), "b")
      .where(col("la") =!= col("lb"))
      .count()

    var edges = original.coalesce(parts)
    var labels = labelsOf(edges).coalesce(parts).localCheckpoint(true)
    var dirty = mismatched(labels) > 0
    var round = 0
    while (dirty && round < maxRounds) {
      edges = smallStar(largeStar(edges)).coalesce(parts).localCheckpoint(true)
      labels = labelsOf(edges).coalesce(parts).localCheckpoint(true)
      dirty = mismatched(labels) > 0
      round += 1
    }
    require(!dirty,
      s"star contraction did not converge within $maxRounds rounds")
    labels.select(col("id").as(idCol), col("label").as("cluster"))
  }
}
