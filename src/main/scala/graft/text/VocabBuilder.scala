package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.dedup.TextNormalizer

/** Coverage-bounded vocabulary builder: the smallest token set — ordered by
  * (frequency desc, token asc) — whose cumulative token mass reaches
  * `cover` of the corpus, with the reference's strict-`<` coverage scan
  * (a token enters while the mass BEFORE it is still under the threshold;
  * GatherEncoder.computeTopKeys, reference
  * `sparkext-mllib/src/main/scala/org/apache/spark/ml/feature/GatherEncoder.scala:183-186`
  * — same arithmetic, applied to text tokens instead of gather keys).
  *
  * Beyond-reference operator (LLM-pipeline extension): tokenizer vocabulary
  * induction / frequency-cutoff selection over a web-scale corpus.
  *
  * Scale design — NO global ordered window and NO driver-side vocabulary
  * (the classic implementations of "sort by count, running sum, cut" both
  * die at 100 TB). Instead the cumulative ordering is decomposed by
  * frequency value:
  *
  *  1. distributed wordcount → (term, c);
  *  2. histogram over DISTINCT COUNT VALUES → per-frequency mass, collected
  *     (n distinct counts need ≥ n(n+1)/2 tokens: at most √(2·tokens) rows);
  *  3. on the driver, each group's strictly-more-frequent exclusive mass
  *     and the threshold, in exact long arithmetic (an overflow fails);
  *  4. groups entirely under the threshold admit ALL their terms with an
  *     IN filter on their counts — no ordering ever computed inside them
  *     (this is what keeps the giant count=1 tail off a single task);
  *  5. only the single boundary frequency group ranks its terms — and that
  *     rank is itself sharded over term-prefix buckets
  *     ([[graft.sql.GroupedNtile.rank]]), because the boundary is usually
  *     the count=1 tail, i.e. most of the vocabulary.
  */
class VocabBuilder(
    cover: Double = 0.95,
    textCol: String = "text") {

  require(cover > 0.0 && cover <= 1.0, s"cover ($cover) must be in (0, 1]")

  /** (term, c): the selected vocabulary with corpus frequencies. */
  def vocab(docs: Dataset[_]): DataFrame = {
    // explode_outer: keeps the tokenizer regexp chain out of scan filters
    // (InferFiltersFromGenerate skips outer generates). Not spread: at
    // sf0.1 a spread took q85 from 0.44 to 0.91 core-s of tasks for ~60 ms
    // less wall (curation trace, 4 cores).
    val terms = docs
      .select(explode_outer(TextNormalizer.tokens(col(textCol))).as("term"))
      .where(col("term").isNotNull)
    // materialize the wordcount once: the histogram and both term branches
    // read it, and Spark re-executes a shared subtree per reference —
    // without this the corpus is re-tokenized per consumer (measured 28s ->
    // 4s at 100k docs). State is vocab-sized (the same bounded-frame
    // discipline as DedupClusters' label propagation).
    val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()

    // per-frequency histogram: mass = c * n_terms token occurrences
    val hist = counts.groupBy(col("c"))
      .agg(sum(col("c")).as("mass"), count(lit(1)).as("n_terms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (full, boundary) = VocabBuilder.cutoff(hist, cover)

    val fullTerms = counts.where(col("c").isin(full: _*)).select(col("term"), col("c"))
    // boundary group: alphabetic rank within the frequency tie decides the
    // admitted prefix. In Zipfian corpora the boundary is typically the
    // count=1 tail — most of the vocabulary — so a window partitioned by
    // the single boundary count would serialize it through one task. The
    // rank is instead two-phase (GroupedNtile.rank) over 2-char term-prefix
    // buckets: prefix order is consistent with term order ([a-z0-9] terms;
    // a term shorter than its bucket width is its own prefix), so per-
    // (c, prefix) windows + offset join reproduce the global alphabetic rank
    boundary.fold(fullTerms) { case (c, cumAbove, thresh) =>
      fullTerms.unionByName(graft.sql.GroupedNtile.rank(
        counts.where(col("c") === c), "c", Seq(col("term")), substring(col("term"), 1, 2), "rnk")
        .where(lit(cumAbove) + (col("rnk") - 1) * col("c") < lit(thresh))
        .select(col("term"), col("c")))
    }
  }
}

object VocabBuilder {
  /** The cut over a (c, mass, n_terms) histogram: the counts admitted
    * whole (their LAST term's exclusive mass is under the threshold), and
    * the group the threshold falls inside, as (c, cum_above, thresh).
    */
  private[text] def cutoff(hist: Seq[(Long, Long, Long)], cover: Double)
      : (Seq[Long], Option[(Long, Long, Double)]) = {
    val groups = hist.sortBy(-_._1)
    // exclusive mass above each group, in c-desc order; the last is the total
    val above = groups.scanLeft(0L)((acc, g) => Math.addExact(acc, g._2))
    val thresh = above.last.toDouble * cover
    val cut = groups.zip(above).map { case ((c, _, n), cum) =>
      (c, cum, Math.addExact(cum, Math.multiplyExact(n - 1, c)) < thresh) }
    (cut.collect { case (c, _, true) => c },
      cut.collectFirst { case (c, cum, false) if cum < thresh => (c, cum, thresh) })
  }
}
