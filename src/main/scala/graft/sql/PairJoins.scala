package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucketed candidate-pair self-join shared by the whole LSH family
  * (MinHash band signatures, SimHash 16-bit chunks, random-hyperplane
  * band buckets): rename the id to `id_a`/`id_b`, equi-join the bucket
  * keys, keep the `id_a < id_b` triangle. One definition of the idiom so
  * a fix (null-key handling, payload threading, key order) lands once —
  * this was previously maintained as three near-verbatim copies.
  *
  * Scale shape: candidates come ONLY from the keyed equi-join — never an
  * all-pairs product; the shuffle is on the bucket keys, and the `<`
  * triangle halves the output without a second pass.
  */
object PairJoins {

  /** (id_a, id_b[, <p>_a, <p>_b ...]) for every pair of distinct rows of
    * `buckets` sharing values of ALL `keyCols` (id_a < id_b). `payload`
    * columns are carried through from each side with `_a`/`_b` suffixes.
    * NOT distinct-ed: a pair sharing several buckets appears once per
    * shared bucket — callers dedup after any per-pair math (or directly,
    * when no payload is carried).
    */
  def bucketedSelfPairs(
      buckets: DataFrame,
      idCol: String,
      keyCols: Seq[String],
      payload: Seq[String] = Nil): DataFrame = {
    // NOTE (r16): a keyed variant (repartition both sides by keyCols so
    // ReuseExchange shares the bucket derivation, as SetSimilarityJoin's
    // symmetric self-join does) was A/B-ed and measured 2-3x MORE task
    // CPU across all three LSH callers (q22 30->94 s, q36 63->126 s) —
    // these bucket frames are cheap to recompute and the forced
    // shuffle+sort-merge costs more than the duplicate derivation saves.
    // Kept unkeyed: the planner broadcasts one side. The q36 figure
    // predates SimHasher's xor + popcount verify. A caller whose bucket
    // derivation dominates pins it before calling (SimHasher
    // localCheckpoints its signatures), so both sides read it once.
    val a = buckets.select(col(idCol).as("id_a") +: keyCols.map(col) ++:
      payload.map(c => col(c).as(s"${c}_a")): _*)
    val b = buckets.select(col(idCol).as("id_b") +: keyCols.map(col) ++:
      payload.map(c => col(c).as(s"${c}_b")): _*)
    a.join(b, keyCols)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +:
        payload.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }
}
