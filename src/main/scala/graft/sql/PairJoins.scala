package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate-pair self-join shared by the whole LSH family
  * (MinHash band slices, SimHash 16-bit chunks, random-hyperplane band
  * strings): pin the per-document frame, explode its band keys, equi-join
  * the (band, key) rows and keep the `id_a < id_b` triangle. One
  * definition of the idiom, so a fix (null-key handling, payload
  * threading, the pin) lands once for every signature family.
  *
  * Scale shape: candidates come ONLY from the keyed equi-join — never an
  * all-pairs product — and the `<` triangle halves the output without a
  * second pass.
  */
object PairJoins {

  /** `numBands` band keys as one `array<struct<band, key>>` column, band
    * `b`'s key being `key(b)`. Built from literals, so it stays in codegen
    * (a `transform(sequence(...))` lambda would run interpreted).
    */
  def bandKeys(numBands: Int)(key: Int => Column): Column =
    array((0 until numBands).map(b => struct(lit(b).as("band"), key(b).as("key"))): _*)

  /** (id_a, id_b[, <p>_a, <p>_b ...]) for every pair of distinct documents
    * of `docs` sharing at least one band key (id_a < id_b). `docs` holds
    * one row per document: the id, the signature-derived columns that
    * `keys` (an `array<struct<band, key>>`, see [[bandKeys]]) reads, and
    * the `payload` columns, which come through with `_a`/`_b` suffixes.
    *
    * NOT distinct-ed: a pair sharing several bands appears once per shared
    * band — callers dedup after any per-pair math (or directly, when no
    * payload is carried).
    *
    * Runs the jobs of an eager `localCheckpoint` of `docs` when called.
    */
  def bandedSelfPairs(
      docs: DataFrame,
      idCol: String,
      keys: Column,
      payload: Seq[String] = Nil): DataFrame = {
    // Invariant: both join sides read each signature once, from the pin.
    // Unpinned, the join's inferred `isnotnull(key)` is pushed through
    // Generate, Project and a spread repartition into the scan stage, which
    // signs every row on one task, and each side signs it again. The join
    // stays unkeyed so that the planner broadcasts one side: repartitioning
    // both sides by band key measured 2-3x more task time.
    val bands = docs.localCheckpoint()
      .select(col(idCol) +: explode(keys).as("bk") +: payload.map(col): _*)
    def side(s: String): DataFrame = bands.select(col(idCol).as(s"id_$s") +:
      col("bk.band").as("band") +: col("bk.key").as("key") +:
      payload.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a") +: col("id_b") +:
        payload.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }
}
