package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.{MinHashDeduplicator, TextNormalizer}

/** Streaming near-duplicate detection: the batch MinHash + banded-LSH
  * pipeline ([[graft.dedup.MinHashDeduplicator]]) re-expressed over a
  * watermarked stream — emits verified near-dup pairs among documents
  * whose event times fall within one watermark delay of each other.
  *
  * Shape: banding is ROW-LOCAL (normalize → native `Shingles` →
  * `MinHashSignature` kernels → band keys — the batch operator's
  * `MinHashDeduplicator.signature` and `bandKeys`, so batch backfill and
  * streaming ingest bucket identically); candidates come from a
  * watermarked stream-stream self-join on `(band, key)` with a time-range
  * bound; verification is exact shingle-set Jaccard computed row-locally
  * on the joined pair — no state beyond the join's own.
  *
  * Scale: join state holds only rows within the watermark window, keyed
  * by band slices of uniformly-distributed minima — state is bounded by
  * ingest-rate × delay, never by corpus size, and only band-colliding
  * rows ever pair (the LSH contract). Multi-band collisions are collapsed
  * by `dropDuplicatesWithinWatermark` on the pair key.
  */
object StreamingNearDup {

  /** Distinct shingle set of normalized text — the batch verifier's
    * identity, exposed for parity tests. r17: sortedDistinct (same element
    * set as array_distinct, sorted once per document) so the per-pair
    * verify merge-counts instead of building a hash set per pair.
    */
  def shingleSet(text: Column, k: Int): Column =
    graft.sql.functions.sortedDistinct(org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.Shingles(
        org.apache.spark.sql.GraftBridge.expression(TextNormalizer.normalize(text)), k)))

  /** (id, ts, sh, band, key): row-local banding, the same keys as
    * `MinHashDeduplicator.bandKeys`. The verify's distinct shingle
    * set `sh` is computed HERE — once per document, before the band
    * explode — and carried through the join instead of the raw normalized
    * text: computing it post-join re-ran the normalize+shingle kernel
    * chain PER CANDIDATE ROW (× band multiplicity × the non-codegen
    * path's repeated expression evaluation — the r15 bench caught q183 at
    * 132 s where q20's join-back design costs 2 s on the same corpus).
    * The carried array costs payload (bounded by the watermark window's
    * rows), not kernel time.
    */
  private def banded(df: DataFrame, idCol: String, textCol: String, tsCol: String,
      k: Int, numHashes: Int, numBands: Int): DataFrame = {
    // spread to full parallelism BEFORE the kernel chain — BATCH ROUTE
    // ONLY: a single-file batch input otherwise runs every
    // normalize/minhash/shingle kernel on ONE core (measured: q183's
    // whole cost was this one serial stage). A streaming frame must not
    // go through spread (its inputFiles probe batch-analyzes the plan and
    // throws); micro-batch parallelism is the source's concern there.
    val selected = df.select(col(idCol).as("id"), col(tsCol).as("ts"),
      TextNormalizer.normalize(col(textCol)).as("norm"))
    (if (df.isStreaming) selected
     else graft.sql.functions.spread(selected, col("id")))
      .withColumn("mh", MinHashDeduplicator.signature(
        org.apache.spark.sql.GraftBridge.column(graft.sql.expressions.Shingles(
          org.apache.spark.sql.GraftBridge.expression(col("norm")), k)),
        numHashes))
      .withColumn("sh", shingleSet(col("norm"), k))
      // outer explode: InferFiltersFromGenerate must not clone the kernel
      // chain into a filter (the batch pipeline's documented trap)
      .select(col("id"), col("ts"), col("sh"),
        explode_outer(MinHashDeduplicator.bandKeys(col("mh"), numHashes, numBands)).as("bk"))
      .select(col("id"), col("ts"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Verified near-dup pairs `(id_a, id_b, ts_a, jaccard)` among stream
    * rows within `delay` of each other (e.g. `"30 minutes"`).
    *
    * On a BATCH frame the same plan runs as the backfill route (the q177
    * pattern, oracle-gated by q183): the watermark is eliminated, the
    * stream-stream join degenerates to a plain self-join with the same
    * band-equality + time-range condition, and the pair dedup is a plain
    * `dropDuplicates` (`dropDuplicatesWithinWatermark` itself refuses
    * batch frames). `ts_a` is NOT deterministic across the pair's two join
    * orientations (the survivor of the dedup is arbitrary) — deterministic
    * consumers project (id_a, id_b, jaccard), which is orientation-
    * invariant.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String, tsCol: String,
      delay: String, k: Int = 8, numHashes: Int = 12, numBands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val bands = banded(df, idCol, textCol, tsCol, k, numHashes, numBands)
    val a = bands.toDF("id_a", "ts_a", "sh_a", "band_a", "sig_a")
      .withWatermark("ts_a", delay)
    val b = bands.toDF("id_b", "ts_b", "sh_b", "band_b", "sig_b")
      .withWatermark("ts_b", delay)
    val inter = graft.sql.functions.sortedIntersectCount(col("sh_a"), col("sh_b"))
    // pair ordering via least/greatest + dedup, NOT an `id_a < id_b` join
    // predicate: StreamingJoinHelper tries to extract a state-watermark
    // constraint from every </<= conjunct of a stream-stream join
    // condition and hits an internal error on non-temporal attributes;
    // `=!=` takes a code path it skips.
    //
    // Dedup runs BEFORE the verify, deliberately: a true pair collides in
    // up to numBands bands, and a verify placed first gets pushed into
    // the join condition and re-evaluated per COLLISION (the r15 bench
    // finding) — per pair key only one arbitrary collision row survives
    // to the exact-Jaccard check, whose value is identical on every
    // orientation/collision of the same pair, so the pair set is
    // unchanged.
    val candidates = a.join(b,
        col("band_a") === col("band_b") && col("sig_a") === col("sig_b") &&
          col("id_a") =!= col("id_b") &&
          col("ts_b").between(
            col("ts_a") - expr(s"INTERVAL $delay"),
            col("ts_a") + expr(s"INTERVAL $delay")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("ts_a"), col("sh_a"), col("sh_b"))
    val deduped =
      if (df.isStreaming) candidates.dropDuplicatesWithinWatermark("id_a", "id_b")
      else candidates.dropDuplicates("id_a", "id_b")
    deduped
      .withColumn("jaccard",
        inter / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("ts_a"), col("jaccard"))
  }
}
