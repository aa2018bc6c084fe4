package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupClusters
import graft.similarity.{CosineTopK, EmbeddingNormalizer, EmbeddingQuantizer, IvfCosineIndex, IvfIndex, KMeans, ProductQuantizer, RandomHyperplaneLSH, RandomProjection}

/** Similarity-search queries over the embeddings table.
  *
  * q21: exact brute-force top-k (broadcast query set) — the baseline.
  * q22: LSH-bucketed near-duplicate pairs — the scale path. The corpus has
  * no natural near-dups (max pairwise cosine ≈ 0.51), so q22 seeds
  * deterministic perturbed copies (vec_id + 100000) that the oracle
  * replays identically.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Register a JVM shutdown hook deleting `root` recursively — once per
    * distinct path (q164's per-pid artifact tree is path-constant within a
    * process, so reruns don't stack hooks).
    */
  private val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[queries] def cleanupOnExit(root: String): Unit =
    if (cleanupRegistered.add(root)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(root))
      }))
    }

  private def vectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))

  /** Original vectors plus small deterministic perturbations of every
    * vec_id % 10 == 0 row: component d += 0.02*(((id + d*7919) % 97)/97 - ½).
    */
  private def seeded(s: SparkSession, dir: String): DataFrame =
    // one-scan seeding: base row + (for vec_id % 10 == 0) its perturbed
    // copy from a single explode, instead of a union of two parquet scans
    vectors(s, dir)
      .select(explode_outer(expr(
        """concat(
          |  array(named_struct('vec_id', vec_id,
          |    'embedding', CAST(embedding AS ARRAY<DOUBLE>))),
          |  CASE WHEN vec_id % 10 = 0
          |    THEN array(named_struct('vec_id', vec_id + 100000,
          |      'embedding', zip_with(CAST(embedding AS ARRAY<DOUBLE>),
          |        sequence(0, size(embedding) - 1),
          |        (x, d) -> x + 0.02 * ((((vec_id + d * 7919) % 97) / 97.0) - 0.5))))
          |    ELSE array() END)""".stripMargin)).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))

  val queries: Map[String, Q] = Map(
    // exact top-5 cosine neighbors for 5 probe vectors: broadcast nested
    // loop (big side streamed once), per-query window rank.
    "q21_ann_topk" -> ((s, dir) => {
      val e = vectors(s, dir)
      new CosineTopK(5).search(e.where(col("vec_id") < 5), e)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // embedding near-dup pairs: 64 hyperplane bits in 4 bands × 16 rows
    // (~1/65k random-pair collision per band → candidate count stays near
    // the true-pair count), verified cosine >= 0.9.
    "q22_ann_lsh" -> ((s, dir) => {
      new RandomHyperplaneLSH(numPlanes = 64, numBands = 4)
        .nearDupPairs(seeded(s, dir), threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // IVF top-k: 16-cell coarse quantizer (lowest-id seeds + one Lloyd
    // step), probe the 4 nearest cells per query — partition-pruned ANN.
    // Explicit build/search split: the index is built once (centroids
    // held as a local frame) and the query batch probes it without
    // rescanning the corpus for centroid learning.
    "q35_ann_ivf" -> ((s, dir) => {
      val e = vectors(s, dir)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      ivf.search(e.where(col("vec_id") < 5), ivf.build(e), k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // retrieval-quality evaluation of the IVF index against brute force:
    // recall@5 / MRR@5 / nDCG@5 per query, run = q35's 4-of-16-probe IVF
    // search, truth = exact cosine top-5 — the "what recall does the
    // index actually deliver" readout as one declarative plan. Discount
    // weights are Scala-computed literals consumed by BOTH engines (no
    // per-engine log2 — the q191 lesson).
    "q201_ann_recall" -> ((s, dir) => {
      val e = vectors(s, dir)
      val qs = e.where(col("vec_id") < 5)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      val run = ivf.search(qs, ivf.build(e), k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"))
      val truth = new CosineTopK(5).search(qs, e)
        .select(col("query_id"), col("vec_id"))
      graft.evaluation.RankingMetrics.evaluate(run, truth, k = 5)
    }),

    // embedding-cosine near-dup DEDUP: the q22 LSH pair pipeline collapsed
    // into clusters (connected components, cluster id = smallest member) —
    // "keep one per cluster" embedding dedup for a training corpus.
    "q42_embed_dedup" -> ((s, dir) => {
      val vecs = seeded(s, dir)
      val pairs = new RandomHyperplaneLSH(numPlanes = 64, numBands = 4)
        .nearDupPairs(vecs, threshold = 0.9)
      DedupClusters.components(vecs, pairs, "vec_id")
    }),

    // storage-path embedding op: L2-normalize + symmetric int8 quantize;
    // emitted as a comma-joined string (the driver compare can't sort raw
    // ARRAY columns)
    "q46_embed_quantize" -> ((s, dir) => {
      new EmbeddingQuantizer().setInputCol("embedding")
        .transform(vectors(s, dir))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", transform(col("q"), x => x.cast("string"))).as("q_str"))
    }),

    // embedding preprocessing: corpus mean-centering + L2 normalization
    // (one mean-vector row broadcast back; corpus scanned, never
    // shuffled). Long-format output so the oracle compares raw doubles —
    // no float-to-string or nested-list representation hazards
    "q84_embed_center" -> ((s, dir) => {
      val e = vectors(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      new EmbeddingNormalizer("embedding").transform(e)
        .select(col("vec_id"), posexplode(col("embedding_norm")).as(Seq("dim", "val")))
        .select(col("vec_id"), col("dim"), round(col("val"), 6).as("val"))
    }),

    // JL signed random projection 64 → 16 dims: a deterministic ±1 matrix
    // from the md5 coin (data-independent, re-derived identically by the
    // oracle), applied as a pure row-local map — embedding compression in
    // front of ANN with no fit, no shuffle, nothing persisted. √16 is
    // exact in binary so the scale division carries no float wobble beyond
    // the sum itself (same rounding discipline as q84)
    "q106_random_projection" -> ((s, dir) => {
      val rp = new RandomProjection(inDim = 64, outDim = 16)
      vectors(s, dir)
        .select(col("vec_id"), rp.project(col("embedding")).as("y"))
        .select(col("vec_id"), posexplode(col("y")).as(Seq("dim", "val")))
        .select(col("vec_id"), col("dim"), round(col("val"), 6).as("val"))
    }),

    // embedding-space decontamination: the seeded perturbed copies play
    // the EVAL set, originals the training corpus; cross-corpus LSH join
    // surfaces each eval vector's contamination source at cosine >= 0.9
    // (the paraphrase case lexical n-gram contamination checks miss)
    "q118_embed_contamination" -> ((s, dir) => {
      val all = seeded(s, dir)
      new RandomHyperplaneLSH(numPlanes = 64, numBands = 4)
        .crossPairs(all.where(col("vec_id") >= 100000),
          all.where(col("vec_id") < 100000), threshold = 0.9)
        .select(col("id_l").as("eval_id"), col("id_r").as("train_id"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // product quantization: 8 subspaces × 16 codes over the 64-dim
    // corpus — fit (per-subspace lowest-id seeds + one Lloyd step under
    // squared-L2) then encode; long (vec_id, sub, code) output
    "q115_pq_encode" -> ((s, dir) => {
      val e = vectors(s, dir)
      val pq = new ProductQuantizer(numSubspaces = 8, codebookSize = 16, dim = 64)
      pq.encode(e, pq.fit(e))
    }),

    // IVF-PQ: the production ANN layout — IVF probes prune WHICH vectors
    // to score (4 of 16 cells), PQ codes shrink WHAT is scored (ADC table
    // lookups, raw vectors never touched after indexing)
    "q116_ivfpq_search" -> ((s, dir) => {
      val e = vectors(s, dir)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      val idx = ivf.build(e)
      val pq = new ProductQuantizer(numSubspaces = 8, codebookSize = 16, dim = 64)
      // the codebook is a local frame of m×k rows: encode reads it as
      // literals, the ADC tables broadcast it
      val cb = pq.fit(e)
      val codes = pq.encode(e, cb)
      val queries = e.where(col("vec_id") < 5)
      val cands = ivf.probes(queries, idx)
        .join(idx.lists.select(col("vec_id"), col("cid")), "cid")
        .select(col("query_id"), col("vec_id"))
      pq.adcSearchIn(queries, cands, codes, cb, k = 5)
        .select(col("query_id"), col("vec_id"), col("adc"), col("rank"))
    }),

    // IVF-PQ served ENTIRELY from persisted artifacts: train + save the
    // inverted-file index and the PQ codebook, then reopen both and run
    // the same probe/ADC composition as q116 touching only the loaded
    // frames — the production split (offline train, online serve) as an
    // oracle-gated contract: parquet round-trips doubles bit-exactly, so
    // the loaded-path search must hash-match q116's direct-path replay
    "q164_ivfpq_artifact_search" -> ((s, dir) => {
      val e = vectors(s, dir)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      // per-process path: concurrent q164 runs (a bench overlapping a test
      // JVM, paired sensitivity benches) must not clobber each other's
      // artifacts mid-scan; within one process, overwrite keeps reruns
      // idempotent
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_q164_artifacts_${ProcessHandle.current().pid()}"
      // every bench/test JVM would otherwise leave its per-pid artifact
      // tree behind indefinitely on long-lived hosts — sweep it when the
      // JVM exits (registered once per process; the path is pid-constant)
      SimilarityQueries.cleanupOnExit(root)
      // offline half: fit and persist (overwrite keeps reruns idempotent)
      ivf.build(e).save(s"$root/ivf")
      ProductQuantizer.saveCodebook(
        new ProductQuantizer(numSubspaces = 8, codebookSize = 16, dim = 64).fit(e),
        s"$root/pq")
      // online half: every frame below derives from the loaded artifacts
      // (+ the corpus scan for codes/queries — encode is serving-side work)
      val idx = IvfIndex.load(s, s"$root/ivf")
      val cb = ProductQuantizer.loadCodebook(s, s"$root/pq")
      val pq = ProductQuantizer.forCodebook(cb)
      val codes = pq.encode(e, cb)
      val queries = e.where(col("vec_id") < 5)
      val cands = ivf.probes(queries, idx)
        .join(idx.lists.select(col("vec_id"), col("cid")), "cid")
        .select(col("query_id"), col("vec_id"))
      pq.adcSearchIn(queries, cands, codes, cb, k = 5)
        .select(col("query_id"), col("vec_id"), col("adc"), col("rank"))
    }),

    // maintained-IVF layout end-to-end (r14 ask #5): bootstrap on the
    // first 200 vectors, append the rest as six modulo micro-batches
    // through appendBatch — the exact foreachBatch path minus the engine's
    // trigger loop — with maxFilesPerCell=4 so in-place compaction FIRES
    // TWICE (era count crosses the watermark at batches 4 and 6: pointer
    // cutover, generation sweep, the works), then reopen with load() and
    // serve q21-style probes from the compacted layout. The oracle replays
    // bootstrap-only training (16 lowest-id seeds of vec_id < 200 + one
    // Lloyd step), assigns the FULL corpus against those frozen centroids,
    // and runs the probe/top-5 composition — a row duplicated or dropped
    // anywhere in the append/compaction/pointer machinery is a hash
    // mismatch, not just a spec failure.
    "q184_ivf_maintained_search" -> ((s, dir) => {
      val e = vectors(s, dir)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_q184_maintained_${ProcessHandle.current().pid()}"
      SimilarityQueries.cleanupOnExit(root)
      // fresh layout per run: the maintainer's fresh-checkpoint guard (by
      // design) refuses batch ids at or below the highest era a previous
      // in-process run left behind, and a rerun must re-exercise the full
      // bootstrap → append → compact lattice, not serve stale files
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(rootPath)) fs.delete(rootPath, true)
      val maintainer = new graft.streaming.IvfStreamMaintainer(
        ivf, root, maxFilesPerCell = 4)
      maintainer.bootstrap(e.where(col("vec_id") < 200))
      (1 to 6).foreach { i =>
        maintainer.appendBatch(
          e.where(col("vec_id") >= 200 && col("vec_id") % 6 === (i - 1)),
          batchId = i.toLong)
      }
      ivf.search(e.where(col("vec_id") < 5), maintainer.load(s), k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // OPQ application served from a COMMITTED trained artifact (the
    // carried round-9 ask): the rotation (SVD-trained — not SQL-
    // expressible) + the codebook trained in the rotated space live as a
    // fixture under src/test/resources/golden/q167_opq (regenerated via
    // MakeGoldens). The query loads both, rotates corpus + queries with
    // the broadcast-literal matvec, encodes against the loaded codebook,
    // and runs full ADC top-5. The oracle read_parquet's the SAME fixture
    // and independently replays rotate → encode → ADC — a real derivation
    // (only the offline training is frozen), exactly q164's offline/online
    // split with OPQ in the loop.
    "q167_opq_adc_search" -> ((s, dir) => {
      val e = vectors(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val model = graft.similarity.OpqRotation.load(s, Goldens.path("q167_opq"))
      val opq = new graft.similarity.OpqRotation(
        numSubspaces = 8, codebookSize = 16, dim = 64)
      // codebook is m×k rows consumed by encode AND the ADC tables —
      // read from the fixture once
      val cb = model.codebook.localCheckpoint()
      val rotated = opq.rotate(e, model.rotation)
      val pq = graft.similarity.ProductQuantizer.forCodebook(cb)
      val codes = pq.encode(rotated, cb)
      val queries = rotated.where(col("vec_id") < 5)
      pq.adcSearch(queries, codes, cb, k = 5)
        .select(col("query_id"), col("vec_id"), col("adc"), col("rank"))
    }),

    // incremental IVF append: index built on the first 400 vectors only,
    // the rest arrive as a new batch and get ONE row-local
    // assignment pass — no re-training, no corpus rescan
    "q114_ivf_append" -> ((s, dir) => {
      val e = vectors(s, dir)
      val ivf = new IvfCosineIndex(numCentroids = 16, nprobe = 4, dim = Some(64))
      val idx = ivf.build(e.where(col("vec_id") < 400))
      ivf.assignNew(idx, e.where(col("vec_id") >= 400))
    }),

    // SemDeDup semantic dedup: 16-cell quantizer (q35's), duplicates
    // pruned within cells only, keep = farthest-from-centroid pair member.
    // Runs on the seeded corpus (the perturbed copies are the planted
    // semantic dups the LSH queries also use).
    // fixed-iteration distributed k-means: 8 clusters, 2 Lloyd
    // refinements beyond the seeds — the multi-step production knob the
    // 1-step IVF/PQ quantizers document. The per-cluster (size, inertia)
    // summary pins every assignment and every refined centroid: one
    // flipped membership or drifted mean changes the hash.
    "q119_kmeans" -> ((s, dir) => {
      val e = vectors(s, dir)
      val km = new KMeans(k = 8, iters = 2, dim = 64)
      km.summary(e, km.fit(e))
        .select(col("cid"), col("size"), round(col("inertia"), 6).as("inertia"))
    }),

    // hard-negative mining for contrastive/embedding training: per query,
    // the top-5 MOST similar corpus vectors with a DIFFERENT label — the
    // negatives that actually teach the margin. q21's broadcast-query scan
    // shape with the label-mismatch predicate pushed below the rank.
    "q124_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("label").as("qlabel"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .where(col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"),
          graft.sql.functions.cosineSimilarity(col("qv"), col("v")).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // k-center (farthest-point) seeded k-means: the deterministic init
    // that cures Lloyd's degenerate-seed local optima (KMeansIvfSpec).
    // k=4 seeds chosen by 3 unrolled argmax-of-min-distance passes, one
    // Lloyd refinement, per-cluster summary — every seed choice, every
    // assignment, and every refined mean is pinned by the hash.
    "q125_kmeans_farthest" -> ((s, dir) => {
      val e = vectors(s, dir)
      val km = new KMeans(k = 4, iters = 1, dim = 64)
      km.summary(e, km.fitFarthest(e))
        .select(col("cid"), col("size"), round(col("inertia"), 6).as("inertia"))
    }),

    "q108_semantic_dedup" -> ((s, dir) => {
      new graft.dedup.SemanticDeduplicator(numCells = 16, threshold = 0.9,
        dim = Some(64))
        .verdicts(seeded(s, dir))
        .select(col("vec_id"), col("cid"), col("cent_cos"), col("keep"))
    })
  )

  val oracles: Map[String, String] = Map(
    // unrolled 2-iteration Lloyd replay: seeds (dense rank of the 8
    // lowest ids) → assign/mean/coalesce twice → final assignment summed
    // per cluster. Distances are the same index-order left-fold as the
    // squared_l2 kernel, so assignments match bit-for-bit; the COALESCE
    // replays the empty-cluster guard.
    "q119_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |ids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8),
        |ranked AS (
        |  SELECT x.vec_id, CAST(count(y.vec_id) AS BIGINT) AS cid
        |  FROM ids x LEFT JOIN ids y ON y.vec_id < x.vec_id GROUP BY 1
        |), c0 AS (
        |  SELECT ranked.cid, e.v AS cv FROM e JOIN ranked USING (vec_id)
        |), d0 AS (
        |  SELECT e.vec_id, c0.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN c0
        |), a0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d0) WHERE rn = 1
        |), m1 AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |    SELECT a0.cid, CAST(i AS INT) - 1 AS pos, avg(e.v[CAST(i AS INT)]) AS m
        |    FROM e JOIN a0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), c1 AS (
        |  SELECT c0.cid, COALESCE(m1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN m1 USING (cid)
        |), d1 AS (
        |  SELECT e.vec_id, c1.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN c1
        |), a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d1) WHERE rn = 1
        |), m2 AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |    SELECT a1.cid, CAST(i AS INT) - 1 AS pos, avg(e.v[CAST(i AS INT)]) AS m
        |    FROM e JOIN a1 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), c2 AS (
        |  SELECT c1.cid, COALESCE(m2.cv, c1.cv) AS cv
        |  FROM c1 LEFT JOIN m2 USING (cid)
        |), dft AS (
        |  SELECT e.vec_id, c2.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN c2
        |), aft AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dft) WHERE rn = 1
        |)
        |SELECT cid, count(*) AS size, round(sum(d2), 6) AS inertia
        |FROM aft GROUP BY 1
        |UNION ALL -- guard: loud mismatch unless every vector is exactly 64-dim
        |SELECT -1, -1, -1 WHERE (SELECT max(len(v)) FROM e) != 64
        |   OR (SELECT min(len(v)) FROM e) != 64""".stripMargin,

    "q124_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, label AS ql FROM e WHERE vec_id < 5),
        |sims AS (
        |  SELECT qid, vec_id, list_cosine_similarity(qv, v) AS cos
        |  FROM q JOIN e ON e.label != q.ql
        |), ranked AS (
        |  SELECT qid AS query_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |  FROM sims
        |)
        |SELECT query_id, vec_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5""".stripMargin,

    // unrolled k-center replay: 3 argmax-of-min-distance seed picks
    // (ties to the lowest id), one Lloyd step with the empty-cluster
    // COALESCE guard, per-cluster sums — the q119 idiom with the
    // farthest-point init in place of lowest-id seeds
    "q125_kmeans_farthest" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s0 AS (
        |  SELECT CAST(0 AS BIGINT) AS cid, v AS cv FROM e
        |  ORDER BY vec_id LIMIT 1
        |), md1 AS (
        |  SELECT e.vec_id, min(list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - s0.cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - s0.cv[CAST(i AS INT)])),
        |      (a, b) -> a + b)) AS md
        |  FROM e CROSS JOIN s0 GROUP BY 1
        |), s1 AS (
        |  SELECT * FROM s0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) AS cid, e.v AS cv
        |  FROM (SELECT vec_id FROM md1 ORDER BY md DESC, vec_id LIMIT 1) w
        |  JOIN e USING (vec_id)
        |), md2 AS (
        |  SELECT e.vec_id, min(list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - s.cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - s.cv[CAST(i AS INT)])),
        |      (a, b) -> a + b)) AS md
        |  FROM e CROSS JOIN s1 s GROUP BY 1
        |), s2 AS (
        |  SELECT * FROM s1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT) AS cid, e.v AS cv
        |  FROM (SELECT vec_id FROM md2 ORDER BY md DESC, vec_id LIMIT 1) w
        |  JOIN e USING (vec_id)
        |), md3 AS (
        |  SELECT e.vec_id, min(list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - s.cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - s.cv[CAST(i AS INT)])),
        |      (a, b) -> a + b)) AS md
        |  FROM e CROSS JOIN s2 s GROUP BY 1
        |), s3 AS (
        |  SELECT * FROM s2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT) AS cid, e.v AS cv
        |  FROM (SELECT vec_id FROM md3 ORDER BY md DESC, vec_id LIMIT 1) w
        |  JOIN e USING (vec_id)
        |), d0 AS (
        |  SELECT e.vec_id, s3.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN s3
        |), a0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM d0) WHERE rn = 1
        |), mm AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
        |    SELECT a0.cid, CAST(i AS INT) - 1 AS pos, avg(e.v[CAST(i AS INT)]) AS m
        |    FROM e JOIN a0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), c1 AS (
        |  SELECT s3.cid, COALESCE(mm.cv, s3.cv) AS cv
        |  FROM s3 LEFT JOIN mm USING (cid)
        |), dft AS (
        |  SELECT e.vec_id, c1.cid,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (e.v[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM e CROSS JOIN c1
        |), aft AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT vec_id, cid, d2,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM dft) WHERE rn = 1
        |)
        |SELECT cid, count(*) AS size, round(sum(d2), 6) AS inertia
        |FROM aft GROUP BY 1
        |UNION ALL -- guard: loud mismatch unless every vector is exactly 64-dim
        |SELECT -1, -1, -1 WHERE (SELECT max(len(v)) FROM e) != 64
        |   OR (SELECT min(len(v)) FROM e) != 64""".stripMargin,

    "q21_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |sims AS (
        |  SELECT qid, vec_id, list_cosine_similarity(qv, v) AS cos
        |  FROM q JOIN e ON vec_id != qid
        |), ranked AS (
        |  SELECT qid AS query_id, vec_id, cos,
        |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
        |  FROM sims
        |)
        |SELECT query_id, vec_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5""".stripMargin,
    "q22_ann_lsh" ->
      ("WITH " + lshPairsSql + """
        |SELECT id_a, id_b, round(cosine, 6) AS cosine FROM out WHERE cosine >= 0.9
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin),
    "q42_embed_dedup" ->
      ("WITH RECURSIVE " + lshPairsSql + """,
        |pairs AS (SELECT id_a, id_b FROM out WHERE cosine >= 0.9),
        |ed AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM allv
        |  UNION
        |  SELECT g.dst, reach.r FROM reach JOIN ed g ON g.src = reach.id
        |)
        |SELECT id AS vec_id, min(r) AS cluster FROM reach GROUP BY id
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin),
    "q35_ann_ivf" -> q35Sql,
    "q201_ann_recall" -> q201Sql,
    "q46_embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
        |), u AS (
        |  SELECT vec_id, list_transform(v, x -> x / nrm) AS uv FROM n
        |), s AS (
        |  SELECT vec_id, 127.0 / list_max(list_transform(uv, x -> abs(x))) AS scale, uv
        |  FROM u
        |)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(
        |    list_transform(uv, x -> CAST(CAST(round(x * scale) AS INT) AS VARCHAR)),
        |    ',') AS q_str
        |FROM s""".stripMargin,
    "q84_embed_center" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (
        |  SELECT vec_id, i, v[i] AS x
        |  FROM e CROSS JOIN LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) t
        |), mu AS (
        |  SELECT i, avg(x) AS mu FROM d GROUP BY 1
        |), c AS (
        |  SELECT vec_id, i, x - mu AS cx FROM d JOIN mu USING (i)
        |), n AS (
        |  SELECT vec_id, sqrt(sum(cx * cx)) AS nrm FROM c GROUP BY 1
        |)
        |SELECT vec_id, CAST(i - 1 AS INT) AS dim,
        |  round(CASE WHEN nrm = 0 THEN cx ELSE cx / nrm END, 6) AS val
        |FROM c JOIN n USING (vec_id)""".stripMargin,

    // re-derives the ±1 matrix from the same md5 coin (first 8 hex chars
    // of md5('rp:j:k') as unsigned 32-bit, +1 iff < 2^31) and replays the
    // projection sum; sqrt(16) = 4 exactly, so the scale division is
    // float-exact on both engines
    "q106_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |t AS (
        |  SELECT vec_id, CAST(j.i AS INT) AS dim,
        |    v[CAST(k.i AS INT) + 1] *
        |      (CASE WHEN ('0x' || substr(md5('rp:' || j.i || ':' || k.i), 1, 8))::BIGINT
        |            < 2147483648 THEN 1.0 ELSE -1.0 END) AS term
        |  FROM e
        |  CROSS JOIN range(0, 16) j(i)
        |  CROSS JOIN range(0, 64) k(i)
        |  WHERE k.i < len(v)
        |)
        |SELECT vec_id, dim, round(sum(term) / sqrt(16.0), 6) AS val
        |FROM t GROUP BY 1, 2""".stripMargin,

    // reuses the q22 band-signature fragment; candidates restricted to
    // cross-side (eval = seeded ids >= 100000, train = originals)
    "q118_embed_contamination" ->
      ("WITH " + lshPairsSql + """,
        |crossc AS (
        |  SELECT DISTINCT a.vec_id AS eval_id, b.vec_id AS train_id
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig
        |  WHERE a.vec_id >= 100000 AND b.vec_id < 100000
        |)
        |SELECT eval_id, train_id, round(list_cosine_similarity(x.v, y.v), 6) AS cosine
        |FROM crossc
        |JOIN allv x ON x.vec_id = eval_id JOIN allv y ON y.vec_id = train_id
        |WHERE list_cosine_similarity(x.v, y.v) >= 0.9
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0 WHERE (SELECT max(len(v)) FROM allv) > 64""".stripMargin),

    // replays the full IVF-PQ composition: the q35 quantizer (probes,
    // inverted lists) + the q115 PQ codebook (codes, per-query distance
    // tables), ADC = round(sum of 8 table lookups, 6) ranked (adc, id)
    "q116_ivfpq_search" -> q116Sql,

    // q164 serves the SAME composition from saved-then-loaded artifacts;
    // persistence is exact (parquet doubles), so its oracle IS q116's SQL —
    // the contract that save/load is an identity on the search result
    "q164_ivfpq_artifact_search" -> q116Sql,
    // q184: q114's bootstrap-training replay (seeds + one Lloyd step on
    // vec_id < 200), full-corpus assignment against the frozen centroids,
    // then the q21-style probe/top-5 — the maintained layout must serve
    // exactly what a direct build-over-everything of the SAME centroids
    // would
    "q184_ivf_maintained_search" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e0 AS (SELECT * FROM e WHERE vec_id < 200),
        |seeds0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM e0 ORDER BY vec_id LIMIT 16)),
        |b0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, s.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, s.cv) DESC, s.cid) AS rn
        |    FROM e0 a CROSS JOIN seeds0 s)
        |  WHERE rn = 1
        |), bcomps AS (
        |  SELECT b0.cid, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS x
        |  FROM e0 JOIN b0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |  WHERE i <= len(v)
        |), bcents AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv
        |  FROM (SELECT cid, pos, avg(x) AS m FROM bcomps GROUP BY 1, 2)
        |  GROUP BY cid
        |), lists AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
        |    FROM e a CROSS JOIN bcents c)
        |  WHERE rn = 1
        |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, qv, cid FROM (
        |    SELECT q.query_id, q.qv, c.cid,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN bcents c)
        |  WHERE rn <= 4
        |), res AS (
        |  SELECT p.query_id, l.vec_id,
        |    list_cosine_similarity(p.qv, e.v) AS cos
        |  FROM probes p JOIN lists l ON l.cid = p.cid
        |  JOIN e ON e.vec_id = l.vec_id
        |  WHERE p.query_id <> l.vec_id
        |)
        |SELECT query_id, vec_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
        |FROM (SELECT query_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |      FROM res)
        |WHERE rnk <= 5
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0, -1 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin,

    // independent replay of the OPQ application path from the SAME
    // committed fixture the query loads: rotated component i =
    // sequential fold over R[i][k]·v[k] (list_reduce == the operator's
    // aggregate(zip_with) — identical op order, bit-exact rotated
    // vectors), then the q115/q116 encode + ADC idiom against the
    // fixture codebook. Only the SVD training of R is frozen; everything
    // the query computes at serving time is re-derived here.
    "q167_opq_adc_search" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |rot AS (SELECT i, "row" AS rw
        |        FROM read_parquet('${Goldens.path("q167_opq")}/rotation/*.parquet')),
        |cb AS (SELECT sub, code, centroid
        |       FROM read_parquet('${Goldens.path("q167_opq")}/codebook/*.parquet')),
        |rv AS (
        |  SELECT e.vec_id, rot.i,
        |    list_reduce(list_transform(range(1, 65),
        |      k -> rw[CAST(k AS INT)] * e.v[CAST(k AS INT)]),
        |      (a, b) -> a + b) AS x
        |  FROM e CROSS JOIN rot
        |), r AS (SELECT vec_id, list(x ORDER BY i) AS v FROM rv GROUP BY 1),
        |s AS (
        |  SELECT vec_id, CAST(j AS INT) AS sub, list_slice(v, j*8 + 1, j*8 + 8) AS sl
        |  FROM r CROSS JOIN range(0, 8) t(j)
        |), d AS (
        |  SELECT s.vec_id, s.sub, cb.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - centroid[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - centroid[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM s JOIN cb ON s.sub = cb.sub
        |), codes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |    FROM d) WHERE rn = 1
        |), ptable AS (
        |  SELECT vec_id AS query_id, sub, code, d2 AS dpart FROM d WHERE vec_id < 5
        |), adc AS (
        |  SELECT t.query_id, c.vec_id, round(sum(t.dpart), 6) AS adc
        |  FROM codes c
        |  JOIN ptable t ON t.sub = c.sub AND t.code = c.code
        |  WHERE c.vec_id != t.query_id
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, vec_id, adc, CAST(rnk AS INT) AS rank FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
        |  FROM adc)
        |WHERE rnk <= 5
        |UNION ALL -- guard: loud mismatch unless every vector is exactly 64-dim
        |SELECT -1, -1, -1.0, -1 WHERE (SELECT max(len(v)) FROM e) != 64
        |   OR (SELECT min(len(v)) FROM e) != 64""".stripMargin,



    // replays PQ fit + encode: per-subspace seeds = the 16 lowest ids'
    // slices (code = id rank via triangle count), one Lloyd step, argmin
    // with (d2, code) ties; distances are SEQUENTIAL folds (list_reduce ==
    // the operator's aggregate(zip_with)) so both engines sum the 8 terms
    // in the same order
    "q115_pq_encode" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, CAST(j AS INT) AS sub, list_slice(v, j*8 + 1, j*8 + 8) AS sl
        |  FROM e CROSS JOIN range(0, 8) t(j)
        |), ids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16),
        |seedids AS (
        |  SELECT x.vec_id, CAST(count(y.vec_id) AS BIGINT) AS code
        |  FROM ids x LEFT JOIN ids y ON y.vec_id < x.vec_id GROUP BY 1
        |), seeds AS (
        |  SELECT s.sub, seedids.code, s.sl AS cv FROM s JOIN seedids USING (vec_id)
        |), d0 AS (
        |  SELECT s.vec_id, s.sub, seeds.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM s JOIN seeds ON s.sub = seeds.sub
        |), a0 AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |    FROM d0) WHERE rn = 1
        |), mcents AS (
        |  SELECT sub, code, list(m ORDER BY pos) AS cv FROM (
        |    SELECT s.sub, a0.code, CAST(i AS INT) - 1 AS pos, avg(s.sl[CAST(i AS INT)]) AS m
        |    FROM s JOIN a0 ON s.vec_id = a0.vec_id AND s.sub = a0.sub
        |    CROSS JOIN range(1, 9) t(i)
        |    GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), cents AS ( -- empty-cluster guard: a code with no members keeps its seed slice
        |  SELECT seeds.sub, seeds.code, coalesce(mcents.cv, seeds.cv) AS cv
        |  FROM seeds LEFT JOIN mcents ON seeds.sub = mcents.sub AND seeds.code = mcents.code
        |), d1 AS (
        |  SELECT s.vec_id, s.sub, cents.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM s JOIN cents ON s.sub = cents.sub
        |)
        |SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |  FROM d1) WHERE rn = 1
        |UNION ALL -- guard: loud mismatch unless every vector is exactly 64-dim
        |SELECT -1, -1, -1 WHERE (SELECT max(len(v)) FROM e) != 64
        |   OR (SELECT min(len(v)) FROM e) != 64""".stripMargin,

    // replays the 400-vector build (lowest-id seeds + one Lloyd step over
    // the first 400 only), then assigns the appended batch to those
    // centroids — ties to the lowest cid, matching assignNew's max_by key
    "q114_ivf_append" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e0 AS (SELECT * FROM e WHERE vec_id < 400),
        |seeds0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM e0 ORDER BY vec_id LIMIT 16)),
        |b0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, s.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, s.cv) DESC, s.cid) AS rn
        |    FROM e0 a CROSS JOIN seeds0 s)
        |  WHERE rn = 1
        |), bcomps AS (
        |  SELECT b0.cid, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS x
        |  FROM e0 JOIN b0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |  WHERE i <= len(v)
        |), bcents AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv
        |  FROM (SELECT cid, pos, avg(x) AS m FROM bcomps GROUP BY 1, 2)
        |  GROUP BY cid
        |)
        |SELECT vec_id, cid FROM (
        |  SELECT a.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
        |  FROM e a CROSS JOIN bcents c
        |  WHERE a.vec_id >= 400)
        |WHERE rn = 1
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin,

    // replays the q35 quantizer over the SEEDED corpus (lowest-id seeds +
    // one Lloyd step), then the SemDeDup keep rule: drop a row iff a
    // same-cell partner has pairwise cosine >= 0.9 and a smaller
    // (cent_cos, id) keep-key. cent_cos enters the key already rounded to
    // the 1e-6 grid, mirroring the operator.
    "q108_semantic_dedup" ->
      ("WITH " + lshPairsSql + """,
        |seeds2 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM allv ORDER BY vec_id LIMIT 16)),
        |sa0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, s.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, s.cv) DESC, s.cid) AS rn
        |    FROM allv a CROSS JOIN seeds2 s)
        |  WHERE rn = 1
        |), scomps AS (
        |  SELECT sa0.cid, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS x
        |  FROM allv JOIN sa0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |  WHERE i <= len(v)
        |), scents AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv
        |  FROM (SELECT cid, pos, avg(x) AS m FROM scomps GROUP BY 1, 2)
        |  GROUP BY cid
        |), sa1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
        |    FROM allv a CROSS JOIN scents c)
        |  WHERE rn = 1
        |), cells AS (
        |  SELECT a.vec_id, sa1.cid, a.v,
        |    round(list_cosine_similarity(a.v, c.cv), 6) AS cent_cos
        |  FROM allv a JOIN sa1 USING (vec_id) JOIN scents c ON c.cid = sa1.cid
        |), dropped AS (
        |  SELECT DISTINCT x.vec_id
        |  FROM cells x JOIN cells y ON x.cid = y.cid
        |    AND (y.cent_cos, y.vec_id) < (x.cent_cos, x.vec_id)
        |    AND list_cosine_similarity(x.v, y.v) >= 0.9
        |)
        |SELECT c.vec_id, c.cid, c.cent_cos, (d.vec_id IS NULL) AS keep
        |FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0, false WHERE (SELECT max(len(v)) FROM allv) > 64""".stripMargin)
  )

  /** Shared q22/q42 fragment: seeded corpus → hyperplane signatures → band
    * candidates → exact-cosine pairs, ending at CTE `out (id_a, id_b,
    * cosine)` (plus `e` and `allv` for reuse).
    */
  private lazy val lshPairsSql =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |comp AS (
        |  SELECT vec_id, CAST(i AS INT) - 1 AS d, v[CAST(i AS INT)] AS x
        |  FROM e CROSS JOIN range(1, 65) t(i) WHERE i <= len(v)
        |), mutc AS (
        |  SELECT vec_id, d, x + 0.02 * ((((vec_id + d * 7919) % 97) / 97.0) - 0.5) AS x
        |  FROM comp WHERE vec_id % 10 = 0
        |), mut AS (
        |  SELECT vec_id + 100000 AS vec_id, list(x ORDER BY d) AS v FROM mutc GROUP BY vec_id
        |), allv AS (
        |  SELECT * FROM e UNION ALL SELECT * FROM mut
        |), allc AS (
        |  SELECT vec_id, CAST(i AS INT) - 1 AS d, v[CAST(i AS INT)] AS x
        |  FROM allv CROSS JOIN range(1, 65) t(i) WHERE i <= len(v)
        |), dots AS (
        |  SELECT vec_id, CAST(r AS INT) AS r,
        |         sum(x * ((((r * 2654435761 + d * 40503) % 1009) / 1009.0) - 0.5)) AS dot
        |  FROM allc CROSS JOIN range(0, 64) t(r) GROUP BY 1, 2
        |), sigs AS (
        |  SELECT vec_id,
        |         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY r) AS sig
        |  FROM dots GROUP BY 1
        |), bands AS (
        |  SELECT vec_id, CAST(b AS INT) AS band,
        |         substring(sig, CAST(b AS INT) * 16 + 1, 16) AS bandsig
        |  FROM sigs CROSS JOIN range(0, 4) t(b)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.bandsig = b.bandsig AND a.vec_id < b.vec_id
        |), out AS (
        |  SELECT id_a, id_b, list_cosine_similarity(x.v, y.v) AS cosine
        |  FROM cand JOIN allv x ON x.vec_id = id_a JOIN allv y ON y.vec_id = id_b
        |)""".stripMargin

  /** Shared by q116 (direct IVF-PQ) and q164 (same search served from
    * saved-then-loaded artifacts — persistence is exact, so one SQL replay
    * gates both).
    */
  private lazy val q116Sql =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |iseeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        |ia0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, s.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, s.cv) DESC, s.cid) AS rn
        |    FROM e a CROSS JOIN iseeds s)
        |  WHERE rn = 1
        |), icomps AS (
        |  SELECT ia0.cid, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS x
        |  FROM e JOIN ia0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |  WHERE i <= len(v)
        |), icents AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv
        |  FROM (SELECT cid, pos, avg(x) AS m FROM icomps GROUP BY 1, 2)
        |  GROUP BY cid
        |), ia1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT a.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY a.vec_id
        |        ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
        |    FROM e a CROSS JOIN icents c)
        |  WHERE rn = 1
        |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |iprobes AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.query_id, c.cid,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN icents c)
        |  WHERE rn <= 4
        |), cand AS (
        |  SELECT p.query_id, ia1.vec_id FROM iprobes p JOIN ia1 ON ia1.cid = p.cid
        |), s AS (
        |  SELECT vec_id, CAST(j AS INT) AS sub, list_slice(v, j*8 + 1, j*8 + 8) AS sl
        |  FROM e CROSS JOIN range(0, 8) t(j)
        |), pids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16),
        |pseedids AS (
        |  SELECT x.vec_id, CAST(count(y.vec_id) AS BIGINT) AS code
        |  FROM pids x LEFT JOIN pids y ON y.vec_id < x.vec_id GROUP BY 1
        |), pseeds AS (
        |  SELECT s.sub, pseedids.code, s.sl AS cv FROM s JOIN pseedids USING (vec_id)
        |), pd0 AS (
        |  SELECT s.vec_id, s.sub, pseeds.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM s JOIN pseeds ON s.sub = pseeds.sub
        |), pa0 AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |    FROM pd0) WHERE rn = 1
        |), pmcents AS (
        |  SELECT sub, code, list(m ORDER BY pos) AS cv FROM (
        |    SELECT s.sub, pa0.code, CAST(i AS INT) - 1 AS pos, avg(s.sl[CAST(i AS INT)]) AS m
        |    FROM s JOIN pa0 ON s.vec_id = pa0.vec_id AND s.sub = pa0.sub
        |    CROSS JOIN range(1, 9) t(i)
        |    GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), pcents AS ( -- empty-cluster guard: a code with no members keeps its seed slice
        |  SELECT pseeds.sub, pseeds.code, coalesce(pmcents.cv, pseeds.cv) AS cv
        |  FROM pseeds LEFT JOIN pmcents ON pseeds.sub = pmcents.sub AND pseeds.code = pmcents.code
        |), pd1 AS (
        |  SELECT s.vec_id, s.sub, pcents.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS d2
        |  FROM s JOIN pcents ON s.sub = pcents.sub
        |), pcodes AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code,
        |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
        |    FROM pd1) WHERE rn = 1
        |), ptable AS (
        |  SELECT s.vec_id AS query_id, s.sub, pcents.code,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |         * (s.sl[CAST(i AS INT)] - cv[CAST(i AS INT)])),
        |      (a, b) -> a + b) AS dpart
        |  FROM s JOIN pcents ON s.sub = pcents.sub
        |  WHERE s.vec_id < 5
        |), adc AS (
        |  SELECT c.query_id, c.vec_id, round(sum(t.dpart), 6) AS adc
        |  FROM cand c
        |  JOIN pcodes pc ON pc.vec_id = c.vec_id
        |  JOIN ptable t ON t.query_id = c.query_id AND t.sub = pc.sub AND t.code = pc.code
        |  WHERE c.vec_id != c.query_id
        |  GROUP BY 1, 2
        |)
        |SELECT query_id, vec_id, adc, CAST(rnk AS INT) AS rank FROM (
        |  SELECT query_id, vec_id, adc,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
        |  FROM adc)
        |WHERE rnk <= 5
        |UNION ALL -- guard: loud mismatch unless every vector is exactly 64-dim
        |SELECT -1, -1, -1.0, -1 WHERE (SELECT max(len(v)) FROM e) != 64
        |   OR (SELECT min(len(v)) FROM e) != 64""".stripMargin

  /** Shared IVF replay (build: lowest-id seeds + one Lloyd step; search:
    * 4-of-16 probes) ending at the `ranked` CTE — consumed by q35's
    * final select and composed with the exact leg + metric fold by q201.
    */
  private lazy val ivfRankedSql =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        |a0 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, s.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, s.cv) DESC, s.cid) AS rn
        |    FROM e CROSS JOIN seeds s)
        |  WHERE rn = 1
        |), comps AS (
        |  SELECT a0.cid, CAST(i AS INT) - 1 AS pos, v[CAST(i AS INT)] AS x
        |  FROM e JOIN a0 USING (vec_id) CROSS JOIN range(1, 65) t(i)
        |  WHERE i <= len(v)
        |), cents AS (
        |  SELECT cid, list(m ORDER BY pos) AS cv
        |  FROM (SELECT cid, pos, avg(x) AS m FROM comps GROUP BY 1, 2)
        |  GROUP BY cid
        |), a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN cents c)
        |  WHERE rn = 1
        |), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |probes AS (
        |  SELECT query_id, qv, cid FROM (
        |    SELECT q.query_id, q.qv, c.cid,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
        |    FROM q CROSS JOIN cents c)
        |  WHERE rn <= 4
        |), sims AS (
        |  SELECT p.query_id, e.vec_id, list_cosine_similarity(p.qv, e.v) AS cos
        |  FROM probes p
        |  JOIN a1 ON a1.cid = p.cid
        |  JOIN e ON e.vec_id = a1.vec_id
        |  WHERE e.vec_id != p.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |  FROM sims
        |)
        |""".stripMargin

  private lazy val q35Sql =
    ivfRankedSql +
      """SELECT query_id, vec_id, round(cos, 6) AS cosine, CAST(rnk AS INT) AS rank
        |FROM ranked WHERE rnk <= 5
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0, -1 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin

  // q201: discount weights and ideal-DCG prefix sums as the SAME Scala
  // literals the engine consumes (no per-engine log2 — the q191 lesson)
  private lazy val q201Sql = {
    val w = graft.evaluation.RankingMetrics.discounts(5)
    val prefix = w.scanLeft(0.0)(_ + _).tail
    val wCase = w.zipWithIndex
      .map { case (x, i) => s"WHEN ${i + 1} THEN $x" }.mkString(" ")
    val idcgCase = prefix.zipWithIndex
      .map { case (x, i) => s"WHEN ${i + 1} THEN $x" }.mkString(" ")
    ivfRankedSql +
      s""", run AS (
        |  SELECT query_id, vec_id, rnk FROM ranked WHERE rnk <= 5
        |), truth AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.query_id, e.vec_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rnk
        |    FROM q JOIN e ON e.vec_id != q.query_id)
        |  WHERE rnk <= 5
        |), hits AS (
        |  SELECT r.query_id, r.rnk,
        |    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM run r LEFT JOIN truth t
        |    ON t.query_id = r.query_id AND t.vec_id = r.vec_id
        |), tcount AS (SELECT query_id, count(*) AS nt FROM truth GROUP BY 1),
        |m AS (
        |  SELECT query_id, sum(hit) AS n_hits,
        |    min(CASE WHEN hit = 1 THEN rnk END) AS first_hit,
        |    sum(CASE WHEN hit = 1 THEN (CASE rnk $wCase END) ELSE 0.0 END) AS dcg
        |  FROM hits GROUP BY 1
        |)
        |SELECT m.query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  round(CAST(n_hits AS DOUBLE) / nt, 6) AS recall_k,
        |  round(CASE WHEN first_hit IS NOT NULL THEN 1.0 / first_hit
        |        ELSE 0.0 END, 6) AS mrr,
        |  round(dcg / (CASE least(5, nt) $idcgCase END), 6) AS ndcg
        |FROM m JOIN tcount USING (query_id)
        |UNION ALL -- guard: loud mismatch if vectors outgrow the range(1,65) dim bound
        |SELECT -1, -1, -1.0, -1.0, -1.0 WHERE (SELECT max(len(v)) FROM e) > 64""".stripMargin
  }
}
