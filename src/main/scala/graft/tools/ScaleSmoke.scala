package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth smoke: runs the heavy operator families on 1x and Nx
  * replicas of the sf0.1 tables (ids offset per copy so cardinalities grow
  * with the data) and prints per-operator times + growth ratios. An
  * operator whose plan is scale-safe should grow ~linearly in rows; a
  * quadratic candidate blow-up or driver bottleneck shows up as a
  * superlinear ratio long before it would OOM a cluster.
  *
  * Not part of the driver bench — run manually:
  *   SPARK_GRAFT_SCALE=20 sbt "runMain graft.tools.ScaleSmoke"
  *
  * The top cost families additionally get a 100×-replica focused run each
  * round (the 20×→cluster extrapolation is weakest exactly there):
  *   SPARK_GRAFT_SCALE=100 SPARK_DRIVER_MEM=48g \
  *   SPARK_GRAFT_SMOKE_ONLY=setsim_join,triangles,substring_dedup,cc_star,ivfpq_search \
  *   sbt "runMain graft.tools.ScaleSmoke"
  * Results are recorded in SURVEY §8.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE", "20").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    /** n copies, ids offset so duplicate structure scales, not collapses.
      * With `mutate`, each copy's text gets enough copy-specific content
      * (12 md5 repeats ≈ half the doc) that copies are NOT near-duplicates
      * of each other — so pair outputs grow linearly and the ratio measures
      * plan scaling, not the genuinely quadratic all-dup pair count.
      */
    def scaled(table: String, idCol: String, n: Int, mutate: Boolean = false): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val copies = spark.range(n).select(col("id").as("__copy"))
      val crossed = base.crossJoin(copies)
        .withColumn(idCol, col(idCol) + col("__copy") * 10000000L)
      // 12 DISTINCT md5s (a single md5 repeated has only ~32 distinct
      // 8-shingles and leaves copies Jaccard-similar)
      val mutated =
        if (mutate) crossed.withColumn("text",
          concat(col("text"), lit(" "), expr(
            s"concat_ws('', transform(sequence(1, 12), i -> md5(concat(cast($idCol AS string), ':', i))))")))
        else crossed
      mutated.drop("__copy")
    }

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // vocabulary-scale merge table for bpe_pack_10k: trained ONCE on the
    // unscaled documents (outside every timed window), pinned so the two
    // timed sides encode against the identical broadcast table
    lazy val merges10k: DataFrame = {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      new graft.text.BpeTrainer(numMerges = 10000).fit(base).localCheckpoint()
    }

    val ops: Seq[(String, DataFrame => Long)] = Seq(
      "minhash_pairs" -> { d: DataFrame =>
        new graft.dedup.MinHashDeduplicator()
          .setIdCol("doc_id").setTextCol("text")
          .setShingleSize(8).setNumHashes(12).setNumBands(4).setThreshold(0.5)
          .transform(d).count()
      },
      "vocab" -> { d: DataFrame =>
        new graft.text.VocabBuilder(0.95).vocab(d).count()
      },
      "tfidf" -> { d: DataFrame =>
        new graft.text.TfIdf(topK = 3).topTerms(d).count()
      },
      "quality_filter" -> { d: DataFrame =>
        new graft.text.QualityFilter().transform(d).count()
      },
      // round-10 denoising-pair ops: both row-local folds/slices — growth
      // must be exactly linear in rows with zero exchanges
      "span_corruption" -> { d: DataFrame =>
        graft.text.SpanCorruption.corrupt(d)
          .where(length(col("target")) > 12).count()
      },
      "fim" -> { d: DataFrame =>
        graft.text.FimTransform.transform(d)
          .where(col("fim_applied")).count()
      },
      // LM-ratio scoring + coin: two wordcount models + one scoring pass
      "dsir_select" -> { d: DataFrame =>
        new graft.sampling.ImportanceSampler(rate = 0.5)
          .select(d, d.where(col("doc_id") % 31 === 0))
          .where(col("kept")).count()
      },
      // bigram scoring: pair/unigram count tables + row-local predecessors
      "bigram_lm" -> { d: DataFrame =>
        new graft.text.BigramLM().fitScore(d).count()
      },
      // q104 composition: filter → hashed features → margin → coin →
      // dedup → token shards; growth must track the corpus, not any stage
      "classifier_curation" -> { d: DataFrame =>
        val filtered = new graft.text.QualityFilter().setTextCol("text")
          .setMinTokens(40).setMaxTokens(100000)
          .setMaxPunctRatio(0.2).setMinQuality(0.5).transform(d)
        val scored = filtered.withColumn("margin",
          new graft.text.HashedNgramFeaturizer(dim = 4096)
            .marginCol(col("text"), b => b % 7 - 3) / 10.0 - 0.3)
        val coin = graft.sql.functions.uniform32("clf", col("doc_id"))
        val accepted = scored
          .where(coin.cast("double") <
            lit(4294967296.0) / (lit(1.0) + exp(-col("margin"))))
        val deduped = new graft.dedup.ExactDeduplicator()
          .setIdCol("doc_id").setTextCol("text").setFingerprintCol("fingerprint")
          .transform(accepted)
        new graft.text.TokenPacker()
          .setIdCol("doc_id").setTextCol("text").setBudget(2048L)
          .transform(deduped).count()
      },
      // exact prefix-filtered Jaccard join: the copy-specific md5 tail is
      // each doc's RAREST shingles, so prefixes stay copy-unique and the
      // candidate join must not blow up with the 20x-df original shingles
      "setsim_join" -> { d: DataFrame =>
        val sh = org.apache.spark.sql.GraftBridge.column(
          graft.sql.expressions.Shingles(
            org.apache.spark.sql.GraftBridge.expression(
              graft.dedup.TextNormalizer.normalize(col("text"))), 8))
        new graft.dedup.SetSimilarityJoin(0.8, "doc_id", "sh")
          .pairs(d.select(col("doc_id"), sh.as("sh"))).count()
      },
      // q183's batch route: banding is row-local, candidates come from the
      // (band, sig) equi-join with a time-range bound — mutated copies are
      // not near-dups of each other, so pairs (and time) must grow
      // linearly in copies, never with the cross-copy band population
      "streaming_neardup_batch" -> { d: DataFrame =>
        graft.streaming.StreamingNearDup.pairs(
          d.withColumn("ts",
            expr("timestamp_micros((doc_id % 1000) * 60000000)")),
          "doc_id", "text", "ts", delay = "30 minutes").count()
      },
      // q103 shape: synthesize an 8x8 PNG per doc, real javax.imageio
      // encode+decode via the batched kernel — row-local, linear in rows
      "png_decode" -> { d: DataFrame =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.catalyst.encoders.RowEncoder
        import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
        val schema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val withPng = d.select(col("doc_id").cast("long"))
          .mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val png = graft.multimodal.ImageCodec.encodePng(8, 8) { (x, y) =>
                (((id * 31 + x * 7 + y * 13) % 256).toInt << 16) |
                  (((id * 17 + x * 11 + y * 3) % 256).toInt << 8) |
                  ((id * 23 + x * 5 + y * 19) % 256).toInt
              }
              Row(id, png)
            }
          }(RowEncoder.encoderFor(schema))
        new graft.multimodal.MediaDecoder()
          .setInputCol("payload").setOutputCol("f")
          .setFeatureDim(5).setBatchSize(64)
          .transform(withPng)
          .where(element_at(col("f"), 1) > 0).count() // forces the decode
      })

    // one 200-merge table trained on the UNSCALED base corpus, shared by
    // the segment op at both scales (constant fit work cancels in the ratio)
    lazy val merges200 = new graft.text.BpeTrainer(numMerges = 200)
      .fit(spark.read.parquet(s"$sfDir/documents.parquet"))

    // operators whose dup/group structure is the stress — run on UNMUTATED
    // copies (identical text across copies; vocabulary constant in `mult`)
    val dupOps: Seq[(String, DataFrame => Long)] = Seq(
      "exact_dedup" -> { d: DataFrame =>
        new graft.dedup.ExactDeduplicator().transform(d).count()
      },
      // cross-copy identical segments stress the per-segment first-wins rank
      "segment_dedup" -> { d: DataFrame =>
        new graft.dedup.SegmentDeduplicator().transform(d).count()
      },
      // overlapping-shingle span dedup: identical copies make EVERY window
      // a duplicate (dup groups of size mult in the count table); the
      // occurrence join and per-doc lag window must stay row-linear
      "substring_dedup" -> { d: DataFrame =>
        new graft.dedup.SubstringDeduplicator().transform(d)
          .where(col("dup_tokens") > 0).count()
      },
      // driver-side merge training: time must track the single word-count
      // job (the merge loop itself is wordcount-sized, data-independent)
      "bpe_train_200" -> { d: DataFrame =>
        new graft.text.BpeTrainer(numMerges = 200).fit(d).count()
      },
      // broadcast-encoder segmentation (>32 merges → memoized UDF path):
      // fit cost is constant (unscaled base table) on both sides, so the
      // ratio isolates segment()'s row-local scaling
      "bpe_segment_200" -> { d: DataFrame =>
        val trainer = new graft.text.BpeTrainer(numMerges = 200)
        trainer.segment(d, merges200)
          .where(size(col("subwords")) > 0).count() // forces the encode UDF
      },
      // the q96 shape: two-phase grouped ntile instead of a per-language
      // window sort — growth should track rows, not the dominant group
      "grouped_ntile" -> { d: DataFrame =>
        graft.sql.GroupedNtile.ntile(
          d.select(col("doc_id"), col("lang"), length(col("text")).as("len")),
          3, "lang", "len", Seq(col("doc_id")), "bucket").count()
      },
      // per-group cumulative over a low-card group: one grouped bucketed
      // window + a tiny per-group triangle join — time must track rows,
      // never the dominant group's size (the pattern the banned
      // low-card-partition window would serialize)
      "grouped_prefix" -> { d: DataFrame =>
        graft.sql.PrefixSum.exclusiveBy(
          d.select(col("doc_id"), col("lang"), length(col("text")).as("len")),
          Seq("lang"), "doc_id", "len", "cum_len").count()
      },
      // corpus token stream ×n: the packing is prefix-sum arithmetic, so
      // time must track documents (one (count, offset) pair each), with
      // the span explode exactly output-sized
      "sequence_pack" -> { d: DataFrame =>
        new graft.text.SequencePacker(seqLen = 512).spans(d).count()
      },
      // real-tokenizer packing (q168/q169 composition): broadcast
      // rank-priority BPE encoder against the committed 64-merge fixture
      // → per-doc subword counts → shard chunks. Scale stake: the encoder
      // is row-local behind one broadcast table and the per-task word
      // memo makes repeated (Zipf) words one hash hit each — time must
      // track corpus size, never merges × corpus
      "bpe_pack" -> { d: DataFrame =>
        val spark = d.sparkSession
        val merges = spark.read.parquet(
          graft.queries.Goldens.path("q168_bpe") + "/merges")
        val counts = new graft.text.BpeTrainer().segment(d, merges)
          .groupBy(col("doc_id"))
          .agg(sum(size(col("subwords"))).as("bpe_tokens"))
        new graft.text.TokenPacker().setIdCol("doc_id")
          .setTokensCol("bpe_tokens").setBudget(2048L)
          .transform(counts).count()
      },
      // r13: the same composition at PRODUCTION VOCAB SIZE — a
      // 10,000-merge table (trained once on the unscaled corpus, outside
      // the timed window; the q168 fixture is 64 merges). The broadcast
      // rank-priority encoder's per-task word memo makes encoding
      // O(len^2) per DISTINCT word regardless of merge-table size, so
      // packing time must keep tracking corpus size, never
      // merges x corpus
      "bpe_pack_10k" -> { d: DataFrame =>
        val counts = new graft.text.BpeTrainer().segment(d, merges10k)
          .groupBy(col("doc_id"))
          .agg(sum(size(col("subwords"))).as("bpe_tokens"))
        new graft.text.TokenPacker().setIdCol("doc_id")
          .setTokensCol("bpe_tokens").setBudget(2048L)
          .transform(counts).count()
      },
      // snapshot diff vs a copy with every 10th document's text changed:
      // full-outer on fixed-width fingerprints, output tracks rows
      "snapshot_diff" -> { d: DataFrame =>
        val next = d.withColumn("text",
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        graft.sql.SnapshotDiff.byKey(d, next, "doc_id", "text")
          .where(col("status") =!= "unchanged").count()
      })

    // embeddings scaled with per-copy perturbation (same idea as text
    // `mutate`): copies must not be near-dups of each other, or the pair
    // output itself is quadratic and hides the plan's scaling
    def scaledEmb(n: Int): DataFrame =
      scaled("embeddings", "vec_id", n).withColumn("embedding", expr(
        """zip_with(CAST(embedding AS ARRAY<DOUBLE>),
          |  sequence(0, size(embedding) - 1),
          |  (x, d) -> x + 0.05 * ((((vec_id div 10000000) * 131 + d * 7) % 17) / 17.0 - 0.5))
          |""".stripMargin))
    val embOps: Seq[(String, DataFrame => Long)] = Seq(
      // cells sized ∝ corpus (the documented production knob): cell
      // population stays constant, so Σ|cell|² pair work grows linearly
      "semantic_dedup" -> { d: DataFrame =>
        val cells = 16 * math.max(1, (d.count() / 5000L).toInt)
        new graft.dedup.SemanticDeduplicator(
          numCells = cells, threshold = 0.9, dim = Some(64))
          .verdicts(d).where(!col("keep")).count()
      },
      // fixed k, 2 Lloyd iterations: each pass is O(n·k) assignment +
      // one partial-aggregated mean — growth must be ~linear in rows
      "kmeans_2it" -> { d: DataFrame =>
        val km = new graft.similarity.KMeans(k = 16, iters = 2, dim = 64)
        km.summary(d, km.fit(d)).count()
      },
      // the production IVF-PQ serving shape at scale: cells ∝ corpus
      // (constant cell population → constant probed-candidate count per
      // query), fixed m×k codebook, FIXED query batch — index build +
      // encode are one assignment pass each (linear), search cost tracks
      // probed candidates (constant per query), so total must grow
      // ~linearly in rows
      "ivfpq_search" -> { d: DataFrame =>
        val cells = 16 * math.max(1, (d.count() / 5000L).toInt)
        val ivf = new graft.similarity.IvfCosineIndex(
          numCentroids = cells, nprobe = 4, dim = Some(64))
        val idx = ivf.build(d)
        val pq = new graft.similarity.ProductQuantizer(8, 16, 64)
        val cb = pq.fit(d)
        val codes = pq.encode(d, cb)
        val queries = d.where(col("vec_id") < 100)
        val cands = ivf.probes(queries, idx)
          .join(idx.lists.select(col("vec_id"), col("cid")), "cid")
          .select(col("query_id"), col("vec_id"))
        pq.adcSearchIn(queries, cands, codes, cb, k = 5).count()
      },
      // FIXED query batch against the growing corpus: brute-force scan is
      // linear in candidates; the vote tail is two partial aggregations
      "knn_classify" -> { d: DataFrame =>
        new graft.classification.KnnClassifier(k = 5)
          .predict(d.where(col("vec_id") < 2000 && col("vec_id") % 20 === 0), d)
          .count()
      })

    // part–supplier graph from lineitem with BOTH endpoint id spaces
    // offset per copy → disjoint copies, nodes/edges grow ×n
    def scaledGraph(n: Int): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"))
      val copies = spark.range(n).select(col("id").as("__copy"))
      base.crossJoin(copies)
        .select((col("l_partkey") + col("__copy") * 10000000L).as("pk"),
          (col("l_suppkey") + col("__copy") * 10000000L).as("sk"))
    }
    val graphOps: Seq[(String, DataFrame => Long)] = Seq(
      // 3 fixed iterations; each is join + partial-agg sum on node keys
      "pagerank_3it" -> { d: DataFrame =>
        val ed = d.select((col("pk") * 2).as("src"), (col("sk") * 2 + 1).as("dst")).distinct()
        val sym = ed.union(ed.select(col("dst").as("src"), col("src").as("dst")))
        new graft.graph.PageRank(iterations = 3).run(sym).count()
      },
      // disjoint copies keep component structure (and round count)
      // constant while nodes/edges grow ×n — per-round cost must be the
      // only thing that scales
      "cc_star" -> { d: DataFrame =>
        val pairs = d.select((col("pk") * 2).as("id_a"), (col("sk") * 2 + 1).as("id_b")).distinct()
        val nodes = pairs.select(col("id_a").as("id"))
          .union(pairs.select(col("id_b").as("id"))).distinct()
        graft.graph.StarContraction.components(nodes, pairs, "id").count()
      })

    // co-purchase graph (q126 shape) with BOTH order and part id spaces
    // offset per copy → disjoint copies, per-copy wedge structure constant
    def scaledCopurchase(n: Int): DataFrame = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val copies = spark.range(n).select(col("id").as("__copy"))
      val sc = li.crossJoin(copies)
        .select((col("o") + col("__copy") * 100000000L).as("o"),
          (col("p") + col("__copy") * 10000000L).as("p"))
      sc.as("a").join(sc.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("id_a"), col("b.p").as("id_b")).distinct()
    }
    val triOps: Seq[(String, DataFrame => Long)] = Seq(
      // time must track edges (the orientation bound), never a hub's
      // degree squared
      "triangles" -> { d: DataFrame =>
        graft.graph.TriangleCount.perNode(d).count()
      })

    val evOps: Seq[(String, DataFrame => Long)] = Seq(
      "sessionize" -> { e: DataFrame =>
        graft.streaming.Sessionize.batch(
          e.withColumn("ts_us", expr("unix_micros(cast(ts as timestamp))")),
          tsCol = "ts_us", gap = 14400L * 1000000L, toTicks = identity).count()
      },
      "outliers" -> { e: DataFrame =>
        new graft.feature.RobustOutliers().flag(e, "event_type", "value")
          .where(col("is_outlier")).count()
      },
      // r13: the unbounded-key EWMA — ALL events collapsed onto ONE key,
      // so the 1x→Nx ratio measures the segmented two-phase affine scan
      // on a single hot key (the shape whose old gather formulation put
      // the whole history in one row and degraded with history length).
      // Segments grow as history/64 and the carry chain stays <=64
      // three-double structs, so time must track rows
      "ewma_hotkey" -> { e: DataFrame =>
        new graft.temporal.EwmaFeatures(alpha = 0.25)
          .transform(e.select(lit(0L).as("user_id"), col("event_id"),
            expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
            col("value")))
          .count()
      },
      // r14: the anomaly composition on ONE key — BOTH segmented smoothers
      // (x and x²) on the hot key, the two (key, tie) joins, and the
      // lag/count scoring window (a streaming sliding frame: spillable
      // external sort, never whole-history-in-one-row). Time must track
      // rows; superlinearity here would mean one of the five stages
      // re-introduced a gather
      "anomaly_hotkey" -> { e: DataFrame =>
        new graft.temporal.AnomalyDetector(alpha = 0.25)
          .transform(e.select(lit(0L).as("user_id"), col("event_id"),
            expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
            col("value")))
          .where(col("is_anomaly") === 1).count()
      },
      // same users, ×n events each: both directional windows grow with the
      // per-user slice; output (clicks) grows linearly
      "asof_nearest" -> { e: DataFrame =>
        val ev = e.select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          col("event_id"), col("event_type"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts_us"), col("event_id"))
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts_us").as("r_ts"))
          .agg(min(col("event_id")).as("r_id"))
        new graft.temporal.AsOfJoin(Seq("user_id"), "ts_us", "r_ts",
          "nearest", Some(21600000000L)).join(clicks, purchases)
          .where(col("r_id").isNotNull).count()
      })

    // user ids offset per copy: the LOCF grid (keys × span) grows ×n —
    // time must track the grid, with the terminal-value agg and fill
    // window staying keyed by the growing user space
    val evUserOps: Seq[(String, DataFrame => Long)] = Seq(
      "resample_locf" -> { e: DataFrame =>
        new graft.temporal.Resampler(86400000000L).resample(
          e.where(col("value").isNotNull).select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
            col("value"), col("event_id"))).count()
      },
      // keys ×n with constant per-key interval structure: the keyed sort
      // and island rollup must track rows
      "interval_coverage" -> { e: DataFrame =>
        new graft.temporal.IntervalCoverage().coverage(
          e.select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp))").as("start_us"))
            .withColumn("end_us", col("start_us") + lit(1800000000L))).count()
      })

    // customers ×n with each copy displaced to its own disjoint spatial
    // tile (the custkey offset is ≡ 0 mod the coordinate formula's
    // moduli, so without the tile shift copies would stack at identical
    // coordinates and the PAIR OUTPUT itself would grow quadratically)
    def scaledPoints(n: Int): DataFrame =
      scaled("customer", "c_custkey", n)
        .select(col("c_custkey").as("id"),
          ((col("c_custkey") % 160).cast("double") - 80.0
            + col("c_acctbal") / 100000.0
            + (col("c_custkey") / 10000000L).cast("long").cast("double") * 400.0).as("x"),
          ((col("c_custkey") % 340).cast("double") - 170.0
            + col("c_nationkey").cast("double") / 100.0).as("y"))
    val ptOps: Seq[(String, DataFrame => Long)] = Seq(
      // disjoint tiles: pairs grow ×n; the cell equi-join must track
      // cells × density, never all-pairs
      "spatial_join" -> { d: DataFrame =>
        new graft.geo.GridNeighborJoin(0.5).pairs(d).count()
      })

    // comma-separated op-name filter for focused re-measures
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSet)

    def run(label: String, mk: Int => DataFrame, fs0: Seq[(String, DataFrame => Long)]): Unit = {
      val fs = fs0.filter { case (name, _) => only.forall(_.contains(name)) }
      if (fs.isEmpty) return
      val d1 = mk(1).cache(); d1.count()
      val dn = mk(mult).cache(); dn.count()
      fs.foreach { case (name, f) =>
        f(d1) // warmup plans/codegen
        val (t1, r1) = time(f(d1))
        val (tn, rn) = time(f(dn))
        println(f"SMOKE $label/$name%-18s 1x=${t1}%7.2fs (${r1}%9d rows)  " +
          f"${mult}x=${tn}%7.2fs (${rn}%9d rows)  time-ratio=${tn / t1}%6.1f")
      }
      d1.unpersist(); dn.unpersist()
    }

    // customer names rebuilt from the offset key so each copy contributes
    // NEW distinct names (same-name copies would collapse in the distinct)
    def scaledNames(n: Int): DataFrame =
      scaled("customer", "c_custkey", n)
        .withColumn("c_name", format_string("Customer#%09d", pmod(col("c_custkey"), lit(1000000000L))))
    val nameOps: Seq[(String, DataFrame => Long)] = Seq(
      "edit_join_k1" -> { d: DataFrame =>
        new graft.text.EditDistanceJoin().pairs(d, "c_name").count()
      })
    val liOps: Seq[(String, DataFrame => Long)] = Seq(
      "profiler" -> { d: DataFrame =>
        new graft.sql.TableProfiler().profile(d.toDF(),
          Seq("l_quantity", "l_extendedprice", "l_returnflag")).count()
      },
      // key space constant, ×n rows per key: the stats groupBy absorbs
      // the density map-side; the join back is the only other exchange
      "target_encode_loo" -> { d: DataFrame =>
        new graft.feature.TargetEncoder(20.0).transformLoo(
          d.withColumn("y",
            when(col("l_returnflag") === "R", 1.0).otherwise(0.0)),
          "l_partkey", "y").count()
      })

    // dup-structured ops on UNMUTATED copies (dup groups of size `mult`
    // stress windows/ranks); the rest on mutated text for linear pair outputs
    run("docs", n => scaled("documents", "doc_id", n), dupOps)
    run("docs", n => scaled("documents", "doc_id", n, mutate = true), ops)
    run("events", n => scaled("events", "event_id", n), evOps)
    run("events_u", n => scaled("events", "user_id", n), evUserOps)
    run("points", scaledPoints, ptOps)
    run("names", scaledNames, nameOps)
    run("lineitem", n => scaled("lineitem", "l_orderkey", n), liOps)
    run("embeddings", scaledEmb, embOps)
    run("graph", scaledGraph, graphOps)
    run("copurchase", scaledCopurchase, triOps)
    spark.stop()
  }
}
