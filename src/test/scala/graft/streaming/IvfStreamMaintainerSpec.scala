package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.similarity.IvfCosineIndex

case class MaintVec(vec_id: Long, embedding: Seq[Double])

class IvfStreamMaintainerSpec extends SparkTestBase {
  import spark.implicits._

  private type Vec = MaintVec
  private val Vec = MaintVec

  private val dim = 8

  private def h(i: Long, s: Int): Double =
    (((i * 2654435761L + s * 40503L) % 1000) / 1000.0) - 0.5

  private def vec(i: Long): Vec =
    Vec(i, (0 until dim).map(j => h(i, j + 1) * 3 + (i % 4).toDouble))

  private def ivf = new IvfCosineIndex(numCentroids = 4, nprobe = 2, dim = Some(dim))

  test("streamed micro-batches grow the saved index; search matches in-session append") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-ivf-stream").toString
    val base = (0L until 120L).map(vec).toDF()
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap(base)

    val input = MemoryStream[Vec]
    val query = m.start(input.toDF(),
      Files.createTempDirectory("graft-ivf-ckpt").toString)
    try {
      input.addData((120L until 160L).map(vec): _*)
      query.processAllAvailable()
      input.addData((160L until 200L).map(vec): _*)
      query.processAllAvailable()
    } finally query.stop()

    val loaded = m.load(spark)
    assert(loaded.lists.count() === 200L)
    // every vector listed exactly once (no duplicate candidates possible)
    assert(loaded.lists.select("vec_id").distinct().count() === 200L)

    // search over the streamed layout == search over the equivalent
    // in-session appends against the same bootstrap centroids
    val b1 = (120L until 160L).map(vec).toDF()
    val b2 = (160L until 200L).map(vec).toDF()
    val direct = ivf.append(ivf.append(
      graft.similarity.IvfIndex(loaded.centroids, ivf.build(base).lists), b1), b2)
    val queries = base.where(col("vec_id") < 3)
    val got = ivf.search(queries, loaded, k = 3).collect().map(_.toString).sorted
    val want = ivf.search(queries, direct, k = 3).collect().map(_.toString).sorted
    assert(got.toSeq === want.toSeq)
  }

  test("compaction rewrites the accrued batches into one, search-identical") {
    val path = Files.createTempDirectory("graft-ivf-compact").toString
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap((0L until 100L).map(vec).toDF())
    m.appendBatch((100L until 140L).map(vec).toDF(), batchId = 1L)
    m.appendBatch((140L until 180L).map(vec).toDF(), batchId = 2L)

    val m2 = m.compactTo(spark,
      Files.createTempDirectory("graft-ivf-compact2").toString)
    val before = m.load(spark)
    val after = m2.load(spark)
    assert(after.lists.count() === 180L)
    val queries = (0L until 3L).map(vec).toDF()
    assert(ivf.search(queries, after, k = 3).collect().map(_.toString).sorted.toSeq
      === ivf.search(queries, before, k = 3).collect().map(_.toString).sorted.toSeq)
  }

  test("bootstrap on an empty corpus fails loudly; empty micro-batches are no-ops") {
    val path = Files.createTempDirectory("graft-ivf-guard").toString
    val m = new IvfStreamMaintainer(ivf, path)
    val e = intercept[IllegalArgumentException] {
      m.bootstrap((0L until 100L).map(vec).toDF().limit(0))
    }
    assert(e.getMessage.contains("no non-null-id rows"))

    m.bootstrap((0L until 100L).map(vec).toDF())
    m.appendBatch((0L until 100L).map(vec).toDF().limit(0), batchId = 1L)
    assert(m.load(spark).lists.count() === 100L)
  }

  test("bootstrap on an all-null-id corpus fails loudly instead of training zero centroids") {
    // seeds never take a null id, so a NON-EMPTY corpus whose ids are all
    // null trains zero centroids and every future appendBatch would
    // silently index nothing — the guard on the trained centroids must
    // catch it before anything is written
    val path = Files.createTempDirectory("graft-ivf-nullid").toString
    val m = new IvfStreamMaintainer(ivf, path)
    val allNull = (0L until 50L).map(vec).toDF()
      .withColumn("vec_id", lit(null).cast("long"))
    val e = intercept[IllegalArgumentException] { m.bootstrap(allNull) }
    assert(e.getMessage.contains("no non-null-id rows"))
    // nothing half-written: the layout dir has no centroids/lists
    assert(!new java.io.File(s"$path/centroids").exists())
  }

  test("all-empty stream prefix: schema fallback written, then cleared by the first real batch") {
    // the operational shape: centroids provisioned from a prior training
    // job, the stream starts before any backfill lands — the first
    // triggers carry zero rows and must leave a LOADABLE (empty) layout;
    // the first real batch must clear the schema-only fallback file
    val path = Files.createTempDirectory("graft-ivf-emptypre").toString
    ivf.build((0L until 100L).map(vec).toDF()).centroids
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val m = new IvfStreamMaintainer(ivf, path)

    val empty = (0L until 100L).map(vec).toDF().limit(0)
    m.appendBatch(empty, batchId = 1L)
    // loadable mid-prefix: zero rows, schema intact
    assert(m.load(spark).lists.count() === 0L)
    m.appendBatch(empty, batchId = 2L)
    assert(m.load(spark).lists.count() === 0L)

    m.appendBatch((100L until 140L).map(vec).toDF(), batchId = 3L)
    val loaded = m.load(spark)
    assert(loaded.lists.count() === 40L)
    assert(loaded.lists.select("vec_id").distinct().count() === 40L)
    // the root-level fallback file is gone (mixed depths break discovery)
    val rootFiles = new java.io.File(s"$path/lists").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(rootFiles.isEmpty)
    // and search over the recovered layout works
    val got = ivf.search((100L until 103L).map(vec).toDF(), loaded, k = 2)
    assert(got.count() > 0)
  }

  test("compaction cadence: file counts shrink to one-per-cell; search latency recovers") {
    // the measured recommendation behind the class doc: after N triggers
    // the layout holds ~N files per touched cell; compaction rewrites to
    // one per cell. Numbers are printed for SURVEY §8.
    val path = Files.createTempDirectory("graft-ivf-cadence").toString
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap((0L until 200L).map(vec).toDF())
    val triggers = 20
    (1 to triggers).foreach { b =>
      m.appendBatch((200L + b * 20L until 220L + b * 20L).map(vec).toDF(), b.toLong)
    }

    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$p/lists"))
    }
    def searchSec(mm: IvfStreamMaintainer): Double = {
      val qs = (0L until 10L).map(vec).toDF()
      val t0 = System.nanoTime()
      ivf.search(qs, mm.load(spark), k = 3).count()
      (System.nanoTime() - t0) / 1e9
    }

    val filesBefore = parquetFiles(path)
    val latBefore = searchSec(m)
    val path2 = Files.createTempDirectory("graft-ivf-cadence2").toString
    val m2 = m.compactTo(spark, path2)
    val filesAfter = parquetFiles(path2)
    val latAfter = searchSec(m2)
    println(f"[cadence] triggers=$triggers files: $filesBefore -> $filesAfter, " +
      f"search: ${latBefore}%.2fs -> ${latAfter}%.2fs")

    // accrual is ~one file per (batch, touched cid); compaction must land
    // at <= one per cell and strictly shrink the layout
    assert(filesAfter <= 4) // numCentroids
    assert(filesBefore > filesAfter * 3,
      s"expected heavy accrual before compaction ($filesBefore vs $filesAfter)")
    // same rows, same search results
    assert(m2.load(spark).lists.count() === m.load(spark).lists.count())
  }

  test("cellDrift: stable streams read < 0.1, a shifted corpus trips the retrain signal") {
    val path = Files.createTempDirectory("graft-ivf-drift").toString
    val m = new IvfStreamMaintainer(ivf, path)
    // polling BEFORE any layout exists (provisioned maintainer, stream
    // not started): no-signal 0.0, not a PATH_NOT_FOUND crash
    assert(m.cellDrift(spark) === 0.0)
    m.bootstrap((0L until 200L).map(vec).toDF())
    // no appends yet: defined as zero drift
    assert(m.cellDrift(spark) === 0.0)

    // same generator → same cell mix: stable
    m.appendBatch((200L until 300L).map(vec).toDF(), 1L)
    val stable = m.cellDrift(spark)
    assert(stable < 0.1, s"stable stream read PSI $stable")

    // shifted stream: every new vector from ONE stratum of the generator
    // (i % 4 == 2 — the (i % 4) term places it in one centroid's region),
    // collapsing occupancy onto few cells
    val shifted = (300L until 700L).map(i => vec(i * 4 + 2))
    val m2 = new IvfStreamMaintainer(ivf,
      Files.createTempDirectory("graft-ivf-drift2").toString)
    m2.bootstrap((0L until 200L).map(vec).toDF())
    m2.appendBatch(shifted.toDF(), 1L)
    val drifted = m2.cellDrift(spark)
    assert(drifted > 0.25, s"shifted stream read PSI $drifted — retrain signal must trip")
  }

  test("auto-compaction holds the era watermark across a streamed run") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("graft-ivf-autocompact").toString
    val watermark = 5
    val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = watermark)
    m.bootstrap((0L until 100L).map(vec).toDF())

    val input = MemoryStream[Vec]
    val query = m.start(input.toDF(),
      Files.createTempDirectory("graft-ivf-autockpt").toString)
    val triggers = 12
    try {
      (1 to triggers).foreach { b =>
        input.addData((100L + b * 20L until 120L + b * 20L).map(vec): _*)
        query.processAllAvailable()
        // the invariant the watermark buys: era count (files-per-cell
        // proxy) never exceeds the configured bound at any trigger
        assert(m.eraCount(spark) <= watermark,
          s"trigger $b: ${m.eraCount(spark)} eras > watermark $watermark")
      }
    } finally query.stop()

    // compaction actually fired (12 triggers at watermark 5) and cut the
    // pointer over to a lists@<gen> generation; the primordial dir is gone
    assert(new java.io.File(s"$path/LISTS.ptr").exists())
    assert(!new java.io.File(s"$path/lists").exists())
    // no rows lost, none duplicated, search still serves
    val loaded = m.load(spark)
    val total = 100L + triggers * 20L
    assert(loaded.lists.count() === total)
    assert(loaded.lists.select("vec_id").distinct().count() === total)
    assert(ivf.search((0L until 3L).map(vec).toDF(), loaded, k = 3).count() > 0)
    // a FRESH maintainer (a reader process) resolves the live generation
    val reader = new IvfStreamMaintainer(ivf, path)
    assert(reader.load(spark).lists.count() === total)
  }

  test("a batch replayed ACROSS an auto-compaction overwrites its own era — no duplicates") {
    val path = Files.createTempDirectory("graft-ivf-compactreplay").toString
    val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
    m.bootstrap((0L until 100L).map(vec).toDF())
    // eras: 0 (bootstrap) + 1,2,3,4 → era count 5 EXCEEDS the watermark
    // inside appendBatch(4) (the strictly-greater trigger); batch 4
    // keeps its own era through compaction
    (1 to 4).foreach { b =>
      m.appendBatch((100L + b * 20L until 120L + b * 20L).map(vec).toDF(), b.toLong)
    }
    assert(m.eraCount(spark) === 3, "compaction should have fired and left 3 eras")
    // at-least-once replay of the LATEST batch, post-compaction: must
    // land in its own (kept) era, not duplicate against the merged one
    m.appendBatch((180L until 200L).map(vec).toDF(), 4L)
    val loaded = m.load(spark)
    assert(loaded.lists.count() === 180L)
    assert(loaded.lists.select("vec_id").distinct().count() === 180L)
  }

  test("compaction is correct when the LOWEST era was itself replayed/overwritten") {
    // the r16 dir-name-as-min(batch) invariant under its edge: the
    // baseline era (lowest batch id) gets REPLAYED by an at-least-once
    // restart before any compaction — dynamic overwrite replaces its own
    // partitions, the batch=0 dir survives, and compactInPlace's
    // listStatus-derived b0 must still label the baseline era correctly
    val path = Files.createTempDirectory("graft-ivf-replaybase").toString
    val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
    m.bootstrap((0L until 100L).map(vec).toDF())
    // process restart (fresh maintainer = fresh maxSeenEra probe), then
    // the engine replays era 0's content — same rows, same batch id
    val m2 = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
    m2.appendBatch((0L until 100L).map(vec).toDF(), batchId = 0L)
    assert(m2.load(spark).lists.count() === 100L, "replay must overwrite, not duplicate")
    (1 to 4).foreach { b =>
      m2.appendBatch((100L + b * 20L until 120L + b * 20L).map(vec).toDF(), b.toLong)
    }
    // compaction fired inside appendBatch(4); baseline keeps its label
    assert(m2.eraCount(spark) === 3)
    val loaded = m2.load(spark)
    assert(loaded.lists.count() === 180L)
    assert(loaded.lists.select("vec_id").distinct().count() === 180L)
    assert(loaded.lists.where(col("batch") === 0L).count() === 100L,
      "the replayed baseline era must keep batch=0 through compaction")
  }

  test("a crash mid-first-compaction cannot strand resolution on a partial generation") {
    // gen-0 is the dangerous window: no LISTS.ptr exists yet, so
    // resolution relies on the highest-generation scan. Compaction now
    // stages under _staging_lists@<gen> and renames only after the write
    // completes — crash debris is invisible to resolution and swept by
    // the next compaction.
    val path = Files.createTempDirectory("graft-ivf-crashsafe").toString
    val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
    m.bootstrap((0L until 100L).map(vec).toDF())
    // plant simulated crash debris where a partial generation would have
    // landed pre-fix (a directory with a junk file, no valid parquet)
    val debris = new java.io.File(s"$path/_staging_lists@1")
    debris.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_staging_lists@1/part-junk"), "not parquet")
    // a fresh reader resolves the intact primordial lists, not the debris
    val reader = new IvfStreamMaintainer(ivf, path)
    assert(reader.resolveListsDir(spark) === s"$path/lists")
    assert(reader.load(spark).lists.count() === 100L)
    // the next real compaction sweeps the debris and publishes lists@1
    (1 to 4).foreach { b =>
      m.appendBatch((100L + b * 20L until 120L + b * 20L).map(vec).toDF(), b.toLong)
    }
    assert(!debris.exists(), "compaction must sweep stale staging debris")
    assert(new java.io.File(s"$path/LISTS.ptr").exists())
    assert(new IvfStreamMaintainer(ivf, path).resolveListsDir(spark) === s"$path/lists@1")
    assert(m.load(spark).lists.count() === 180L)
  }

  test("a stale orphaned generation (crash between rename and pointer cutover) is replaced, not silently kept") {
    // the r13 review find: a crash AFTER a previous compaction's rename
    // but BEFORE its pointer write leaves a complete lists@<g+1> the
    // pointer never references; appends continue into lists@<g>, and the
    // NEXT compaction's target name collides. An unchecked rename would
    // no-op, cut the pointer to the STALE generation and delete the only
    // complete data. Simulate the orphan, then compact across it.
    val path = Files.createTempDirectory("graft-ivf-orphan").toString
    val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
    m.bootstrap((0L until 100L).map(vec).toDF())
    // plant the orphan where the next compaction will want to publish:
    // a directory that LOOKS like a complete generation but holds junk
    val orphan = new java.io.File(s"$path/lists@1")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/lists@1/_SUCCESS"), "")
    // no pointer exists yet, so resolution's highest-generation fallback
    // would prefer the orphan — appendBatch must still work off the
    // primordial dir... it does NOT: this is exactly why compaction
    // stages+renames; for THIS spec the orphan only matters at publish
    // time, so point resolution at the primordial dir explicitly
    val ptr = java.nio.file.Paths.get(s"$path/LISTS.ptr")
    java.nio.file.Files.writeString(ptr, "lists")
    (1 to 4).foreach { b =>
      m.appendBatch((100L + b * 20L until 120L + b * 20L).map(vec).toDF(), b.toLong)
    }
    // compaction fired inside appendBatch(4): the orphan was REPLACED
    assert(new String(java.nio.file.Files.readAllBytes(ptr)).trim === "lists@1")
    val loaded = m.load(spark)
    assert(loaded.lists.count() === 180L,
      "stale orphaned generation must be replaced by the real compaction output")
    assert(loaded.lists.select("vec_id").distinct().count() === 180L)
  }

  test("crash-point enumeration: every durable step of compactInPlace is kill-safe") {
    // this file produced two crash-safety bugs in two rounds (the gen-0
    // partial-layout hole; the orphan/unchecked-rename regression), both
    // found one-at-a-time. Enumerate the whole lattice instead: kill the
    // compaction right after EACH durable step and assert (a) a fresh
    // reader immediately serves complete, duplicate-free data, (b) a
    // restarted maintainer replays the latest batch and continues, and
    // (c) its next COMPLETED compaction sweeps every bit of crash debris
    // — no stale generations, no staging dirs (the r13 ADVICE leak).
    for (crashAt <- Seq("staged", "renamed", "cutover", "swept")) {
      val path = Files.createTempDirectory(s"graft-ivf-kill-$crashAt").toString
      val m = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
      m.bootstrap((0L until 100L).map(vec).toDF())
      m.onCompactStep = step =>
        if (step == crashAt) throw new RuntimeException(s"injected kill after $step")
      def batchRows(b: Int) = (100L + b * 20L until 120L + b * 20L).map(vec).toDF()
      (1 to 3).foreach(b => m.appendBatch(batchRows(b), b.toLong))
      // batch 4 pushes the era count past the watermark: compaction fires
      // inside this append and dies at the injected point
      val e = intercept[RuntimeException] { m.appendBatch(batchRows(4), 4L) }
      assert(e.getMessage.contains("injected kill"), s"$crashAt: $e")

      // (a) a fresh reader — pointer-first, highest-generation fallback —
      // serves all 180 rows exactly once, whatever the crash left behind
      val reader = new IvfStreamMaintainer(ivf, path)
      val afterCrash = reader.load(spark)
      assert(afterCrash.lists.count() === 180L,
        s"$crashAt: rows lost or phantom after crash")
      assert(afterCrash.lists.select("vec_id").distinct().count() === 180L,
        s"$crashAt: duplicate list rows after crash")

      // (b) restart: at-least-once replay of the latest batch, then new
      // batches — far enough that another compaction COMPLETES
      val m2 = new IvfStreamMaintainer(ivf, path, maxFilesPerCell = 4)
      m2.appendBatch(batchRows(4), 4L) // replay, same content
      (5 to 8).foreach(b => m2.appendBatch(batchRows(b), b.toLong))
      val recovered = new IvfStreamMaintainer(ivf, path).load(spark)
      assert(recovered.lists.count() === 260L, s"$crashAt: rows after recovery")
      assert(recovered.lists.select("vec_id").distinct().count() === 260L,
        s"$crashAt: duplicates after recovery")
      assert(ivf.search((0L until 3L).map(vec).toDF(), recovered, k = 3).count() > 0)

      // (c) the completed compaction swept ALL debris: exactly one live
      // lists generation, zero staging dirs, zero superseded generations
      val listDirs = new java.io.File(path).listFiles().map(_.getName)
        .filter(n => n == "lists" || n.startsWith("lists@") || n.startsWith("_staging_lists@"))
      assert(listDirs.count(_.startsWith("_staging_lists@")) === 0,
        s"$crashAt: staging debris survived: ${listDirs.toSeq}")
      assert(listDirs.count(n => n == "lists" || n.startsWith("lists@")) === 1,
        s"$crashAt: superseded generations not swept: ${listDirs.toSeq}")
    }
  }

  test("retrainTo on planted drift: fresh baseline, rows preserved, KMeans composition") {
    val path = Files.createTempDirectory("graft-ivf-retrain").toString
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap((0L until 200L).map(vec).toDF())
    val shifted = (300L until 700L).map(i => vec(i * 4 + 2))
    m.appendBatch(shifted.toDF(), 1L)
    assert(m.cellDrift(spark) > 0.25) // the retrain signal

    // self-contained retrain: refit on the indexed corpus, fresh layout
    val m2 = m.retrainTo(spark,
      Files.createTempDirectory("graft-ivf-retrain2").toString)
    assert(m2.cellDrift(spark) === 0.0) // everything is the new baseline
    val l2 = m2.load(spark)
    assert(l2.lists.count() === m.load(spark).lists.count())
    assert(ivf.search((0L until 3L).map(vec).toDF(), l2, k = 3).count() > 0)

    // the KMeans composition: external multi-step Lloyd trains the cells
    val corpus = m.load(spark).lists
      .select(col("vec_id"), col("cv").as("embedding"))
    val cents = new graft.similarity.KMeans(k = 4, iters = 3, dim = dim)
      .fitFarthest(corpus)
    val m3 = m.retrainTo(spark,
      Files.createTempDirectory("graft-ivf-retrain3").toString, cents)
    val l3 = m3.load(spark)
    assert(l3.centroids.count() === 4L)
    assert(l3.lists.count() === m.load(spark).lists.count())
    assert(m3.cellDrift(spark) === 0.0)
  }

  test("a fresh-checkpoint restart (batch ids below on-disk history) fails loudly") {
    val path = Files.createTempDirectory("graft-ivf-freshckpt").toString
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap((0L until 100L).map(vec).toDF())
    (1 to 5).foreach { b =>
      m.appendBatch((100L + b * 10L until 110L + b * 10L).map(vec).toDF(), b.toLong)
    }
    // a NEW maintainer (process restart) resuming the original checkpoint
    // replays the latest id (same content — the at-least-once contract)
    // or continues past it — both fine
    val resumed = new IvfStreamMaintainer(ivf, path)
    resumed.appendBatch((150L until 160L).map(vec).toDF(), 5L) // replay of latest
    resumed.appendBatch((170L until 180L).map(vec).toDF(), 6L)
    // but a FRESH checkpoint restarts ids at 1 and would silently
    // overwrite batch=1..N one trigger at a time — must fail loudly
    val fresh = new IvfStreamMaintainer(ivf, path)
    val e = intercept[IllegalArgumentException] {
      fresh.appendBatch((180L until 190L).map(vec).toDF(), 1L)
    }
    assert(e.getMessage.contains("FRESH checkpoint"))
    // nothing was lost by the refused write: bootstrap 100 + batches
    // 1-5 (50, batch 5 replayed with identical content) + batch 6 (10)
    assert(new IvfStreamMaintainer(ivf, path).load(spark).lists.count() === 160L)
  }

  test("a replayed batch id overwrites its own partition — no duplicate list rows") {
    val path = Files.createTempDirectory("graft-ivf-replay").toString
    val m = new IvfStreamMaintainer(ivf, path)
    m.bootstrap((0L until 100L).map(vec).toDF())

    val batch = (100L until 140L).map(vec).toDF()
    m.appendBatch(batch, batchId = 1L)
    m.appendBatch(batch, batchId = 1L) // at-least-once replay

    val loaded = m.load(spark)
    assert(loaded.lists.count() === 140L)
    assert(loaded.lists.select("vec_id").distinct().count() === 140L)
  }
}
