package graft.sql

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.graph.{BfsDistance, Coreness, DensestSubgraph, KCore}
import graft.similarity.{IvfCosineIndex, KMeans, ProductQuantizer}
import graft.text.VocabBuilder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job-count pins: [[Checkpoint]] costs the jobs of a bare
  * `localCheckpoint` and returns exact aggregates, and the convergence
  * loops that use it stay within their documented jobs per round, as do
  * the loops that keep their state on the driver (KMeans, VocabBuilder,
  * and the IVF and PQ quantizers). The per-round cost is the job
  * difference between two inputs whose loop depths differ by a known
  * number of rounds, so set-up and the final plan cancel out.
  */
class CheckpointJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** Jobs started on this thread while `body` runs (tagged, bus drained). */
  private def jobs(body: => Any): Int = {
    val tag = s"ckjobs-${System.nanoTime}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      body
      drainListenerBus()
      n.get
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  private def edges(es: Seq[(Long, Long)]): DataFrame = es.toDF("src", "dst")

  /** Triangle 1-2-3 with a pendant chain 3-4-...-(3+len). */
  private def tail(len: Int): Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++ (3L until 3L + len).map(i => (i, i + 1))

  private def perRound(run: DataFrame => DataFrame, shallow: DataFrame,
      deep: DataFrame, extraRounds: Int): Double = {
    val a = jobs(run(shallow))
    val b = jobs(run(deep))
    info(s"jobs: shallow $a, deep $b, per round ${(b - a).toDouble / extraRounds}")
    (b - a).toDouble / extraRounds
  }

  test("Checkpoint.observed costs the jobs of a bare localCheckpoint") {
    val narrow = spark.range(0, 1000, 1, 4).toDF("x")
    val shuffled = narrow.groupBy(col("x") % 7).agg(count(lit(1)).as("c"))
    for (df <- Seq(narrow, shuffled)) {
      val bare = jobs(df.localCheckpoint())
      val helper = jobs(Checkpoint.observed(df, count(lit(1)), sum(col(df.columns.last))))
      assert(helper === bare)
    }
  }

  test("Checkpoint.observed returns exact aggregates, also on an empty frame") {
    val df = spark.range(1, 101, 1, 4).toDF("x")
    val (pinned, m) = Checkpoint.observed(df, count(lit(1)), sum(col("x")), min(col("x")))
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) === ((100L, 5050L, 1L)))
    assert(pinned.count() === 100L)
    val (ckEmpty, e) = Checkpoint.observed(df.where(lit(false)), count(lit(1)), sum(col("x")))
    assert(e.getLong(0) === 0L && e.isNullAt(1))
    assert(ckEmpty.isEmpty)
    assert(Checkpoint.counted(spark.emptyDataFrame)._2 === 0L)
    val (_, n) = Checkpoint.counted(df.groupBy(col("x") % 10).count())
    assert(n === 10L)
  }

  test("KCore: documented jobs per peeling round") {
    // k = 2 peels the chain one node per round: depth len
    val pr = perRound(new KCore(2).vertices(_), edges(tail(2)), edges(tail(6)), 4)
    assert(pr <= 5.0)
  }

  test("Coreness: documented jobs per refinement round") {
    // the h-index fixpoint walks a pendant chain's values down one hop
    // per round
    val pr = perRound(new Coreness().run(_), edges(tail(2)), edges(tail(6)), 4)
    assert(pr <= 4.0)
  }

  test("BfsDistance: documented jobs per frontier round") {
    val seeds = Seq(1L).toDF("id")
    val pr = perRound(new BfsDistance().run(_, seeds), edges(tail(2)), edges(tail(6)), 4)
    assert(pr <= 5.0)
  }

  test("DensestSubgraph: documented jobs per peeling round") {
    // a triangle peels empty in one round; K8 plus a chain takes two
    // (DensestSubgraphSpec derives both)
    val k8 = for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val chain = (10L until 50L).map(i => (i, i + 1))
    val pr = perRound(new DensestSubgraph().run(_),
      edges(Seq((1L, 2L), (2L, 3L), (1L, 3L))), edges(k8 ++ chain), 1)
    assert(pr <= 4.0)
  }

  /** 400 vectors of `dim` small integers in 4 partitions. */
  private def vectors(dim: Int): DataFrame = spark.range(0, 400, 1, 4).select(col("id").as("vec_id"),
    array((0 until dim).map(j => (col("id") % (7 + 4 * j)).cast("double")): _*).as("embedding"))

  test("KMeans: jobs per Lloyd round") {
    val v = vectors(2)
    val fit = (iters: Int) => jobs(new KMeans(k = 3, iters = iters, dim = 2).fit(v))
    val (one, three) = (fit(1), fit(3))
    info(s"jobs: iters 1 -> $one, iters 3 -> $three")
    // one collect: the spread shuffle, the means shuffle and the result
    assert((three - one) / 2.0 === 3.0)
  }

  test("IvfCosineIndex.build: jobs of a whole build") {
    val n = jobs(new IvfCosineIndex(numCentroids = 3, nprobe = 1, dim = Some(2)).build(vectors(2)))
    info(s"jobs: $n")
    // the seed collect, then one Lloyd collect: the spread shuffle, the
    // means shuffle and the result; the lists stay lazy
    assert(n === 4)
  }

  test("ProductQuantizer: jobs of fit plus encode and collect") {
    val (v, pq) = (vectors(4), new ProductQuantizer(numSubspaces = 2, codebookSize = 3, dim = 4))
    val n = jobs(pq.encode(v, pq.fit(v)).collect())
    info(s"jobs: $n")
    // fit: the seed collect and one Lloyd collect (3 jobs); encode: the
    // spread shuffle and the result
    assert(n === 6)
  }

  test("VocabBuilder: jobs of a whole vocabulary build and collect") {
    // t0..t9 appear 30 times, u0..u19 15 times: cover 0.6 (threshold 360
    // of 600) admits every t and cuts inside the count-15 group
    val docs = spark.range(0, 300, 1, 4).select(concat_ws(" ",
      concat(lit("t"), (col("id") % 10).cast("string")),
      concat(lit("u"), (col("id") % 20).cast("string"))).as("text"))
    val n = jobs(new VocabBuilder(0.6).vocab(docs).collect())
    info(s"jobs: $n")
    // the wordcount checkpoint, the histogram collect and the two term
    // branches
    assert(n === 9)
  }
}
