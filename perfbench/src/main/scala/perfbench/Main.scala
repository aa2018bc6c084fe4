package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM: an untimed warm-up pass that writes every
  * result for the correctness check, an untimed pass that lets the JIT
  * settle, then timed passes for `--seconds`, one query at a time (a
  * closed loop with one client). Raw measurements go to `--out` as JSON;
  * perfbench/run.py turns them into metrics.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --cores N
  *             --data DIR --results DIR --out FILE
  */
object Main {

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same scale as the epoch-ms times in Spark's listener events.
    */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, kind: String, name: String, start: Double, end: Double,
      parent: Int, query: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val queries = Workloads.all.getOrElse(workload, sys.error(s"unknown workload: $workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val data = opt("data")
    val results = opt("results")

    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      // Every generated class stays cached, so the timed passes measure warm
      // execution: with the default 100 entries the audience workload
      // recompiles ~110 classes a pass, and their cold start inside tasks
      // varied pass time by 30% between runs. Compilation is still measured,
      // in setup_s and the warm-up's codegen counters.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val sc = spark.sparkContext
    def tag(pass: Int, query: String, phase: String): Unit = {
      sc.setLocalProperty(Recorder.PassKey, pass.toString)
      sc.setLocalProperty(Recorder.QueryKey, query)
      sc.setLocalProperty(Recorder.PhaseKey, phase)
    }

    // one order for every pass: a fixed cycle through the workload, so a
    // codegen cache smaller than the workload misses the same way each pass
    val order = new Random(seed).shuffle(queries)
    val spans = ArrayBuffer.empty[Span]
    def span(kind: String, name: String, start: Double, end: Double, parent: Int, query: String): Int = {
      spans += Span(spans.size + 1, kind, name, start, end, parent, query)
      spans.size
    }
    val runStart = now()

    // warm-up: every query once, its result written for the check
    val warmup = ArrayBuffer.empty[(String, Option[String])]
    val warmupCodegen = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    for (q <- order) {
      tag(0, q.name, "warmup")
      warmup += q.name -> attempt {
        build(spark, q.name, data).write.mode("overwrite").parquet(s"$results/${q.name}")
      }
    }
    val setupEnd = now()
    val warmupCodegenMs = (CodeGenerator.compileTime - warmupCodegen._1) / 1e6
    val warmupCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - warmupCodegen._2
    // one more untimed pass: right after the warm-up the JIT is still
    // compiling the new code, which made the first timed pass 20-40% slower.
    // The heap peak is taken from here on: one pass alone may see no collection.
    heap.reset()
    for (q <- order) {
      tag(0, q.name, "settle")
      attempt(materialize(build(spark, q.name, data)))
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // timed passes until the window is used up; a started pass completes
    final case class Exec(pass: Int, query: String, module: String, start: Double, buildMs: Double,
        actionMs: Double, error: Option[String])
    final case class Pass(n: Int, start: Double, end: Double, codegenMs: Double, compiles: Long,
        gcMs: Long)
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Pass]
    val deadline = now() + seconds * 1000
    while (passes.isEmpty || now() < deadline) {
      val n = passes.size + 1
      spark.catalog.clearCache()
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gc0 = gcMs
      val p0 = now()
      for (q <- order) {
        val t0 = now()
        var t1 = Double.NaN
        tag(n, q.name, "build")
        val error = attempt {
          val df = build(spark, q.name, data)
          t1 = now()
          tag(n, q.name, "action")
          materialize(df)
        }
        val t2 = now()
        if (t1.isNaN) t1 = t2
        execs += Exec(n, q.name, q.module, t0, t1 - t0, t2 - t1, error)
      }
      passes += Pass(n, p0, now(), (CodeGenerator.compileTime - cg0) / 1e6,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0, gcMs - gc0)
    }
    val runEnd = now()
    System.gc() // a pass without a collection still reports its live heap
    val peakHeapMb = heap.peakAfterGcMb
    spark.stop() // drains the listener bus: every event below has arrived

    if (trace) {
      // workload -> pass -> query -> build/action -> Spark job -> stage
      val root = span("workload", workload, runStart, runEnd, 0, "")
      val phaseSpan = scala.collection.mutable.Map.empty[(Int, String, String), Int]
      val passSpan = passes.map(p => p.n -> span("pass", p.n.toString, p.start, p.end, root, "")).toMap
      for (e <- execs) {
        val (built, end) = (e.start + e.buildMs, e.start + e.buildMs + e.actionMs)
        val qs = span("query", e.query, e.start, end, passSpan(e.pass), e.query)
        phaseSpan((e.pass, e.query, "build")) = span("build", e.query, e.start, built, qs, e.query)
        phaseSpan((e.pass, e.query, "action")) = span("action", e.query, built, end, qs, e.query)
      }
      val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
      for (j <- rec.jobs.asScala.toSeq.sortBy(_.id); parent <- phaseSpan.get((j.pass, j.query, j.phase))) {
        val end = Option(rec.jobEnds.get(j.id)).map(_.toDouble).getOrElse(j.start.toDouble)
        jobSpan(j.id) = span(if (j.tables) "tables" else "job", s"job${j.id}", j.start, end, parent, j.query)
      }
      // a table load's stages belong to the load
      for (s <- rec.stages.asScala.toSeq.sortBy(_.id); parent <- jobSpan.get(s.job)) {
        val p = spans(parent - 1)
        span(if (p.kind == "tables") "tables" else "stage", s"stage${s.id}", s.start, s.end, parent, p.query)
      }
    }

    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "master" -> s"local[$cores]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "jdk_version" -> sys.props("java.version"),
      "data_dir" -> data)
    val out = Map(
      "context" -> context,
      "setup_s" -> (setupEnd - jvmStart) / 1000,
      "peak_heap_mb" -> peakHeapMb,
      "warmup_codegen_ms" -> warmupCodegenMs,
      "warmup_codegen_compiles" -> warmupCompiles,
      "modules" -> queries.map(q => q.name -> q.module).toMap,
      "warmup" -> warmup.map { case (q, e) => Map("query" -> q, "error" -> e) },
      "oracles" -> queries.flatMap(q => graft.SparkEntry.oracleSql.get(q.name).map(q.name -> _)).toMap,
      "executions" -> execs.map(e => Map("pass" -> e.pass, "query" -> e.query, "module" -> e.module,
        "start" -> e.start, "build_ms" -> e.buildMs, "action_ms" -> e.actionMs, "error" -> e.error)),
      "passes" -> passes.map(p => Map("pass" -> p.n, "start" -> p.start, "end" -> p.end,
        "codegen_ms" -> p.codegenMs, "codegen_compiles" -> p.compiles, "gc_ms" -> p.gcMs)),
      "jobs" -> rec.jobs.asScala.toSeq.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> Option(rec.jobEnds.get(j.id)).map(_.longValue), "pass" -> j.pass, "query" -> j.query,
        "phase" -> j.phase, "tables" -> j.tables)),
      "stages" -> rec.stages.asScala.toSeq.map(s => Map("id" -> s.id, "job" -> s.job, "start" -> s.start,
        "end" -> s.end)),
      "tasks" -> rec.tasks.asScala.toSeq.map(t => Seq(t.stage, t.job, t.start, t.end, t.runMs, t.cpuMs,
        t.shuffleRead, t.shuffleWrite, t.diskSpill)),
      "plans" -> rec.plans.asScala.toSeq.map(p => Seq(p.start, p.ms)),
      "spans" -> spans.map(s => Seq(s.id, s.kind, s.name, s.start, s.end, s.parent, s.query)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out)
    Files.writeString(Paths.get(opt("out")), json)
  }

  private def build(spark: SparkSession, name: String, data: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, data)

  /** The timed action: computes every output column and discards it. */
  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body`; an exception becomes its message, a success None. */
  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch {
      case e: Exception => Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
    }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak heap in use right after a collection: the live data plus what the
    * collector could not yet free, summed over the heap pools. Unlike the
    * pools' own peaks it does not depend on how far the young generation
    * happened to fill before a collection.
    */
  private final class HeapWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val peak = new AtomicLong
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    def reset(): Unit = peak.set(0)
    def peakAfterGcMb: Double = {
      // notifications arrive on their own thread; let a just-finished one land
      Thread.sleep(200)
      peak.get / 1048576.0
    }
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }
}
