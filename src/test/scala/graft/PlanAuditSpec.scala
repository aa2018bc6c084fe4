package graft

import scala.jdk.CollectionConverters._

import graft.sql.expressions.{HyperplaneSignature, MinHashSignature, NearestCell, SimHash64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-quality regression guard over EVERY query in SparkEntry: no
  * cartesian products, no unpartitioned (single-task) window sorts, and no
  * expensive expressions (regexp / split / higher-order lambdas / UDFs)
  * landing in a scan's DataFilters — the classic 100TB scale-killers —
  * no row-local signature or nearest-cell kernel inside a `Filter` node,
  * and no hash aggregate too wide for whole-stage codegen in any plan the
  * query runs while it is built or in its final plan.
  * (BroadcastNestedLoopJoin is allowed: it appears only for intentionally
  * broadcast one-row totals and broadcast probe sets.)
  *
  * The DataFilters audit catches the InferFiltersFromGenerate trap: a
  * non-outer `explode(expensiveExpr)` gets a `size(expensiveExpr) > 0`
  * filter cloned into the scan, re-evaluating the whole expression chain
  * per row on the interpreted path (measured up to 50× on the tokenizer
  * chain; fixed in TfIdf by `explode_outer`, which the rule skips).
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Expression signatures that must never appear inside an INFERRED
    * `size(...) > 0` scan filter (the InferFiltersFromGenerate clone).
    * Intentional expensive predicates pushed to the scan are allowed —
    * e.g. QualityFilter's keep-condition, whose entire design is killing
    * rows at the scan before anything shuffles; those compare against
    * thresholds (`>= 40`, `<= 0.2`), never the clone's `> 0`.
    *
    * Each FileScan prints as ONE line of the plan tree with its
    * DataFilters bracket inline, so a line-level check is exact up to
    * Spark's field truncation — and a truncated filter list only ever
    * hides MORE of the same expressions, never creates a false hit.
    */
  private val expensiveInScan =
    Seq("regexp_replace(", "regexp_extract(", "rlike", "split(",
      "lambdafunction(", "zip_with(", "UDF(", "pythonUDF", "shingles(",
      "minhash_signature(", "hyperplane_signature(", "simhash")

  /** The row-local signature and nearest-cell kernels, as their plans
    * print them. A physical `Filter` over one of them re-runs the kernel
    * wherever the optimizer pushed it: an equi-join on a key derived from
    * a nullable kernel gets an inferred `isnotnull(key)` that Catalyst
    * pushes below repartitions into the scan stage, where a single-split
    * input signs (or assigns) every row on one task.
    */
  private val rowKernels =
    Seq("simhash64(", "minhash_signature(", "hyperplane_signature(", "nearest_cell(")

  // a physical plan line whose node (after the tree art and the codegen
  // stage id) is a Filter
  private val filterNode = """^[\s:|+\-*()\d]*Filter """.r

  private def kernelFilters(plan: String): Seq[String] =
    plan.linesIterator.filter(l => filterNode.findPrefixOf(l).nonEmpty &&
      rowKernels.exists(l.contains)).map(_.trim).toSeq

  private def hasInferredGenerateClone(filters: String): Boolean =
    filters.contains("size(") && filters.contains("> 0") &&
      expensiveInScan.exists(filters.contains)

  /** Test-table columns (and their common aliases) with ~tens of distinct
    * values. A window PARTITIONED solely by these sorts the dominant
    * group's entire slice in ONE task — the q56/q58/q96 class, which
    * shipped twice while this audit was green. A window is fine as soon as
    * any partition column is NOT in this set (a real key or a bucket).
    */
  private val lowCardCols = Set(
    "o_orderpriority", "o_orderstatus", "l_returnflag", "l_linestatus",
    "l_shipmode", "l_shipinstruct", "r_name", "n_name", "p_brand",
    "p_container", "p_mfgr", "c_mktsegment", "lang", "source",
    "media_type", "event_type", "etype", "priority", "label", "tier")

  // physical Window prints `Window [funcs], [partSpec], [orderSpec]`; the
  // last two bracket groups never nest, so anchor on the line's tail
  private val windowSpecs = """ Window \[.*\], \[([^\[\]]*)\], \[[^\[\]]*\]""".r.unanchored

  private def lowCardWindows(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains(" Window [")).flatMap {
      case l @ windowSpecs(part) =>
        val cols = part.split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.takeWhile(_ != '#'))
        if (cols.nonEmpty && cols.forall(lowCardCols)) Some(l.trim) else None
      case _ => None
    }.toSeq

  /** The audit assertions, callable on any plan string (the
    * per-query loop below, plus targeted audits of plans the queries hide
    * behind lineage-truncating pins).
    */
  private def auditPlan(name: String, plan: String): Unit = {
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product in $name:\n$plan")
      // physical Window prints [exprs], [partitionSpec], [orderSpec]; an
      // empty partition spec ("], [], [") means a single-task global sort.
      // Plan lines carry tree art ("+- Window [..."), so match the node
      // name inline — startsWith after trim never fires (round-6 fix: the
      // original filter made this check vacuous)
      val unpartitioned = plan.linesIterator
        .filter(_.contains(" Window ["))
        .filter(_.contains("], [], ["))
      assert(unpartitioned.isEmpty,
        s"unpartitioned window in $name: ${unpartitioned.mkString("; ")}")
      // a window partitioned ONLY by low-cardinality columns is a
      // one-task-per-group sort at scale — use GroupedNtile instead
      val lowCard = lowCardWindows(plan)
      assert(lowCard.isEmpty,
        s"low-cardinality-partition window in $name (one task per group " +
          s"at scale; rank two-phase via GroupedNtile): ${lowCard.mkString("; ")}")
      // scan-filter audit: DataFilters rides inline on the FileScan line,
      // between "DataFilters: [" and the next "], " field separator
      val dirtyScans = plan.linesIterator
        .filter(_.contains("FileScan"))
        .flatMap { l =>
          val i = l.indexOf("DataFilters: [")
          if (i < 0) None
          else {
            val rest = l.substring(i)
            val end = rest.indexOf("], ")
            Some(if (end < 0) rest else rest.take(end + 1))
          }
        }
        .filter(hasInferredGenerateClone)
        .toSeq
      assert(dirtyScans.isEmpty,
        s"InferFiltersFromGenerate clone in scan DataFilters of $name:\n${dirtyScans.mkString("\n")}")
      val filtered = kernelFilters(plan)
      assert(filtered.isEmpty,
        s"row-local kernel inside a Filter in $name (materialize the kernel's " +
          s"output before the join that infers the filter):\n${filtered.mkString("\n")}")
  }

  /** `HashAggregateExec` nodes whose input or output has more fields than
    * `spark.sql.codegen.maxFields`: whole-stage codegen skips such a node
    * and runs it outside generated code. A per-position fan-out
    * `array(avg(c[0]), ..., avg(c[63]))` is 129 fields (two buffer slots
    * per avg plus the key); it cost each k-means round of q119 about 8×
    * the executor time of the one-buffer `vectorMean`.
    */
  private def wideAggregates(plan: SparkPlan): Seq[String] = {
    val conf = spark.sessionState.conf
    def tooWide(p: SparkPlan) = WholeStageCodegenExec.isTooManyFields(conf, p.schema)
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case a: HashAggregateExec if tooWide(a) || a.children.exists(tooWide) =>
        s"in=${a.children.map(_.schema.length).mkString(",")} " +
          s"out=${a.schema.length}: ${a.simpleString(3)}"
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: no cartesian, no unpartitioned window, clean scan filters") {
      // the build's own jobs (loops, checkpoints, collects) run plans the
      // final plan never shows, so the width audit covers those too
      val (df, built) = executing(fn(spark, dir))
      val plan = df.queryExecution.executedPlan
      auditPlan(name, plan.toString)
      val wide = (built :+ plan).flatMap(wideAggregates)
      assert(wide.isEmpty,
        s"hash aggregate wider than spark.sql.codegen.maxFields " +
          s"(${spark.sessionState.conf.wholeStageMaxNumFields}) in $name — " +
          s"it leaves whole-stage codegen:\n${wide.mkString("\n")}")
    }
  }

  test("q180 legs audit clean UNPINNED (the fusion pin truncates lineage)") {
    // q180's executed plan starts at the eager localCheckpoint, so the
    // per-query audit above only ever sees the fusion tail; this audits
    // the SAME legs through fuse's pin = false door — a regression in the
    // leg wiring (cartesian, unpartitioned window) must fail here
    val plan = graft.similarity.HybridRetriever.fuse(
      graft.queries.TextQueries.hybridLegs(spark, dir),
      rrfK = 60, topK = 10, pin = false)
      .queryExecution.executedPlan.toString
    auditPlan("q180_hybrid_rrf(unpinned)", plan)
  }

  test("low-card window detector fires on the one-task-per-group pattern") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the exact pre-fix q58 shape: rank window partitioned by `lang`
    val bad = docs.withColumn("rn", row_number().over(
      Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(lowCardWindows(bad.queryExecution.executedPlan.toString).nonEmpty,
      "detector must flag a window partitioned only by a low-card column")
    // ...and stays silent once a bucket column joins the partition spec
    // (the GroupedNtile shape)
    val good = docs.withColumn("b", col("doc_id") % 64)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("b")).orderBy(col("doc_id"))))
    assert(lowCardWindows(good.queryExecution.executedPlan.toString).isEmpty)
  }

  test("q161 per-group cumulative reads orders ONCE (grouped prefix sum)") {
    // round 8 looped the 5 priority slices on the driver — 5 unioned
    // plans, each rescanning orders (5 scans no reuse could merge: the
    // per-slice filters differ). PrefixSum.exclusiveBy expresses all
    // groups in one plan whose diamond references are IDENTICAL subtrees,
    // so runtime exchange reuse collapses them: the FINAL (post-execution
    // AQE) plan must read orders through one live scan, every other
    // reference a ReusedExchange. Checked after count() because reuse is
    // applied during adaptive execution, not in the initial plan.
    val df = SparkEntry.queries("q161_grouped_auc")(spark, dir)
    // collect() (5-row result) executes df's OWN plan — count() would wrap
    // it in a new aggregate and leave this one un-finalized
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // every InMemoryTableScan REPRINTS the cached child plan, so the scan
    // line appears many times — but all copies of the one materialized
    // scan are byte-identical (same expr ids). Independent uncached scans
    // print column-pruning-specialized schemas with fresh expr ids, so
    // "one distinct scan signature" is exactly "orders read once".
    val scanSigs = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("orders.parquet"))
      .map(l => l.substring(l.indexOf("FileScan")))
      .toSet
    assert(scanSigs.size === 1,
      s"q161 should scan orders exactly once (one cached materialization), " +
        s"found ${scanSigs.size} distinct scans:\n${scanSigs.mkString("\n")}")
  }

  test("q127's gather is segmented — no whole-history-per-key collect_list") {
    // the r13 scale fix: EwmaFeatures must gather per (key, bucket),
    // never per key alone — a key-only gather is the row-size cap the
    // segmented plan removed. The carry chain's per-key aggregation over
    // SUMMARIES (window collect_list of three-double structs) is fine;
    // what must not exist is a collect_list of the event struct keyed by
    // __k without __bkt.
    val plan = SparkEntry.queries("q127_ewma")(spark, dir)
      .queryExecution.executedPlan.toString
    val eventGathers = plan.linesIterator
      .filter(l => l.contains("collect_list(named_struct(o, "))
      .toSeq
    assert(eventGathers.nonEmpty, s"expected the segment gather in:\n$plan")
    eventGathers.foreach { l =>
      assert(l.contains("__bkt"),
        s"event gather not segmented (keyed without __bkt): $l")
    }
  }

  /** (result of `body`, every physical plan it executed, in order): the
    * builder's eager jobs (a `localCheckpoint`) as well as its actions.
    */
  private def executing[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      drainListenerBus()
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** LSH pair queries of every signature family, with the kernel each
    * runs: the kernel must run once per row, whatever pairs the band join
    * forms.
    */
  private val signingKernels: Seq[(String, Class[_ <: Expression])] = Seq(
    "q36_simhash_pairs" -> classOf[SimHash64],
    "q20_dedup_minhash" -> classOf[MinHashSignature],
    "q32_jaccard_ngram" -> classOf[MinHashSignature],
    "q188_neardup_core" -> classOf[MinHashSignature],
    "q22_ann_lsh" -> classOf[HyperplaneSignature])

  /** Builds and collects `name`: the built frame, and every plan node
    * holding `kernel` across the plans it executes, the build's jobs and
    * the final plan (reused exchanges are leaves here).
    */
  private def kernelNodes(name: String, kernel: Class[_ <: Expression]): (DataFrame, Seq[SparkPlan]) = {
    val helper = new AdaptiveSparkPlanHelper {}
    val (df, plans) = executing {
      val q = SparkEntry.queries(name)(spark, dir)
      q.collect()
      q
    }
    (df, plans.flatMap(p => helper.collect(p) {
      case n if n.expressions.exists(_.exists(e => kernel.isInstance(e))) => n
    }))
  }

  /** Asserts `name`'s `kernel` ran in exactly one plan node, and never in
    * a Filter, where an inferred isnotnull re-signs every row. Returns the
    * built frame.
    */
  private def assertSignedOnce(name: String, kernel: Class[_ <: Expression]): DataFrame = {
    val (df, signing) = kernelNodes(name, kernel)
    assert(signing.size === 1,
      s"$name: ${kernel.getSimpleName} in ${signing.size} plan nodes\n" +
        signing.map(_.simpleString(10)).mkString("\n"))
    assert(!signing.head.isInstanceOf[FilterExec], s"$name: ${signing.head.simpleString(10)}")
    df
  }

  test("LSH pair queries sign each row once: one kernel node per query, never a Filter") {
    signingKernels.foreach { case (name, kernel) => assertSignedOnce(name, kernel) }
  }

  test("IVF queries assign with nearest_cell in no Filter: one node per consumer of the lists") {
    // the IVF list join's cid is an arg-best over a non-empty, null-free
    // cid literal, so it is not nullable and infers no isnotnull filter
    // that would assign every corpus row a second time. Per query: the
    // Lloyd step, the probes, and one node per read of the lists (q108
    // reads them three times); q116 adds PQ's fit and encode.
    val nodes = Seq("q35_ann_ivf", "q201_ann_recall", "q116_ivfpq_search", "q108_semantic_dedup")
      .map(name => name -> kernelNodes(name, classOf[NearestCell])._2)
    for ((name, ns) <- nodes) {
      val shown = ns.map(_.simpleString(10)).mkString("\n")
      info(s"$name: ${ns.size} nearest_cell nodes\n$shown")
      assert(!ns.exists(_.isInstanceOf[FilterExec]), s"$name: nearest_cell in a Filter\n$shown")
    }
    assert(nodes.map(_._2.size) === Seq(3, 3, 5, 4))
  }

  test("q36's pair stage: signed once, long signatures, distinct hashes its own keys") {
    val helper = new AdaptiveSparkPlanHelper {}
    val df = assertSignedOnce("q36_simhash_pairs", classOf[SimHash64])
    // the final plan reads the pinned signatures: the spread exchange ran in
    // the checkpoint job, the band join broadcasts one side, and the
    // distinct hashes on its own keys (the pin reports no doc_id
    // partitioning for it to ride)
    val exchanges = helper.collect(df.queryExecution.executedPlan) {
      case _: BroadcastExchangeExec => "broadcast"
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.map(_.references.map(_.name).mkString).mkString("hash(", ", ", ")")
        case other => other.getClass.getSimpleName
      }
    }
    assert(exchanges.sorted === Seq("broadcast", "hash(id_a, id_b, hamming)"),
      df.queryExecution.executedPlan.toString)
    // the verify step runs once per band collision (305,608 at sf0.1 for
    // 1,364 verified pairs), so the signatures it xors must reach the join
    // as longs parsed once per document, never as hex strings
    val sigTypes = df.queryExecution.analyzed.collect { case p => p.output }.flatten
      .filter(a => a.name == "sig_a" || a.name == "sig_b").map(_.dataType).distinct
    assert(sigTypes === Seq(org.apache.spark.sql.types.LongType))
  }

  test("flagship entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle normalize-chain replica carries the engine's whitespace map") {
    // TextNormalizer.normalize and its ~20 DuckDB replicas must move in
    // LOCKSTEP: an oracle still on RE2's ASCII [[:space:]] (or \s) would
    // agree with the engine on the test corpus and silently diverge on
    // the first NBSP. Any oracle that replays the strip stage must embed
    // the exact translate() fragment — interpolated from the one
    // constant, so this can only fail if someone hand-writes a new chain.
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("[^a-z0-9 ]', '', 'g'), ' +'") &&
        !sql.contains(graft.dedup.TextNormalizer.sqlTranslateArgs) => name
    }
    assert(offenders.isEmpty,
      s"oracles replaying normalize without the shared whitespace translate: " +
        offenders.toSeq.sorted.mkString(", "))
    val ascii = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("[[:space:]]") => name
    }
    assert(ascii.isEmpty,
      s"oracles still on ASCII [[:space:]]: ${ascii.toSeq.sorted.mkString(", ")}")
  }
}
