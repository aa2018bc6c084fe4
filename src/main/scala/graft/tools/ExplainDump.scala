package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Write, for named queries, `<outDir>/<query>_<suffix>.txt` with three
  * sections: `.explain("formatted")`, the executed post-AQE plan, and that
  * plan id-normalized by `Bench.normalizePlan` — the input of
  * `Bench.planHash`. Diffing the normalized section of two dumps shows
  * which plan change (or which run-varying token the normalization
  * missed) flipped a hash; the first two are the plan evidence files
  * committed under `plans/rNN/`.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <query...>
  * (sfDir from SPARK_GRAFT_SF_DIR, default sf0.1 — plans are taken at the
  * bench's own scale factor so AQE shapes match what the bench measures.)
  */
object ExplainDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // drive THIS dataframe's own queryExecution to completion so the
      // printed executed plan is the FINAL post-AQE one (reuse markers,
      // AQEShuffleRead) rather than the initial adaptive placeholder
      df.queryExecution.toRdd.count()
      val executed = df.queryExecution.executedPlan.toString
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
        s"===== $name — explain(formatted) =====\n$formatted\n" +
          s"===== $name — executed (post-AQE) =====\n$executed\n" +
          s"===== $name — normalized (plan hash input) =====\n" +
          s"${graft.Bench.normalizePlan(executed)}\n")
      println(s"[explain] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
