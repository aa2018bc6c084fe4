package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Eager `localCheckpoint` that also returns aggregates over the pinned
  * rows, computed by the checkpoint job itself (`Dataset.observe`). A loop
  * that tests convergence on a count or sum of the frame it just pinned
  * pays no second job for it: the helper costs exactly the jobs of a bare
  * `localCheckpoint` (CheckpointJobsSpec pins this). The metrics are filled
  * as the checkpoint's tasks complete, so they are final when it returns;
  * on an empty frame they are the aggregates of no rows (count 0, sum
  * null).
  */
object Checkpoint {
  private val Name = "graft_checkpoint"

  /** (pinned frame, one row holding `agg +: aggs` over its rows). */
  def observed(df: DataFrame, agg: Column, aggs: Column*): (DataFrame, Row) = {
    val watched = df.observe(Name, agg, aggs: _*)
    val pinned = watched.localCheckpoint()
    (pinned, watched.queryExecution.observedMetrics(Name))
  }

  /** (pinned frame, its row count). */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (pinned, m) = observed(df, count(lit(1)))
    (pinned, m.getLong(0))
  }
}
