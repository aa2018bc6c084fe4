package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one seed selection of the trained quantizers ([[KMeans]],
  * [[IvfCosineIndex]], [[ProductQuantizer]]): the k lowest non-null-id
  * rows, collected as driver rows and labelled by their id's dense
  * 0-based rank.
  *
  * Invariants:
  *  - one top-k collect over the input, no join and no window;
  *  - a null id never takes a seed slot (it would win the ordering);
  *  - ranks are dense over DISTINCT ids: rows sharing an id share a rank,
  *    so labels are 0..n-1 without gaps, whatever the id type (a rank,
  *    unlike `cast("long")`, labels string ids too);
  *  - rank order is id order, so "lowest label wins" tie-breaks pick the
  *    seed that "lowest id wins" would.
  */
private[similarity] object Seeding {

  /** Rows (rank BIGINT, payload) of the k lowest non-null ids of `df`, in
    * id order. Adjacent ids are compared on the driver: `==` equates -0.0
    * with 0.0 and `equals` NaN with NaN, as Spark's grouping does.
    */
  def seedRows(df: DataFrame, idCol: String, payload: Column, k: Int): Array[Row] = {
    val top = df.where(col(idCol).isNotNull).orderBy(col(idCol)).limit(k)
      .select(col(idCol), payload).collect()
    val same = (a: Any, b: Any) => a == b || java.util.Objects.equals(a, b)
    val ranks = top.indices.scanLeft(-1L)((r, i) =>
      if (i > 0 && same(top(i).get(0), top(i - 1).get(0))) r else r + 1).tail
    top.zip(ranks).map { case (r, rank) => Row(rank, r.get(1)) }
  }
}
