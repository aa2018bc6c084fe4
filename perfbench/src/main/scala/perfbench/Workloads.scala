package perfbench

/** The benchmark's workloads: which `SparkEntry.queries` each pass runs,
  * each tagged with the repo module whose operator it exercises.
  * perfbench/README.md gives the reason for every workload.
  */
object Workloads {
  final case class Query(name: String, module: String)

  val all: Map[String, Seq[Query]] = Map(
    "audience" -> Seq(
      Query("q03_collect_array", "sql"),
      Query("q14_s2_cell", "feature"),
      Query("q132_calibration", "evaluation"),
      Query("q41_lr_score", "classification"),
      Query("q28_sessionize", "streaming"),
      Query("q192_exact_quantiles", "temporal"),
      Query("q203_densest_subgraph", "graph")),
    "curation" -> Seq(
      Query("q36_simhash_pairs", "dedup"),
      Query("q119_kmeans", "similarity"),
      Query("q85_vocab", "text")),
  )
}
