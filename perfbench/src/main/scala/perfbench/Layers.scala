package perfbench

/** The per-layer metrics of a traced run. Every traced run reports every
  * name; a layer the workload does not call reports 0. */
object Layers {

  /** ER stage spans, in chain order, with the measures kept for each. */
  val ErStages: Seq[(String, Seq[String])] = Seq(
    "pipeline.EntityResolution.extract" -> Seq("wall_s", "task_s"),
    "operators.Blocking.features" -> Seq("wall_s", "task_s", "shuffle_mb", "task_skew", "idf_truncated"),
    "operators.Blocking.blockEntries" -> Seq("wall_s", "task_s", "records_out"),
    "operators.Blocking.candidatePairs" -> Seq("wall_s", "task_s", "shuffle_mb", "records_out", "task_skew",
      "hot_blocks", "pair_quality", "pair_completeness"),
    "operators.PairScoring.score" -> Seq("wall_s", "task_s", "shuffle_mb", "records_out", "task_skew"),
    "operators.ConnectedComponents.assignManaged" -> Seq("wall_s", "task_s", "shuffle_mb", "task_skew",
      "jobs", "largest_component"))

  /** Snapshot stage directory written by each span. */
  val SnapshotStages: Seq[String] = Seq("extracted", "features", "blocks", "pairs", "scored", "clusters")

  val Kernels: Seq[String] = Seq(
    "functions.HtmlExtract.extractText", "operators.Blocking.tokenHashesOf",
    "functions.Similarity.minHashSignature", "functions.Similarity.sparseCosine",
    "functions.Similarity.jaroWinkler", "functions.Similarity.levenshteinRatio")

  /** The catalog queries whose task time and shuffle a traced run breaks
    * out: iterative graph rounds, the corpus build, ER, n-gram similarity,
    * set operations and a three-way join. */
  val HeavyQueries: Seq[String] = Seq(
    "q53_pagerank", "q69_corpus_build", "q29_er_clusters", "q25_ngram_jaccard",
    "q43_setops", "q03_join3_agg")

  /** The catalog queries an untraced run times: the four with the largest
    * walls at sf0.01 in the committed traced run
    * (`results/catalog-trace1.json`: q69 3.25 s, q29 1.49 s, q63 0.96 s,
    * q43 0.93 s, 22% of a 30.1 s round). A traced run reports their share
    * of its round as `timed_queries_share`. */
  val TimedQueries: Seq[String] = Seq(
    "q69_corpus_build", "q29_er_clusters", "q63_canonical_keep", "q43_setops")

  def unit(measure: String): String = measure match {
    case m if m.endsWith("_s") => "s"
    case "shuffle_mb" => "MB"
    case "bytes" => "bytes"
    case "ns_per_op" => "ns"
    case "task_skew" | "pair_quality" | "pair_completeness" => "ratio"
    case _ => "count"
  }

  lazy val all: Seq[(String, String)] = {
    val er = ErStages.flatMap { case (s, ms) => ms.map(m => s"$s.$m" -> unit(m)) } ++
      Seq("pipeline.EntityResolution.resolve.docs_per_s_1c" -> "1/s",
        "pipeline.EntityResolution.resolve.scaling_efficiency" -> "ratio",
        "pipeline.EntityResolution.resolve.partition_errors" -> "count") ++
      SnapshotStages.map(s => s"sources.SnapshotStore.$s.bytes" -> "bytes")
    val kernels = Kernels.map(k => s"$k.ns_per_op" -> "ns")
    val queries = graft.SparkEntry.queries.keys.toSeq.sorted.map(q => s"Queries.$q.wall_s" -> "s") ++
      HeavyQueries.flatMap(q => Seq(s"Queries.$q.task_s" -> "s", s"Queries.$q.shuffle_mb" -> "MB"))
    val spark = Seq("jvm.heap.peak_mb" -> "MB", "spark.gc_s" -> "s", "trace.overhead_s" -> "s")
    er ++ kernels ++ queries ++ spark
  }

  /** Every per-layer metric, taking the measured value where there is one. */
  def metrics(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}
