package perfbench

/** A workload: the entries it owns (by name prefix), the fixed subset a
  * run measures, and the nominal wall time of one warm pass over that
  * subset on the reference host (4 cores, JDK 17, C1 only).
  */
final case class Workload(prefixes: Set[String], measured: Seq[String], passSeconds: Double) {
  /** Warm passes for a run of `seconds`. Fixed by the arguments, never
    * by a timing taken in the run, so that both sides of an A/B comparison
    * execute the same work; at least two, so every entry has a repeat.
    */
  def warmPasses(seconds: Double): Int = math.max(2, math.round(seconds / passSeconds).toInt)
}

/** The three workloads. Every `SparkEntry.queries` key belongs to
  * exactly one of them by its name prefix (WorkloadsSpec checks this).
  * A run measures the workload's `measured` entries: a fixed subset,
  * small enough that one JVM sets up, makes a cold pass and several
  * warm passes inside the run's time budget. The subsets cover each
  * workload's main layers; heavier entries (most driver loops, the
  * MinHash index probe, most fixture builds) do not fit that budget.
  */
object Workloads {
  val all: Map[String, Workload] = Map(
    // Read-only relational and analytics entries: scans, shuffles,
    // planning and scheduling dominate; GraftOps, the persisted
    // indexes and the writers are bypassed.
    "olap_read" -> Workload(
      Set("scan", "filter", "project", "join", "agg", "win", "sort", "set", "subq",
        "tpch", "olap", "topk", "fn", "expr", "case", "interval", "ts", "timeseries",
        "cohort", "funnel", "attribution", "sessionize", "seq", "sql", "udf", "udaf",
        "udtf", "typed", "pack", "interleave"),
      Seq("scan_parquet", "filter_conj", "fn_string", "win_rank", "agg_groupby",
        "topk_per_group", "join_broadcast", "tpch_q3"),
      passSeconds = 2.3),
    // LLM-pipeline entries: LSH candidate generation, the persisted IVF
    // and similarity-graph indexes, a driver-side BFS loop, the
    // materializer. Two fast, one middle and four slow entries: the
    // median sample falls on one entry (dq_checks) rather than in the
    // gap between two groups, where it would flip from run to run.
    "llm_pipeline" -> Workload(
      Set("dedup", "sim", "embed", "text", "cluster", "graph", "corpus", "vocab",
        "quality", "multimodal", "encode", "sample", "eval", "dq", "pipeline"),
      Seq("text_tokens", "dedup_embed_cos", "sample_stratified", "dq_checks",
        "dedup_near", "sim_ivf", "graph_bfs"),
      passSeconds = 6.4),
    // Write entries: commit logs, an MV fixture build and its rewrite,
    // a sink and micro-batches; the largest cold-to-warm gap.
    "lakehouse_write" -> Workload(
      Set("dml", "stream", "sink", "view", "cbo"),
      Seq("dml_upsert", "dml_delete", "dml_time_travel", "view_rewrite_agg",
        "sink_parquet", "stream_foreachbatch", "stream_sink_files"),
      passSeconds = 4.0))

  /** The workloads an entry name belongs to (exactly one for a valid name). */
  def of(entry: String): Seq[String] = {
    val prefix = entry.takeWhile(_ != '_')
    all.collect { case (w, wl) if wl.prefixes(prefix) => w }.toSeq
  }
}
