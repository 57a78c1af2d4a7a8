package perfbench

/** Every metric the benchmark prints, with its unit. `BENCHMARK.json`
  * lists the same names; `perfbench/test_bench.py` checks that they agree. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "op_geomean_s" -> "s",
    "heap_live_mb" -> "MB", "stored_mb" -> "MB")

  val materializations: Seq[String] = Seq("view", "table", "ephemeral",
    "bucketed", "insert_overwrite", "incremental", "snapshot",
    "streaming_table")

  val ledgers: Seq[String] = Seq("dedup", "count_min", "token")

  /** Registry queries (`SparkEntry.queries`) of dag_refresh's query pass. */
  val queries: Seq[String] = Seq("q18_frequent_customers", "x28_quality_filters",
    "x52_bpe_merges", "x95_pagerank")

  val perLayer: Seq[(String, String)] =
    Seq("project.declare_s" -> "s", "project.compile_s" -> "s",
      "project.build_s" -> "s", "project.nodes" -> "count",
      "project.node_busy_s" -> "s", "project.concurrency" -> "ratio",
      "project.critical_path_s" -> "s", "project.node_driver_gap_s" -> "s") ++
    materializations.map(k => s"materializer.${k}_s" -> "s") ++
    Seq("materializer.bytes_written_mb" -> "MB",
      "materializer.files_written" -> "count",
      "materializer.write_amp" -> "ratio",
      "tests.s" -> "s", "tests.count" -> "count",
      "streaming.ledger_s" -> "s") ++
    ledgers.map(l => s"streaming.$l.s" -> "s") ++
    Seq("streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
      "streaming.latest_offset_s" -> "s", "streaming.query_planning_s" -> "s",
      "streaming.wal_commit_s" -> "s", "streaming.floor_s" -> "s",
      "streaming.microbatches" -> "count", "streaming.merge_s" -> "s") ++
    queries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.build_s" -> "s",
      s"query.$q.jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.job_union_s" -> "s",
      "spark.driver_gap_s" -> "s", "spark.core_util" -> "ratio",
      "trace.overhead" -> "ratio")

  val perLayerNames: Seq[String] = perLayer.map(_._1)

  private lazy val units = (endToEnd ++ perLayer).toMap
  def unitOf(name: String): String = units(name)
}
