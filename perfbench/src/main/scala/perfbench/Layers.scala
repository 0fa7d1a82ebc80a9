package perfbench

/** Every per-layer metric a traced run prints, with its unit. Metrics a
  * workload does not exercise print as 0. BENCHMARK.json's `per_layer`
  * lists exactly these names (ContractSpec pins the two together).
  */
object Layers {
  private def ms(n: String) = n -> "ms"
  private def count(n: String) = n -> "count"

  val all: Seq[(String, String)] = Seq(
    count("streaming.batches"), ms("streaming.trigger_p50_ms"), ms("streaming.trigger_p99_ms"),
    ms("streaming.addbatch_p50_ms"), ms("streaming.coord_ms_per_batch"),
    count("streaming.jobs_per_batch"), count("streaming.tasks_per_batch"),
    ms("streaming.task_ms_per_batch"), "streaming.shuffle_kb_per_batch" -> "KB",
    ms("sources.offset_ms"), count("sources.backlog_files_max"),
    count("store.fs_ops_per_batch"), count("store.list_per_batch"),
    count("store.exists_per_batch"), count("store.rename_per_batch"),
    count("store.delete_per_batch"), count("store.create_per_batch"),
    ms("store.token_ms"), ms("store.read_ms"), count("store.files"), count("store.gens"),
    "store.state_mb" -> "MB") ++
    HttpRoutes.names.flatMap(r => Seq(ms(s"http.${r}_p50_ms"), ms(s"http.${r}_p99_ms"))) ++
    Seq(count("http.jobs_per_request"), count("http.fs_ops_per_request"),
      count("http.gen_swaps"),
      ms("signalstore.list_ms"), ms("signalstore.list_priority_ms"),
      ms("signalstore.find_ms"), ms("signalstore.health_ms"),
      ms("fresh.pickup_p50_ms"), ms("fresh.exec_p50_ms"), ms("fresh.serve_p50_ms"),
      ms("gen.late_p99_ms"),
      "queries.cons_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
      count("queries.jobs"), count("queries.tasks"), "queries.task_s" -> "s",
      "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB") ++
    StreamFamily.Queries.map(q => s"queries.${q}_s" -> "s") ++
    Seq(count("spark.jobs"), "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
      "jvm.cpu_per_wall" -> "cores", "host.load1_start_per_core" -> "load/core",
      "host.load1_end_per_core" -> "load/core", "trace.overhead_pct" -> "%")

  val names: Set[String] = all.map(_._1).toSet
}
