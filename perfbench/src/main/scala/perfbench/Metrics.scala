package perfbench

/** The metric names and units every run prints; BENCHMARK.json lists the
  * same names and run.py refuses a run whose output differs from it.
  * Every workload prints every metric: a per-layer metric of a layer the
  * workload bypasses reads 0.
  */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s")

  val Phases: Seq[String] = Seq("counters", "discover-links", "commit-seen", "bloom-delta",
    "commit-html", "commit-articles", "commit-frontier", "compact-frontier")

  val Modules: Seq[String] = Seq("TpchQueries", "CrawlQueries", "TextQueries", "EventQueries",
    "MiscQueries", "DedupQueries", "VectorQueries", "ExtractQueries")

  val TracedQueries: Seq[String] = Seq("q_dedup_clusters", "q_corpus_curation",
    "q_dedup_jaccard", "q_dedup_survivors", "q_stream_hourly")

  val SelfTimed: Seq[String] = Seq("Scheduler", "SeenSet", "CrawlWave", "SnapshotTable",
    "BloomStore", "CrawlEngine", "queries")

  val PerLayer: Seq[(String, String)] =
    Seq("jvm.live_heap_mb" -> "MB", "schedule_eff_n4n" -> "ratio", "wave_growth_ratio" -> "ratio",
      "postcrawl_s" -> "s", "disk_bytes_per_seen_url" -> "B", "suite_s" -> "s",
      "suite_geomean_ms" -> "ms", "trace.overhead_frac" -> "frac") ++
    SelfTimed.map(l => s"$l.self_s" -> "s") ++
    Phases.flatMap(p => Seq(s"wave.$p.wall_s" -> "s", s"wave.$p.task_s" -> "s",
      s"wave.$p.jobs" -> "count", s"wave.$p.shuffle_write_mb" -> "MB")) ++
    Seq("wave.driver_gap_s" -> "s", "wave.jobs" -> "count", "wave.spill_mb" -> "MB",
      "wave.busy_frac" -> "frac", "wave.fetched_per_scheduled" -> "ratio",
      "wave.articles_per_fetched" -> "ratio", "wave.new_links_per_fetched" -> "ratio") ++
    Phases.map(p => s"wave.$p.eff_n4n" -> "ratio") ++
    Seq("Scheduler.schedule.wall_s" -> "s", "Scheduler.schedule.task_s" -> "s",
      "Scheduler.schedule.shuffle_write_mb" -> "MB", "Scheduler.schedule.spill_mb" -> "MB",
      "Scheduler.schedule.task_skew" -> "ratio", "Scheduler.scheduled_per_row" -> "ratio",
      "SeenSet.bloom_pass_frac" -> "frac", "SeenSet.bloom_fpr" -> "frac",
      "SeenSet.buildShardedBloom.wall_s" -> "s", "SeenSet.mergeSharded.wall_s" -> "s",
      "BloomStore.write_s" -> "s", "BloomStore.readAtWave_s" -> "s",
      "BloomStore.bytes_per_wave" -> "B",
      "SnapshotTable.latest_ms" -> "ms", "SnapshotTable.history_ms" -> "ms",
      "SnapshotTable.manifests" -> "count", "SnapshotTable.data_dirs" -> "count",
      "SnapshotTable.live_bytes_frac" -> "frac",
      "CrawlEngine.dedupeArticles_s" -> "s", "CrawlEngine.postProcessArticles_s" -> "s",
      "CrawlEngine.compactHtmlSidecar_s" -> "s", "CrawlEngine.tombstoned" -> "count") ++
    Modules.flatMap(m => Seq(s"queries.$m.wall_s" -> "s", s"queries.$m.task_s" -> "s",
      s"queries.$m.jobs" -> "count", s"queries.$m.shuffle_write_mb" -> "MB")) ++
    TracedQueries.flatMap(q => Seq(s"queries.$q.wall_s" -> "s", s"queries.$q.jobs" -> "count")) ++
    Seq("queries.small_fixed_s" -> "s", "jvm.gc_s" -> "s")

  def endToEnd(r: Result): Seq[(String, Double, String)] =
    EndToEnd.map { case (n, u) =>
      (n, r.e2e.getOrElse(n, sys.error(s"workload did not measure $n")), u)
    }

  def perLayer(r: Result): Seq[(String, Double, String)] = {
    val unknown = r.layer.keys.toSet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, u) => (n, r.layer.getOrElse(n, 0.0), u) }
  }
}
