package perfbench

/** The per-layer metrics of a traced run, named after the modules, and the
  * end-to-end metric and workload each one should move. */
object Layers {
  val analytics: Seq[String] = Seq("recentBlocks", "forkDistribution", "topProposers",
    "blobCountsPerBlock", "dailyWithdrawals", "hourlyBlockProduction",
    "participationSeries", "tableStats")

  /** (metric, unit, what it should move). Spark-counter metrics are means
    * per traced operation; span metrics (`latest`, `Analytics.*`,
    * `Inventory.*`) are means per call. A layer a workload does not run
    * reads 0 there. */
  val catalog: Seq[(String, String, String)] = {
    val ingest = "throughput_per_s on backfill"
    val perAction = "latency_p50_s on backfill through fixed per-job cost"
    val write = "throughput_per_s on backfill; concurrent table writes should move it"
    val read = "latency_p50_s on backfill (dashboard share)"
    Seq(
      ("RawIngest.fetch.busy_s", "s", ingest),
      ("RawIngest.fetch.cpu_s", "s", ingest),
      ("RawIngest.writeRaw.busy_s", "s", ingest),
      ("RawIngest.writeRaw.files", "count", ingest),
      ("RawIngest.writeRaw.mb", "MB", ingest),
      ("RawIngest.dedup.kept_ratio", "ratio", "waste ratio (raw rows written / payloads fetched); moves no end-to-end metric by itself"),
      ("Ledger.calls", "count", perAction),
      ("Ledger.busy_s", "s", perAction),
      ("Ledger.files", "count", perAction),
      ("Transformer.chunkData.busy_s", "s", ingest),
      ("Transformer.latestRetrieval.kept_ratio", "ratio", "waste ratio (rows parsed / raw rows scanned); throughput_per_s on backfill"),
      ("BlockParser.parse.busy_s", "s", ingest),
      ("BlockParser.parse.cpu_s", "s", ingest),
      ("Transformer.write.busy_s", "s", write),
      ("Transformer.write.jobs", "count", write),
      ("Transformer.write.files", "count", write)) ++
      SyntheticChain.tables.map(t => (s"Transformer.write.$t.busy_s", "s", write)) ++
      Seq(
        ("Transformer.progress.busy_s", "s", perAction),
        ("Compaction.busy_s", "s", "latency_p50_s and throughput_per_s on backfill"),
        ("Compaction.mb_rewritten", "MB", "latency_p50_s and throughput_per_s on backfill"),
        ("Compaction.files_before", "count", "latency_p50_s and throughput_per_s on backfill"),
        ("Compaction.files_after", "count", "latency_p50_s and throughput_per_s on backfill"),
        ("latest.busy_s", "s", read)) ++
      analytics.map(a => (s"Analytics.$a.busy_s", "s", read)) ++
      InventoryNames.all.flatMap(q => Seq(
        (s"Inventory.$q.wall_s", "s", "latency_p50_s (fixed overhead) and throughput_per_s on inventory"),
        (s"Inventory.$q.cpu_s", "s", "throughput_per_s on inventory"))) ++
      Seq(
        ("spark.jobs", "count", "latency_p50_s on both workloads (per-job overhead)"),
        ("spark.tasks", "count", "latency_p50_s on both workloads"),
        ("spark.executor_cpu_s", "s", "throughput_per_s on both workloads"),
        ("spark.shuffle_mb", "MB", "throughput_per_s on both workloads"),
        ("spark.spill_mb", "MB", "throughput_per_s on backfill"),
        ("spark.driver_gap_s", "s", "latency_p50_s on both workloads (planning, listing, scheduling)"),
        ("jvm.heap_peak_mb", "MB", "setup_s and throughput_per_s through GC"),
        ("jvm.gc_s", "s", "throughput_per_s on both workloads"),
        ("trace_overhead", "ratio", "none: traced over untraced median latency, minus 1"))
  }

  def metrics(t: Trace, traced: Seq[Op], untraced: Seq[Op],
      gcMs: Long): Map[String, (Double, String)] = {
    val ops = traced.map(_.id).toSet
    val n = math.max(1, traced.size).toDouble
    val layer = Attribution.layers(t, ops)
    def lc(name: String) = layer.getOrElse(name, new LayerCost)
    def per(x: Double) = x / n
    // per-table writes plus the schema probes `writeTable` runs before them
    val writes = layer.filter(_._1.startsWith("Transformer.write")).values
    val spanWall = t.spans.filter(s => ops(s.op)).groupBy(_.name).map { case (k, ss) =>
      k -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum / ss.size
    }
    val spanCpu = InventoryNames.all.map { q =>
      val l = layer.get(s"Inventory.$q").map(_.cpuNs / 1e9).getOrElse(0.0)
      val calls = t.spans.count(s => ops(s.op) && s.name == s"Inventory.$q")
      q -> (if (calls == 0) 0.0 else l / calls)
    }.toMap
    val fetched = traced.map(_.fetched).sum.toDouble
    val rawRecords = lc("RawIngest.writeRaw").outRecords.toDouble
    val blockRows = lc("Transformer.write.blocks").outRecords.toDouble
    def count(k: String) = per(traced.map(_.counts.getOrElse(k, 0.0)).sum)
    val all = layer.values
    val opWall = traced.map(_.latencyS).sum
    val v: Map[String, Double] = Map(
      "RawIngest.fetch.busy_s" -> per(lc("RawIngest.fetch").busyMs / 1e3),
      "RawIngest.fetch.cpu_s" -> per(lc("RawIngest.fetch").cpuNs / 1e9),
      "RawIngest.writeRaw.busy_s" -> per(lc("RawIngest.writeRaw").busyMs / 1e3),
      "RawIngest.writeRaw.files" -> per(lc("RawIngest.writeRaw").files.toDouble),
      "RawIngest.writeRaw.mb" -> per(lc("RawIngest.writeRaw").outBytes / 1e6),
      "RawIngest.dedup.kept_ratio" -> (if (fetched > 0) rawRecords / fetched else 0.0),
      "Ledger.calls" -> per(lc("Ledger").jobs.toDouble),
      "Ledger.busy_s" -> per(lc("Ledger").busyMs / 1e3),
      "Ledger.files" -> per(lc("Ledger").files.toDouble),
      "Transformer.chunkData.busy_s" -> per(lc("Transformer.chunkData").busyMs / 1e3),
      "Transformer.latestRetrieval.kept_ratio" -> (if (rawRecords > 0) blockRows / rawRecords else 0.0),
      "BlockParser.parse.busy_s" -> per(lc("BlockParser.parse").busyMs / 1e3),
      "BlockParser.parse.cpu_s" -> per(lc("BlockParser.parse").cpuNs / 1e9),
      "Transformer.write.busy_s" -> per(writes.map(_.busyMs).sum / 1e3),
      "Transformer.write.jobs" -> per(writes.map(_.jobs).sum.toDouble),
      "Transformer.write.files" -> per(writes.map(_.files).sum.toDouble),
      "Transformer.progress.busy_s" -> per(lc("Transformer.progress").busyMs / 1e3),
      "Compaction.busy_s" -> per(lc("Compaction").busyMs / 1e3),
      "Compaction.mb_rewritten" -> per(lc("Compaction").outBytes / 1e6),
      "Compaction.files_before" -> count("compaction_files_before"),
      "Compaction.files_after" -> count("compaction_files_after"),
      "latest.busy_s" -> spanWall.getOrElse("latest", 0.0),
      "spark.jobs" -> per(all.map(_.jobs).sum.toDouble),
      "spark.tasks" -> per(all.map(_.tasks).sum.toDouble),
      "spark.executor_cpu_s" -> per(all.map(_.cpuNs).sum / 1e9),
      "spark.shuffle_mb" -> per(all.map(_.shuffleBytes).sum / 1e6),
      "spark.spill_mb" -> per(all.map(_.spillBytes).sum / 1e6),
      "spark.driver_gap_s" -> per(opWall - Attribution.jobUnionMs(t, ops) / 1e3),
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb(),
      "jvm.gc_s" -> per(gcMs / 1e3),
      "trace_overhead" -> (Main.median(traced.map(_.latencyS)) / Main.median(untraced.map(_.latencyS)) - 1)
    ) ++ SyntheticChain.tables.map(tb =>
      s"Transformer.write.$tb.busy_s" -> per(lc(s"Transformer.write.$tb").busyMs / 1e3)) ++
      analytics.map(a => s"Analytics.$a.busy_s" -> spanWall.getOrElse(s"Analytics.$a", 0.0)) ++
      InventoryNames.all.flatMap(q => Seq(
        s"Inventory.$q.wall_s" -> spanWall.getOrElse(s"Inventory.$q", 0.0),
        s"Inventory.$q.cpu_s" -> spanCpu(q)))
    catalog.map { case (name, unit, _) => name -> (v(name), unit) }.toMap
  }

  /** The readable side of a traced run: every layer with its counts and
    * every span name with its self time, plus what each metric should
    * move. */
  def report(t: Trace, traced: Seq[Op]): Map[String, Any] = {
    val ops = traced.map(_.id).toSet
    val n = math.max(1, traced.size).toDouble
    Map(
      "traced_ops" -> traced.size,
      "cached_peak_mb" -> t.cachedPeakBytes / 1e6,
      "per_layer" -> Attribution.layers(t, ops).map { case (k, c) => k -> Map(
        "jobs" -> c.jobs / n, "busy_s" -> c.busyMs / 1e3 / n, "cpu_s" -> c.cpuNs / 1e9 / n,
        "tasks" -> c.tasks / n, "shuffle_mb" -> c.shuffleBytes / 1e6 / n,
        "spill_mb" -> c.spillBytes / 1e6 / n, "out_mb" -> c.outBytes / 1e6 / n,
        "out_rows" -> c.outRecords / n, "files" -> c.files / n) },
      "spans" -> Attribution.selfTimes(t, ops).map { case (k, (calls, self)) =>
        k -> Map("calls" -> calls / n, "self_s" -> self / n) },
      "should_move" -> catalog.map { case (name, _, moves) => name -> moves }.toMap)
  }
}

/** The sweep's queries: the driver-side shortcut sites (Graph PageRank,
  * converged PageRank and components, Dedup components, DBSCAN labels),
  * the p-family payload parsers, the Dedup and Similarity near-duplicate
  * operators, and the flagship aggregate. */
object InventoryNames {
  val all: Seq[String] = Seq(
    "g1_pagerank", "g3_converged_pagerank", "g9_connected_components",
    "d9_near_dup_groups", "s23_dbscan",
    "p1_blocks", "p2_attestations", "p6_attester_slashings",
    "d5_minhash_lsh", "d7_embedding_near_dup", "m12_image_neardup",
    "a2_pricing_summary")
}
