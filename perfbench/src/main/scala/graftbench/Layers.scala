package graftbench

/** Per-layer metrics of a traced run. Every workload reports every name;
  * a layer a workload does not use reads 0.
  */
object Layers {
  val CommitKinds = Seq("append", "overwrite", "delete", "update", "merge", "compact")

  val names: Seq[String] = Seq(
    "sql.parse_ms", "sql.analysis_ms", "sql.optimization_ms", "sql.planning_ms") ++
    CommitKinds.map(k => s"lake.commit_ms.$k") ++ Seq(
    "lake.commit_self_ms", "lake.prune_ms", "lake.files_kept_ratio", "lake.snapshots",
    "lake.manifest_bytes", "lake.live_delete_files", "lake.write_amp", "lake.space_amp",
    "scan.files_read", "scan.bytes_read", "scan.rows_read_per_row",
    "exec.jobs_per_op", "exec.tasks_per_op", "exec.task_cpu_ms", "exec.shuffle_bytes",
    "exec.spill_bytes", "exec.slowest_task_ms", "exec.stage_skew", "exec.driver_self_ms",
    "functions.shingle_ns_per_doc", "functions.minhash_ns_per_doc",
    "functions.centroid_ns_per_vec",
    "pipeline.filter_ms", "pipeline.exact_ms", "pipeline.minhash_ms", "pipeline.clusters_ms",
    "pipeline.docs_kept", "pipeline.minhash_pairs", "pipeline.cluster_pairs",
    "pipeline.ann_sync_rows", "pipeline.ann_sync_ms", "pipeline.ann_build_s",
    "pipeline.ann_recall_at_5",
    "mat.storage_bytes_peak", "mat.disk_bytes_peak",
    "streaming.start_ms", "streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.batches_per_drain",
    "streaming.cdc_lag_ms",
    "jvm.gc_ms", "jvm.heap_peak_mb", "jvm.rss_peak_mb",
    "self_ms.op", "self_ms.sql", "self_ms.lake", "self_ms.pipeline", "self_ms.streaming",
    "self_ms.exec",
    "trace.overhead_ratio", "trace.ops")

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.contains("_ms_") || name.contains("_ms.")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("_ns_per_")) "ns"
    else if (name.contains("bytes")) "bytes"
    else if (Seq("ratio", "skew", "amp", "recall").exists(name.contains)) "ratio"
    else "count"

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var s = Long.MinValue
    var e = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > e) { if (e > s) total += e - s; s = a; e = b }
        else e = math.max(e, b)
      }
    if (e > s) total += e - s
    total
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(ops: Seq[OpRec], wl: Workload, gcMs: Long, heapPeakMb: Double, rssPeakMb: Double)
      : Seq[(String, Double)] = {
    Trace.drain()
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val spans = Trace.allSpans
    val root = Trace.rootOf(spans)
    val opIds = traced.flatMap(_.span).map(_.id).toSet
    val inOps = spans.filter(s => opIds.contains(root(s.id)))
    val kids = spans.groupBy(_.parent)
    def jobsUnder(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c =>
      if (c.layer == "exec") Seq(c) else jobsUnder(c))
    // driver time with no Spark job running inside `s`
    def driverSelfMs(s: Span): Double =
      (s.endNs - s.startNs - covered(jobsUnder(s).map(j => (j.startNs, j.endNs)),
        s.startNs, s.endNs)) / 1e6

    val self = Trace.selfTimes(inOps)
    def selfOf(layer: String) = inOps.filter(_.layer == layer).map(s => self(s.id)).sum / n

    val ex = inOps.flatMap(s => Trace.exec.get(s.id))
    val qs = traced.flatMap(_.queries)
    def phase(k: String) = qs.map(_.phasesMs.getOrElse(k, 0L)).sum / n

    val reads = traced.filter(_.cls == "read")
    val nr = math.max(1, reads.size).toDouble
    val readQs = reads.flatMap(_.queries)

    val commits = inOps.filter(_.name.startsWith("commit."))
    def commitMs(kind: String) = mean(commits.filter(_.name == s"commit.$kind").map(_.ms))

    // tracing overhead: traced vs untraced median latency, per class, averaged
    val overhead = mean(Seq("read", "write").flatMap { cls =>
      val t = ops.filter(o => o.cls == cls && o.traced).map(_.ms)
      val u = ops.filter(o => o.cls == cls && !o.traced).map(_.ms)
      if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t) / Stats.median(u) - 1.0)
    })

    val common = Map(
      "sql.parse_ms" -> phase("parsing"),
      "sql.analysis_ms" -> phase("analysis"),
      "sql.optimization_ms" -> phase("optimization"),
      "sql.planning_ms" -> phase("planning"),
      "lake.commit_self_ms" -> mean(commits.map(driverSelfMs)),
      "scan.files_read" -> readQs.map(_.filesRead).sum / nr,
      "scan.bytes_read" -> readQs.map(_.bytesRead).sum / nr,
      "exec.jobs_per_op" -> ex.map(_.jobs).sum / n,
      "exec.tasks_per_op" -> ex.map(_.tasks).sum / n,
      "exec.task_cpu_ms" -> ex.map(_.cpuNs).sum / 1e6 / n,
      "exec.shuffle_bytes" -> ex.map(_.shuffleBytes).sum / n,
      "exec.spill_bytes" -> ex.map(_.spillBytes).sum / n,
      "exec.slowest_task_ms" -> (if (ex.isEmpty) 0.0 else ex.map(_.slowestTaskMs).max.toDouble),
      "exec.stage_skew" -> (if (ex.isEmpty) 0.0 else ex.map(_.worstSkew).max),
      "exec.driver_self_ms" -> traced.flatMap(_.span).map(driverSelfMs).sum / n,
      "mat.storage_bytes_peak" -> Trace.memPeak.toDouble,
      "mat.disk_bytes_peak" -> Trace.diskPeak.toDouble,
      "jvm.gc_ms" -> gcMs / math.max(1, ops.size).toDouble,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.rss_peak_mb" -> rssPeakMb,
      "self_ms.op" -> selfOf("op"),
      "self_ms.sql" -> selfOf("sql"),
      "self_ms.lake" -> selfOf("lake"),
      "self_ms.pipeline" -> selfOf("pipeline"),
      "self_ms.streaming" -> selfOf("streaming"),
      "self_ms.exec" -> selfOf("exec"),
      "trace.overhead_ratio" -> overhead,
      "trace.ops" -> traced.size.toDouble) ++
      CommitKinds.map(k => s"lake.commit_ms.$k" -> commitMs(k))
    val all = common ++ wl.layerMetrics(ops)
    names.map(k => k -> all.getOrElse(k, 0.0))
  }
}
