package perfbench

/** Turns one run's op log, spans and samples into the result line and a
  * report line. The end-to-end metrics keep one name across workloads
  * (each workload says which of its ops form the latency and bulk
  * classes); each workload's own metric names ride in the report.
  */
final case class Report(run: Run, sum: Summary, setupS: Seq[Double], warmupS: Double, measuredS: Double,
                        host: Map[String, Any]) {
  private val ops = run.ops.toSeq
  private val attempted = ops.size
  private val failed = ops.count(!_.ok)
  // `probe.*` ops are diagnostics outside the workload's op mix
  private val timed = ops.filter(o => !o.warm && o.ok && !o.kind.startsWith("probe."))
  private val latency = timed.filter(o => sum.latencyKinds(o.kind))

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setupS), "s"),
    Metric("ok_op_ratio", 1.0 - failed.toDouble / math.max(1, attempted), "ratio"),
    Metric("heap_live_peak_mb", run.heapLiveMb.maxOption.getOrElse(Double.NaN), "MB"),
    Metric("op_p50_ms", Stats.median(latency.filter(!_.traced).map(_.ms)), "ms"),
    Metric("bulk_per_s", sum.bulkPerS, "1/s"),
    Metric("quality", sum.quality, "ratio"))

  private val tracedOps = timed.filter(_.traced)
  private val tracer = run.tracer
  private def countersOfReq(req: Long): Seq[SparkCounters] =
    tracer.all.filter(_.req == req).flatMap(s => tracer.countersOf(s.id))
  private def perOp(f: SparkCounters => Double, ops: Seq[OpRec] = tracedOps): Double =
    if (ops.isEmpty) Double.NaN else ops.map(o => countersOfReq(o.req).map(f).sum).sum / ops.size
  /** Op wall time not covered by any of its running tasks. */
  private def driverOnlyMs(o: OpRec): Double = {
    val (s, e) = (tracer.epochMs(o.startNs), tracer.epochMs(o.endNs))
    val iv = countersOfReq(o.req).flatMap(_.taskIntervals)
      .map { case (a, b) => (math.max(a.toDouble, s), math.min(b.toDouble, e)) }
      .filter { case (a, b) => b > a }
      .map { case (a, b) => ((a * 1000).toLong, (b * 1000).toLong) }
    o.ms - Tracer.unionNs(iv) / 1000.0
  }
  private def spanMs(name: String): Seq[Double] = {
    val reqs = tracedOps.map(_.req).toSet
    tracer.all.filter(s => s.name == name && reqs(s.req)).map(_.durNs / 1e6)
  }
  private val tracedLat = latency.filter(_.traced).map(_.ms)
  private val untracedLat = latency.filter(!_.traced).map(_.ms)

  val perLayer: Seq[Metric] = Seq(
    Metric("spark.session_start_s", Stats.median(run.sessionStartS.toSeq), "s"),
    Metric("spark.job_floor_ms", Stats.median(run.jobFloorMs.toSeq), "ms"),
    Metric("spark.jobs_per_op", perOp(_.jobs.toDouble), "count"),
    Metric("spark.tasks_per_op", perOp(_.tasks.toDouble), "count"),
    Metric("spark.driver_only_ms", Stats.median(tracedOps.map(driverOnlyMs)), "ms"),
    Metric("spark.task_busy_s", perOp(_.taskRunMs / 1000.0), "s"),
    Metric("spark.task_cpu_s", perOp(_.taskCpuNs / 1e9), "s"),
    Metric("spark.result_bytes_per_op", perOp(_.resultBytes.toDouble), "B"),
    Metric("spark.broadcast_bytes_per_op", perOp(_.broadcastBytes.toDouble), "B"),
    Metric("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "B"),
    Metric("spark.shuffle_read_bytes", perOp(_.shuffleReadBytes.toDouble), "B"),
    Metric("spark.spill_bytes", perOp(_.spillBytes.toDouble), "B"),
    Metric("jvm.gc_s_per_op", if (tracedOps.isEmpty) Double.NaN else tracedOps.map(_.gcMs).sum / 1000.0 / tracedOps.size, "s"),
    Metric("jvm.heap_live_mb", Stats.median(run.heapLiveMb.toSeq), "MB"),
    Metric("api.call_ms", Stats.median(spanMs(sum.apiCallSpan)), "ms"),
    Metric("api.exec_ms", Stats.median(spanMs(sum.apiExecSpan)), "ms"),
    Metric("api.build_s", Stats.median(sum.apiBuildS), "s"),
    Metric("trace.overhead_ratio", Stats.median(tracedLat) / Stats.median(untracedLat), "ratio"))

  /** Per op kind (traced ops): count, p50, Spark work and layer self times. */
  private def byKind: Map[String, Any] = tracedOps.groupBy(_.kind).map { case (kind, os) =>
    val self = tracer.selfNsByLayer(os.map(_.req).toSet).map { case (l, ns) => l -> ns / 1e6 / os.size }
    kind -> Map(
      "traced_ops" -> os.size, "p50_ms" -> Stats.median(os.map(_.ms)),
      "jobs_per_op" -> perOp(_.jobs.toDouble, os), "tasks_per_op" -> perOp(_.tasks.toDouble, os),
      "broadcast_bytes_per_op" -> perOp(_.broadcastBytes.toDouble, os),
      "shuffle_write_bytes_per_op" -> perOp(_.shuffleWriteBytes.toDouble, os),
      "driver_only_ms_p50" -> Stats.median(os.map(driverOnlyMs)),
      "self_ms_per_op_by_layer" -> self)
  }

  private def metricsJson(ms: Seq[Metric]): String =
    Json.obj(ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)))

  private def allFinite(ms: Seq[Metric]): Boolean = ms.forall(m => !m.value.isNaN && !m.value.isInfinite)

  val report: String = Json.obj(Seq(
    "workload" -> run.args.workload, "seed" -> run.args.seed, "trace" -> run.args.trace,
    "warmup_s" -> warmupS, "measured_s" -> measuredS, "setup_s_each" -> setupS, "session_start_s_each" -> run.sessionStartS.toSeq,
    "failed_op_ratio" -> failed.toDouble / math.max(1, attempted),
    "latency_samples" -> untracedLat.size,
    "op_ms" -> timed.filter(!_.traced).groupBy(_.kind).map { case (k, os) => k -> os.map(o => math.round(o.ms).toDouble) },
    "workload_metrics" -> Json.Raw(metricsJson(sum.named)),
    "class_data_archive" -> Report.classDataArchive, "host" -> host, "notes" -> sum.notes.toMap, "errors" -> run.errors.toSeq) ++
    (if (run.args.trace) Seq(
      "workload_layer_metrics" -> Json.Raw(metricsJson(sum.layerNamed)),
      "latency_p50_ms" -> Map("traced" -> Stats.median(tracedLat), "untraced" -> Stats.median(untracedLat)),
      "by_kind" -> byKind)
    else Nil))

  val result: String = {
    val ms = if (run.args.trace) perLayer else endToEnd
    // a metric that could not be measured makes the run incorrect
    Json.obj(Seq("correct" -> (failed == 0 && allFinite(ms)), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(metricsJson(ms))))
  }
}

object Report {
  /** Whether this JVM maps run.py's class-data archive; run.py launches
    * with -Xshare:on, which refuses to start without it.
    */
  def classDataArchive: Boolean = {
    val a = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    a.contains("-Xshare:on") && a.stream().anyMatch(_.startsWith("-XX:SharedArchiveFile="))
  }
}
