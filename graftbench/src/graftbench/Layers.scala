package graftbench

/** The per-layer metric table printed by a traced run. Every workload
  * prints every name, so a layer a workload does not exercise reads 0
  * there; the names follow the engine's module names.
  */
object Layers {
  /** Modules whose Spark counters are reported. */
  val modules: Seq[String] = Seq(
    "ingest.Ingest", "ingest.FileIndex", "fts.FtsIndex", "fts.Bm25",
    "runtime.PipelineSession", "session.LoadHistory", "ops.IngestPipeline", "ops.Decontaminate",
    "ops.IndexStore", "ops.Dedup", "ops.Classifier", "ops.Similarity",
    "ops.Components", "ops.TextAnalysis")

  /** Spill is reported as the `spark.spill_bytes` total only: it is 0
    * at the benchmark's scale, and per module it would push the table
    * past 128 names.
    */
  val counters: Seq[String] = Seq(
    "jobs", "stages", "tasks", "task_cpu_ms", "gc_ms", "shuffle_write_bytes")

  /** Analyze's operator calls, in round order. */
  val analyzeCalls: Seq[String] = Seq(
    "remove_dup_lines", "remove_dup_spans", "dedup_clusters",
    "classifier_train", "classifier_score", "classifier_calibration",
    "ann_ivf", "ann_recall", "perplexity_kn", "dsir_weights")

  /** Span and count metrics taken around public calls, with units. */
  val spans: Seq[(String, String)] = Seq(
    "core.session_start_ms" -> "ms", "core.register_ms" -> "ms",
    "ingest.load_ms" -> "ms", "ingest.files_read_ratio" -> "ratio",
    "fts.search_ms" -> "ms",
    "compile.pipeline_us" -> "us", "compile.duck_rewrite_us" -> "us",
    "plans.plan_ms" -> "ms",
    "runtime.execute_ms" -> "ms", "runtime.memo_hit_ratio" -> "ratio",
    "session.write_ms" -> "ms",
    "ops.shard_ms" -> "ms", "ops.job_overlap" -> "ratio",
    "ops.maintain_ms" -> "ms", "ops.index_bytes_appended" -> "bytes",
    "ops.manifest_lines" -> "count", "ops.dirty_fraction" -> "ratio",
    "ops.docs_kept_ratio" -> "ratio") ++
    analyzeCalls.map(c => s"ops.${c}_ms" -> "ms") ++ Seq(
    "spark.cpu_busy" -> "ratio", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "trace.overhead_ratio" -> "ratio")

  def counterUnit(c: String): String =
    if (c.endsWith("_ms")) "ms" else if (c.endsWith("_bytes")) "bytes" else "count"

  val names: Seq[String] =
    spans.map(_._1) ++ modules.flatMap(m => counters.map(c => s"$m.$c"))

  private val units: Map[String, String] =
    (spans ++ modules.flatMap(m => counters.map(c => s"$m.$c" -> counterUnit(c)))).toMap

  def unit(name: String): String = units(name)

  def assemble(ctx: Ctx, wl: Workload, traced: Seq[RoundResult], untraced: Seq[RoundResult],
               startMs: Seq[Double], registerMs: Seq[Double]): Seq[(String, Double)] = {
    val n = math.max(1, traced.size)
    val snap = ctx.listener.snapshot()
    System.err.println("[graftbench] modules seen: " + snap.keys.toSeq.sorted.mkString(", "))
    def per(v: Double) = v / n
    val moduleVals: Map[String, Double] = modules.flatMap { m =>
      val c = snap.get(m)
      Seq(
        s"$m.jobs" -> c.map(_.jobs.toDouble), s"$m.stages" -> c.map(_.stages.toDouble),
        s"$m.tasks" -> c.map(_.tasks.toDouble), s"$m.task_cpu_ms" -> c.map(_.cpuNs / 1e6),
        s"$m.gc_ms" -> c.map(_.gcMs.toDouble),
        s"$m.shuffle_write_bytes" -> c.map(_.shuffleWrite.toDouble))
        .map { case (k, v) => k -> per(v.getOrElse(0.0)) }
    }.toMap
    val all = snap.values
    val tracedWallMs = traced.map(_.wallMs).sum
    val cpuMs = all.map(_.cpuNs).sum / 1e6
    val sparkVals = Map(
      "spark.cpu_busy" -> (if (tracedWallMs > 0) cpuMs / (tracedWallMs * Main.cores) else 0.0),
      "spark.jobs" -> per(all.map(_.jobs).sum.toDouble),
      "spark.stages" -> per(all.map(_.stages).sum.toDouble),
      "spark.tasks" -> per(all.map(_.tasks).sum.toDouble),
      "spark.shuffle_write_bytes" -> per(all.map(_.shuffleWrite).sum.toDouble),
      "spark.spill_bytes" -> per(all.map(_.spill).sum.toDouble),
      "trace.overhead_ratio" -> {
        val t = Stats.median(traced.map(_.wallMs)); val u = Stats.median(untraced.map(_.wallMs))
        if (u > 0 && !t.isNaN) t / u else 0.0
      },
      "core.session_start_ms" -> Stats.median(startMs),
      "core.register_ms" -> Stats.median(registerMs))
    val wlVals = wl.layerMetrics(ctx, traced)
    names.map { k =>
      val v = wlVals.get(k).orElse(sparkVals.get(k)).orElse(moduleVals.get(k))
        .getOrElse(if (ctx.trace.values(k).nonEmpty) ctx.trace.median(k) else 0.0)
      k -> (if (v.isNaN || v.isInfinite) 0.0 else v)
    }
  }
}
