package perfbench

/** Per-layer metrics of one traced pass, and the traced run's report.
  * Every name below is reported on every workload; a layer a workload does
  * not exercise reads 0. README.md maps each one to the end-to-end metric
  * it should move.
  */
object Layers {

  /** Operator calls, named `<Object>.<function>` (Knn variants apart). */
  val ops: Seq[String] = Seq(
    "Knn.knn_cosine", "Knn.knn_l2", "Knn.knn_filtered", "Knn.avgRecall",
    "PageRank.pageRank", "PageRank.pageRankUntil", "KCore.coreness", "LabelProp.propagate",
    "Dedup.dedupPipeline", "Dedup.minhashLshPairs", "Dedup.removeExactSubstrChar")

  /** (name, unit), in report order. */
  val metrics: Seq[(String, String)] = Seq(
    "spark.pass_ms" -> "ms",
    "spark.plan_ms" -> "ms",
    "spark.cold_plan_ms" -> "ms",
    "spark.codegen_classes" -> "count",
    "spark.driver_gap_ms" -> "ms",
    "spark.driver_gap_share" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks_per_stage" -> "ratio",
    "spark.job_busy_ms" -> "ms",
    "spark.job_busy_share" -> "ratio",
    "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.core_util" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_bytes_per_item" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.storage_peak_mb" -> "MB",
    "spark.storage_leak_mb" -> "MB",
    "spark.gc_ms" -> "ms",
    "functions.distance.pairs_per_cpu_s" -> "1/s",
    "functions.hash.docs_per_cpu_s" -> "1/s",
    "sources.xvec.write_ms" -> "ms",
    "sources.xvec.write_mb_per_s" -> "MB/s",
    "sources.xvec.read_ms" -> "ms",
    "sources.xvec.read_rows_per_s" -> "1/s",
    "sources.slab.append_ms" -> "ms",
    "sources.slab.getall_ms" -> "ms",
    "predicates.compile_ms" -> "ms",
  ) ++ ops.flatMap(o => Seq(s"op.$o.ms" -> "ms", s"op.$o.jobs" -> "count",
    s"op.$o.driver_gap_ms" -> "ms")) :+ ("op.PageRank.pageRankUntil.rounds" -> "count")

  /** Metrics taken from the cold pass; the rest are warm-pass medians. */
  private val fromCold = Set("spark.cold_plan_ms", "spark.codegen_classes")

  def of(p: Pass, rec: Recorder, items: Long, cores: Int, codegenClasses: Long)
      : Map[String, Double] = {
    val jobs = rec.jobIntervals
    val phases = rec.planPhases
    val spans = p.spans.toSeq
    def spanJobs(s: Span) = jobs.filter(_._1 == s.op).map(j => (j._2, j._3))
    def busy(s: Span) = Intervals.unionMs(spanJobs(s), s.startMs, s.endMs).toDouble
    def ms(op: String) = spans.filter(_.op == op).map(_.ms).sum
    def cpuS(ops: Seq[String]) = ops.map(rec.totalsFor(_).cpuNs).sum / 1e9
    def per(count: Double, seconds: Double) = if (seconds > 0) count / seconds else 0.0
    val t = spans.map(s => rec.totalsFor(s.op))
    val jobBusy = spans.map(busy).sum
    val plan = phases.filter { case (a, _) => spans.exists(s => a >= s.startMs && a <= s.endMs) }
      .map { case (a, b) => (b - a).toDouble }.sum
    val stages = t.map(_.stages).sum.toDouble
    val runMs = t.map(_.runMs).sum.toDouble
    val shuffle = t.map(s => s.shuffleReadBytes + s.shuffleWriteBytes).sum.toDouble
    val mb = 1024.0 * 1024.0
    val counter = (k: String) => p.counters.getOrElse(k, 0.0)
    val base = Map(
      "spark.pass_ms" -> p.ms,
      "spark.plan_ms" -> plan,
      "spark.cold_plan_ms" -> plan,
      "spark.codegen_classes" -> codegenClasses.toDouble,
      "spark.driver_gap_ms" -> (p.ms - jobBusy),
      "spark.driver_gap_share" -> (1 - jobBusy / p.ms),
      "spark.jobs" -> spans.map(spanJobs(_).size).sum.toDouble,
      "spark.stages" -> stages,
      "spark.tasks_per_stage" -> (if (stages > 0) t.map(_.tasks).sum / stages else 0.0),
      "spark.job_busy_ms" -> jobBusy,
      "spark.job_busy_share" -> jobBusy / p.ms,
      "spark.task_run_ms" -> runMs,
      "spark.task_cpu_ms" -> t.map(_.cpuNs).sum / 1e6,
      "spark.core_util" -> (if (jobBusy > 0) runMs / (jobBusy * cores) else 0.0),
      "spark.shuffle_read_bytes" -> t.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> t.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_bytes_per_item" -> shuffle / items,
      "spark.spill_bytes" -> t.map(_.spillBytes).sum.toDouble,
      "spark.storage_peak_mb" -> rec.storagePeak / mb,
      "spark.storage_leak_mb" -> spans.map(s => math.max(0L, s.heldAfter - s.heldBefore)).sum / mb,
      "spark.gc_ms" -> spans.map(_.gcMs).sum.toDouble,
      "functions.distance.pairs_per_cpu_s" -> per(counter("distance_pairs"),
        cpuS(ops.filter(_.startsWith("Knn.knn_")))),
      "functions.hash.docs_per_cpu_s" -> per(counter("hash_docs"),
        cpuS(Seq("Dedup.minhashLshPairs"))),
      "sources.xvec.write_ms" -> ms("XvecIO.write"),
      "sources.xvec.write_mb_per_s" -> per(counter("xvec_bytes") / mb, ms("XvecIO.write") / 1000),
      "sources.xvec.read_ms" -> ms("XvecIO.read"),
      "sources.xvec.read_rows_per_s" -> per(counter("xvec_rows"), ms("XvecIO.read") / 1000),
      "sources.slab.append_ms" -> ms("SlabTable.append"),
      "sources.slab.getall_ms" -> ms("SlabTable.getAll"),
      "predicates.compile_ms" -> ms("PNodeCompiler.compile"),
      "op.PageRank.pageRankUntil.rounds" -> counter("pagerank_rounds"))
    base ++ spans.filter(s => ops.contains(s.op)).flatMap { s =>
      Seq(s"op.${s.op}.ms" -> s.ms, s"op.${s.op}.jobs" -> spanJobs(s).size.toDouble,
        s"op.${s.op}.driver_gap_ms" -> (s.ms - busy(s)))
    }
  }

  /** Every metric: cold-pass ones from `cold`, the rest as the median over
    * the traced warm passes.
    */
  def report(cold: Map[String, Double], warm: Seq[Map[String, Double]])
      : Seq[(String, Double, String)] =
    metrics.map { case (name, unit) =>
      val v = if (fromCold(name)) cold.getOrElse(name, 0.0)
        else Main.median(warm.map(_.getOrElse(name, 0.0)))
      (name, v, unit)
    }
}
