package perfbench

/** Per-layer metrics of a traced run, named after graft's modules.
  * Span times are medians over the ops that entered the layer (0 when
  * no op did); counts sampled after each op are medians over ops. Every
  * name is always reported, so a workload that bypasses a layer reads 0
  * there. */
object Layers {

  val StarEntries: Seq[String] = Seq("q1_pricing_summary", "q5_local_supplier",
    "q9_product_profit", "q21_waiting_orders", "q_window_topk", "q_cards_per_set",
    "json_extract", "lake_sets_agg", "lake_key_scan", "lake_asof_agg")
  val Kernels: Seq[String] = Seq("WsTokenize", "ShingleHash64", "MinHashSignature",
    "AdcLookup", "CosineSimilarity")
  val ClassNames: Seq[String] = Seq("planning", "driver_gap", "shuffle", "kernel")

  /** (name, unit) of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "ingest.plan_s" -> "s", "ingest.rows" -> "count", "ingest.invalid_rows" -> "count",
    "lakedml.s" -> "s", "lakedml.jobs" -> "count", "lakedml.driver_gap_s" -> "s",
    "lakedml.executor_cpu_s" -> "s",
    "lake.meta_s" -> "s", "lake.log_records" -> "count", "lake.live_files" -> "count",
    "lake.bytes_written" -> "bytes", "lake.compact_s" -> "s", "lake.read_s" -> "s",
    "lake.pruned_ratio" -> "ratio", "lake.write_amp" -> "ratio", "lake.space_amp" -> "ratio",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.codegen_s" -> "s", "catalyst.codegen_compiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s") ++
    StarEntries.map(e => s"op.$e.p50_s" -> "s") ++ Seq(
    "dedupindex.probe_s" -> "s", "dedupindex.append_s" -> "s", "dedupindex.compact_s" -> "s",
    "dedupindex.fragments" -> "count", "dedupindex.pairs" -> "count",
    "dedupindex.novel_ratio" -> "ratio",
    "annindex.append_s" -> "s", "annindex.serve_s" -> "s", "annindex.compact_s" -> "s",
    "annindex.fragments" -> "count", "indexstore.write_amp" -> "ratio") ++
    Kernels.map(k => s"functions.$k.rows_per_s" -> "1/s") ++ Seq(
    "sessioncache.views" -> "count", "sessioncache.pinned_mb" -> "MB") ++
    ClassNames.map(c => s"class.$c.share" -> "ratio")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def jobIv(js: Seq[JobRec]) = js.map(j => (j.start.toDouble, j.end.toDouble))
  private def stageIv(ss: Seq[StageRec]) = ss.map(s => (s.start.toDouble, s.end.toDouble))

  /** Root span of every op, by op index. */
  private def roots(tr: Tracer, ops: Int): Seq[Span] =
    (0 until ops).flatMap(i => tr.opSpans(i, "op").find(_.name == "op"))

  def apply(tr: Tracer, ctx: Ctx, outs: Seq[OpOut],
      state: Map[String, Double]): collection.Map[String, Double] = {
    val ops = outs.indices
    val rs = roots(tr, outs.size)
    def spansOf(i: Int, layer: String) = tr.opSpans(i, layer)
    /** median over the ops that entered `layer` of f(that op's spans) */
    def layer(name: String)(f: Seq[Span] => Double): Double =
      median(ops.map(spansOf(_, name)).filter(_.nonEmpty).map(f))
    def wall(ss: Seq[Span]) = ss.map(_.wall).sum
    def sampled(name: String) = median(ctx.samples.get(name).map(_.toSeq).getOrElse(Seq.empty))
    def perRoot(f: Span => Double) = median(rs.map(f))
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    m("ingest.plan_s") = layer("ingest.plan")(wall)
    m("ingest.rows") = sampled("ingest.rows")
    m("ingest.invalid_rows") = state.getOrElse("ingest.invalid_rows", 0.0)
    m("lakedml.s") = layer("lakedml")(wall)
    m("lakedml.jobs") = layer("lakedml")(_.flatMap(tr.jobsOf).size.toDouble)
    m("lakedml.driver_gap_s") = layer("lakedml")(_.map(s =>
      s.wall - Intervals.union(jobIv(tr.jobsOf(s)), s.start, s.end)).sum)
    m("lakedml.executor_cpu_s") = layer("lakedml")(_.flatMap(tr.stagesOf).map(_.cpuNs).sum / 1e9)
    m("lake.meta_s") = layer("lake.meta")(wall)
    m("lake.log_records") = sampled("lake.log_records")
    m("lake.live_files") = sampled("lake.live_files")
    m("lake.bytes_written") = sampled("lake.bytes_written")
    m("lake.compact_s") = layer("lake.compact")(wall)
    m("lake.read_s") = layer("lake.read")(wall)
    m("lake.pruned_ratio") = sampled("lake.pruned_ratio")
    m("lake.write_amp") = if (state.contains("space_amp")) state("write_amp") else 0.0
    m("lake.space_amp") = state.getOrElse("space_amp", 0.0)
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_s") = perRoot(r => tr.phasesOf(r).getOrElse(p, 0.0))
    }
    m("catalyst.codegen_s") = perRoot(_.codegenNs / 1e9)
    m("catalyst.codegen_compiles") = perRoot(_.compiles.toDouble)
    m("spark.jobs") = perRoot(r => tr.jobsOf(r).size.toDouble)
    m("spark.stages") = perRoot(r => tr.stagesOf(r).size.toDouble)
    m("spark.tasks") = perRoot(r => tr.stagesOf(r).map(_.tasks).sum.toDouble)
    m("spark.executor_run_s") = perRoot(r => tr.stagesOf(r).map(_.runMs).sum / 1e3)
    m("spark.executor_cpu_s") = perRoot(r => tr.stagesOf(r).map(_.cpuNs).sum / 1e9)
    m("spark.gc_s") = perRoot(r => tr.stagesOf(r).map(_.gcMs).sum / 1e3)
    m("spark.shuffle_read_mb") = perRoot(r => tr.stagesOf(r).map(_.shuffleRead).sum / 1048576.0)
    m("spark.shuffle_write_mb") = perRoot(r => tr.stagesOf(r).map(_.shuffleWrite).sum / 1048576.0)
    m("spark.spill_mb") = perRoot(r => tr.stagesOf(r).map(_.spill).sum / 1048576.0)
    m("spark.driver_gap_s") = perRoot(r => r.wall - Intervals.union(jobIv(tr.jobsOf(r)), r.start, r.end))
    StarEntries.foreach { e =>
      m(s"op.$e.p50_s") = median(ops.flatMap(spansOf(_, s"entry.$e")).filter(_.name == s"entry.$e").map(_.wall))
    }
    m("dedupindex.probe_s") = layer("dedupindex.probe")(wall)
    m("dedupindex.append_s") = layer("dedupindex.append")(wall)
    m("dedupindex.compact_s") = layer("dedupindex.compact")(wall)
    m("dedupindex.fragments") = sampled("dedupindex.fragments")
    m("dedupindex.pairs") = sampled("dedupindex.pairs")
    m("dedupindex.novel_ratio") = sampled("dedupindex.novel_ratio")
    m("annindex.append_s") = layer("annindex.append")(wall)
    m("annindex.serve_s") = layer("annindex.serve")(wall)
    m("annindex.compact_s") = layer("annindex.compact")(wall)
    m("annindex.fragments") = sampled("annindex.fragments")
    m("indexstore.write_amp") = if (state.contains("space_amp")) 0.0 else state.getOrElse("write_amp", 0.0)
    Kernels.foreach { k =>
      m(s"functions.$k.rows_per_s") = state.getOrElse(s"functions.$k.rows_per_s", 0.0)
    }
    m("sessioncache.views") = sampled("sessioncache.views")
    m("sessioncache.pinned_mb") = sampled("sessioncache.pinned_mb")
    val cls = classes(tr, outs.size)
    ClassNames.foreach(c => m(s"class.$c.share") = cls.getOrElse(c, 0.0))
    assert(m.keys.toSeq == Names.map(_._1), "per-layer names out of step with Layers.Names")
    m
  }

  /** The op's self-time split: planning (analysis, optimization,
    * planning phases and codegen), driver gap (wall outside every job
    * and every planning phase), shuffle (time covered by stages that
    * read or write shuffle data) and kernel (the rest of job time). */
  def split(tr: Tracer, r: Span): Map[String, Double] = {
    val planning = tr.phasesOf(r).values.sum + r.codegenNs / 1e9
    val jobs = Intervals.union(jobIv(tr.jobsOf(r)), r.start, r.end)
    val shuffle = math.min(jobs, Intervals.union(
      stageIv(tr.stagesOf(r).filter(s => s.shuffleRead > 0 || s.shuffleWrite > 0)), r.start, r.end))
    Map("planning" -> planning, "driver_gap" -> math.max(0.0, r.wall - jobs - planning),
      "shuffle" -> shuffle, "kernel" -> (jobs - shuffle))
  }

  /** Share of ops whose largest self-time part is each class. */
  def classes(tr: Tracer, ops: Int): collection.Map[String, Double] = {
    val rs = roots(tr, ops)
    val labels = rs.map(r => split(tr, r).maxBy(_._2)._1)
    scala.collection.immutable.ListMap(
      ClassNames.map(c => c -> labels.count(_ == c).toDouble / math.max(1, rs.size)): _*)
  }
}
