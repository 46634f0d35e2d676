package perfbench

import Main.Metric

/**
 * Per-layer metrics of a traced run, each per timed request unless its name
 * says otherwise. A layer the workload does not call reports 0.
 */
object Layers {

  /** Listener counters summed over a request's spans: name -> unit. The
    * result line has room for about 25 metrics; the report keeps the rest:
    * every counter per span name, and every count a workload reads off its
    * outputs. */
  val SessionCounters: Seq[(String, String)] = Seq("jobs" -> "count",
    "tasks" -> "count", "plan_ms" -> "ms", "codegen_ms" -> "ms",
    "exec_run_ms" -> "ms", "shuffle_write_kb" -> "KB")

  /** Harness spans around layer calls in a request: span -> metric. */
  val SpanTimes: Seq[(String, String)] = Seq(
    "byokg.link" -> "byokg.link_ms", "byokg.context" -> "byokg.context_ms",
    "byokg.ppr" -> "byokg.ppr_ms", "byokg.cypher" -> "byokg.cypher_ms")

  /** Counts a workload reads off its outputs, per request or, for ops and
    * index, of the set-up build: metric name -> unit. */
  val OutputCounts: Seq[(String, String)] = Seq(
    "ops.docs_kept" -> "count", "index.chunks" -> "count",
    "pipeline.retrieve_ms" -> "ms", "pipeline.postprocessing_ms" -> "ms",
    "pipeline.answer_ms" -> "ms", "pipeline.context_tokens" -> "count",
    "byokg.link_hit_ratio" -> "fraction")

  /** Set-up spans, reported as total ms of the run. */
  val SetupSpans: Seq[String] = Seq("setup.session", "setup.graph_build",
    "ops.curation", "index.build", "setup.kg_layout")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    SessionCounters.map { case (k, u) => s"session.$k" -> u } ++
      Seq("session.driver_ms" -> "ms", "session.core_util" -> "fraction") ++
      SpanTimes.map(_._2 -> "ms") ++ OutputCounts ++
      SetupSpans.map(s => s"${s}_ms" -> "ms")

  def metrics(t: Tracer, counts: Map[String, Double], cores: Int,
              warmup: Int): Seq[Metric] = {
    val spans = t.spans
    val inTimed = spans.filter(_.request >= warmup)
    val requests = inTimed.filter(_.name == "request")
    val n = math.max(1, requests.size).toDouble
    def ms(s: Span) = (s.end - s.start) / 1e6
    def sum(k: String) = inTimed.map(s => t.counter(s.id, k)).sum
    val wallMs = requests.map(ms).sum
    val driverMs = requests.map { r =>
      val ids = inTimed.filter(_.request == r.request).map(_.id)
      math.max(0.0, ms(r) - t.jobBusyMs(ids))
    }.sum
    val values: Map[String, Double] =
      SessionCounters.map { case (k, _) => s"session.$k" -> sum(k) / n }.toMap ++
      Map("session.driver_ms" -> driverMs / n,
        "session.core_util" -> sum("exec_run_ms") / math.max(1.0, wallMs * cores)) ++
      SpanTimes.map { case (s, m) =>
        m -> inTimed.filter(_.name == s).map(ms).sum / n }.toMap ++
      OutputCounts.map { case (k, _) => k -> counts.getOrElse(k, 0.0) }.toMap ++
      SetupSpans.map(s => s"${s}_ms" ->
        spans.filter(_.name == s).map(ms).sum).toMap
    names.map { case (k, u) => Metric(k, values(k), u) }
  }

  val SpanCounters: Seq[String] = Seq("jobs", "stages", "tasks", "plan_ms",
    "codegen_ms", "codegen_compiles", "exec_run_ms", "exec_cpu_ms", "gc_ms",
    "shuffle_write_kb", "shuffle_read_kb", "spill_kb")

  /** Per span name: calls, total and self ms, and the Spark counters
    * credited to those spans. Self ms excludes time covered by children. */
  def spanSummary(t: Tracer): Seq[Map[String, Any]] = {
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      Map("span" -> name, "calls" -> ss.size,
        "total_ms" -> ss.map(s => (s.end - s.start) / 1e6).sum,
        "self_ms" -> ss.map(s =>
          Tracer.selfNs(s, children.getOrElse(s.id, Nil)) / 1e6).sum) ++
        SpanCounters.map(k => k -> ss.map(s => t.counter(s.id, k)).sum)
    }
  }
}
