package perfbench

import scala.util.Try

import org.apache.spark.sql.execution.QueryExecution

/** The per-layer metrics of one traced iteration, named after the
  * program's modules (see NOTES.md for which end-to-end metric each
  * should move, on which workload). Every workload reports every name;
  * a layer a workload never calls reads 0. */
object Layers {

  val sinks: Seq[String] = Seq("quality_assurance", "contact_profile_updates",
    "original_triage_needs", "original_triage_notes", "food_needs",
    "callback_needs", "remaining_needs", "contacts")

  private val execCounters: Seq[(String, String)] = Seq(
    "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "tasks" -> "count",
    "stages" -> "count", "task_wait_s" -> "s", "shuffle_write_mb" -> "MB",
    "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "failed_tasks" -> "count")

  private val streamCounters: Seq[(String, String)] = Seq(
    "batches" -> "count", "trigger_s" -> "s", "add_batch_s" -> "s",
    "wal_commit_s" -> "s", "state_commit_s" -> "s", "state_rows" -> "count")

  /** Every per-layer metric with its unit, in report order. */
  def names(panel: Seq[String]): Seq[(String, String)] =
    Seq("beacon.read.s" -> "s", "beacon.read.scan_passes" -> "count",
      "beacon.read.scan_tasks" -> "count", "beacon.read.scan_task_s" -> "s",
      "beacon.read.scan_wall_s" -> "s", "exec.single_task_stage_s" -> "s",
      "beacon.base.s" -> "s", "beacon.base.disk_mb" -> "MB",
      "beacon.derive.build_s" -> "s") ++
      sinks.map(n => s"beacon.sink.${n}_s" -> "s") ++
      Seq("beacon.sink.rows" -> "count", "beacon.sink.out_mb" -> "MB",
        "beacon.import.validate_s" -> "s", "beacon.import.j3_s" -> "s",
        "beacon.import.j4_s" -> "s", "beacon.import.j5_s" -> "s",
        "beacon.import.rows" -> "count",
        "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
        "plan.planning_s" -> "s", "codegen.compile_s" -> "s",
        "codegen.classes" -> "count",
        "queries.build_s" -> "s", "queries.exec_s" -> "s",
        "queries.jobs" -> "count") ++
      EnginePanel.families.map(f => s"queries.${f}_s" -> "s") ++
      panel.flatMap(q => Seq(s"query.$q.cold_s" -> "s", s"query.$q.warm_s" -> "s")) ++
      Seq("plans.dedup.verify_pairs" -> "count", "plans.dedup.verify_yield" -> "1",
        "functions.fuzzy.candidate_pairs" -> "count",
        "functions.fuzzy.match_yield" -> "1", "operators.graph.jobs" -> "count") ++
      streamCounters.map { case (k, u) => s"streaming.$k" -> u } ++
      execCounters.map { case (k, u) => s"exec.$k" -> u } ++
      Seq("trace.overhead_s" -> "s", "trace.root_s" -> "s",
        "trace.self_sum_s" -> "s", "trace.unattributed_s" -> "s",
        "peak_heap_mb" -> "MB", "failed_frac" -> "1")

  /** Read from the cold iteration only: driver phases, code generation
    * and the plan work counters happen where a plan is first built (warm
    * iterations may reuse cached artifacts). */
  val coldOnly: Set[String] = Set("plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "codegen.compile_s", "codegen.classes",
    "plans.dedup.verify_pairs", "plans.dedup.verify_yield",
    "functions.fuzzy.candidate_pairs", "functions.fuzzy.match_yield")

  def of(workload: String, spans: Seq[Span], stage: Map[String, Double],
      stream: Map[String, Double], plans: Seq[QueryExecution], it: Iter,
      compiles: Long, meanCompileS: Double): Map[String, Double] = {
    val dur = Tracer.durations(spans)
    val self = Tracer.selfTimes(spans)
    val root = spans.filter(_.parent == -1)
    def d(n: String) = dur.getOrElse(n, 0.0)
    def staged(counter: String, group: String => Boolean): Double =
      stage.collect { case (k, v) if k.endsWith("|" + counter) &&
        group(k.substring(0, k.lastIndexOf('|'))) => v }.sum
    val beacon = workload != "engine_panel"
    // the workload's input: every file scan except the read-back of the
    // staged outputs in the import stage
    def inputScan(g: String) = beacon && !g.startsWith("beacon.import.")
    val phases = plans.flatMap(qe => Try(qe.tracker.phases.toSeq).getOrElse(Nil))
    def phase(p: String) = phases.collect { case (`p`, s) => s.durationMs / 1e3 }.sum
    val work = PlanCounters.count(plans.flatMap(qe => Try(qe.executedPlan).toOption))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val panel = EnginePanel.panel

    Map(
      "beacon.read.s" -> d("beacon.read"),
      "beacon.read.scan_passes" -> staged("scan_passes", inputScan),
      "beacon.read.scan_tasks" -> staged("scan_tasks", inputScan),
      "beacon.read.scan_task_s" -> staged("scan_task_s", inputScan),
      "beacon.read.scan_wall_s" -> staged("scan_wall_s", inputScan),
      "exec.single_task_stage_s" -> staged("single_task_stage_s", _ => true),
      "beacon.base.s" -> d("beacon.base"),
      "beacon.base.disk_mb" -> it.counts("beacon.base.disk_mb"),
      "beacon.derive.build_s" -> d("beacon.derive.build"),
      "beacon.sink.rows" -> it.counts("beacon.sink.rows"),
      "beacon.sink.out_mb" -> it.counts("beacon.sink.out_mb"),
      "beacon.import.validate_s" -> d("beacon.import.validate"),
      "beacon.import.j3_s" -> d("beacon.import.j3"),
      "beacon.import.j4_s" -> d("beacon.import.j4"),
      "beacon.import.j5_s" -> d("beacon.import.j5"),
      "beacon.import.rows" -> it.counts("beacon.import.rows"),
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "codegen.compile_s" -> compiles * meanCompileS,
      "codegen.classes" -> compiles.toDouble,
      "queries.build_s" -> panel.map(q => d(s"query.$q.build")).sum,
      "queries.exec_s" -> panel.map(q => d(s"query.$q.exec")).sum,
      "queries.jobs" -> staged("jobs", _.startsWith("query.")),
      "plans.dedup.verify_pairs" -> work.getOrElse("dedup.in", 0.0),
      "plans.dedup.verify_yield" ->
        ratio(work.getOrElse("dedup.kept", 0.0), work.getOrElse("dedup.in", 0.0)),
      "functions.fuzzy.candidate_pairs" -> work.getOrElse("fuzzy.in", 0.0),
      "functions.fuzzy.match_yield" ->
        ratio(work.getOrElse("fuzzy.kept", 0.0), work.getOrElse("fuzzy.in", 0.0)),
      "operators.graph.jobs" -> staged("jobs", _.startsWith("query.rel_graph_")),
      "trace.root_s" -> root.map(_.seconds).sum,
      "trace.self_sum_s" -> self.values.sum,
      "trace.unattributed_s" -> root.map(r => self(r.id)).sum) ++
      sinks.map(n => s"beacon.sink.${n}_s" -> d(s"beacon.sink.$n")) ++
      EnginePanel.families.map(f => s"queries.${f}_s" ->
        panel.filter(EnginePanel.family(_) == f).map(q => d(s"query.$q")).sum) ++
      streamCounters.map { case (k, _) => s"streaming.$k" -> stream.getOrElse(k, 0.0) } ++
      execCounters.map { case (k, _) => s"exec.$k" -> staged(k, _ => true) }
  }
}
