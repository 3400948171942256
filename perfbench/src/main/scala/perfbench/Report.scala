package perfbench

import java.nio.file.{Files, Path}

import perfbench.Main.Metric

/** Turns a run's spans into metrics, the printed table and the result line. */
object Report {
  private val MB = 1e6

  /** The metrics a user of the engine sees, from the untraced timed passes.
    * `minSamples` is the number of op samples every run is sure to have. */
  def endToEnd(r: Runner, setupS: Double, minSamples: Int): Seq[Metric] = {
    val timed = r.passes.filter(_.kind == "timed").toSeq
    val idx = timed.map(_.index).toSet
    val timedOps = r.ops.filter(o => idx(o.pass)).toSeq
    val lat = timedOps.map(_.seconds)
    val tail = Stats.tailAt(lat, minSamples).get
    Seq(
      Metric("setup_s", setupS, "s", "session build and the untimed warm-up passes"),
      Metric("pass_s", Stats.median(timed.map(_.seconds)), "s", s"median of ${timed.size} passes"),
      Metric("op_p50_s", Stats.median(lat), "s", s"n=${lat.size}"),
      Metric("op_tail_s", tail.value, "s",
        f"p${tail.percentile}%.1f, ${tail.beyond} of n=${tail.n} beyond"),
      // a median: right after a GC the heap still holds what the context
      // cleaner has yet to release, which varies from op to op
      Metric("live_heap_mb", Stats.median(timedOps.map(_.liveHeapBytes.toDouble)) / MB, "MB",
        "median over timed ops of the heap in use after the op and a full GC"),
    )
  }

  /** Per-layer metrics, each a mean per traced pass. */
  def perLayer(r: Runner, t: Tracer): Seq[Metric] = {
    val traced = r.passes.filter(_.kind == "traced").toSeq
    val untraced = r.passes.filter(_.kind == "timed").toSeq
    val jobs = t.jobList
    val stages = t.stageList
    val plans = t.planList
    val failed = t.failedTaskList
    val k = traced.size.toDouble
    def perPass(f: PassSpan => Double): Double = traced.map(f).sum / k
    def jobsIn(p: PassSpan) = jobs.filter(j => p.contains(j.start))
    def stagesIn(p: PassSpan) = stages.filter(s => p.contains(s.submitted))
    def opsIn(p: PassSpan) = r.ops.filter(_.pass == p.index)
    def probe(kind: String): (Double, Double) = {
      val ps = r.probes.filter(_.kind == kind).toSeq
      (ps.map(_.seconds).sum / ps.size,
        ps.map(p => jobs.count(j => p.contains(j.start))).sum.toDouble / ps.size)
    }
    val (registerS, registerJobs) = probe("register")
    val (loadS, loadJobs) = probe("load")

    def moduleJobs(m: String): Seq[Metric] = Seq(
      Metric(s"$m.jobs", perPass(p => jobsIn(p).count(_.module == m)), "count"),
      Metric(s"$m.job_s", perPass(p => jobsIn(p).filter(_.module == m).map(j => j.end - j.start).sum / 1e3), "s"))
    def stageSum(f: StageSpan => Double): Double = perPass(p => stagesIn(p).map(f).sum)
    def jobBusyS(p: PassSpan): Double = Stats.unionLength(jobsIn(p).map(j => (j.start, j.end))) / 1e3
    val inputRows = stageSum(_.inputRows.toDouble)
    val outputRows = perPass(p => opsIn(p).map(_.rows).sum.toDouble)
    val medians = opMedians(r)

    Seq(
      Metric("model.register_s", registerS, "s", "standalone DerivedState.register"),
      Metric("model.register_jobs", registerJobs, "count"),
    ) ++ moduleJobs("model") ++ Seq(
      Metric("core.load_s", loadS, "s", "standalone Tables.load of every raw table"),
      Metric("core.load_jobs", loadJobs, "count"),
    ) ++ moduleJobs("core") ++ Seq(
      Metric("core.pinned_rdds_after", perPass(p => opsIn(p).map(_.pinnedRdds).max.toDouble), "count",
        "persistent RDDs left after an op and clearCache(), max over the pass"),
      Metric("core.pinned_mb_after", perPass(p => opsIn(p).map(_.pinnedBytes).max / MB), "MB"),
    ) ++ Seq("store", "state", "analytics", "functions", "queries").flatMap(moduleJobs) ++ Seq(
      Metric("queries.action_jobs", perPass(p => jobsIn(p).count(_.module == Modules.Action)), "count",
        "jobs of the benchmark's forcing action"),
      Metric("queries.build_s", perPass(p => opsIn(p).map(_.buildSeconds).sum), "s"),
      Metric("queries.action_s", perPass(p => opsIn(p).map(_.actionSeconds).sum), "s"),
      Metric("catalyst.actions", perPass(p => plans.count(q => p.contains(q.start))), "count"),
      Metric("catalyst.analysis_s", perPass(p => plans.filter(q => p.contains(q.start)).map(_.analysisMs).sum / 1e3), "s"),
      Metric("catalyst.optimization_s", perPass(p => plans.filter(q => p.contains(q.start)).map(_.optimizationMs).sum / 1e3), "s"),
      Metric("catalyst.planning_s", perPass(p => plans.filter(q => p.contains(q.start)).map(_.planningMs).sum / 1e3), "s"),
      Metric("spark.jobs", perPass(p => jobsIn(p).size), "count"),
      Metric("spark.stages", perPass(p => stagesIn(p).size), "count"),
      Metric("spark.tasks", stageSum(_.tasks), "count"),
      Metric("spark.job_s", perPass(jobBusyS), "s", "time any job is running"),
      Metric("spark.driver_gap_s", perPass(p => p.seconds - jobBusyS(p)), "s",
        "op time with no job running"),
      Metric("spark.task_run_s", stageSum(_.runMs / 1e3), "s"),
      Metric("spark.task_cpu_s", stageSum(_.cpuNs / 1e9), "s"),
      Metric("spark.task_gc_s", stageSum(_.gcMs / 1e3), "s"),
      Metric("spark.shuffle_write_mb", stageSum(_.shuffleWriteBytes / MB), "MB"),
      Metric("spark.shuffle_read_mb", stageSum(_.shuffleReadBytes / MB), "MB"),
      Metric("spark.spill_mb", stageSum(_.spillBytes / MB), "MB"),
      Metric("spark.input_mb", stageSum(_.inputBytes / MB), "MB"),
      Metric("spark.input_rows", inputRows, "count"),
      Metric("spark.failed_tasks", perPass(p => failed.count(p.contains)), "count"),
      Metric("spark.rows_read_per_row_out", if (outputRows > 0) inputRows / outputRows else 0.0, "ratio"),
      Metric("jvm.gc_s", perPass(_.gcSeconds), "s", "driver JVM GC time"),
      Metric("trace.overhead_s", Stats.median(traced.map(_.seconds)) - Stats.median(untraced.map(_.seconds)), "s",
        s"median traced pass minus median untraced pass (${traced.size} and ${untraced.size} passes)"),
    ) ++ Workloads.allOps.map(op => Metric(s"op.${op}_s", medians.getOrElse(op, 0.0), "s"))
  }

  /** Each op's median latency over the untraced timed passes. */
  def opMedians(r: Runner): Map[String, Double] = {
    val timed = r.passes.filter(_.kind == "timed").map(_.index).toSet
    r.ops.filter(o => timed(o.pass)).groupBy(_.op)
      .map { case (op, os) => op -> Stats.median(os.map(_.seconds).toSeq) }
  }

  /** The human-readable table printed above the result line. */
  def table(workload: String, metrics: Seq[Metric], r: Runner): String = {
    val outcomes = r.ops.map(_.outcome).toSeq
    val errors = Outcome.errorRate(outcomes)
    def row(m: Metric) = f"  ${m.name}%-32s ${m.value}%14.6f ${m.unit}%-6s ${m.note}"
    val ops = opMedians(r).toSeq.sorted.map { case (op, s) => Metric(op, s, "s", "median op latency") }
    val errorRow = row(Metric("error_rate", errors, "ratio",
      s"${outcomes.count(_ != Outcome.Ok)} of ${outcomes.size} ops threw or returned a wrong fingerprint"))
    ((s"perfbench $workload" +: metrics.map(row)) ++ Seq(errorRow, "  per op:") ++ ops.map(row))
      .mkString("\n")
  }

  /** The result line: `correct`, `attempted`, `failed` and `metrics`. */
  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Writes every span of a traced run, one JSON object per line. */
  def writeSpans(path: Path, r: Runner, t: Tracer): Unit = {
    val lines =
      r.passes.map(p => s"""{"span": "pass", "index": ${p.index}, "kind": "${p.kind}", "start": ${p.startMs}, "end": ${p.endMs}, "seconds": ${p.seconds}}""") ++
      r.ops.map(o => s"""{"span": "op", "pass": ${o.pass}, "op": "${o.op}", "start": ${o.startMs}, "end": ${o.endMs}, "build_s": ${o.buildSeconds}, "action_s": ${o.actionSeconds}, "rows": ${o.rows}, "heap_mb": ${o.liveHeapBytes / MB}, "outcome": "${esc(o.outcome.toString)}"}""") ++
      r.probes.map(p => s"""{"span": "probe", "kind": "${p.kind}", "start": ${p.startMs}, "end": ${p.endMs}, "seconds": ${p.seconds}}""") ++
      t.jobList.sortBy(_.id).map(j => s"""{"span": "job", "id": ${j.id}, "module": "${j.module}", "start": ${j.start}, "end": ${j.end}}""") ++
      t.stageList.sortBy(_.id).map(s => s"""{"span": "stage", "id": ${s.id}, "attempt": ${s.attempt}, "module": "${s.module}", "start": ${s.submitted}, "end": ${s.completed}, "tasks": ${s.tasks}, "run_ms": ${s.runMs}, "input_rows": ${s.inputRows}}""") ++
      t.planList.map(q => s"""{"span": "plan", "start": ${q.start}, "analysis_ms": ${q.analysisMs}, "optimization_ms": ${q.optimizationMs}, "planning_ms": ${q.planningMs}}""")
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
