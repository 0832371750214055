package perfbench

/** Per-layer figures of traced passes, named `<layer>.<figure>`. Each
  * figure is computed per traced pass and the median over those passes is
  * reported. A layer a workload does not exercise reports 0. */
object Layers {
  private def phases(t: Tracer, pass: Span, name: String): Seq[Span] =
    t.children(pass).flatMap(u => t.children(u).filter(_.name == name))

  private def sum(spans: Seq[Span], key: String): Double = spans.map(_.counter(key)).sum
  private def secs(spans: Seq[Span]): Double = spans.map(_.seconds).sum
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def perPass(t: Tracer, p: PassResult, cores: Int): Seq[(String, Double, String)] = {
    val units = t.children(p.span)
    val b = phases(t, p.span, "build")
    val pl = phases(t, p.span, "plan")
    val x = phases(t, p.span, "execute")
    val mo = phases(t, p.span, "models")
    val te = phases(t, p.span, "tests")
    val dq = phases(t, p.span, "dq")
    val pr = phases(t, p.span, "profiling")
    val execRun = sum(x, "run_s")
    Seq(
      ("build.s", secs(b), "s"),
      ("build.jobs", sum(b, "jobs"), "count"),
      ("build.tasks", sum(b, "tasks"), "count"),
      ("build.cpu_s", sum(b, "cpu_s"), "s"),
      ("build.shuffle_write_mb", sum(b, "shuffle_write_mb"), "MB"),
      ("build.eager_units", b.count(_.counter("jobs") > 0).toDouble, "count"),
      ("plan.s", secs(pl), "s"),
      ("plan.exchanges", sum(units, "plan_exchanges"), "count"),
      ("plan.scans", sum(units, "plan_scans"), "count"),
      ("plan.nodes", sum(units, "plan_nodes"), "count"),
      ("plan.bnlj_or_cartesian", sum(units, "plan_bnlj_or_cartesian"), "count"),
      ("execute.s", secs(x), "s"),
      ("execute.jobs", sum(x, "jobs"), "count"),
      ("execute.tasks", sum(x, "tasks"), "count"),
      ("execute.tasks_per_job", ratio(sum(x, "tasks"), sum(x, "jobs")), "ratio"),
      ("execute.run_s", execRun, "s"),
      ("execute.cpu_s", sum(x, "cpu_s"), "s"),
      ("execute.gc_s", sum(x, "gc_s"), "s"),
      ("execute.shuffle_write_mb", sum(x, "shuffle_write_mb"), "MB"),
      ("execute.shuffle_read_mb", sum(x, "shuffle_read_mb"), "MB"),
      ("execute.input_mb", sum(x, "input_mb"), "MB"),
      ("execute.spill_mb", sum(x, "spill_mb"), "MB"),
      ("execute.peak_mem_mb", if (x.isEmpty) 0.0 else x.map(_.counter("peak_mem_mb")).max, "MB"),
      ("execute.core_util", ratio(execRun, p.wall * cores), "ratio"),
      ("models.run_s", secs(mo), "s"),
      ("models.jobs", sum(mo, "jobs"), "count"),
      ("models.tests_s", secs(te), "s"),
      ("models.rows_written", sum(mo, "rows_written"), "count"),
      ("models.write_amp", ratio(sum(mo, "rows_written"), sum(units, "increment_rows")), "ratio"),
      ("dq.run_s", secs(dq), "s"),
      ("dq.jobs", sum(dq, "jobs"), "count"),
      ("dq.rules_per_job", ratio(sum(units, "dq_rules"), sum(dq, "jobs")), "ratio"),
      ("profiling.s", secs(pr), "s"),
      ("profiling.jobs", sum(pr, "jobs"), "count"),
      ("sinks.rows_written", sum(pr, "rows_written"), "count"),
      ("unit.p50_s", p.p50, "s"),
      ("trace.wall_s", p.wall, "s"))
  }

  def metrics(traced: Seq[PassResult], plain: Seq[PassResult], t: Tracer,
      cores: Int): Seq[(String, (Double, String))] = {
    val rows = traced.map(perPass(t, _, cores))
    val med = rows.head.indices.map { i =>
      val (k, _, unit) = rows.head(i)
      k -> (Stats.median(rows.map(_(i)._2)), unit)
    }
    val overhead =
      if (plain.isEmpty) 0.0
      else Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1.0
    med :+ ("trace.overhead_ratio" -> (overhead, "ratio"))
  }

  /** Write every span with its self time (duration minus the time covered
    * by its children) and counters, as one JSON document. */
  def writeTrace(path: String, workload: String, t: Tracer): Unit = {
    val spans = t.all
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val body = spans.map { s =>
      val self = s.seconds - t.children(s).map(_.seconds).sum
      val cs = scala.jdk.CollectionConverters.MapHasAsScala(s.counters).asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Stats.esc(s.name)}","kind":"${s.kind}",""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"dur_s":${s.seconds},"self_s":$self,"counters":$cs}"""
    }.mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"workload":"$workload","spans":$body}\n""")
  }
}
