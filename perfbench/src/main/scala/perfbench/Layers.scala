package perfbench

/** Per-layer metrics of the traced run. Every workload reports every
  * metric; a layer the workload never calls reads 0. Call-level figures
  * are means per call of that span name; `spark.*` figures are means per
  * op (per root span), except `core_util`. */
object Layers {
  private final case class Agg(n: Int, wallMs: Double, c: Counters, gapMs: Double) {
    def per(v: Double): Double = if (n == 0) 0.0 else v / n
  }

  def report(out: MetricSink, t: Tracer, facts: Facts, w: Workload, cores: Int, gcMs: Long): Unit = {
    val spans = t.done.toSeq
    def agg(pred: Span => Boolean): Agg = {
      val ss = spans.filter(pred)
      val c = new Counters
      ss.foreach(s => c += t.total(s))
      Agg(ss.size, ss.map(_.wallMs.toDouble).sum, c, ss.map(s => t.driverGapMs(s).toDouble).sum)
    }
    def named(n: String) = agg(_.name == n)

    val ex = named("api.export")
    out("api.export.busy_ms", "ms", ex.per(ex.wallMs))
    out("api.export.jobs", "count", ex.per(ex.c.jobs))
    out("api.export.tasks", "count", ex.per(ex.c.tasks))
    out("api.export.task_ms", "ms", ex.per(ex.c.taskMs))
    out("api.export.plan_ms", "ms", ex.per(ex.c.planMs))
    out("api.export.driver_gap_ms", "ms", ex.per(ex.gapMs))
    out("api.export.files_read", "count", ex.per(ex.c.filesRead))
    out("api.export.bytes_read", "bytes", ex.per(ex.c.bytesRead))
    val ro = named("api.routes")
    out("api.routes.busy_ms", "ms", ro.per(ro.wallMs))
    out("api.routes.jobs", "count", ro.per(ro.c.jobs))
    out("api.routes.plan_ms", "ms", ro.per(ro.c.planMs))
    val we = named("api.write_export")
    out("api.write_export.busy_ms", "ms", we.per(we.wallMs))
    out("api.write_export.bytes_written", "bytes", we.per(we.c.bytesWritten))

    val inWindow = spans.filter(_.name == "api.export").map(s => facts.windowDays.getOrElse(s.id, 0)).sum
    out("catalog.partitions_read_ratio", "ratio",
      if (ex.c.partitionsRead == 0) 0.0 else inWindow.toDouble / ex.c.partitionsRead)
    val ur = named("catalog.upsert_raw")
    out("catalog.upsert_raw.busy_ms", "ms", ur.per(ur.wallMs))
    out("catalog.upsert_raw.jobs", "count", ur.per(ur.c.jobs))
    out("catalog.upsert_raw.bytes_written", "bytes", ur.per(ur.c.bytesWritten))
    val ud = named("catalog.upsert_derived")
    out("catalog.upsert_derived.busy_ms", "ms", ud.per(ud.wallMs))
    out("catalog.upsert_derived.jobs", "count", ud.per(ud.c.jobs))
    out("catalog.upsert_derived.bytes_read", "bytes", ud.per(ud.c.bytesRead))
    out("catalog.upsert_derived.bytes_written", "bytes", ud.per(ud.c.bytesWritten))
    out("catalog.write_amp", "ratio",
      if (facts.bytesIn == 0) 0.0 else (ur.c.bytesWritten + ud.c.bytesWritten).toDouble / facts.bytesIn)
    out("catalog.files_per_date", "count", w.filesPerDate())
    val co = named("ingest.coerce")
    out("ingest.coerce.busy_ms", "ms", co.per(co.wallMs))
    out("ingest.coerce.rows_in", "count", if (facts.batches == 0) 0.0 else facts.rowsIn.toDouble / facts.batches)
    out("ingest.coerce.rows_kept_ratio", "ratio",
      if (facts.rowsIn == 0) 0.0 else facts.rowsKept.toDouble / facts.rowsIn)

    val cellSpans = Cells.list.map(c => c -> named(s"cells.${c.name}"))
    val passes = cellSpans.map(_._2.n).maxOption.getOrElse(0).max(1).toDouble
    Cells.list.map(_.family).distinct.sorted.foreach { fam =>
      val fs = cellSpans.filter(_._1.family == fam).map(_._2)
      def sum(f: Agg => Double) = fs.map(f).sum / passes
      out(s"cells.$fam.wall_s", "s", sum(_.wallMs) / 1000.0)
      out(s"cells.$fam.jobs", "count", sum(_.c.jobs.toDouble))
      out(s"cells.$fam.task_ms", "ms", sum(_.c.taskMs.toDouble))
      out(s"cells.$fam.driver_gap_ms", "ms", sum(_.gapMs))
      out(s"cells.$fam.shuffle_bytes", "bytes", sum(_.c.shuffleWrite.toDouble))
      out(s"cells.$fam.spill_bytes", "bytes", sum(_.c.spill.toDouble))
    }
    cellSpans.foreach { case (c, a) => out(s"cells.${c.name}.wall_s", "s", a.per(a.wallMs) / 1000.0) }

    val roots = spans.filter(_.depth == 0)
    val all = agg(_.depth == 0)
    out("spark.jobs", "count", all.per(all.c.jobs))
    out("spark.stages", "count", all.per(all.c.stages))
    out("spark.tasks", "count", all.per(all.c.tasks))
    out("spark.task_ms", "ms", all.per(all.c.taskMs))
    out("spark.executor_cpu_ms", "ms", all.per(all.c.cpuMs))
    out("spark.gc_ms", "ms", all.per(gcMs.toDouble))
    out("spark.plan_ms", "ms", all.per(all.c.planMs))
    out("spark.driver_gap_ms", "ms", all.per(all.gapMs))
    out("spark.shuffle_write_bytes", "bytes", all.per(all.c.shuffleWrite))
    out("spark.shuffle_read_bytes", "bytes", all.per(all.c.shuffleRead))
    out("spark.fetch_wait_ms", "ms", all.per(all.c.fetchWaitMs))
    out("spark.spill_bytes", "bytes", all.per(all.c.spill))
    out("spark.core_util", "frac", all.c.taskMs / (all.wallMs * cores).max(1.0))
    out("trace.reconcile_err_frac", "frac", t.reconcileErrorFrac(roots))
  }
}
