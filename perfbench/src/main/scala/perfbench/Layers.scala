package perfbench

/** The per-layer metrics of the traced run, named `<span>.<metric>`. Span
  * names are the engine's modules: `core`, `pipeline`, `io`, `streaming`,
  * `api` and `jobs`. Every span reports the five base metrics; a workload
  * that does not execute a span reports 0 for it. Span metrics are per op
  * (per job run, trigger or query) and inclusive of nested spans.
  */
object Layers {

  val base: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_cpu_s" -> "s", "spark_jobs" -> "count",
    "driver_gap_s" -> "s", "shuffle_write_mb" -> "MB")

  /** span -> its extra counters (name, unit). */
  val spans: Seq[(String, Seq[(String, String)])] = Seq(
    "core.duke_kernel" -> Seq("pairs_per_s_1t" -> "1/s"),
    "pipeline.extract" -> Seq("rows_out" -> "count"),
    "pipeline.block" -> Seq("rows_out" -> "count"),
    "pipeline.pairs" -> Seq("candidate_pairs" -> "count", "salted_blocks" -> "count",
      "dropped_pairs_mass" -> "count"),
    "pipeline.score" -> Seq("pairs_per_s" -> "1/s"),
    "pipeline.classify" -> Seq("match_yield" -> "ratio"),
    "pipeline.cluster" -> Seq("iterations" -> "count", "edges_in" -> "count"),
    "io.stage_recount" -> Seq("stages" -> "count"),
    "jobs.link" -> Seq("cpu_util" -> "ratio", "unspanned_s" -> "s"),
    "streaming.trigger" -> Seq("docs_in" -> "count", "edges_out" -> "count"),
    "api.topk" -> Seq("plan_ms" -> "ms", "cpu_us_per_candidate" -> "us"))

  /** Median traced op latency: minus the untraced run's `op_p50_ms` of the
    * same seed, the tracing overhead.
    */
  val overhead: Seq[(String, String)] = Seq("trace.op_traced_s" -> "s")

  val all: Seq[(String, String)] =
    spans.flatMap { case (s, extra) =>
      (base ++ extra).map { case (m, u) => s"$s.$m" -> u }
    } ++ overhead

  val names: Seq[String] = all.map(_._1)
  private val units = all.toMap
  def unit(name: String): String = units(name)

  val cores = 4

  /** Spans that are themselves one op each: their metrics are per span. */
  private val opSpans = Set("streaming.trigger", "api.topk")

  /** Fill the base metrics of every span the tracer saw, per op, plus each
    * span's numeric counters summed per op.
    */
  def fill(run: Run, tr: Tracer, ops: Int): Unit = {
    tr.drain()
    val byName = tr.closedSpans.groupBy(_.name)
    byName.foreach { case (name, ss) =>
      val t = ss.map(tr.totals)
      val per = if (opSpans(name)) ss.size else ops
      def put(m: String, v: Double): Unit = run.layers(s"$name.$m") = v / per
      put("wall_s", ss.map(_.wallS).sum)
      put("task_cpu_s", t.map(_.cpuS).sum)
      put("spark_jobs", t.map(_.jobs).sum.toDouble)
      put("driver_gap_s", t.map(_.driverGapS).sum)
      put("shuffle_write_mb", t.map(_.shuffleWriteMb).sum)
      ss.flatMap(_.counters.keys).distinct.foreach(c =>
        put(c, ss.map(_.counters.getOrElse(c, 0.0)).sum))
    }
  }

  /** Sum of one base metric or counter over every span of a name (not per op). */
  def total(tr: Tracer, name: String)(f: Span => Double): Double =
    tr.closedSpans.filter(_.name == name).map(f).sum

  /** Task CPU over wall time x cores, for a job span. */
  def cpuUtil(run: Run, job: String): Unit =
    for (w <- run.layers.get(s"$job.wall_s") if w > 0)
      run.layers(s"$job.cpu_util") = run.layers(s"$job.task_cpu_s") / (w * cores)

  /** Wall time of a job span not covered by its direct child spans. */
  def unspanned(run: Run, tr: Tracer, job: String, ops: Int): Unit = {
    val spans = tr.closedSpans
    val jobs = spans.filter(_.name == job)
    val covered = spans.filter(s => s.parent.exists(p => jobs.exists(_ eq p))).map(_.wallS).sum
    run.layers(s"$job.unspanned_s") = (jobs.map(_.wallS).sum - covered) / ops
  }
}
