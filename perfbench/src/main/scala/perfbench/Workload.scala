package perfbench

import org.apache.spark.sql.SparkSession

/** The protocol every workload follows:
  *
  *  1. set-up: make the inputs from the seed `prepareReps` times (fresh
  *     directories each time, median taken), build the reference outputs
  *     (not timed), then the warm-up op, if the workload has one.
  *     `setup_s` = session start + median prepare + warm-up;
  *  2. untraced run (`--trace 0`): ops back to back for `--seconds`, each
  *     checked against the reference; end-to-end metrics from their times;
  *  3. traced run (`--trace 1`): the same set-up, then traced ops (spans
  *     and a Spark listener) for `--seconds`; per-layer metrics. The traced
  *     ops meet the same state as the untraced run's ops, so the tracing
  *     overhead is `trace.op_traced_s` minus the untraced `op_p50_ms` of
  *     the same seed;
  *  4. checks outside the timed region.
  */
abstract class Workload(val run: Run) {
  protected val spark: SparkSession = run.spark
  protected def prepareReps: Int = 3

  protected def prepare(): Unit
  protected def buildReference(): Unit
  /** The warm-up pass of set-up: one untraced op unless overridden. */
  protected def warmup(): Unit = step()
  /** One untraced op; returns its latency samples in seconds. */
  protected def step(): Seq[Double]
  /** One traced op; returns its latency samples in seconds. */
  protected def tracedStep(tr: Tracer): Seq[Double]
  /** End-to-end metrics from the untraced samples. */
  protected def summarize(samples: Seq[Double], setupS: Double): Unit
  /** Per-layer metrics from the traced ops. */
  protected def layers(tr: Tracer, tracedOps: Int): Unit
  /** More traced work after the traced ops (its spans count per instance). */
  protected def extraTraced(tr: Tracer): Unit = ()
  /** Checks outside the timed region. */
  protected def finalChecks(): Unit = ()

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` back to back until `seconds` have passed (at least once). */
  protected def loop(seconds: Double)(f: => Seq[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Double]
    do out ++= f while ((System.nanoTime() - t0) / 1e9 < seconds)
    out.result()
  }

  def execute(sessionS: Double): Unit = {
    val prep = (1 to prepareReps).map(_ => timed(prepare())._2)
    buildReference()
    val warm = timed(warmup())._2
    val setupS = sessionS + Stats.median(prep) + warm
    run.say(f"set-up: session $sessionS%.2f s, prepare ${prep.map(p => f"$p%.2f").mkString(", ")} s, " +
      f"warm-up $warm%.2f s")
    if (!run.trace) {
      summarize(loop(run.seconds)(step()), setupS)
    } else {
      val tr = new Tracer(spark)
      var ops = 0
      val traced = loop(run.seconds) { val s = tracedStep(tr); ops += s.size; s }
      extraTraced(tr)
      tr.stop()
      Layers.fill(run, tr, ops)
      layers(tr, ops)
      run.layers("trace.op_traced_s") = Stats.median(traced)
    }
    finalChecks()
  }
}
