package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the knobs every workload reads,
  * the op/check ledger behind `attempted`/`failed`, and the metric sinks.
  */
final class Run(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val toy: Boolean,
    val work: Path) {

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  /** End-to-end metrics in the order printed; the JSON carries `jsonKeys`. */
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  /** Per-layer metrics of the traced run, `<span>.<metric>` -> value. */
  val layers = mutable.LinkedHashMap[String, Double]()

  /** Record one op (a job run, a trigger or a query) and whether its output
    * matched the reference. A wrong output counts as a failed op.
    */
  def op(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }

  private var dirs = 0
  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): String = {
    dirs += 1
    val p = work.resolve(f"$name-$dirs%03d")
    Files.createDirectories(p)
    p.toString
  }

  def say(line: String): Unit = println(s"[perfbench] $line")
}

/** Benchmark entry point; see perfbench/README.md. Every line it prints
  * starts with `[perfbench]`, except the result: one `RESULT {json}` line.
  */
object Main {

  /** The end-to-end metrics every workload reports in its JSON result. */
  val jsonKeys: Seq[(String, String)] =
    Seq("op_p50_ms" -> "ms", "docs_per_s" -> "1/s", "setup_s" -> "s")

  def main(args: Array[String]): Unit = {
    val entered = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - entered) / 1e9

    val run = new Run(spark, opts.getOrElse("seed", "1").toLong,
      opts.getOrElse("seconds", "10").toDouble, opts.getOrElse("trace", "0") == "1",
      opts.get("scale").contains("toy"), work)
    try {
      val w: Workload = workload match {
        case "link_batch"  => new LinkBatch(run)
        case "link_stream" => new LinkStream(run)
        case "topk_query"  => new TopkQuery(run)
        case other         => sys.error(s"unknown workload $other")
      }
      w.execute(sessionS)
      report(run)
    } finally spark.stop()
  }

  private def report(run: Run): Unit = {
    run.endToEnd.foreach { case (k, (v, u)) => run.say(f"$k%-18s = $v%.4f $u") }
    run.say(f"${"failed_frac"}%-18s = ${run.failed.toDouble / math.max(1, run.attempted)}%.4f " +
      s"(${run.failed} of ${run.attempted} ops)")
    run.failures.foreach(f => run.say(s"FAILED: $f"))
    val metrics =
      if (run.trace) Layers.names.map(n => n -> (run.layers.getOrElse(n, 0.0), Layers.unit(n)))
      else jsonKeys.map { case (k, u) => k -> (run.endToEnd(k)._1, u) }
    if (run.trace) metrics.foreach { case (k, (v, u)) => run.say(f"$k%-42s = $v%.6f $u") }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""RESULT {"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Order statistics over op samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * `statistics.quantiles`).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
