package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.StructType

import graft.io.{EdgeLog, LabelStore, LocalFs}
import graft.model.Doc
import graft.streaming.IncrementalLink

/** `link_stream`: `IncrementalLink.linkStream` over the `link_batch` corpus
  * split into file drops, one drop per trigger. Closed loop: the next drop
  * is read only after the previous trigger commits. One op = one trigger;
  * its latency runs from the previous trigger's `onBatchComplete` (or the
  * stream start) to its own. Every stream's edges must equal the reference
  * matches, and its labels must cover every doc. Run by hand only (it is
  * not in BENCHMARK.json; see README.md); `link_batch`'s traced run streams
  * once through `tracedOnce`.
  */
final class LinkStream(run0: Run) extends Workload(run0) {
  import spark.implicits._

  private val drops = 2
  private val buckets = 4
  override protected def prepareReps: Int = 2

  private var inDir: String = _
  private var schema: StructType = _
  private var ref: LinkReference = _
  private var streams = 0
  private val drains = mutable.ArrayBuffer[Double]()

  /** The corpus as `drops` single-file parquet drops, oldest first. */
  protected def prepare(): Unit = {
    val docs = Corpus.read(spark, Corpus.write(run)).collect().sortBy(_.doc_id)
    inDir = run.freshDir("drops")
    val per = (docs.length + drops - 1) / drops
    val t0 = System.currentTimeMillis() - 60000L
    docs.grouped(per).zipWithIndex.foreach { case (chunk, k) =>
      val stageDir = run.freshDir("drop-stage")
      chunk.toSeq.toDS().coalesce(1).write.mode("overwrite").parquet(stageDir)
      val part = Files.list(Paths.get(stageDir)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).getOrElse(sys.error(s"no parquet for drop $k"))
      val target = Paths.get(inDir, f"drop$k%03d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(t0 + 1000L * k))
      LocalFs.deleteTree(Paths.get(stageDir))
    }
    schema = spark.read.parquet(inDir).schema
  }

  protected def buildReference(): Unit =
    ref = new LinkReference(Corpus.read(spark, inDir).collect().toSeq, Corpus.config)

  /** One full stream from a fresh state; returns per-trigger latencies. */
  private def stream(onTrigger: Long => Unit, onStart: () => Unit): Seq[Double] = {
    streams += 1
    val work = run.freshDir("stream")
    val table = s"perfbench_stream_$streams"
    val marks = mutable.ArrayBuffer[Long]()
    val source: Dataset[Doc] = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir).as[Doc]
    onStart()
    val t0 = System.nanoTime()
    val q = IncrementalLink.linkStream(source, Corpus.config,
      corpusDir = s"$work/corpus", edgesDir = s"$work/edges", checkpointDir = s"$work/ckpt",
      corpusTable = Some(table), nBuckets = buckets,
      clustersDir = Some(s"$work/labels"), nClusterBuckets = buckets,
      onBatchComplete = id => { marks += System.nanoTime(); onTrigger(id) })
    try q.processAllAvailable() finally q.stop()
    val ends = marks.toSeq
    drains += (ends.lastOption.getOrElse(t0) - t0) / 1e9
    val lat = (t0 +: ends).sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq

    val edges = EdgeLog.read(spark, s"$work/edges").as[(String, String)].collect()
    val labels = new LabelStore(s"$work/labels", buckets).read(spark)
    val nLabels = labels.count()
    val nClusters = labels.select("cluster_id").distinct().count()
    val ok = run.op(s"stream $streams: ${edges.length} edges, $nLabels labels, $nClusters clusters; " +
      s"want ${ref.fingerprint}",
      edges.length == ref.matches.size && edges.toSet == ref.matches &&
        nLabels == ref.records.size && nClusters == ref.clusters)
    // every trigger of a stream is one op; a wrong stream fails all of them
    (2 to lat.size).foreach(_ => run.op(s"stream $streams trigger", ok))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_blocks")
    lastWork.foreach(d => LocalFs.deleteTree(Paths.get(d)))
    lastWork = Some(work)
    lat
  }

  private var lastWork: Option[String] = None

  protected def step(): Seq[Double] = stream(_ => (), () => ())

  protected def summarize(samples: Seq[Double], setupS: Double): Unit = {
    val measured = drains.drop(1).toSeq // the first stream was the warm-up
    val p50 = Stats.median(samples)
    val drain = Stats.median(measured)
    val nDocs = ref.records.size
    run.endToEnd("trigger_p50_s") = (p50, "s")
    run.endToEnd("stream_drain_s") = (drain, "s")
    run.endToEnd("stream_docs_per_s") = (nDocs / drain, "1/s")
    run.endToEnd("op_p50_ms") = (p50 * 1000, "ms")
    run.endToEnd("docs_per_s") = (nDocs / drain, "1/s")
    run.endToEnd("setup_s") = (setupS, "s")
    run.say(s"${measured.size} streams of $drops triggers over $nDocs docs, triggers: " +
      samples.map(s => f"$s%.3f").mkString("[", ", ", "] s"))
  }

  /** A traced stream: one `streaming.trigger` span per trigger, bounded by
    * `onBatchComplete`; the open span left after the last trigger is dropped.
    */
  protected def tracedStep(tr: Tracer): Seq[Double] = {
    var cur: Span = null
    val done = mutable.ArrayBuffer[Span]()
    val lat = stream(
      _ => { tr.end(cur); done += cur; cur = tr.begin("streaming.trigger") },
      () => cur = tr.begin("streaming.trigger"))
    tr.discard(cur)
    val metrics = spark.read.parquet(s"${lastWork.get}/corpus/metrics")
      .select("batch_id", "docs", "edges").as[(Long, Long, Long)].collect().sortBy(_._1)
    done.zip(metrics).foreach { case (s, (_, d, e)) =>
      s.counters("docs_in") = d.toDouble
      s.counters("edges_out") = e.toDouble
    }
    lat
  }

  protected def layers(tr: Tracer, ops: Int): Unit = DukeKernel.measure(run, ref)

  /** One traced stream from fresh inputs, for another workload's traced run. */
  def tracedOnce(tr: Tracer): Unit = {
    prepare()
    buildReference()
    tracedStep(tr)
  }
}
