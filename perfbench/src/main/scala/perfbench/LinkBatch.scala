package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.io.{LocalFs, StageManifest}
import graft.jobs.LinkJob
import graft.model.Doc
import graft.pipeline.{Blocking, Cluster, ErPipeline, Eval, Fixtures}

/** `link_batch`: `LinkJob.run` over the fixture corpus, one op = one job
  * from documents in to clusters persisted. Each op's pairs, matches and
  * clusters must equal the driver-side reference; pairwise F1 against
  * `Eval.labeledPairs` is checked once, outside the timed region.
  */
final class LinkBatch(run0: Run) extends Workload(run0) {
  import spark.implicits._

  private var docsDir: String = _
  private var docs: Dataset[Doc] = _
  private var ref: LinkReference = _
  private var lastOut: Option[String] = None

  protected def prepare(): Unit = {
    docsDir = Corpus.write(run)
    docs = Corpus.read(spark, docsDir)
  }

  protected def buildReference(): Unit = ref = Corpus.reference(run, docs)

  /** No warm-up job: a batch job starts in a fresh JVM (spark-submit), so
    * the op is measured as its user meets it, the first job run after the
    * session has started and made its inputs.
    */
  override protected def warmup(): Unit = ()

  private def keepLast(out: String): Unit = {
    lastOut.foreach(d => LocalFs.deleteTree(java.nio.file.Paths.get(d)))
    lastOut = Some(out)
  }

  private def verify(what: String, pairs: Long, matches: Long, clusters: Long): Unit =
    run.op(s"$what: pairs=$pairs matches=$matches clusters=$clusters, want ${ref.fingerprint}",
      pairs == ref.pairs.length && matches == ref.matches.size && clusters == ref.clusters)

  protected def step(): Seq[Double] = {
    val out = run.freshDir("link")
    val (s, wall) = timed(LinkJob.run(spark, docs, Corpus.config, out))
    verify("LinkJob.run", s.pairs, s.matches, s.clusters)
    keepLast(out)
    Seq(wall)
  }

  protected def summarize(samples: Seq[Double], setupS: Double): Unit = {
    val wall = Stats.median(samples)
    val n = ref.records.size
    run.endToEnd("job_wall_s") = (wall, "s")
    run.endToEnd("docs_per_s") = (n / wall, "1/s")
    run.endToEnd("op_p50_ms") = (wall * 1000, "ms")
    run.endToEnd("setup_s") = (setupS, "s")
    run.say(s"${samples.size} job runs over $n docs: " +
      samples.map(s => f"$s%.3f").mkString("[", ", ", "] s"))
  }

  /** `LinkJob.run` recomposed from the same public calls, one span per stage.
    * Each stage is forced inside its span exactly as `StageManifest.stage`
    * forces it (write, then re-read count, then manifest record); the
    * re-read count runs in its own `io.stage_recount` span.
    */
  protected def tracedStep(tr: Tracer): Seq[Double] = {
    val out = run.freshDir("link-traced")
    val config = Corpus.config
    val m = new StageManifest(out)
    val spans = scala.collection.mutable.Map[String, Span]()
    def stage(name: String, span: Option[String])(compute: => DataFrame): DataFrame = {
      val path = s"$out/$name"
      span match {
        case Some(sp) => tr.span(sp) { s => spans(sp) = s; compute.write.mode("overwrite").parquet(path) }
        case None     => compute.write.mode("overwrite").parquet(path)
      }
      val rows = tr.span("io.stage_recount") { s =>
        s.counters("stages") = 1
        spark.read.parquet(path).count()
      }
      m.record(name, path, rows)
      spark.read.parquet(path)
    }
    def rowsOf(name: String): Double = m.completedRows(name).toDouble

    val (summary, wall) = timed(tr.span("jobs.link") { _ =>
      val records = stage("records", Some("pipeline.extract")) {
        ErPipeline.extract(docs, config).toDF() }.as[ErPipeline.CleanRecord]
      val blocks = stage("blocks", Some("pipeline.block")) {
        ErPipeline.block(records, Blocking.fromConfig(config)).toDF() }.as[ErPipeline.BlockRow]
      var pairStats = ErPipeline.PairStats(0, 0, 0)
      val metrics = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
      val pairsDf = stage("pairs", Some("pipeline.pairs")) {
        val (p, st) = ErPipeline.pairs(blocks)
        pairStats = st
        metrics += (("pairs", "dropped_blocks", st.droppedBlocks.toDouble))
        metrics += (("pairs", "dropped_pairs_mass", st.droppedPairsMass))
        metrics += (("pairs", "salted_blocks", st.saltedBlocks.toDouble))
        p.toDF()
      }
      val scored = stage("scored", Some("pipeline.score")) {
        ErPipeline.score(pairsDf.as[ErPipeline.PairIds], records, config).toDF()
      }.as[ErPipeline.ScoredPair]
      val classified = stage("classified", Some("pipeline.classify")) {
        ErPipeline.classify(scored, config) }
      val edges = stage("edges", Some("pipeline.classify")) {
        classified.where($"bucket" === "match").select($"a_id", $"b_id") }
      var iterations = 0
      val clustersDf = stage("clusters", Some("pipeline.cluster")) {
        val labeled = Cluster.connectedComponents(edges,
          onIteration = (i, df) => { iterations = i; stage(s"cc_iter_$i", None)(df) })
        records.select($"doc_id").join(labeled, Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      }
      val lineage = stage("lineage", None) {
        Seq("records", "blocks", "pairs", "scored", "classified", "edges", "clusters")
          .map { s =>
            spark.read.parquet(s"$out/$s").groupBy(input_file_name().as("file"))
              .agg(count("*").as("rows")).select(lit(s).as("stage"), $"file", $"rows")
          }.reduce(_ union _)
      }
      val stageRows = lineage.groupBy($"stage").agg(sum($"rows").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val cl = classified.agg(count(when($"bucket" === "match", 1)),
        count(when($"bucket" === "maybe", 1))).collect()(0)
      val counts = Map(
        "docs" -> docs.count(), "records" -> stageRows("records"),
        "blocks" -> stageRows("blocks"), "pairs" -> stageRows("pairs"),
        "matches" -> cl.getLong(0), "maybes" -> cl.getLong(1),
        "clusters" -> clustersDf.select($"cluster_id").distinct().count())
      counts.foreach { case (k, v) => metrics += (("job", k, v.toDouble)) }
      stage("metrics", None) { metrics.toSeq.toDF("stage", "metric", "value") }

      spans("pipeline.extract").counters("rows_out") = rowsOf("records")
      spans("pipeline.block").counters("rows_out") = rowsOf("blocks")
      val p = spans("pipeline.pairs").counters
      p("candidate_pairs") = rowsOf("pairs")
      p("salted_blocks") = pairStats.saltedBlocks.toDouble
      p("dropped_pairs_mass") = pairStats.droppedPairsMass
      spans("pipeline.cluster").counters("iterations") = iterations
      spans("pipeline.cluster").counters("edges_in") = rowsOf("edges")
      counts
    })
    verify("traced LinkJob stages", summary("pairs"), summary("matches"), summary("clusters"))
    keepLast(out)
    Seq(wall)
  }

  protected def layers(tr: Tracer, ops: Int): Unit = {
    val l = run.layers
    val pairs = Layers.total(tr, "pipeline.pairs")(_.counters.getOrElse("candidate_pairs", 0.0))
    val scoreWall = Layers.total(tr, "pipeline.score")(_.wallS)
    if (scoreWall > 0) l("pipeline.score.pairs_per_s") = pairs / scoreWall
    if (pairs > 0) l("pipeline.classify.match_yield") = ref.matches.size * ops / pairs
    Layers.cpuUtil(run, "jobs.link")
    Layers.unspanned(run, tr, "jobs.link", ops)
    DukeKernel.measure(run, ref)
  }

  /** The traced run also streams the same corpus once, so the streaming
    * layer is measured on this workload too (`link_stream` itself costs
    * too much per run to repeat it as often as the two measured workloads).
    */
  override protected def extraTraced(tr: Tracer): Unit = new LinkStream(run).tracedOnce(tr)

  /** Pairwise F1 of the last op's match edges against the labeled pairs. */
  override protected def finalChecks(): Unit = lastOut.foreach { out =>
    val gold = Fixtures.goldClusters(spark, Corpus.entities(run), Corpus.gen(run))
    val blocks = spark.read.parquet(s"$out/blocks").as[ErPipeline.BlockRow]
    val f1 = Eval.pairwiseF1(spark.read.parquet(s"$out/edges"), Eval.labeledPairs(blocks, gold))
    run.say(f"pairwise F1 = ${f1.f1}%.5f (tp=${f1.tp} fp=${f1.fp} fn=${f1.fn})")
    run.op(f"pairwise F1 ${f1.f1}%.5f < 0.99", f1.f1 >= 0.99)
    val edges = spark.read.parquet(s"$out/edges").as[(String, String)].collect().toSet
    run.op(s"edge set differs from the reference matches (${edges.size} vs ${ref.matches.size})",
      edges == ref.matches)
  }
}

/** `core.duke_kernel`: the compiled Duke scorer in a single-threaded driver
  * loop over the reference's blocked pairs — the kernel without Spark.
  */
object DukeKernel {
  def measure(run: Run, ref: LinkReference, minSeconds: Double = 0.5): Unit = {
    val recs = ref.pairs.map { case (a, b) => (ref.records(a), ref.records(b)) }
    if (recs.nonEmpty) {
      var n = 0L
      var sink = 0.0
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < minSeconds) {
        var i = 0
        while (i < recs.length) { sink += ref.compiled.score(recs(i)._1, recs(i)._2); i += 1 }
        n += recs.length
      }
      val wall = (System.nanoTime() - t0) / 1e9
      run.layers("core.duke_kernel.wall_s") = wall
      run.layers("core.duke_kernel.driver_gap_s") = wall
      run.layers("core.duke_kernel.pairs_per_s_1t") = n / wall
      if (sink.isNaN) run.say("kernel produced NaN")
    }
  }
}
