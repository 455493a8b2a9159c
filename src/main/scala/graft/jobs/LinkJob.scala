package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.StageManifest
import graft.model.{Doc, MatchConfig}
import graft.pipeline.{Blocking, Cluster, ErPipeline, Fixtures}

/** The end-to-end record-linkage job (SURVEY.md §3.3 pipeline):
  *
  *   docs -> extract(+invariant) -> block -> salted self-join -> mapPartitions
  *   score -> threshold -> large-star/small-star CC -> clusters
  *
  * Every stage lands as parquet under `outDir` and is recorded in the stage
  * manifest, so a killed run resumes mid-pipeline (including per-iteration CC
  * checkpoints) and produces byte-identical outputs (BASELINE north_rule).
  * Lineage rows (stage, part file, row count) and stage metrics are persisted
  * alongside the data (BASELINE.json:6). Each fresh stage costs only the
  * Spark jobs of its write: row counts and lineage come from the parquet
  * footers of the written part files (`StageManifest.fileRows`).
  */
object LinkJob {

  case class Summary(
      docs: Long, records: Long, blocks: Long, pairs: Long,
      matches: Long, maybes: Long, clusters: Long,
      droppedBlocks: Long, saltedBlocks: Long)

  /** @param overrides Duke LinkDatabase analog (`[D Link.java, LinkDatabase
    *                   .java]`, SURVEY §2.1 S7): human link decisions that
    *                   override inference — rows (a_id, b_id, status) with
    *                   status `verified` (forced edge, Duke ASSERTED/OWNSAME)
    *                   or `retracted` (edge suppressed even above threshold,
    *                   Duke RETRACTED/DIFFERENT). Applied at the edges stage,
    *                   so clustering and resume see the overridden graph —
    *                   which also means overrides are FROZEN into a completed
    *                   outDir: re-running with a changed overrides table
    *                   serves the old edge set from the resume manifest. New
    *                   decisions need a fresh outDir (or deleting the
    *                   edges/clusters/cc_iter_* manifest lines).
    */
  def run(
      spark: SparkSession,
      docs: Dataset[Doc],
      config: MatchConfig,
      outDir: String,
      pairCfg: ErPipeline.PairConfig = ErPipeline.PairConfig(),
      overrides: Option[DataFrame] = None): Summary = {
    import spark.implicits._
    val m = new StageManifest(outDir)
    val metrics = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()

    // ① extract + clean (invariant asserted per row)
    val recordsDf = m.stage(spark, "records") {
      ErPipeline.extract(docs, config).toDF()
    }
    val records = recordsDf.as[ErPipeline.CleanRecord]

    // ② blocking keys — derived from the config's lookup flags
    //    (`[D Property.java#getLookupBehaviour]`): properties marked
    //    lookup=required/true drive candidate retrieval; a config without
    //    flags falls back to the default scheme (Blocking.fromConfig)
    val blocksDf = m.stage(spark, "blocks") {
      ErPipeline.block(records, Blocking.fromConfig(config)).toDF()
    }
    val blocks = blocksDf.as[ErPipeline.BlockRow]

    // ③ candidate pairs (salted triangular self-join, skew-capped)
    var pairStats = ErPipeline.PairStats(0, 0, 0)
    val pairsDf = m.stage(spark, "pairs") {
      val (p, st) = ErPipeline.pairs(blocks, pairCfg)
      pairStats = st
      metrics += (("pairs", "dropped_blocks", st.droppedBlocks.toDouble))
      metrics += (("pairs", "dropped_pairs_mass", st.droppedPairsMass))
      metrics += (("pairs", "salted_blocks", st.saltedBlocks.toDouble))
      p.toDF()
    }

    // ④ batched pairwise scoring (mapPartitions)
    val scoredDf = m.stage(spark, "scored") {
      ErPipeline.score(pairsDf.as[ErPipeline.PairIds], records, config).toDF()
    }
    val scored = scoredDf.as[ErPipeline.ScoredPair]

    // ⑤ classification + match edges
    val classified = m.stage(spark, "classified") {
      ErPipeline.classify(scored, config)
    }
    // normalize override orientation once (cached for its two reads inside
    // the edges stage, released right after the stage materializes — ADVICE
    // r3: a leaked cache entry pins executor memory for the whole job)
    val normOverrides = overrides.map(ov => ov.select(
      least($"a_id", $"b_id").as("a_id"),
      greatest($"a_id", $"b_id").as("b_id"),
      lower($"status").as("status")).cache())
    val edges = m.stage(spark, "edges") {
      val inferred = classified.where($"bucket" === "match").select($"a_id", $"b_id")
      normOverrides match {
        case None => inferred
        case Some(norm) =>
          // verified edges join the graph even if never scored, retracted
          // pairs leave it even above threshold (human decisions outrank the
          // model — Duke LinkDatabase)
          val verified = norm.where($"status" === "verified").select($"a_id", $"b_id")
          val retracted = norm.where($"status" === "retracted").select($"a_id", $"b_id")
          inferred.unionByName(verified).distinct()
            .join(retracted.withColumn("__r", lit(true)), Seq("a_id", "b_id"), "left")
            .where($"__r".isNull).select($"a_id", $"b_id")
      }
    }
    normOverrides.foreach(_.unpersist())

    // ⑥ connected components with per-iteration parquet checkpoints:
    //    resume continues from the latest cc_iter_<i> present in the manifest.
    val ccDone = m.completed.keys.filter(_.startsWith("cc_iter_"))
      .map(_.stripPrefix("cc_iter_").toInt)
    val (startEdges, startIter) =
      if (ccDone.isEmpty) (edges, 0)
      else {
        val last = ccDone.max
        (spark.read.parquet(s"$outDir/cc_iter_$last"), last)
      }
    val clustersDf = m.stage(spark, "clusters") {
      val labeled = Cluster.connectedComponents(
        startEdges,
        onIteration = (i, df) => m.stage(spark, s"cc_iter_${startIter + i}")(df))
      // singletons keep their own id as cluster label
      val allIds = records.select($"doc_id")
      allIds.join(labeled, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    }

    // ⑦ lineage: per written FILE row counts of every persisted stage, read
    //    on the driver from the parquet footers (no scan, no job; the file
    //    strings are the ones input_file_name() reports). Empty part files
    //    are left out, so an empty stage has no lineage rows. Also computed
    //    on resume: counts of stages served from parquet come from their
    //    files, never from manifest lines.
    val lineageRows = Seq("records", "blocks", "pairs", "scored", "classified", "edges", "clusters")
      .flatMap { s =>
        StageManifest.fileRows(spark, s"$outDir/$s")
          .collect { case (file, rows) if rows > 0 => (s, file, rows) }
      }
    m.stage(spark, "lineage") { lineageRows.toDF("stage", "file", "rows") }
    val stageRows = lineageRows.groupMapReduce(_._1)(_._3)(_ + _).withDefaultValue(0L)

    // summary: docs/records/blocks/pairs from the footers (`extract` is 1:1
    // with an invariant that raises on violation, so docs == records), plus
    // one fused aggregate for the two classification buckets and one
    // distinct count — driver-side actions are a fixed serial cost on every
    // run
    val cl = classified.agg(
      count(when($"bucket" === "match", 1)),
      count(when($"bucket" === "maybe", 1))).collect()(0)
    val counts = Map(
      "docs" -> stageRows("records"),
      "records" -> stageRows("records"),
      "blocks" -> stageRows("blocks"),
      "pairs" -> stageRows("pairs"),
      "matches" -> cl.getLong(0),
      "maybes" -> cl.getLong(1),
      "clusters" -> clustersDf.select($"cluster_id").distinct().count())
    counts.foreach { case (k, v) => metrics += (("job", k, v.toDouble)) }

    m.stage(spark, "metrics") {
      metrics.toSeq.toDF("stage", "metric", "value")
    }

    Summary(
      docs = counts("docs"), records = counts("records"), blocks = counts("blocks"),
      pairs = counts("pairs"), matches = counts("matches"), maybes = counts("maybes"),
      clusters = counts("clusters"),
      droppedBlocks = pairStats.droppedBlocks, saltedBlocks = pairStats.saltedBlocks)
  }

  /** spark-submit entry: LinkJob <outDir> [nEntities=1000] [configJson]
    * — configJson is a plugin-style query-params file (SURVEY.md §1.2),
    * defaulting to the fixture configuration.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-link")
    val nEntities = args.lift(1).map(_.toLong).getOrElse(1000L)
    val config = args.lift(2) match {
      case Some(path) => MatchConfig.fromJson(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8))
      case None => MatchConfig.fixture
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-link")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Fixtures.docs(spark, nEntities)
    val s = run(spark, docs, config, outDir)
    println(s"[link] $s")
    spark.stop()
  }
}
