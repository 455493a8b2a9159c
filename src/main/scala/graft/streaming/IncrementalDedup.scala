package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.TrainingOps
import graft.pipeline.ErPipeline

/** Streaming near-duplicate detection over a `documents(doc_id, text)` stream
  * — the incremental face of `jobs.DedupJob`, built on the observation that
  * MinHash band keys ARE blocking keys: a band value is a candidate-retrieval
  * key exactly like a surname soundex, so the ER pair machinery applies
  * unchanged.
  *
  * Per micro-batch:
  *  - fingerprint + band the NEW docs (one kernel pass, pinned);
  *  - new-vs-new candidates = `ErPipeline.pairs` over the batch's band rows
  *    (salted triangular self-join, capped);
  *  - new-vs-corpus candidates = `ErPipeline.linkPairs` against the stored
  *    band table (2-D grid-salted, capped — a hot band bucket in the corpus
  *    cannot go quadratic against a hot batch);
  *  - verify with exact shingle-set Jaccard at `jaccardMinMicro`, append
  *    edges, then grow the corpus band + fingerprint tables (`bandblocks` /
  *    `corpusTable_bands` bucketed on key, `fps` / `corpusTable_fps` on
  *    doc_id when `corpusTable` is set, so the per-batch join and verify
  *    reads leave the corpus in place).
  *
  * Pairing, the corpus and the commit are [[MicroBatchDriver]]'s, shared
  * with `IncrementalLink.linkStream`.
  *
  * The union of streamed edges over all batches equals the batch pipeline's
  * verified candidate set over the same documents (every pair lands in the
  * later doc's batch — new-vs-new if same batch, new-vs-corpus otherwise);
  * IncrementalDedupSpec asserts set equality against the batch path.
  */
object IncrementalDedup {

  private def banded(docs: DataFrame): DataFrame =
    TrainingOps.shingleFps(docs.select(col("doc_id"), col("text")))
      .selectExpr(Seq("doc_id", "fps") ++
        (0 until TrainingOps.config.minhashBands).map(j =>
          s"${TrainingOps.minhashBandSpark(j)} AS band$j"): _*)

  private def bandBlocks(b: DataFrame): DataFrame =
    b.selectExpr("doc_id",
      s"posexplode(array(${(0 until TrainingOps.config.minhashBands)
        .map(j => s"band$j").mkString(",")})) AS (bix, bval)")
      .selectExpr("CAST(doc_id AS STRING) AS doc_id", "concat(bix, ':', bval) AS key")

  /** @param clustersDir when set, a complete (doc_id, cluster_id) near-dup
    *                     cluster labeling is maintained across micro-batches —
    *                     the streaming analog of `DedupJob`'s decisions stage:
    *                     keep = (doc_id == cluster_id). Same partitioned
    *                     delta-commit machinery as `linkStream` (LabelCommit);
    *                     labels equal full CC over all streamed edges, with
    *                     edge-free docs as singletons (IncrementalDedupSpec).
    * @param onBatchComplete see `IncrementalLink.linkStream` — the same
    *                     end-of-batch observability / failure-injection hook.
    */
  def nearDupStream(
      stream: DataFrame, // streaming (doc_id: bigint, text: string)
      corpusDir: String,
      edgesDir: String,
      checkpointDir: String,
      corpusTable: Option[String] = None,
      nBuckets: Int = 8,
      cfg: TrainingOps.Config = TrainingOps.config,
      clustersDir: Option[String] = None,
      nClusterBuckets: Int = 8,
      labelSnapshotsToKeep: Option[Int] = None,
      onBatchComplete: Long => Unit = _ => ()): StreamingQuery = {
    val spark = stream.sparkSession
    import spark.implicits._
    MicroBatchDriver.start(stream, corpusDir, edgesDir, checkpointDir,
      corpusTable, nBuckets, clustersDir, nClusterBuckets, labelSnapshotsToKeep,
      onBatchComplete, payload = MicroBatchDriver.Part("fps", "_fps"),
      blocks = MicroBatchDriver.Part("bandblocks", "_bands"),
      pairCfg = cfg.pairCfg) { batch =>
      // lazy pin: the driver's emptiness-gate count materializes it
      val newBanded = graft.io.Persist.pinLazy(banded(batch))
      new CorpusBatch {
        val rows = newBanded.select($"doc_id", $"fps")
        def blocks() = bandBlocks(newBanded).as[ErPipeline.BlockRow]
        // both pair legs of a new-new candidate live in the batch pin; only
        // the b leg of a new-corpus candidate reads the stored fps
        def verify(cand: Dataset[ErPipeline.PairIds], bFps: DataFrame) = cand
          .select($"a_id".cast("long").as("a_id"), $"b_id".cast("long").as("b_id"))
          .join(newBanded.select($"doc_id".as("a_id"), $"fps".as("fa")), "a_id")
          .join(bFps.select($"doc_id".as("b_id"), $"fps".as("fb")), "b_id")
          .withColumn("inter", size(array_intersect($"fa", $"fb")).cast("long"))
          .withColumn("jacc_micro", expr(
            "CAST(FLOOR(CAST(inter AS DOUBLE) / (size(fa) + size(fb) - inter) * 1e6 + 0.5) AS BIGINT)"))
          .where($"jacc_micro" >= cfg.jaccardMinMicro)
          .select($"a_id", $"b_id", $"jacc_micro")
      }
    }
  }
}
