package graft.io

import org.apache.spark.sql.DataFrame

/** Plan/lineage truncation with ONE cluster-safe policy for the whole engine
  * (SURVEY.md §4): reliable `checkpoint` when the session has a checkpoint dir
  * configured — survives executor loss, the documented default for real
  * multi-executor runs — else eager `localCheckpoint` (sandbox / tests;
  * executor-local blocks, fastest). Every corpus-scale pin (CC iterations,
  * sorted-neighborhood rank, skew tails, near-dup signatures) routes through
  * here so configuring one checkpoint dir upgrades them all.
  */
object Persist {
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** LAZY pin (optimization r6, guide §1.2 "don't compute things you throw
    * away"): same checkpoint policy as `truncate`, but no job of its own at
    * the call. Without a checkpoint dir (`localCheckpoint(false)`) the frame
    * is materialized by the FIRST consuming job: right when that consumer is
    * itself an eager materialization that scans it exactly once (e.g. a
    * near-dup signature frame feeding the BandedPairs contraction pin) — the
    * signatures compute and persist inside that job, later consumers read
    * the pinned blocks, and the dedicated warm-up job disappears. With a
    * checkpoint dir set (`checkpoint(false)`), the first consuming job only
    * marks the RDD; Spark then recomputes it in a separate checkpoint-write
    * job after that action, so the saved job reappears (results are the
    * same). Unlike a plain `persist()`, checkpoint identity is per-RDD, so
    * two constructions of the same plan never share blocks — every
    * bench/verify rep still computes from the parquet inputs.
    */
  def pinLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(false)
    else df.localCheckpoint(false)
}
