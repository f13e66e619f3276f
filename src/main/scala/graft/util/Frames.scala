package graft.util

import org.apache.spark.sql.DataFrame

/** Lifecycle helpers for materialized frames. */
object Frames {

  /** Eagerly free the pinned blocks of a SUPERSEDED localCheckpoint'ed
    * frame. A local checkpoint's blocks ARE its data — there is no
    * lineage to recompute from — so this must only ever run on frames
    * that are provably dead (a loop round superseded by the next
    * materialized round, an index frame after the last consumer has
    * materialized its own output). Left to the ContextCleaner, release
    * waits for a driver GC — rare in a large-heap long session, so dead
    * rounds would otherwise accumulate in the block manager. The Dataset
    * API exposes no release path (unpersist() on the checkpointed
    * Dataset is a no-op on these blocks); the checkpointed RDD sits
    * behind the plan's LogicalRDD leaf. */
  def releaseCheckpoint(df: DataFrame): Unit =
    releaseCheckpointPlan(df.queryExecution.analyzed)

  /** Plan-level form of [[releaseCheckpoint]] — for holders of a bare
    * analyzed plan with no Dataset handle. */
  def releaseCheckpointPlan(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    checkpointRdds(plan).foreach(_.unpersist(blocking = false))

  /** [[releaseCheckpoint]] of `df` that spares every checkpoint of
    * `input`'s plan — for a frame built from a caller's input, whose
    * pinned blocks (a backfill may pass a localCheckpointed frame) belong
    * to the caller. */
  def releaseCheckpointBeyond(df: DataFrame, input: DataFrame): Unit = {
    val callers = checkpointRdds(input.queryExecution.analyzed).map(_.id).toSet
    checkpointRdds(df.queryExecution.analyzed).filterNot(r => callers(r.id))
      .foreach(_.unpersist(blocking = false))
  }

  private def checkpointRdds(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }

  /** Whether every checkpoint-backed leaf of `plan` still holds its
    * blocks. A localCheckpoint has no lineage: once ANY external party
    * (the bench harness's between-samples release, a user unpersist)
    * drops its blocks, re-executing the plan fails — a cache serving
    * such plans must detect the release and rebuild instead. */
  def checkpointsAlive(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    var alive = true
    plan.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE =>
        alive = false
      case _ => ()
    }
    alive
  }
}
