package org.apache.spark.sql

/** Release the storage behind a `localCheckpoint()`ed Dataset.
  *
  * `Dataset.unpersist` goes through the CacheManager, which never
  * registered a localCheckpoint — calling it on checkpointed state is
  * a silent no-op (plus a misleading "cannot be recomputed after
  * unpersisting" log line). The state actually pinned is the
  * `RDD[InternalRow]` inside the checkpoint's `LogicalRDD` leaf; this
  * bridge unpersists THAT, so iterative algorithms (label propagation,
  * PageRank, BPE rounds, Lloyd rounds) genuinely drop superseded
  * per-round state instead of accumulating every round's blocks until
  * a harness-level sweep. Standard extension-library `private[sql]`
  * bridge pattern, same as [[GraftColumnBridge]].
  */
object GraftReleaseBridge {
  /** Unpersist the checkpoint RDD behind `ds`; falls back to the
    * CacheManager path for `.persist()`ed (non-checkpoint) inputs.
    *
    * Deliberately matches ONLY a plan whose ROOT is a `LogicalRDD` —
    * i.e. the checkpointed frame itself, not a derived view. The
    * tempting generalization (collect every `LogicalRDD` leaf of the
    * analyzed plan and unpersist each) is WRONG: a derived frame can
    * reference checkpoints it does not own. Concretely, in
    * `TrainQueries.bpeTrain` each round's `bpePairCounts(vocab)` is an
    * aggregate over the `vocab` checkpoint that the same round's merge
    * projection reads again; releasing leaves there would drop
    * `vocab`'s blocks and the merge job would die with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (DeterminismSpec reproduced
    * that failure when leaf release was tried). "Release exactly the
    * relation you were handed, and only if you were handed the
    * checkpoint itself"
    * is the only ownership rule a call site can reason about; passing
    * a derived frame degrades to the CacheManager no-op, which is the
    * SAFE direction. Call sites that want a real release must pass
    * the checkpointed frame.
    * Non-blocking: release ordering never gates the next round. */
  def release(ds: Dataset[_]): Unit = ds match {
    case d: classic.Dataset[_] =>
      d.queryExecution.analyzed match {
        case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => d.unpersist(blocking = false)
      }
    case other => other.unpersist(blocking = false)
  }
}
