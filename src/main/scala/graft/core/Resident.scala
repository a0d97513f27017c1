package graft.core

import org.apache.spark.rdd.RDD

/** The materialization policy of long-lived serving structures: the
  * combined shards, streaming segments, IVF/PQ bucket blocks and binary
  * sign blocks that callers cache once and then serve every read from.
  *
  * A cached RDD still carries its build lineage, and every job over it
  * serializes that lineage into the task binary: for a combined index the
  * SQL plan of its build (~85 KB, most of it the operator closures above
  * the doc-major shuffle), for a served union every segment's on top. The
  * resident RDD is a pass-through over the builder's output, marked with
  * `localCheckpoint()`: the caller's first action materializes it in the
  * same job and cuts the lineage there, so a read's task binary holds a
  * few-KB RDD instead of the plans, and neither the builder's closure
  * (centroids, codebooks, a batch's token-df map) nor its broadcasts.
  *
  * The contract callers take on:
  *   - `cache()` on a resident RDD stores MEMORY_AND_DISK (the policy
  *     needs disk so an evicted block survives); the stored blocks are
  *     the same objects a plain cache would hold;
  *   - a lost or unpersisted block is not recomputed: a job that reads it
  *     fails with Spark's "Checkpoint block not found". Unpersist a
  *     structure only once no served ref, in-flight query or pending
  *     compaction input refers to it. The durable copy of a served index
  *     is its snapshot plus the segment log, which restart recovery
  *     replays.
  *
  * Only for structures whose caller materializes them with an action that
  * computes every partition (a `count()`), as every serving builder's
  * callers do: a first action over some partitions only makes Spark run
  * one more job for the rest.
  */
private[graft] object Resident {
  def apply[T: scala.reflect.ClassTag](rdd: RDD[T]): RDD[T] =
    rdd.mapPartitions(identity[Iterator[T]], preservesPartitioning = true)
      .localCheckpoint()
}
