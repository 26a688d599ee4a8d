package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic cleanup for iterative localCheckpoint loops.
  *
  * `Dataset.localCheckpoint(eager)` truncates lineage (the fix for the
  * O(rounds)-deep-plan trap in label-propagation loops) but pins its
  * snapshot in executor storage with no public per-Dataset release:
  * `Dataset.unpersist` only touches the SQL cache manager, not the
  * checkpoint's RDD-level persist, so superseded rounds would pile up
  * until the driver's ContextCleaner happens to GC them — O(rounds) live
  * copies on a memory-tight cluster. This helper captures exactly which
  * RDD ids a checkpoint pinned (diff of `sc.getPersistentRDDs` around the
  * eager checkpoint) so the loop can free each superseded snapshot the
  * round after it stops being referenced.
  *
  * CAUTION — freeing is destructive: a localCheckpoint has no lineage to
  * recompute from, so `free` must only run once nothing will read that
  * snapshot again (the loops here free a round's snapshot only after the
  * next round is eagerly materialized). The id-diff assumes the loop is
  * the only code persisting RDDs on the session at that moment — true for
  * these driver-single-threaded loops.
  */
private[graft] object Checkpoints {

  /** Eager localCheckpoint + the RDD ids it pinned.
    *
    * Ownership is read off the RETURNED plan, not diffed from the global
    * persistent-RDD registry: `Dataset.localCheckpoint` wraps exactly the
    * RDD it persisted in the result's `LogicalRDD` leaf, so collecting
    * that leaf's rdd id is race-free — a sibling driver thread
    * checkpointing concurrently (the r16 Par overlaps) can no longer be
    * captured into this loop's free-set and have its lineage-less
    * snapshot destroyed. The registry diff remains only as a fallback
    * for a plan shape without a reflectable leaf (then the old
    * single-threaded assumption applies, as before r16).
    */
  def checkpoint(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    val owned = out.queryExecution.analyzed.collect {
      case leaf if leaf.getClass.getSimpleName == "LogicalRDD" =>
        val m = leaf.getClass.getMethod("rdd")
        m.setAccessible(true)
        m.invoke(leaf).asInstanceOf[org.apache.spark.rdd.RDD[_]].id
    }.toSet
    if (owned.nonEmpty) (out, owned)
    else (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Drops the snapshot blocks for `ids` (async; no-op for absent ids). */
  def free(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }
}
