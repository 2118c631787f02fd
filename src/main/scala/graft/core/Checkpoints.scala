package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of the block-store entries behind
  * `localCheckpoint` frames.
  *
  * An eager local checkpoint is a plain persisted RDD; the
  * ContextCleaner frees it only after the *referencing JVM object* is
  * garbage-collected. Iterative operators (connected components,
  * PageRank) that checkpoint every round therefore strand dozens of
  * dead round-(N−1) blocks per call — harmless in a toy run, but a
  * production pipeline calling these operators back-to-back
  * accumulates orphaned blocks until the storage pool evicts working
  * cache (the round-6→7 bench drift, relocated inside the operators
  * in round 8). Each fixpoint loop instead releases round N−1 the
  * moment round N is materialized.
  *
  * Identification is by the frame's OWN plan — the `LogicalRDD`
  * leaves its lineage actually reads — never by diffing the context's
  * persistent-RDD registry, which would race against concurrent
  * queries on the same session (graft.Verify dumps four at a time).
  *
  * SAFETY: a local checkpoint has no lineage to recompute from, so
  * releasing one is only valid when the frame (and everything derived
  * from it lazily) will never be read again. Inside operators, this
  * releases superseded rounds. For RETURNED results, it is the
  * caller-side release: a checkpointed result frame
  * ([[graft.dedup.Dedup.nearDupClusters]], [[graft.operators.Graph]]
  * outputs) owns 1-3 blocks that otherwise live until the JVM handle
  * is garbage-collected — call `releaseAll(result)` when done
  * consuming it (composite results expose it as `release()`:
  * [[graft.pipeline.CorpusPipeline.Prepared]],
  * [[graft.dedup.Dedup.IncrementalNearDup]]). */
object Checkpoints {

  /** Unpersist every checkpoint/cached-scan RDD this frame's plan
    * reads. Blocking=false: eviction proceeds asynchronously; the ids
    * leave the persistent registry immediately. */
  def releaseAll(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }.distinct.foreach { r => r.unpersist(blocking = false); () }

  /** The between-runs block reset the sequential drivers (Bench,
    * Profile) run after every query: drop DataFrame-level cache
    * entries, unpersist (blocking) every RDD still persisted, and nudge
    * GC to release broadcast/weak refs. Returns the leftover RDDs it
    * freed, oldest first — a non-empty result names a query that left
    * blocks behind (RDD.toString carries the creation callsite).
    *
    * Unlike [[releaseAll]] this diffs nothing and spares nothing: it
    * frees the whole persistent registry, so it is only valid when no
    * other query is running on the session (never inside Verify's
    * concurrent dump). */
  def resetBlocks(spark: SparkSession): Seq[RDD[_]] = {
    spark.catalog.clearCache()
    val leftovers = spark.sparkContext.getPersistentRDDs.toSeq.sortBy(_._1).map(_._2)
    leftovers.foreach(_.unpersist(blocking = true))
    System.gc()
    leftovers
  }
}
