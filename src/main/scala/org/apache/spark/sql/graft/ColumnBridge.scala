package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge between the public `Column` API and catalyst `Expression`s.
 *
 * Spark 4 made `Column` a thin wrapper over a ColumnNode tree and moved the
 * Expression conversions behind `private[sql] ExpressionUtils`
 * (columnNodeSupport.scala). Extension libraries that define native catalyst
 * expressions (here: the witness aggregate) need exactly these two
 * conversions, so this one-file shim lives under `org.apache.spark.sql` to
 * reach them — the standard Spark-extension pattern, no internals copied.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Iterative-algorithm state management: snapshot a DataFrame's rows into
 *  a persisted `InternalRow` RDD and wrap it back as a DataFrame whose plan
 *  is just `LogicalRDD` — constant-size plans across loop rounds (no
 *  Catalyst plan nesting, no cache plan-matching fragility) WITH an
 *  explicit release handle, which `Dataset.localCheckpoint` doesn't give
 *  (its blocks linger until GC). Rows are copied before caching
 *  (`UnsafeRow` instances are reused by the scan), the RDD keeps its
 *  lineage, so an unpersisted block recomputes correctly. Lives in this
 *  shim package for `internalCreateDataFrame` (private[sql]). */
object DatasetBridge {
  final case class Snapshot(df: org.apache.spark.sql.DataFrame,
                            rdd: org.apache.spark.rdd.RDD[_]) {
    /** Unpersist and forget: once out of [[live]], nothing here keeps the
     *  RDD (and the shuffle dependencies in its lineage) reachable, so the
     *  ContextCleaner can reap its shuffle files as soon as the caller
     *  drops the frame — a loop that releases each round's snapshot keeps
     *  its scratch bounded instead of waiting for [[releaseAll]]. */
    def release(): Unit = {
      live.remove(this)
      unpersist(rdd)
    }
  }

  /** `rdd.unpersist`, without the WARN it logs for a locally checkpointed
   *  RDD ("its lineage has been truncated and cannot be recomputed"): for a
   *  `truncateLineage` snapshot that is the intended release, and the memo
   *  that held it is dropped with it. Such an RDD keeps its storage level,
   *  which only matters for a recompute it can no longer run. */
  private def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  /** Storage level for snapshots — the [[graft.Tuning.snapshotLevel]] dial
   *  (set `SPARK_GRAFT_SNAPSHOT_LEVEL=DISK_ONLY` for big single-JVM runs
   *  where a dozen per-corpus artifacts competing for one heap cause OOM;
   *  disk-backed snapshots cost a local sequential re-read and zero heap.
   *  On a real cluster the equivalent dial is executor storage memory). */
  private val level: org.apache.spark.storage.StorageLevel =
    graft.Tuning.snapshotLevel

  // every snapshot not yet released, so a long multi-corpus session can
  // release the pinned storage in bulk (graft.CorpusCaches.releaseAll)
  // instead of accumulating one persisted artifact per (application, dir)
  // forever
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Snapshot]()

  /** @param truncateLineage cut the RDD's lineage after materializing
   *  (local checkpoint semantics). A plain persisted snapshot KEEPS its
   *  build lineage, which means every shuffle in the build chain stays
   *  pinned on executor disks for the snapshot's lifetime — for a small
   *  artifact distilled from a corpus-sized shuffle (candidate-pair
   *  tables, kNN edge lists) the pinned chain can be 100× the artifact.
   *  Truncation lets the ContextCleaner reap those shuffles at the next
   *  GC. The trade: an evicted block can no longer recompute — so this is
   *  only for artifacts released exclusively through
   *  [[graft.CorpusCaches.releaseAll]], which drops the memo in the same
   *  sweep (the builder reruns from source; correctness never depended on
   *  the cache). The level keeps its disk component, so local-mode blocks
   *  are never evicted, only explicitly released. */
  def snapshot(df: org.apache.spark.sql.DataFrame,
               truncateLineage: Boolean = false): Snapshot = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(level)
    if (truncateLineage) {
      rdd.localCheckpoint() // keeps `level` (disk added if absent)
      rdd.count()           // materialize now: truncation happens at the first action
    }
    val s = Snapshot(spark.internalCreateDataFrame(rdd, df.schema), rdd)
    live.add(s)
    s
  }

  /** Unpersist every snapshot this application has taken. For plain
   *  snapshots this is safe at any point — the RDDs keep lineage, so a
   *  memoized DataFrame that outlives its release simply recomputes. A
   *  `truncateLineage = true` snapshot is the EXCEPTION: localCheckpoint
   *  discards its lineage, so a stale reference to one of those frames is
   *  permanently invalid after release (block-not-found on next use, not
   *  a recompute). The memo registries honor this by dropping their
   *  entries in the same [[graft.CorpusCaches.releaseAll]] sweep —
   *  consumers must re-enter the memoized builders, never hold a frame
   *  across a release. */
  def releaseAll(): Unit = {
    var s = live.poll()
    while (s != null) { unpersist(s.rdd); s = live.poll() }
  }
}

/** Injects the [[graft.GraftExtensions]] function catalog into an
 *  ALREADY-RUNNING session's function registry (tests, notebooks, REPLs —
 *  anywhere `spark.sql.extensions` wasn't set at session creation). */
object GraftFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.GraftExtensions.catalog.foreach { case (name, info, builder) =>
      registry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
    }
  }
}
