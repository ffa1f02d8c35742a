package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge

/** The one memo type for shared per-corpus artifacts (dedup shingle index,
 *  kNN edge list, LPA labels, price histograms, stream replays, table
 *  frames, …). Every memo follows three rules, owned here and nowhere else:
 *
 *   - '''Keying.''' A memo keys on `(applicationId, key)`: it adds
 *     `spark.sparkContext.applicationId` to the caller's key itself, so a
 *     restarted session rebuilds instead of being handed an artifact bound
 *     to a stopped SparkContext.
 *   - '''Build once.''' Under concurrent callers the build runs at most once
 *     per key: the map holds a small cell whose `lazy val` runs the
 *     build, so racing callers may create two cells but only the one that
 *     wins the insert ever builds (a losing build would otherwise persist a
 *     snapshot nobody reads). A build that throws drops its cell, leaving
 *     the key rebuildable.
 *   - '''Release.''' Memos are made only through [[memo]] and [[snapshots]],
 *     which register them. [[releaseAll]] drops every memo and unpersists
 *     every snapshot; the builders simply rebuild on next use (correctness
 *     never depends on a cache hit). A single long-lived session sweeping
 *     MANY corpora would otherwise accumulate pinned cache/disk without
 *     bound. The bench/driver flow never needs this — it runs one corpus
 *     per JVM — but a multi-corpus notebook session does. */
object CorpusCaches {

  private final class Cell[V](build: => V) { lazy val value: V = build }

  final class Memo[K, V] private[CorpusCaches] () {
    private val cells =
      new java.util.concurrent.ConcurrentHashMap[(String, K), Cell[V]]()

    def apply(spark: SparkSession, key: K)(build: => V): V = {
      val k = (spark.sparkContext.applicationId, key)
      var cell = cells.get(k)
      if (cell == null) {
        val fresh = new Cell(build)
        cell = cells.putIfAbsent(k, fresh)
        if (cell == null) cell = fresh
      }
      try cell.value
      catch { case t: Throwable => cells.remove(k, cell); throw t }
    }

    private[CorpusCaches] def clear(): Unit = cells.clear()
  }

  /** A memo whose value is a [[DatasetBridge.snapshot]] of the build. */
  final class SnapshotMemo[K] private[CorpusCaches] (
      frames: Memo[K, DataFrame], truncateLineage: Boolean) {
    def apply(spark: SparkSession, key: K)(build: => DataFrame): DataFrame =
      frames(spark, key)(DatasetBridge.snapshot(build, truncateLineage).df)
  }

  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Memo[_, _]]()

  def memo[K, V](): Memo[K, V] = {
    val m = new Memo[K, V]
    registered.add(m)
    m
  }

  def snapshots[K](truncateLineage: Boolean = false): SnapshotMemo[K] =
    new SnapshotMemo(memo[K, DataFrame](), truncateLineage)

  /** Drop every memo and release every snapshot's storage. */
  def releaseAll(): Unit = {
    registered.forEach(m => m.clear())
    DatasetBridge.releaseAll()
  }
}
