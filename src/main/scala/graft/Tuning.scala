package graft

import org.apache.spark.storage.StorageLevel

/** Storage levels for the engine's two kinds of materialization.
 *
 *  SNAPSHOTS (per-corpus shared artifacts: shingle index, trained
 *  centroids, edge lists — [[org.apache.spark.sql.graft.DatasetBridge]])
 *  read `SPARK_GRAFT_SNAPSHOT_LEVEL`. In a big single-JVM run (the full
 *  suite at sf10) a dozen snapshots compete for one heap; DISK_ONLY costs
 *  a sequential local re-read and zero heap — measured as the difference
 *  between the suite finishing and OOMing a 16g heap.
 *
 *  INTRA-QUERY persist barriers (shared shuffles, two-pass ranks,
 *  both-sides-of-a-join frames) are always MEMORY_AND_DISK, even when
 *  snapshots are disk-backed. Measured at sf100 (600M lineitem, 48g JVM,
 *  one disk): forcing q64's 150M-row basket barrier to DISK_ONLY made it
 *  ~35% SLOWER (316/447 s vs 255/324) — DataFrame cache is compressed
 *  columnar batches, so the heap cost of MEMORY_AND_DISK is modest and
 *  the extra disk round-trip just adds contention on the same spindle
 *  the shuffles spill to.
 */
object Tuning {
  val snapshotLevel: StorageLevel = sys.env.get("SPARK_GRAFT_SNAPSHOT_LEVEL")
    .map(StorageLevel.fromString)
    .getOrElse(StorageLevel.MEMORY_AND_DISK)
  val persistLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK
}
