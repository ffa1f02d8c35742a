package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** CRASH-RECOVERY proof for the two durable sinks: kill the replay
 *  mid-stream (checkpoint intact), restart against the same checkpoint,
 *  and assert exactly-once output equality. Spark's contract says this
 *  works; these tests make the claim empirical instead of inferred.
 *   - foreachBatch upsert: the kill lands at the WORST point — after a
 *     batch's version directory is durably written but before the atomic
 *     `current` repoint (the poison hook). The restart must replay that
 *     batch (same batch id from the checkpoint's offset log) and the
 *     idempotent merge must converge to the exact batch aggregate.
 *   - backfill dedup file sink: a doubled, time-ordered source streamed
 *     one file per trigger on RocksDB state, killed after the first
 *     commits; the restart resumes watermark + dedup state from the
 *     checkpoint and the commit-log read must see each event exactly
 *     once. */
class StreamRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("foreachBatch upsert recovers exactly-once from a crash between write and commit") {
    import spark.implicits._
    val tmp = graft.ScratchFiles.dir("graft_recovery_upsert")
    val out = tmp.resolve("events.parquet").toString
    (0L until 4L).foreach { u =>
      (1L to 6L).map { i =>
        (u * 10 + i, (3600L * i) * 1000000000L, u, if (i % 2 == 0) "click" else "view", i.toDouble)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(out)
    }
    val root = graft.ScratchFiles.dir("graft_recovery_root")
    // run 1: crash AFTER batch 1's version dir is durable, BEFORE its commit
    val q1 = EventStreams.startUpsertQuery(spark, tmp.toString, root,
      filesPerTrigger = Some(1),
      poison = bid => if (bid == 1) sys.error("injected crash: power loss before repoint"))
    val failed = scala.util.Try(q1.awaitTermination())
    assert(failed.isFailure, "the poisoned run must die mid-replay")
    // the crash left durable-but-uncommitted state behind: v1 exists,
    // current still points at v0
    assert(Files.exists(root.resolve("v1")), "batch 1's version dir must be durable")
    assert(root.resolve("current").toRealPath().getFileName.toString == "v0",
      "current must still point at the last COMMITTED version")
    // run 2: same root, same checkpoint, no poison — must resume from the
    // offset log (replaying batch 1) and finish the remaining files
    val q2 = EventStreams.startUpsertQuery(spark, tmp.toString, root, filesPerTrigger = Some(1))
    q2.awaitTermination()
    val result = spark.read.parquet(root.resolve("current").toString)
      .select("user_id", "event_type", "n_events")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = spark.read.parquet(out)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(result == expected,
      "restarted upsert must converge to the exact batch aggregate - exactly once")
  }

  test("backfill dedup file sink recovers exactly-once on RocksDB state across a restart") {
    import spark.implicits._
    // doubled, TIME-ORDERED source: file i covers a later hour range than
    // file i-1, and each file's duplicate copy sits right behind it in
    // name order (f0i_a, f0i_b) — the shape a real backfill cutover has,
    // and the one where per-file triggers never advance the watermark
    // past an unseen FIRST copy
    val tmp = graft.ScratchFiles.dir("graft_recovery_backfill")
    val nFiles = 4
    (0 until nFiles).foreach { i =>
      val rows = (1L to 50L).map { j =>
        val id = i * 100L + j
        (id, (i * 36000L + 60L * j) * 1000000000L, id % 5, "click", j.toDouble)
      }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value").coalesce(1)
      // the file stream source lists LEAF files and skips non-partition
      // subdirectories, so each copy must be a single flat parquet file
      val staging = graft.ScratchFiles.dir(s"graft_recovery_stage_$i")
      df.write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(part, tmp.resolve(s"f0${i}_a.parquet"))
      Files.copy(part, tmp.resolve(s"f0${i}_b.parquet"))
    }
    val sinkRoot = graft.ScratchFiles.dir("graft_recovery_sink")
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def start() = {
        val src = spark.readStream
          .schema(spark.read.parquet(tmp.resolve("f00_a.parquet").toString).schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(tmp.toString)
        EventStreams.withEventTime(graft.Tables.normalizeTs(src))
          .withWatermark("event_time", "30 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_time"), col("value"))
          .writeStream.format("parquet")
          .option("path", sinkRoot.resolve("data").toString)
          .option("checkpointLocation", sinkRoot.resolve("chk").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      // run 1: kill after at least one batch committed (a crash between
      // micro-batches; the harsher mid-merge point is covered above)
      val q1 = start()
      val deadline = System.nanoTime() + 120e9.toLong
      while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
             q1.isActive && System.nanoTime() < deadline) Thread.sleep(50)
      q1.stop()
      scala.util.Try(q1.awaitTermination())
      // run 2: same checkpoint — watermark and RocksDB dedup state resume
      val q2 = start()
      q2.awaitTermination()
      // read THROUGH the commit log: exactly the distinct events, no copy
      // double-counted across the restart boundary
      val sunk = spark.read.parquet(sinkRoot.resolve("data").toString)
      assert(sunk.count() == nFiles * 50L,
        "sink must hold each event exactly once despite the doubled source and the kill")
      assert(sunk.select("event_id").distinct().count() == nFiles * 50L)
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
