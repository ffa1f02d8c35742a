package graft.streaming

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.nio.file.Files

/**
 * STEADY-STATE streaming micro-batch latency bench (dev tool, the
 * BASELINE.md streaming table's source): the per-round driver bench can
 * only time the AvailableNow REPLAY (history + first-touch cost); what a
 * production deployment actually cares about is the cost of the NEXT
 * micro-batch once state is built. Protocol, per stream shape:
 *
 *  1. split the events table BY EVENT TIME into history (ts < P95) and a
 *     5% increment — a time split, not a file split, so the increment is
 *     genuinely "new" data and the watermark does not discard it;
 *  2. run the shape over history with Trigger.AvailableNow into a noop
 *     sink with a checkpoint (the replay — builds all state stores);
 *  3. add the increment files and restart from the SAME checkpoint —
 *     the timed run processes ONLY the increment against restored state:
 *     the steady incremental batch (plus one restart's fixed cost, which
 *     a long-running stream would not repay; reported as-is).
 *
 * Prints one JSON line per shape: {"name":..,"replay_s":..,"steady_s":..}.
 */
object StreamSteadyBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf10")
    val spark = graft.LocalSpark.session()
    import spark.implicits._

    // ---- time-split source: history (95%) + increment (5%) ------------
    val root = graft.ScratchFiles.dir("steady")
    val ev = Tables.events(spark, sfDir)
    val t95 = ev.stat.approxQuantile("ts", Array(0.95), 0.001).head.toLong
    val hist = root.resolve("hist"); val inc = root.resolve("inc")
    ev.filter(col("ts") < t95).repartition(16)
      .write.parquet(hist.toString)
    ev.filter(col("ts") >= t95).repartition(2)
      .write.parquet(inc.toString)
    println(s"""[steady] split done: t95=$t95""")

    // each shape gets its own source dir (so file-source offsets are per-shape)
    def measure(name: String, mode: OutputMode)(build: DataFrame => DataFrame): Unit = {
      try {
        val srcRoot = root.resolve(s"src_$name")
        val srcTable = srcRoot.resolve("events.parquet")
        Files.createDirectories(srcTable)
        EventStreams.linkFlat(hist, srcTable, "hist")
        val ckpt = root.resolve(s"ckpt_$name").toString
        def runOnce(): Double = {
          val q = build(EventStreams.eventsStream(spark, srcRoot.toString))
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode(mode).trigger(Trigger.AvailableNow()).start()
          val t0 = System.nanoTime()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        val replayS = runOnce()
        EventStreams.linkFlat(inc, srcTable, "inc")
        val steadyS = runOnce()
        println(f"""{"name":"$name","replay_s":$replayS%.2f,"steady_s":$steadyS%.2f}""")
      } catch {
        case e: Exception =>
          println(s"""{"name":"$name","error":"${e.getClass.getSimpleName}"}""")
      }
    }

    import EventStreams.{withEventTime, hourlyCounts, sessionize, cepMatches, Event}

    measure("hourly_counts", OutputMode.Complete())(hourlyCounts)
    measure("sliding_counts", OutputMode.Complete())(e =>
      withEventTime(e).withWatermark("event_time", "30 minutes")
        .groupBy(window(col("event_time"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")))
    measure("session_window", OutputMode.Append())(e =>
      withEventTime(e).withWatermark("event_time", "30 minutes")
        .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
        .agg(count(lit(1)).as("n_events")))
    measure("sessions_fmgws", OutputMode.Append())(e =>
      sessionize(e.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]).toDF())
    measure("dedup", OutputMode.Append())(e =>
      withEventTime(e).withWatermark("event_time", "30 minutes")
        .dropDuplicates("user_id", "event_type").select("user_id", "event_type"))
    measure("dedup_within_watermark", OutputMode.Append())(e =>
      withEventTime(e).withWatermark("event_time", "30 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type"))
    measure("enriched", OutputMode.Complete()) { e =>
      val custDim = Tables.customer(spark, sfDir)
        .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      e.join(broadcast(custDim), col("user_id") + 1 === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_events"))
    }
    measure("topk_state", OutputMode.Complete())(e =>
      e.groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("n")))
    measure("interval_join", OutputMode.Append()) { e =>
      val views = withEventTime(e).filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("event_time").as("view_time"))
        .withWatermark("view_time", "30 minutes")
      val purchases = withEventTime(e).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("event_time").as("purchase_time"))
        .withWatermark("purchase_time", "30 minutes")
      purchases.join(views,
        col("user_id") === col("v_user") &&
        col("view_time") <= col("purchase_time") &&
        col("view_time") >= col("purchase_time") - expr("INTERVAL 30 MINUTES"))
    }
    measure("cep", OutputMode.Append())(e =>
      cepMatches(e.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Event]).toDF())

    spark.stop()
  }
}
