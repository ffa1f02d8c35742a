package graft.streaming

import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import java.nio.file.{Files, Paths}

/**
 * Structured Streaming over the events table: watermarked tumbling-window
 * aggregation and stateful sessionization via `flatMapGroupsWithState` —
 * the streaming twins of q14_events_hourly and q15_sessionize.
 *
 * Design for an unbounded 100 TB/day stream:
 *  - event time derives from the nanosecond `ts` (micros precision);
 *    a 30-min watermark bounds window/session state;
 *  - sessionization keys state by user_id — state size is O(active users),
 *    closed sessions flush on event-time timeout;
 *  - the harness entries replay the parquet table through the SAME
 *    streaming plans with Trigger.AvailableNow into memory sinks. The four
 *    stream_* entries (hourly counts, sessions, schema evolution, dedup)
 *    share ONE pass: all queries start concurrently against the same
 *    source files, so the per-query streaming fixed cost (microbatch
 *    planning, state-store setup, sink commit) is paid once per
 *    scale-factor directory instead of four times.
 *  - the session replay appends one SENTINEL event per user far beyond the
 *    last real timestamp; the sorted per-user fold closes every real
 *    session when it reaches the sentinel, so the emitted set equals the
 *    batch gap-sessionization exactly — which makes `stream_sessions`
 *    oracle-checkable instead of "a deterministic subset". The sentinel's
 *    own session stays open in state and is never emitted (and is filtered
 *    defensively anyway).
 */
object EventStreams {

  final case class Event(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double)
  final case class SessionOut(user_id: Long, session_start_us: Long, n_events: Long)
  // public: the state encoder's generated code must see the constructor
  final case class SessState(startUs: Long, lastUs: Long, n: Long)

  val SessionGapUs: Long = 1800000000L // 30 min

  /** Event frame with a proper event-time column (micros → timestamp). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling 1-hour counts with a 30-minute watermark. */
  def hourlyCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "30 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_start_us"), col("event_type"), col("n"), col("sum_value"))

  /** Stateful sessionization: 30-min-gap sessions per user. Emits one row
   *  per CLOSED session (on gap or event-time timeout). State per key is a
   *  single (start, last, count) triple. */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val typed = withEventTime(events.toDF())
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_time"))
      .withWatermark("event_time", "30 minutes")
      .as[(Long, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState[SessState, SessionOut](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (user, rows, state: GroupState[SessState]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(s => SessionOut(user, s.startUs, s.n)).toList
          state.remove()
          out.iterator
        } else {
          val sorted = rows.map(_._2).toVector.sorted
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          for (t <- sorted) {
            cur match {
              case Some(s) if t - s.lastUs <= SessionGapUs =>
                // a late (within-watermark) event must not move the session
                // end backwards or the next on-time event falsely closes it
                cur = Some(s.copy(startUs = math.min(s.startUs, t),
                  lastUs = math.max(s.lastUs, t), n = s.n + 1))
              case Some(s) =>
                closed ::= SessionOut(user, s.startUs, s.n)
                cur = Some(SessState(t, t, 1))
              case None =>
                cur = Some(SessState(t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.lastUs / 1000 + SessionGapUs / 1000 + 60000)
          }
          closed.reverseIterator
        }
    }
  }

  final case class CepState(views: List[Long], clicks: List[Long])
  final case class CepMatch(user_id: Long, purchase_id: Long, purchase_us: Long, view_us: Long)

  /** CEP PATTERN MATCHING — detect `view → purchase within 30 min with NO
   *  intervening click` per user. The negation ("no click between") is
   *  what makes this complex-event processing rather than a stream-stream
   *  join: an interval join can express "purchase after view" (see
   *  [[streaming]] stream_join) but not "…and nothing of type C in
   *  between". State per user is the 30-minute context horizon: the view
   *  and click timestamps still inside the window any FUTURE purchase
   *  could reference — evicted past the horizon each batch and removed
   *  wholesale on event-time timeout, so state is O(events per user per
   *  horizon), never per-user history.
   *
   *  Match rule (pure event-TIME logic, so batch arrival order inside a
   *  micro-batch cannot change the answer): a purchase at t matches the
   *  LATEST view v with t−30min ≤ v ≤ t, provided no click lands strictly
   *  inside (v, t). Matches emit on purchase arrival from data seen so
   *  far; the bounded one-batch replay therefore equals the batch SQL
   *  (join + NOT EXISTS), which is the oracle. */
  def cepMatches(events: Dataset[Event]): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    val typed = withEventTime(events.toDF())
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_time"))
      .withWatermark("event_time", "30 minutes")
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState[CepState, CepMatch](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case (user, rows, state: GroupState[CepState]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val evs = rows.map(r => (r._3, r._2, r._4)).toVector // (us, type, id)
          val st = state.getOption.getOrElse(CepState(Nil, Nil))
          val views = (st.views ++ evs.collect { case (us, "view", _) => us }).sorted
          val clicks = (st.clicks ++ evs.collect { case (us, "click", _) => us }).sorted
          val out = evs.collect { case (pUs, "purchase", pid) =>
            views.takeWhile(_ <= pUs).lastOption
              .filter(_ >= pUs - SessionGapUs)
              .collect { case vUs if !clicks.exists(c => c > vUs && c < pUs) =>
                CepMatch(user, pid, pUs, vUs)
              }
          }.flatten
          val hi = (views ++ clicks ++ evs.map(_._1)).foldLeft(0L)(math.max)
          val keepFrom = hi - SessionGapUs
          state.update(CepState(views.filter(_ >= keepFrom), clicks.filter(_ >= keepFrom)))
          state.setTimeoutTimestamp(hi / 1000 + SessionGapUs / 1000 + 60000)
          out.iterator
        }
    }
  }

  // ---- harness entries: replay parquet through the streaming plans --------

  /** Replay scratch dir with a JVM-exit cleanup hook: replay sources and
   *  file sinks write real parquet copies, and without the hook repeated
   *  app runs would accumulate them in the system temp dir. */
  private def tempDirWithCleanup(prefix: String): java.nio.file.Path = {
    val p = Files.createTempDirectory(prefix)
    graft.ScratchFiles.deleteOnExit(p)
    p
  }

  private[streaming] def eventsStream(spark: SparkSession, dir: String, glob: String = "events.parquet",
                           filesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the file stream source wants a directory; glob-filter to the table.
    // A table can be a single file (driver testdata), a multi-file
    // directory (ScaleGen output, any real warehouse), or a flat replay
    // dir of leaf files (sessionSourceDir) — stream the directory whose
    // LEAF files are the data, since pathGlobFilter matches leaf names
    // and would match nothing through a subdirectory.
    val table = new java.io.File(dir, "events.parquet")
    val (streamDir, streamGlob) =
      if (table.isDirectory) (table.getPath, "*.parquet") else (dir, glob)
    val schema = spark.read.option("pathGlobFilter", streamGlob)
      .parquet(streamDir).schema
    val rs = spark.readStream.schema(schema).option("pathGlobFilter", streamGlob)
    filesPerTrigger.foreach(n => rs.option("maxFilesPerTrigger", n.toString))
    // same Long-nanos ts contract as the batch loader, whatever the files'
    // physical type — a stateless per-row projection, safe on a stream
    Tables.normalizeTs(rs.parquet(streamDir))
  }

  /** Session replay source: a temp directory with the real events file
   *  (symlinked, never copied) plus one sentinel event per user at
   *  max(ts) + 2 gaps. The sentinel frame is a distributed aggregate
   *  (distinct users), not a driver loop — at production scale it is one
   *  tiny extra job over the corpus. Returns (dir, sentinel ts in micros). */
  private def sessionSourceDir(spark: SparkSession, dir: String): (String, Long) = {
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max("ts")).head().getLong(0)
    // 3 gaps past max: the final watermark (sentinel − 1 gap) then lands
    // STRICTLY past every real session's window end (≤ max + 1 gap), so
    // both the state-timeout path (sessionize) and the native
    // session_window aggregation emit even the session holding the
    // global max event
    val sentinelTs = maxTs + 3 * SessionGapUs * 1000L // ts is nanos, gap micros
    val tmp = tempDirWithCleanup("graft_sess_replay")
    // single-file table → one symlink; multi-file directory table → one
    // symlink per data file, flattened (the replay dir must stay a flat
    // directory of leaf parquet files for the *.parquet stream glob).
    // ABSOLUTE path: a symlink target resolves against the LINK's
    // directory, so a relative sf dir (`data/sf10`) would produce links
    // into /tmp/graft_sess_replay*/data/... — every stream consumer then
    // fails with UNABLE_TO_INFER_SCHEMA (14 queries at once in a bench)
    val srcTable = Paths.get(s"$dir/events.parquet").toAbsolutePath.normalize
    if (Files.isDirectory(srcTable)) {
      val listing = Files.list(srcTable)
      var j = 0
      try {
        val it = listing.filter(_.toString.endsWith(".parquet")).iterator()
        while (it.hasNext) {
          Files.createSymbolicLink(tmp.resolve(s"events_$j.parquet"), it.next()); j += 1
        }
      } finally listing.close()
    } else Files.createSymbolicLink(tmp.resolve("events.parquet"), srcTable)
    // leading underscore: Spark ignores the build dir when listing sources
    val build = tmp.resolve("_sentinel_build")
    // the sentinel file is globbed into the SAME stream source as the real
    // events file, so its ts must carry the real file's physical type (the
    // stream reads every file through one schema); eventsStream then folds
    // both to the Long-nanos contract
    val rawTsType = spark.read.parquet(srcTable.toString).schema("ts").dataType
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val sentinelTsCol = rawTsType match {
      case TimestampType    => timestamp_micros(lit(sentinelTs / 1000L))
      case TimestampNTZType => timestamp_micros(lit(sentinelTs / 1000L)).cast(TimestampNTZType)
      case _                => lit(sentinelTs) // Long-nanos layout
    }
    ev.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"), sentinelTsCol.as("ts"), col("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit(null).cast("string").as("props"))
      .write.parquet(build.toString)
    // no coalesce(1): at 100 TB/day a single sentinel writer is a straggler.
    // Every task writes its own part file; all of them are globbed into the
    // stream source alongside the real events file.
    val listing = Files.list(build)
    var i = 0
    try {
      val it = listing.filter(p => p.toString.endsWith(".parquet")).iterator()
      while (it.hasNext) { Files.move(it.next(), tmp.resolve(s"sentinel_$i.parquet")); i += 1 }
    } finally listing.close()
    require(i > 0, "sentinel part files missing")
    (tmp.toString, sentinelTs / 1000L)
  }

  private final case class Replay(
      hourly: DataFrame, sessions: DataFrame, schema: DataFrame, dedup: DataFrame,
      enriched: DataFrame, sliding: DataFrame, typeUserCounts: DataFrame,
      attributed: DataFrame, fileSink: DataFrame, sessionWin: DataFrame,
      dedupWm: DataFrame, leftJoin: DataFrame, cep: DataFrame, backfill: DataFrame)
  private val replays = graft.CorpusCaches.memo[String, Replay]()

  /** One shared AvailableNow replay per sf directory: the four streaming
   *  harness queries start concurrently and are awaited together, then each
   *  entry reads its own memory sink. Whichever entry the harness calls
   *  first pays the (single) replay; the others are lookups. */
  private def replay(spark: SparkSession, dir: String): Replay =
    replays(spark, dir) {
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val hourlyName = s"stream_hourly_$tag"
      val schemaName = s"stream_schema_$tag"
      val sessName = s"stream_sessions_$tag"
      val dedupName = s"stream_dedup_$tag"
      // state-store count follows shuffle.partitions; the replay harness
      // runs at tiny SF where 32 stores per query is pure fixed cost — a
      // production stream sizes this to its cluster instead
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      // RocksDB state stores: an AvailableNow replay processes the whole
      // history in ONE micro-batch (watermarks only advance between
      // batches), so the stream-stream join states briefly hold BOTH full
      // filtered streams — at sf10 that is GBs of state, and the default
      // heap-backed store OOMed a 16g driver. RocksDB keeps state
      // off-heap/on-disk with identical semantics — also simply the
      // production default for big stateful streams.
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val (sessDir, sentinelUs) = sessionSourceDir(spark, dir)
        import spark.implicits._
        val qHourly = hourlyCounts(eventsStream(spark, dir))
          .writeStream.format("memory").queryName(hourlyName)
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        val qSchema = eventsStream(spark, dir)
          .groupBy(col("event_type"))
          .agg(graft.schemer.InferSchema.infer_hive_type(col("props")).as("hive_type"))
          .writeStream.format("memory").queryName(schemaName)
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        val sessEvents = eventsStream(spark, sessDir, glob = "*.parquet")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[Event]
        val qSess = sessionize(sessEvents)
          .writeStream.format("memory").queryName(sessName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // NATIVE session windows — the same 30-min-gap sessions computed by
        // Spark's built-in session_window aggregation instead of the custom
        // flatMapGroupsWithState fold: state is managed by the engine's
        // session-window store (merge-on-overlap), the watermark bounds it,
        // and Append mode emits each session once its window end passes the
        // watermark. Boundary semantics differ from sessionize BY CONTRACT:
        // windows [t, t+gap) merge only on OVERLAP, so an event exactly
        // `gap` after the last one starts a NEW session (sessionize's
        // `diff <= gap` keeps it) — the oracle encodes `diff >= gap`.
        // Same sentinel replay closes every real session; sentinel
        // sessions are filtered on read like streamSessions.
        val sessWinName = s"stream_sesswin_$tag"
        val qSessWin = withEventTime(eventsStream(spark, sessDir, glob = "*.parquet"))
          .withWatermark("event_time", "30 minutes")
          .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            col("n_events"))
          .writeStream.format("memory").queryName(sessWinName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        val qDedup = withEventTime(eventsStream(spark, dir))
          .withWatermark("event_time", "30 minutes")
          .dropDuplicates("user_id", "event_type")
          .select("user_id", "event_type")
          .writeStream.format("memory").queryName(dedupName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // BOUNDED-STATE streaming dedup — dropDuplicatesWithinWatermark:
        // plain dropDuplicates keeps every key in state FOREVER (state =
        // O(distinct keys ever seen) — an unbounded stream eventually
        // OOMs); the WithinWatermark variant evicts keys once the
        // watermark passes their event time, so state is O(keys per
        // watermark horizon) — the only production-safe default for an
        // unbounded 100 TB/day stream. Within the bounded replay every
        // duplicate arrives inside one watermark window, so the result
        // still equals the batch DISTINCT — an exact oracle, while the
        // operator itself is the one a real deployment must use.
        val dedupWmName = s"stream_dedupwm_$tag"
        val qDedupWm = withEventTime(eventsStream(spark, dir))
          .withWatermark("event_time", "30 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select("user_id", "event_type")
          .writeStream.format("memory").queryName(dedupWmName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // STREAM-STATIC enrichment: the unbounded event stream joins a
        // broadcast dimension (customer → nation, the id mapping is
        // user_id+1 = c_custkey) — the standard enrichment shape: the dim
        // is read once per micro-batch planning, ships as a broadcast, and
        // the join adds NO stream state; only the final small aggregate is
        // stateful.
        val enrichedName = s"stream_enriched_$tag"
        val custDim = Tables.customer(spark, dir)
          .join(Tables.nation(spark, dir),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val qEnriched = eventsStream(spark, dir)
          .join(broadcast(custDim), col("user_id") + 1 === col("c_custkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(12,2)")).as("sv"))
          .select(col("n_name").as("nation"), col("n_events"),
            // exact decimal sum inside, double at the output boundary (the
            // suite-wide oracle convention: never DECIMAL in final schema)
            col("sv").cast("double").as("sum_value"))
          .writeStream.format("memory").queryName(enrichedName)
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        // SLIDING windows (2 h window / 1 h slide): every event lands in
        // exactly two windows; same watermark bound on state as tumbling
        val slidingName = s"stream_sliding_$tag"
        val qSliding = withEventTime(eventsStream(spark, dir))
          .withWatermark("event_time", "30 minutes")
          .groupBy(window(col("event_time"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("win_start_us"), col("event_type"), col("n"))
          .writeStream.format("memory").queryName(slidingName)
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        // Leaderboard state: per-(event_type, user) counts maintained by the
        // stream; the top-k itself is computed ON READ from the sink (see
        // [[streamTopk]]) — chaining a second stateful rank into the same
        // streaming query is unsupported (and unnecessary: rank-on-read is
        // how a live leaderboard actually serves).
        val topkName = s"stream_topk_$tag"
        val qTopk = eventsStream(spark, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(topkName)
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        // STREAM-STREAM interval join — purchase attribution: each purchase
        // joins every view by the same user in the preceding 30 minutes.
        // Both sides are watermarked and the join condition carries the
        // time range, so Spark bounds both state stores to the watermark
        // horizon — the canonical unbounded two-stream join. Replayed
        // bounded ⇒ equals the batch interval join ⇒ exact oracle.
        val joinName = s"stream_join_$tag"
        val views = withEventTime(eventsStream(spark, dir))
          .filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("event_time").as("view_time"))
          .withWatermark("view_time", "30 minutes")
        val purchases = withEventTime(eventsStream(spark, dir))
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("event_time").as("purchase_time"))
          .withWatermark("purchase_time", "30 minutes")
        val qJoin = purchases.join(views,
            col("user_id") === col("v_user") &&
            col("view_time") <= col("purchase_time") &&
            col("view_time") >= col("purchase_time") - expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            (unix_micros(col("purchase_time")) - unix_micros(col("view_time"))).as("lag_us"))
          .writeStream.format("memory").queryName(joinName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // STREAM-STREAM LEFT OUTER interval join — the attribution report
        // including the misses: every purchase, matched views or NULL.
        // Outer rows can only emit once the watermark proves no match can
        // still arrive, so this query NEEDS watermark progress past the
        // last real event — it reads the sentinel-augmented source (the
        // sessionize replay's trick): sentinels ride along on BOTH sides
        // (filtered to view/purchase + sentinel), push the final
        // watermark a full gap past every real purchase, and are dropped
        // on read by their timestamp. On an unbounded stream the same
        // plan emits each unmatched purchase one watermark delay after
        // its window closes — state stays bounded on both sides.
        val leftJoinName = s"stream_leftjoin_$tag"
        val lViews = withEventTime(eventsStream(spark, sessDir, glob = "*.parquet"))
          .filter(col("event_type").isin("view", "sentinel"))
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("event_time").as("view_time"))
          .withWatermark("view_time", "30 minutes")
        val lPurch = withEventTime(eventsStream(spark, sessDir, glob = "*.parquet"))
          .filter(col("event_type").isin("purchase", "sentinel"))
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("event_time").as("purchase_time"))
          .withWatermark("purchase_time", "30 minutes")
        val qLeftJoin = lPurch.join(lViews,
            col("user_id") === col("v_user") &&
            col("view_time") <= col("purchase_time") &&
            col("view_time") >= col("purchase_time") - expr("INTERVAL 30 MINUTES"),
            "leftOuter")
          .select(col("user_id"), col("purchase_id"), col("view_id"),
            unix_micros(col("purchase_time")).as("purchase_us"),
            (unix_micros(col("purchase_time")) - unix_micros(col("view_time"))).as("lag_us"))
          .writeStream.format("memory").queryName(leftJoinName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // BACKFILL UNION (the lambda pattern) — history replay + live tail
        // as ONE stream: the same table arrives through TWO overlapping
        // pipelines (every event twice — the overlap a real backfill
        // always has at the cutover boundary), and
        // dropDuplicatesWithinWatermark on event_id restores exactly-once
        // in-stream (bounded state — keys evict at the watermark). The
        // hourly rollup happens ON READ from the sink, the streamTopk
        // discipline: chaining a second stateful aggregation behind the
        // dedup would hold the final window hostage to one more watermark
        // hop that an AvailableNow replay never takes. The oracle is the
        // per-hour rollup of the SINGLE-copy table — 2× input, 1× output
        // is the whole point.
        val backfillDir = {
          val tmp = tempDirWithCleanup("graft_backfill")
          // absolute for the same reason as the session replay above:
          // relative symlink targets break under a relative sf dir
          val srcTable = Paths.get(s"$dir/events.parquet").toAbsolutePath.normalize
          def linkAll(prefix: String): Unit =
            if (Files.isDirectory(srcTable)) {
              val listing = Files.list(srcTable)
              var j = 0
              try {
                val it = listing.filter(_.toString.endsWith(".parquet")).iterator()
                while (it.hasNext) {
                  Files.createSymbolicLink(tmp.resolve(s"${prefix}_$j.parquet"), it.next()); j += 1
                }
              } finally listing.close()
            } else Files.createSymbolicLink(tmp.resolve(s"$prefix.parquet"), srcTable)
          linkAll("history"); linkAll("live")
          tmp.toString
        }
        // PARQUET sink, not memory: the deduped stream is corpus-sized
        // (every surviving event) — a memory sink would hold it all on
        // the driver heap, which is exactly what OOMed the sf10 bench.
        // The file sink spills to disk like production and the rollup
        // reads it back through the commit log.
        val backfillRoot = tempDirWithCleanup("graft_backfill_sink")
        // SINGLE-BATCH ASSUMPTION: exactly-once here relies on AvailableNow
        // reading ALL history+live symlinks in one micro-batch, so no copy
        // of an event ever arrives behind a watermark advanced by an
        // earlier batch. If maxFilesPerTrigger were ever configured the
        // source would split the listing and late first-copies would be
        // silently dropped — the builder asserts the 2x-in/1x-out equality
        // below so that misconfiguration fails loudly, not silently.
        val qBackfill = withEventTime(eventsStream(spark, backfillDir, glob = "*.parquet"))
          .withWatermark("event_time", "30 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_time"), col("value"))
          .writeStream.format("parquet")
          .option("path", backfillRoot.resolve("data").toString)
          .option("checkpointLocation", backfillRoot.resolve("chk").toString)
          .trigger(Trigger.AvailableNow()).start()
        // CEP pattern matcher — see [[cepMatches]]; reads the plain source
        // (emission happens on purchase arrival, no sentinel needed)
        val cepName = s"stream_cep_$tag"
        val cepEvents = eventsStream(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[Event]
        val qCep = cepMatches(cepEvents)
          .writeStream.format("memory").queryName(cepName)
          .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
        // FILE SINK — the production persistence path (memory sinks are
        // harness-only): append the enriched event stream to partitioned
        // parquet with a checkpoint. The sink's _spark_metadata commit log
        // is what gives exactly-once across restarts; partitioning by
        // event_type matches how a downstream batch reader would prune.
        val sinkRoot = tempDirWithCleanup("graft_stream_sink")
        val qFile = withEventTime(eventsStream(spark, dir))
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .writeStream.format("parquet")
          .option("path", sinkRoot.resolve("data").toString)
          .option("checkpointLocation", sinkRoot.resolve("chk").toString)
          .partitionBy("event_type")
          .trigger(Trigger.AvailableNow()).start()
        Seq(qHourly, qSchema, qSess, qDedup, qEnriched, qSliding, qTopk, qJoin,
            qFile, qSessWin, qDedupWm, qLeftJoin, qCep, qBackfill)
          .foreach(_.awaitTermination())
        // read the sink back THROUGH the commit log (partition-pruned scan)
        // and roll it up — equals the batch aggregate over the source
        val sunk = spark.read.parquet(sinkRoot.resolve("data").toString)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
          .orderBy("event_type")
        Replay(
          hourly = spark.table(hourlyName).orderBy("hour_start_us", "event_type"),
          sessions = spark.table(sessName)
            .filter(col("session_start_us") < sentinelUs)
            .orderBy("user_id", "session_start_us"),
          schema = spark.table(schemaName).orderBy("event_type"),
          dedup = spark.table(dedupName).orderBy("user_id", "event_type"),
          enriched = spark.table(enrichedName).orderBy("nation"),
          sliding = spark.table(slidingName).orderBy("win_start_us", "event_type"),
          typeUserCounts = spark.table(topkName),
          attributed = spark.table(joinName)
            .orderBy("user_id", "purchase_id", "view_id"),
          fileSink = sunk,
          sessionWin = spark.table(sessWinName)
            .filter(col("session_start_us") < sentinelUs)
            .orderBy("user_id", "session_start_us"),
          dedupWm = spark.table(dedupWmName).orderBy("user_id", "event_type"),
          leftJoin = spark.table(leftJoinName)
            .filter(col("purchase_us") < sentinelUs)
            .orderBy("user_id", "purchase_id", "view_id"),
          cep = spark.table(cepName).orderBy("user_id", "purchase_id"),
          backfill = {
            val sunk = spark.read.parquet(backfillRoot.resolve("data").toString)
            // assert the exactly-once invariant at the builder (not only in
            // the test): sink rows == distinct event_ids in the source. A
            // maxFilesPerTrigger-style multi-batch replay that drops late
            // first-copies fails here immediately.
            val distinctIn = spark.read.parquet(s"$dir/events.parquet")
              .select(col("event_id")).distinct().count()
            val out = sunk.count()
            require(out == distinctIn,
              s"backfill exactly-once violated: sink has $out rows, source has " +
              s"$distinctIn distinct events — was the file source split into " +
              "multiple micro-batches (maxFilesPerTrigger)?")
            sunk
          }
            .groupBy(window(col("event_time"), "1 hour"))
            .agg(count(lit(1)).as("n_events"),
              expr("cast(sum(cast(value as decimal(12,2)) * 100) as bigint)").as("cents"))
            .select(unix_micros(col("window.start")).as("hour_start_us"),
              col("n_events"), col("cents"))
            .orderBy("hour_start_us"))
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
    }

  /** Streaming hourly counts replayed over the parquet — same result as the
   *  batch plan, so it carries a real oracle. */
  def streamHourlyCounts(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).hourly

  /** Backfill-union hourly rollup from the shared replay — 2× overlapping
   *  input, exactly-once output; see the replay builder's BACKFILL UNION
   *  block. */
  def streamBackfillUnion(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).backfill

  /** CEP pattern detections (view→purchase, no intervening click) from
   *  the shared replay — see [[cepMatches]]. */
  def streamCep(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).cep

  /** Streaming sessionization replayed over the parquet with per-user
   *  sentinel close (see object doc): emits exactly the batch 30-min-gap
   *  sessions, so it carries a real oracle. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).sessions

  /** Streaming dedup: watermarked dropDuplicates on (user_id, event_type).
   *  The single-file replay arrives in one micro-batch, so state never ages
   *  past the watermark and the batch DISTINCT is an exact oracle; a
   *  multi-batch replay would only guarantee within-watermark dedup
   *  (standard streaming semantics). Part of the shared replay. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).dedup

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`) —
   *  state evicts at the watermark instead of growing with every key
   *  ever seen; the production-safe twin of [[streamDedup]]. Part of
   *  the shared replay. */
  def streamDedupWithinWatermark(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).dedupWm

  /** Evolving-schema-over-a-stream: the witness aggregator (the engine's
   *  core) running as a STREAMING stateful aggregation — per event type,
   *  the unified Hive type of all props seen so far, updated per batch.
   *  The witness semilattice is exactly the merge-friendly state streaming
   *  aggregation needs; after a bounded replay the state equals the batch
   *  schema_props_by_type result. */
  def streamSchemaEvolution(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).schema

  /** Stream-static enrichment: events joined to the broadcast
   *  customer→nation dimension inside the stream, aggregated per nation.
   *  The join is stateless (dim re-broadcast per micro-batch); only the
   *  25-row aggregate holds state, so it runs unchanged on an unbounded
   *  stream. Replayed bounded ⇒ equals the batch join+agg ⇒ exact oracle.
   *  Part of the shared replay. */
  def streamEnriched(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).enriched

  /** Sliding-window counts (2 h / 1 h): each event contributes to exactly
   *  two overlapping windows — the overlap form of [[streamHourlyCounts]].
   *  Spark aligns window starts to the epoch, so the oracle reproduces the
   *  window set as t−(t mod 1 h) and the hour before it. Part of the
   *  shared replay. */
  def streamSlidingCounts(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).sliding

  /** Streaming leaderboard: top-3 users per event type. The stream maintains
   *  the per-(type, user) counts (Complete-mode state, O(types × users));
   *  the rank is computed on read with the bounded [[graft.similarity
   *  .TopKAgg]] — O(k) buffer per map task, only buffers shuffle, never a
   *  per-group window over the counts. Replayed bounded ⇒ counts equal the
   *  batch groupBy ⇒ exact oracle. Part of the shared replay. */
  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.similarity.TopK._
    replay(spark, dir).typeUserCounts
      .groupBy("event_type")
      .agg(topK(3)(col("n").cast("double"), col("user_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), col("col.id").as("user_id"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("col.score").cast("bigint").as("n"))
      .orderBy("event_type", "rank")
  }

  /** Stream-stream interval join (purchase ← views within 30 min, same
   *  user). Both streams watermarked; the range condition bounds both join
   *  state stores, so the plan runs unchanged on two unbounded streams.
   *  Part of the shared replay. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).attributed

  /** Stream-stream LEFT OUTER interval join: every purchase with its
   *  attributed views, or a NULL row once the watermark proves no view
   *  can still arrive — the attribution report that also shows the
   *  misses. Outer emission is watermark-driven, so the replay reads the
   *  sentinel-augmented source to push the final watermark past every
   *  real purchase (see the replay harness note). Part of the shared
   *  replay. */
  def streamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).leftJoin

  /** Native `session_window` gap sessions (30 min) per user — the built-in
   *  operator twin of [[streamSessions]] (which keeps the custom
   *  flatMapGroupsWithState fold as the arbitrary-state example). Window
   *  merge is on OVERLAP, so the session boundary is `diff >= gap`
   *  (strict-at-the-boundary, vs sessionize's `diff <= gap` continue);
   *  the oracle encodes that convention. Part of the shared replay. */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).sessionWin

  /** Streaming parquet FILE sink (checkpointed, partitioned by
   *  event_type), read back through the sink's commit log and rolled up.
   *  Bounded replay ⇒ equals the batch aggregate ⇒ exact oracle. Part of
   *  the shared replay. */
  def streamFileSink(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir).fileSink

  /** FOREACHBATCH IDEMPOTENT UPSERT — the production pattern for sinks
   *  Spark has no native connector for (key-value stores, JDBC MERGE,
   *  lakehouse upserts): an update-mode streaming aggregate hands each
   *  micro-batch's CHANGED KEYS to `foreachBatch`, which merges them into
   *  a versioned target by key. Two properties make it exactly-once
   *  end-to-end at any scale:
   *   - update-mode aggregate rows carry the full accumulated value per
   *     key (not a delta), so re-merging a replayed batch after a failure
   *     converges to the same target — the merge is idempotent;
   *   - each batch publishes a NEW target version and atomically repoints
   *     a `current` symlink (rename is atomic on POSIX) — readers never
   *     see a half-written merge, the filesystem twin of a lakehouse
   *     commit.
   *  The target is hash-partitioned by key into `UpsertBuckets` buckets
   *  (`bucket = pmod(xxhash64(key), B)`), so each batch's merge touches
   *  ONLY the buckets its keys land in: the anti-join reads those buckets
   *  through partition pruning, rewrites them into the new version, and
   *  carries every untouched bucket over as HARD LINKS — zero data copied,
   *  and the carried files are the same inodes, byte-identical by
   *  construction. Per-batch cost is O(|touched buckets| + |batch|), not
   *  O(|target|) — at production scale B grows with the key space and a
   *  micro-batch rewrites a vanishing fraction of the target. After the
   *  bounded AvailableNow replay the target equals the batch aggregate —
   *  the exact oracle. */
  private[graft] val UpsertBuckets = 8
  private val upserts = graft.CorpusCaches.memo[String, DataFrame]()
  // roots are exposed so specs can audit per-batch file identity across
  // target versions
  private[graft] val upsertRoots =
    scala.collection.concurrent.TrieMap.empty[(String, String), java.nio.file.Path]
  def streamForeachUpsert(spark: SparkSession, dir: String,
                          filesPerTrigger: Option[Int] = None): DataFrame =
    upserts(spark, dir) {
      val root = tempDirWithCleanup("graft_foreach_upsert")
      upsertRoots((spark.sparkContext.applicationId, dir)) = root
      val q = startUpsertQuery(spark, dir, root, filesPerTrigger)
      q.awaitTermination()
      spark.read.parquet(root.resolve("current").toString)
        .select("user_id", "event_type", "n_events")
    }.orderBy("user_id", "event_type")

  /** The upsert query itself, start-only — split out so the crash-recovery
   *  spec can kill it mid-replay (via the `poison` hook, which fires after
   *  a batch's version directory is fully written but BEFORE the atomic
   *  repoint — the worst crash point: durable partial side effects, no
   *  commit) and restart it against the same root/checkpoint. */
  private[graft] def startUpsertQuery(spark: SparkSession, dir: String,
      root: java.nio.file.Path, filesPerTrigger: Option[Int] = None,
      poison: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
      val cur = root.resolve("current")
      val src = eventsStream(spark, dir, filesPerTrigger = filesPerTrigger)
      withEventTime(src)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", root.resolve("chk").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val next = root.resolve(s"v$batchId")
          val withBucket = batch.withColumn("bucket",
            pmod(xxhash64(col("user_id"), col("event_type")), lit(UpsertBuckets.toLong)))
          val touched = withBucket.select("bucket").distinct()
            .collect().map(_.getLong(0)).toSet // ≤ UpsertBuckets values
          val merged =
            if (Files.exists(cur)) {
              // partition-pruned: only the touched buckets leave disk
              val existingTouched = batch.sparkSession.read.parquet(cur.toString)
                .filter(col("bucket").isin(touched.toSeq: _*))
                .withColumn("bucket", col("bucket").cast("long"))
              existingTouched.join(withBucket.select("user_id", "event_type"),
                  Seq("user_id", "event_type"), "left_anti")
                .unionByName(withBucket)
            } else withBucket
          merged.write.mode("overwrite").partitionBy("bucket").parquet(next.toString)
          if (Files.exists(cur)) {
            // untouched buckets: hard-link every data file into the new
            // version — O(#files) metadata ops, no bytes moved
            Files.list(cur.toRealPath()).forEach { bdir =>
              val name = bdir.getFileName.toString
              if (name.startsWith("bucket=") &&
                  !touched.contains(name.stripPrefix("bucket=").toLong)) {
                val dst = next.resolve(name)
                Files.createDirectories(dst)
                Files.list(bdir).forEach { f =>
                  val fn = f.getFileName.toString
                  if (!fn.startsWith(".") && !fn.startsWith("_"))
                    Files.createLink(dst.resolve(fn), f)
                }
              }
            }
          }
          poison(batchId) // crash-recovery spec hook: durable version dir, no commit yet
          val link = root.resolve(s"link$batchId")
          Files.deleteIfExists(link)
          Files.createSymbolicLink(link, next)
          Files.move(link, cur,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
  }


  val defs: Vector[QueryDef] = Vector(
    QueryDef("stream_foreach_upsert", streamForeachUpsert(_, _), Some("""
      SELECT user_id, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""")),
    // exact twin of the event-time match rule: latest view in the 30-min
    // window per purchase, killed by any strictly-between click
    QueryDef("stream_cep", streamCep, Some("""
      WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
      v AS (SELECT user_id, us FROM e WHERE event_type = 'view'),
      best AS (
        SELECT p.user_id, p.event_id AS purchase_id, p.us AS purchase_us,
               max(v.us) AS view_us
        FROM p JOIN v ON v.user_id = p.user_id
             AND v.us <= p.us AND v.us >= p.us - 1800000000
        GROUP BY 1, 2, 3)
      SELECT user_id, purchase_id, purchase_us, view_us
      FROM best b
      WHERE NOT EXISTS (
        SELECT 1 FROM e c
        WHERE c.user_id = b.user_id AND c.event_type = 'click'
          AND c.us > b.view_us AND c.us < b.purchase_us)
      ORDER BY user_id, purchase_id""")),
    QueryDef("stream_file_sink", streamFileSink, Some("""
      SELECT event_type, count(*) AS n,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""")),
    QueryDef("stream_join", streamJoin, Some("""
      SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
      FROM events p
      JOIN events v
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND epoch_us(v.ts) <= epoch_us(p.ts)
       AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000
      ORDER BY p.user_id, purchase_id, view_id""")),
    QueryDef("stream_left_join", streamLeftJoin, Some("""
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             epoch_us(p.ts) AS purchase_us,
             CASE WHEN v.event_id IS NULL THEN NULL
                  ELSE epoch_us(p.ts) - epoch_us(v.ts) END AS lag_us
      FROM events p
      LEFT JOIN events v
        ON v.user_id = p.user_id
       AND v.event_type = 'view'
       AND epoch_us(v.ts) <= epoch_us(p.ts)
       AND epoch_us(v.ts) >= epoch_us(p.ts) - 1800000000
      WHERE p.event_type = 'purchase'
      ORDER BY p.user_id, purchase_id, view_id""")),
    QueryDef("stream_topk", streamTopk, Some("""
      SELECT event_type, user_id, rank, n FROM (
        SELECT event_type, user_id, count(*) AS n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY count(*) DESC, user_id) AS rank
        FROM events GROUP BY event_type, user_id) t
      WHERE rank <= 3 ORDER BY event_type, rank""")),
    // bounded replay ⇒ the final Complete-mode snapshot equals the batch
    // grouped inference, whose DDL string has a closed SQL form on this
    // corpus (single-key props object) — same oracle as schema_props_by_type
    QueryDef("stream_schema_evolution", streamSchemaEvolution, Some(s"""
      SELECT event_type,
             'STRUCT<' || chr(10) || chr(9) || 'k: ' ||
             ${graft.operators.SchemerQueries.bucketSql("mn", "mx")} ||
             chr(10) || '>' AS hive_type
      FROM (SELECT event_type,
                   min(cast(json_extract(props, '$$.k') as bigint)) AS mn,
                   max(cast(json_extract(props, '$$.k') as bigint)) AS mx
            FROM events GROUP BY 1) s
      ORDER BY event_type""")),
    QueryDef("stream_enriched", streamEnriched, Some("""
      SELECT n.n_name AS nation, count(*) AS n_events,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
      FROM events e
      JOIN customer c ON c.c_custkey = e.user_id + 1
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1 ORDER BY 1""")),
    QueryDef("stream_sliding_counts", streamSlidingCounts, Some("""
      SELECT ws AS win_start_us, event_type, count(*) AS n FROM (
        SELECT ((epoch_us(ts) // 3600000000) - u.k) * 3600000000 AS ws, event_type
        FROM events, (VALUES (0), (1)) u(k)) t
      GROUP BY 1, 2
      ORDER BY win_start_us, event_type""")),
    // the lambda cutover test: the stream ingested every event TWICE
    // (history + live overlap); equality with the single-copy rollup IS
    // the exactly-once proof
    QueryDef("stream_backfill_union", streamBackfillUnion, Some("""
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
             count(*) AS n_events,
             cast(sum(cast(value as decimal(12,2)) * 100) as bigint) AS cents
      FROM events
      GROUP BY 1
      ORDER BY hour_start_us""")),
    QueryDef("stream_hourly_counts", streamHourlyCounts, Some("""
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start_us,
             event_type, count(*) AS n,
             cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start_us, event_type""")),
    // bounded replay: every duplicate key arrives within one watermark
    // horizon, so watermark-evicted dedup still equals the batch DISTINCT
    QueryDef("stream_dedup_within_watermark", streamDedupWithinWatermark, Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""")),
    // native session_window: windows [t, t+gap) merge on OVERLAP, so a
    // NEW session starts at diff >= 30 min (boundary-exclusive — the one
    // semantic difference from the stateful-fold sessionize below)
    QueryDef("stream_session_window", streamSessionWindow, Some("""
      SELECT user_id, session_start_us, n_events FROM (
        SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events FROM (
          SELECT user_id, ts_us,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        >= 1800000000 THEN 1 ELSE 0 END AS new_sess
            FROM events) g) s
        GROUP BY user_id, sess_id) t
      ORDER BY user_id, session_start_us""")),
    // gap convention mirrors sessionize: an event CONTINUES a session at
    // diff <= 30 min, so a NEW session needs diff > 30 min (strict)
    QueryDef("stream_sessions", streamSessions, Some("""
      SELECT user_id, session_start_us, n_events FROM (
        SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_events FROM (
          SELECT user_id, ts_us,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        > 1800000000 THEN 1 ELSE 0 END AS new_sess
            FROM events) g) s
        GROUP BY user_id, sess_id) t
      ORDER BY user_id, session_start_us"""))
  )
}
