package graft

import scala.util.control.NonFatal

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle partitions default to the thread count (right at sf<=1);
    // big single-JVM corpora want MORE partitions than threads so each
    // task's hash/sort state stays small — the sf10 suite runs at
    // SPARK_GRAFT_SHUFFLE=128 (with SPARK_GRAFT_SNAPSHOT_LEVEL=DISK_ONLY),
    // where 32 OOMed a 16g heap on the shingle pair join
    val spark = LocalSpark.session()
    // JVM/codegen warmup so the first measured query doesn't absorb
    // class-loading + first-parquet-footer costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Host-speed calibration probe: fixed CPU+shuffle work, independent of
    // the SF dir, so a scaled run carries its own host-speed measurement —
    // the r10 1.30× host-drift analysis was done by hand against a separate
    // sf0.1 run; this makes cross-host normalization machine-attributable.
    // 100M xxhash64 rows into a 1M-key aggregate ≈ the suite's CPU/shuffle
    // mix; warm once, report the min of two timed runs.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 100000000L, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("id % 1000000 AS k", "xxhash64(id) AS h")
        .groupBy("k").sum("h").selectExpr("count(*)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce()
    val calib = math.min(calibOnce(), calibOnce())
    System.err.println(s"BENCH CALIB: ${BenchFormat.fmt(calib, 2)}s")
    // touch EVERY table once (footers + OS page cache): otherwise the
    // first-touch I/O cost of each table lands on whichever query happens
    // to read it first — r2 profiling showed that cost is 3-8x a query's
    // steady-state time and lands name-sort-arbitrarily. Hash over ALL
    // columns, not count(): a bare count() answers from row-group
    // metadata and never reads the data pages the queries will.
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")) {
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .selectExpr("count(xxhash64(struct(*)))").collect()
      catch { case NonFatal(e) => System.err.println(s"BENCH WARMUP FAILED: $t -> $e") }
    }
    // failed queries are still timed (the driver wants a total) but NEVER
    // silently: a failure at a new scale factor must show up as data, not
    // as a plausible-looking duration
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val queryIter = SparkEntry.queries.toSeq.sortBy(_._1).iterator
    var lastQuery = ""
    while (queryIter.hasNext && !spark.sparkContext.isStopped) {
      val (name, fn) = queryIter.next()
      lastQuery = name
      // live attribution for capacity campaigns: the suite logs nothing
      // per-query otherwise, so an ENOSPC burst in a 4-hour stderr stream
      // can only be tied to a query by this line's timestamp
      System.err.println(s"BENCH RUNNING: $name at ${java.time.Instant.now()}")
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable =>
            errors(name) = (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage))
              .replaceAll("[\"\\\\\\s]+", " ").take(160)
            // flush the failure NOW: a multi-hour campaign run can be killed
            // before the exit-time error table prints (attempt 10 lost its
            // root cause exactly this way — every post-mortem line was a
            // stopped-context symptom, the original error died with the kill)
            System.err.println(s"BENCH QUERY FAILED: $name -> ${errors(name)}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop frames persisted inside the query so caches don't accumulate
        // across the loop and GC-skew later measurements
        spark.catalog.clearCache()
        // shuffle files are reaped by ContextCleaner only when their
        // dependencies are GC'd — a 48g heap under a big corpus can run
        // hundreds of queries between collections, so dead spill from
        // completed queries ACCUMULATES until the disk fills (measured:
        // the first full sf100 attempt hit ENOSPC in the dedup family
        // with 45 GB of dead shuffle on disk). Nudge a collection after
        // any query expensive enough to have spilled; sub-2s queries
        // (the whole sf0.1 driver gate) never pay the ~100 ms cost.
        if (sec > 2.0) System.gc()
        sec
      }
      // Steady state = min of two runs, but only when the first run is slow
      // enough that per-query Janino codegen compilation (cached JVM-wide on
      // the repeat) or host-load jitter could be what we measured. r2/r3
      // driver benches showed sub-second queries reading 3-10x their profiled
      // steady state for exactly those reasons (BASELINE.md "Round-3
      // profile"); a repeat run answers from the codegen cache and measures
      // the actual plan.
      val t1 = once()
      val sec = if (t1 > 0.5 && !spark.sparkContext.isStopped) math.min(t1, once()) else t1
      // the RUNNING line of the NEXT query used to be the only completion
      // marker — useless for the final query of a killed run
      if (sec > 2.0) System.err.println(
        s"BENCH DONE: $name ${BenchFormat.fmt(sec, 2)}s at ${java.time.Instant.now()}")
      results += (name -> sec)
      // Reap each sink query's round-trip scratch the moment its min-of-two
      // completes: the family's outputs total ~16 GB at sf100, and sink
      // writes that ran a scratch volume dry poisoned their write memos and
      // broke the in-suite retries. Per-query reaping bounds the family's
      // resident scratch to the single largest output; nothing outside the
      // family reads these directories.
      if (name.startsWith("sink_")) graft.sources.Sinks.cleanup(spark)
    }
    // A dying SparkContext (executor OOM kill, shutdown hook, operator kill)
    // must end the suite, not cascade: every post-stop query fails in ~6 ms
    // with a stopped-context message, burying the real failure under
    // hundreds of symptoms (attempt 10's unresolved watch item). Stop the
    // loop, mark the abort explicitly, and let the partial JSON land.
    if (queryIter.hasNext) {
      val unrun = queryIter.size
      errors("_aborted") = s"SparkContext stopped after $lastQuery; $unrun queries unrun"
      System.err.println(s"BENCH ABORTED: ${errors("_aborted")} at ${java.time.Instant.now()}")
    }
    val total = results.map(_._2).sum
    val line = BenchFormat.line(total, results.toSeq, sfDir, errors.keys.toSeq, Some(calib))
    // full-resolution copy where a driver can read a file instead of
    // regexing an sbt-banner-wrapped stdout tail
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (BenchFormat.fullLine(total, results.toSeq, sfDir, errors.toSeq, Some(calib)) + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) => System.err.println(s"BENCH WRITE FAILED: $e") }
    errors.foreach { case (q, e) => System.err.println(s"BENCH QUERY FAILED: $q -> $e") }
    println(line)
    spark.stop()
  }
}
