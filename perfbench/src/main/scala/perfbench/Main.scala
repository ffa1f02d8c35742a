package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM.
 *
 *  `Main --workload W --seed N --seconds S --trace 0|1 --root DIR --out FILE
 *        [--expected DIR] [--record FILE] [--trace-out FILE]`
 *
 *  Builds the workload's inputs under DIR several times (`setup_s` is the
 *  median), runs warm-up passes, then runs passes in a closed loop — each
 *  operation starts when the previous one has returned — until S seconds
 *  have passed. Every output is checked after its timed call. The result
 *  object goes to FILE. With `--trace 1` the first half of the time is
 *  untraced and the second half traced, and the per-layer metrics plus the
 *  tracing overhead are reported instead of the end-to-end ones. */
object Main {
  final case class OpResult(op: Op, seconds: Double, error: Option[String], digest: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val root = new File(arg("root"))
    val spark = session(root)
    val exit = try {
      val result = if (arg("workload") == "selftest") SelfTest.run(spark, root, arg("seed").toLong) else run(spark, root, arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
        arg("trace") == "1", args.get("expected").map(new File(_)), args.get("record").map(new File(_)),
        args.get("trace-out").map(new File(_)))
      writeFile(new File(arg("out")), Json.write(result))
      0
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }

  def session(root: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Workloads.Cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Workloads.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(root, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def writeFile(f: File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))

  /** Logs to stderr, prefixed with the JVM's uptime in seconds. */
  private def log(s: String): Unit =
    System.err.println(f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f] $s")

  def run(spark: SparkSession, root: File, name: String, seed: Long, seconds: Double, trace: Boolean,
      expectedDir: Option[File], record: Option[File], traceOut: Option[File]): Map[String, Any] = {
    val w = Workloads(name, spark, seed, if (record.isDefined) None else expectedDir)
    val tracer = new Tracer(spark.sparkContext)
    val input = new File(root, "input")

    // set-up: the same work on every repetition, into an emptied directory
    val setups = (1 to w.setupReps).map { _ =>
      Dirs.delete(input)
      input.mkdirs()
      val t0 = System.nanoTime()
      w.setup(input)
      (System.nanoTime() - t0) / 1e9
    }
    log(f"$name set-up ${setups.map(s => f"$s%.3f").mkString(" ")} s, input ${w.inputMb}%.1f MB")

    val ops = w.ops
    val results = mutable.ArrayBuffer.empty[OpResult]
    def runOp(op: Op): OpResult = {
      val r = tracer.withQuery(op.name) {
        val t0 = System.nanoTime()
        val out = try Right(tracer.span("operation")(op.run(tracer))) catch { case NonFatal(e) => Left(e) }
        val s = (System.nanoTime() - t0) / 1e9
        val error = out match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(v) => try op.check(v) catch { case NonFatal(e) => Some(s"check failed: $e") }
        }
        OpResult(op, s, error, if (record.isDefined) out.fold(_ => "", op.digest) else "")
      }
      w.afterOp(op)
      results += r
      r.error.foreach(e => log(s"FAILED ${op.name}: ${e.take(2000)}"))
      r
    }
    def runPass(): Seq[OpResult] = {
      val pass = tracer.span("pass")(ops.map(runOp))
      log(f"pass ${pass.map(_.seconds).sum}%.3f s: " + pass.map(r => f"${r.op.name}=${r.seconds}%.3f").mkString(" "))
      pass
    }
    /** Passes until `budget` seconds have passed, at least `min`. */
    def loop(budget: Double, min: Int): Seq[Seq[OpResult]] = {
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Seq[OpResult]]
      while (passes.size < min || (System.nanoTime() - t0) / 1e9 < budget) passes += runPass()
      passes.toSeq
    }

    // warm-up: caches, code generation and corpus artifacts fill here
    (1 to w.warmPasses).foreach(_ => runPass())

    val metrics: Map[String, Double] =
      if (record.isDefined) {
        val last = loop(0, 1).last
        writeFile(record.get, last.map(r => s"${r.op.name}\t${r.digest}").mkString("", "\n", "\n"))
        Map.empty
      } else if (!trace) {
        // what the program holds once warm, and after the measured passes
        val warmHeapMb = Jvm.liveHeapMb()
        val passes = loop(seconds, w.minPasses)
        val liveHeapMb = math.max(warmHeapMb, Jvm.liveHeapMb())
        log(f"live heap $warmHeapMb%.1f MB after warm-up, $liveHeapMb%.1f MB at most")
        val ok = passes.flatten.filter(_.error.isEmpty)
        require(ok.nonEmpty, "every timed operation failed; no timing to report")
        // a typical pass: each operation at its median over the passes
        val passS = ok.groupBy(_.op.name).values.map(rs => Stats.quantile(rs.map(_.seconds), 0.5)).sum
        Map(
          "setup_s" -> Stats.quantile(setups, 0.5),
          "infer_mb_s" -> w.inputMb / passS,
          "suite_s" -> passS,
          "live_heap_mb" -> liveHeapMb)
      } else traced(spark, w, tracer, seconds, () => runPass(), traceOut)

    val failed = results.count(_.error.nonEmpty)
    log(s"$name: ${results.size} operations, $failed failed")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => log(f"  $k%-34s $v%.6f") }
    Map("correct" -> (failed == 0), "attempted" -> results.size, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) })
  }

  private def traced(spark: SparkSession, w: Workload, tracer: Tracer, seconds: Double,
      runPass: () => Seq[OpResult], traceOut: Option[File]): Map[String, Double] = {
    def passSeconds(ps: Seq[Seq[OpResult]]) = Stats.quantile(ps.map(_.map(_.seconds).sum), 0.5)
    val sc = spark.sparkContext
    def compileNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    // untraced and traced passes alternate, so JIT warm-up and drift hit both
    // halves alike and their difference is the tracing overhead
    val plain, passes = mutable.ArrayBuffer.empty[Seq[OpResult]]
    var wall, allocMb, gcS, compileS = 0.0
    val scratch = new DirPeak(new File(sc.getConf.get("spark.local.dir")), 100)
    val t0 = System.nanoTime()
    while (passes.size < 1 || plain.size < 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (plain.size <= passes.size) plain += runPass()
      else {
        tracer.start()
        val (a0, g0, c0, w0) = (Jvm.allocatedBytes(), Jvm.gcMillis(), compileNs, System.nanoTime())
        passes += tracer.span("workload")(runPass())
        wall += (System.nanoTime() - w0) / 1e9
        compileS += (compileNs - c0) / 1e9
        allocMb += (Jvm.allocatedBytes() - a0) / 1e6
        gcS += (Jvm.gcMillis() - g0) / 1e3
        tracer.stop()
      }
    }
    val scratchMb = scratch.stop() / 1e6
    val byQuery = tracer.listener.take()
    val persisted = sc.getPersistentRDDs.size.toDouble
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val releaseS = SchemerLayers.time(graft.CorpusCaches.releaseAll())._1
    traceOut.foreach(tracer.writeSpans)

    val n = passes.size.toDouble
    val all = new SparkCounts
    byQuery.values.foreach(all.add)
    def spanTotal(name: String) =
      tracer.spans.iterator.filter(_.name == name).map(s => s.endMs - s.startMs).sum / 1000.0 / n
    val ops = passes.flatten
    val modules = Suite.MeasuredModules.flatMap { m =>
      val mine = ops.filter(_.op.module == m)
      val shuffle = mine.map(_.op.name).distinct.flatMap(byQuery.get).map(_.shuffleWrite).sum
      Seq(s"$m.s" -> mine.map(_.seconds).sum / n, s"$m.shuffle_mb" -> shuffle / 1e6 / n)
    }
    val opMedian = Stats.quantile(ops.map(_.seconds).toSeq, 0.5)
    val schemer = w.layers(opMedian)
    val schemerKeys = Seq("schemer.decode_s", "schemer.parse_s", "schemer.witness_s", "schemer.merge_s",
      "schemer.driver_s", "schemer.render_s", "schemer.witness_fields", "schemer.codec_bytes", "schemer.codec_s")
    val tracedPass = passSeconds(passes.toSeq)
    val plainPass = passSeconds(plain.toSeq)
    log(s"self time per span name (s per traced run): " +
      tracer.selfTimes().toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    (schemerKeys.map(k => k -> schemer.getOrElse(k, 0.0)) ++ Seq(
      "jvm.alloc_mb" -> allocMb / n,
      "jvm.gc_s" -> gcS / n,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb(),
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.plan_s" -> spanTotal("spark.plan"),
      "spark.codegen_compile_s" -> compileS / n,
      "spark.sched_delay_s" -> all.schedDelayMs / 1e3 / n,
      "spark.task_run_s" -> all.taskRunMs / 1e3 / n,
      "spark.task_cpu_s" -> all.taskCpuNs / 1e9 / n,
      "spark.core_busy" -> all.taskRunMs / 1e3 / (wall * sc.defaultParallelism),
      "spark.shuffle_write_mb" -> all.shuffleWrite / 1e6 / n,
      "spark.shuffle_read_mb" -> all.shuffleRead / 1e6 / n,
      "spark.fetch_wait_s" -> all.fetchWaitMs / 1e3 / n,
      "spark.spill_mb" -> all.spill / 1e6 / n,
      "spark.stage_skew" -> all.maxSkew,
      "query.build_s" -> spanTotal("query.build"),
      "query.exec_s" -> spanTotal("query.exec"),
      "CorpusCaches.persisted_rdds" -> persisted,
      "CorpusCaches.storage_mb" -> storageMb,
      "CorpusCaches.release_s" -> releaseS,
      "scratch.peak_mb" -> scratchMb,
      "trace.pass_s" -> tracedPass,
      "trace.untraced_pass_s" -> plainPass,
      "trace.overhead_s" -> (tracedPass - plainPass)) ++ modules).toMap
  }

  /** Unit of every reported metric. */
  def unitOf(k: String): String = k match {
    case "setup_s" | "suite_s" => "s"
    case "infer_mb_s" => "MB/s"
    case "spark.jobs" | "spark.stages" | "spark.tasks" | "CorpusCaches.persisted_rdds" |
         "schemer.witness_fields" => "count"
    case "schemer.codec_bytes" => "bytes"
    case "spark.core_busy" | "spark.stage_skew" => "ratio"
    case k if k.endsWith("_mb") => "MB"
    case k if k.endsWith("_s") || k.endsWith(".s") => "s"
    case other => throw new IllegalArgumentException(s"no unit for $other")
  }
}
