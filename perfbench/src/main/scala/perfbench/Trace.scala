package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are milliseconds since the tracer started;
 *  `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, query: String, startMs: Double, endMs: Double)

/** Span recorder and Spark-side collectors of the traced run. Nothing here is
 *  installed unless [[start]] is called, so the untraced run pays only a
 *  branch per span.
 *
 *  Client spans (workload, pass, operation, build/plan/execute) nest on the
 *  single client thread. Each one publishes its id and the current operation
 *  as local properties, so the jobs it submits, and their stages, become its
 *  children in the span tree. */
final class Tracer(sc: SparkContext) {
  val SpanProp = "perfbench.span"
  val QueryProp = "perfbench.query"

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private var on = false
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var query = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new TraceListener(this)

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def epochMs(ms: Long): Double = (ms - t0Epoch).toDouble

  def start(): Unit = if (!on) {
    on = true
    sc.addSparkListener(listener)
  }

  def stop(): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def withQuery[T](q: String)(body: => T): T = {
    val prev = query
    query = q
    sc.setLocalProperty(QueryProp, q)
    try body finally { query = prev; sc.setLocalProperty(QueryProp, prev) }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
        record(Span(id, parent, name, query, start, nowMs))
      }
    }

  def record(s: Span): Unit = spans.synchronized(spans += s)

  /** Self time per span name: a span's duration minus the part of it that
   *  its children cover. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.iterator.map { s =>
        val kids = children.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var reach = s.startMs
        kids.foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
        (s.endMs - s.startMs) - covered
      }.sum / 1000.0
    }
  }

  def writeSpans(file: File): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      out.println("id\tparent\tname\tquery\tstart_ms\tend_ms")
      spans.synchronized(spans.toVector).sortBy(_.startMs).foreach { s =>
        out.println(f"${s.id}\t${s.parent}\t${s.name}\t${s.query}\t${s.startMs}%.3f\t${s.endMs}%.3f")
      }
    } finally out.close()
  }
}

/** Task-level totals of one operation, from the listener. */
final class SparkCounts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var schedDelayMs = 0L
  var maxSkew = 1.0

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; schedDelayMs += o.schedDelayMs
    maxSkew = math.max(maxSkew, o.maxSkew)
  }
}

/** Aggregates job, stage and task events per operation (the query local
 *  property) and turns jobs and stages into spans. Stage skew is the slowest
 *  task over the median task of a stage with at least two tasks; scheduling
 *  delay is stage submission to its first task launch. */
final class TraceListener(tracer: Tracer) extends SparkListener {
  private val byQuery = mutable.HashMap.empty[String, SparkCounts]
  private val stageQuery = mutable.HashMap.empty[Int, (String, Long)] // stage -> (query, job span id)
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]] // (launch, duration)
  private val jobInfo = mutable.HashMap.empty[Int, (String, Long, Long)] // job -> (query, parent span, start)

  private def counts(q: String) = byQuery.getOrElseUpdate(q, new SparkCounts)

  /** Totals per operation since the last call, then reset. */
  def take(): Map[String, SparkCounts] = synchronized {
    val out = byQuery.toMap
    byQuery.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val q = props.flatMap(p => Option(p.getProperty(tracer.QueryProp))).getOrElse("")
    val parent = props.flatMap(p => Option(p.getProperty(tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    jobInfo(e.jobId) = (q, parent, e.time)
    e.stageIds.foreach(s => stageQuery(s) = (q, -1L - e.jobId))
    counts(q).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (q, parent, start) =>
      tracer.record(Span(-1L - e.jobId, parent, "spark.job", q, tracer.epochMs(start), tracer.epochMs(e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val q = stageQuery.get(e.stageId).map(_._1).getOrElse("")
    val c = counts(q)
    c.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += (e.taskInfo.launchTime -> e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (q, jobSpan) = stageQuery.getOrElse(info.stageId, ("", 0L))
    val c = counts(q)
    c.stages += 1
    val tasks = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty)
    for (sub <- info.submissionTime; firstLaunch <- tasks.map(_._1).minOption)
      c.schedDelayMs += math.max(0L, firstLaunch - sub)
    if (tasks.size >= 2) {
      val d = tasks.map(_._2).sorted
      val median = d(d.size / 2)
      c.maxSkew = math.max(c.maxSkew, d.last.toDouble / math.max(1L, median))
    }
    for (sub <- info.submissionTime; end <- info.completionTime)
      tracer.record(Span(-1000000000L - info.stageId * 100L - info.attemptNumber(), jobSpan,
        "spark.stage", q, tracer.epochMs(sub), tracer.epochMs(end)))
  }
}

/** JVM-wide counters read around a timed region. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap in use after a full collection, in MB: the data the program
   *  still holds at this point. Spark's ContextCleaner frees the broadcasts,
   *  shuffles and cached blocks of collected references on its own thread
   *  after a collection, so this collects again until the heap stops
   *  shrinking (by less than 1 MB, at most five rounds). */
  def liveHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 5) {
      Thread.sleep(200)
      val now = used()
      shrinking = last - now >= 1.0
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  /** Bytes allocated so far by every live thread. */
  def allocatedBytes(): Long = threads.getThreadAllocatedBytes(threads.getAllThreadIds).iterator.filter(_ > 0).sum

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.iterator.map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set of this process in MB (VmHWM), or the peak heap use
   *  where the process table is not readable. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    val hwm = if (!status.canRead) None else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      finally src.close()
    }
    hwm.getOrElse(ManagementFactory.getMemoryPoolMXBeans.asScala.iterator
      .map(_.getPeakUsage).filter(_ != null).map(_.getUsed).sum / 1048576.0)
  }
}

/** Samples the size of a directory tree on a daemon thread and keeps the peak. */
final class DirPeak(dir: File, everyMs: Long) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, Dirs.size(dir))
      Thread.sleep(everyMs)
    }
  }, "perfbench-scratch-sampler")
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = {
    running = false
    thread.join()
    math.max(peak, Dirs.size(dir))
  }
}
