package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multi-corpus release hook: after [[CorpusCaches.releaseAll]] every
 *  snapshot's storage is unpinned and every memoized artifact rebuilds
 *  correctly on next use — a long session sweeping many corpora must not
 *  accumulate pinned cache without bound, and correctness must never
 *  depend on a cache hit. */
class CorpusCachesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("releaseAll unpins snapshot storage and artifacts rebuild identically") {
    // build two snapshot-backed artifacts from different modules
    val before = graft.operators.SweepSkyline.q86Bowley(spark, dir).collect().toSeq
    val knnBefore = graft.similarity.Ann.knnGraph(spark, dir).collect().toSeq
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(pinned > 0, "snapshots should be pinned while memos are live")
    CorpusCaches.releaseAll()
    // DataFrame-level persists (locator barriers) are not snapshots; clear
    // them too so the assertion sees only what releaseAll left behind
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must unpersist every snapshot RDD")
    // rebuilt artifacts must be identical — correctness never rides a cache
    assert(graft.operators.SweepSkyline.q86Bowley(spark, dir).collect().toSeq == before)
    assert(graft.similarity.Ann.knnGraph(spark, dir).collect().toSeq == knnBefore)
  }

  test("two-corpus sweep: storage returns to baseline between corpora") {
    // the scenario the hook exists for: one long session sweeping corpus
    // after corpus must end each corpus at the storage baseline, or pinned
    // snapshots (and their lineage-pinned shuffle files) accumulate without
    // bound across the sweep
    CorpusCaches.releaseAll()
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val answers = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").map { d =>
      val bowley = graft.operators.SweepSkyline.q86Bowley(spark, d).collect().toSeq
      val knn = graft.similarity.Ann.knnGraph(spark, d).count()
      assert(spark.sparkContext.getPersistentRDDs.size > baseline.size,
        s"$d: snapshots should be pinned while the corpus is in use")
      CorpusCaches.releaseAll()
      spark.catalog.clearCache()
      assert(spark.sparkContext.getPersistentRDDs.keySet == baseline,
        s"$d: storage must return to the pre-corpus baseline after release")
      (bowley, knn)
    }
    // and the release between corpora must not have corrupted either: the
    // first corpus rebuilt cold answers exactly as it did mid-sweep
    val rebuilt = graft.operators.SweepSkyline.q86Bowley(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(rebuilt == answers.head._1)
    CorpusCaches.releaseAll()
  }

  test("concurrent callers of one key run the build once and share its value") {
    val memo = CorpusCaches.memo[String, AnyRef]()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val threads = 8
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            barrier.await()
            memo(spark, "k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
          }
        })
      }
      val values = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1, "the build must run once per key")
      assert(values.forall(_ eq values.head), "every caller must get the one built value")
    } finally pool.shutdownNow()
  }

  test("releaseAll drops a factory-made memo: the next call builds again") {
    val memo = CorpusCaches.memo[String, AnyRef]()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def get() = memo(spark, "k") { builds.incrementAndGet(); new Object }
    val first = get()
    assert(get() eq first)
    assert(builds.get == 1)
    CorpusCaches.releaseAll()
    assert(!(get() eq first))
    assert(builds.get == 2)
  }

  test("a build that throws leaves the key buildable") {
    val memo = CorpusCaches.memo[String, String]()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def get() = memo(spark, "k") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    intercept[IllegalStateException](get())
    assert(get() == "built")
    assert(get() == "built")
    assert(builds.get == 2)
  }

  test("a released snapshot's RDD becomes unreachable") {
    // a snapshot a loop releases (kcore rounds, CC rounds) must not stay
    // strongly reachable until releaseAll: its RDD pins the lineage's
    // shuffle dependencies, and the ContextCleaner reaps shuffle files only
    // once those are garbage
    import org.apache.spark.sql.graft.DatasetBridge
    def snapshotAndRelease(): java.lang.ref.WeakReference[AnyRef] = {
      val s = DatasetBridge.snapshot(
        spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count())
      assert(s.df.count() == 7)
      s.release()
      new java.lang.ref.WeakReference[AnyRef](s.rdd)
    }
    val ref = snapshotAndRelease()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(100); tries += 1 }
    assert(ref.get == null, "a released snapshot's RDD must not stay reachable")
  }
}
