package graft.similarity

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The kNN-graph's LEVEL-2 cell split — the Σ|cell|² skew bound. The real
 * corpora at oracle scales have NO cell over 2× the mean (measured ≤1.47×),
 * so the driver's hash oracle pins the split as a structural no-op there;
 * this spec builds the corpus those oracles can't: one with a genuinely
 * HOT level-1 cell (a tight cluster holding ~⅓ of all vectors), and pins
 * that the split (a) engages, (b) keeps the graph structurally complete,
 * and (c) doesn't collapse neighbor quality inside the split cell.
 */
class KnnSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("splitWidths: the >2x-mean rule, the ceil width, and the m>=3 guarantee") {
    // k=10 cells over n=100 => mean 10
    val m = Ann.splitWidths(Iterator(1 -> 10L, 2 -> 20L, 3 -> 21L, 4 -> 145L), k = 10L, n = 100L)
    // 21·10 > 200 => hot, m = ceil(210/100) = 3; 145 => ceil(1450/100) = 15
    assert(m == Map(3 -> 3, 4 -> 15))
    // exactly 2× the mean is NOT hot (strict inequality)
    assert(Ann.splitWidths(Iterator(1 -> 20L), 10L, 100L).isEmpty)
    // hot ⇒ m ≥ 3, so SubCellsExpr's second slot always has a seed
    assert(m.values.forall(_ >= 3))
  }

  test("split engages on a skewed corpus; graph stays complete and useful") {
    val n = 600; val dim = 64
    val rnd = new scala.util.Random(7)
    val u = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def jitter(): Array[Float] = u.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    def randomVec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // k = max(16, ceil(sqrt(600))) = 25 seeds (vec_id < 25). Ids ≥ 30 with
    // id % 3 == 0 form a tight cluster around u — they all land in the one
    // seed cell nearest u, giving it ~200 of 600 members (mean is 24).
    val rows = (0L until n).map { i =>
      val v = if (i >= 30 && i % 3 == 0) jitter() else randomVec()
      (i, v, 0)
    }
    import spark.implicits._
    val dirTmp = graft.ScratchFiles.dir("knnsplit").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dirTmp/embeddings.parquet")

    val emb = graft.Tables.embeddings(spark, dirTmp)
    val k = 25L
    import graft.functions.TextFunctions.cosine

    // prove the corpus shape: reproduce the level-1 argmax (COSINE — the
    // engine normalizes its seed rows, so the assignment is directional)
    // and check one cell really exceeds 2× the mean — i.e. the e2e run
    // below MUST have taken the split path (splitWidths is deterministic
    // on these pops)
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    val pops = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cell"), cosine(col("embedding"), col("c_emb")).as("d"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("d"), (-col("cell")).as("nid"))).as("cell"))
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1))
    val widths = Ann.splitWidths(pops.iterator, k, n.toLong)
    assert(widths.nonEmpty, s"no hot cell — corpus not skewed enough: ${pops.sortBy(-_._2).take(3).toSeq}")
    assert(widths.values.max >= 5, s"expected a deep split, got $widths")

    // e2e through the real entry: every vector keeps a contiguous rank
    // prefix, and nearly all keep the full 3. Inside a split cell a thin
    // Voronoi sliver CAN hold fewer than 4 members — a query there
    // legitimately returns fewer edges; that locality-for-work trade is
    // the same one the level-1 blocking already makes for small cells,
    // and this pins how small the effect stays.
    val edges = Ann.knnGraph(spark, dirTmp).collect()
    val byVec = edges.groupBy(_.getLong(0))
    assert(byVec.size == n, s"${n - byVec.size} vectors lost their edges")
    assert(byVec.values.forall { es =>
      val rs = es.map(_.getLong(2)).sorted
      rs.sameElements(1L to rs.length)
    }, "ranks must form a contiguous 1-based prefix")
    val full = byVec.values.count(_.length == 3)
    val histogram = byVec.values.groupBy(_.length).view.mapValues(_.size).toMap
    info(s"edge-count histogram: $histogram")
    assert(full >= (n * 95) / 100,
      s"too many vectors lost edges to sliver sub-cells: $histogram")

    // neighbor quality INSIDE the split cell: for the cluster members the
    // true top-3 are other cluster members at cosine ≈ 0.99+; the split
    // searches one sub-cell (plus band replicas), so the found neighbors
    // must still be in-cluster — catching a broken sub-assignment that
    // pairs cluster vectors with random ones
    val cluster = (0L until n.toLong).filter(i => i >= 30 && i % 3 == 0).toSet
    val clusterEdges = edges.filter(e => cluster(e.getLong(0)))
    assert(clusterEdges.nonEmpty)
    val inClusterFrac = clusterEdges.count(e => cluster(e.getLong(1))).toDouble / clusterEdges.size
    assert(inClusterFrac >= 0.99,
      f"split cell pairs cluster members with outsiders: in-cluster frac $inClusterFrac%.3f")

    // and the found in-cluster neighbors are GOOD ones: mean cosine of the
    // found top-3 within a few percent of the brute-force ideal
    val embMap = rows.map { case (i, v, _) => i -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) { xy += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1 }
      if (xx == 0 || yy == 0) 0.0 else xy / math.sqrt(xx * yy)
    }
    val sample = cluster.toSeq.sorted.take(40)
    val (foundSum, idealSum) = sample.foldLeft((0.0, 0.0)) { case ((f, t), q) =>
      val qv = embMap(q)
      val found = byVec(q).map(e => cos(qv, embMap(e.getLong(1)))).sum / 3.0
      val ideal = embMap.iterator.filter(_._1 != q).map(p => cos(qv, p._2))
        .toSeq.sorted(Ordering[Double].reverse).take(3).sum / 3.0
      (f + found, t + ideal)
    }
    val found = foundSum / sample.size; val ideal = idealSum / sample.size
    info(f"cluster-member mean top-3 cosine: found $found%.4f vs brute-force $ideal%.4f")
    assert(found >= ideal - 0.01,
      f"sub-cell search degraded neighbor quality: $found%.4f vs ideal $ideal%.4f")
  }
}
