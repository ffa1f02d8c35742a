package graft.operators

import graft.Tables
import graft.Tables.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics over relations the engine already owns —
 * the second graph algorithm family after the dedup module's
 * large-star/small-star connected components. PageRank is the classic
 * "does your engine do iteration at scale" test: a fixed number of
 * join+aggregate rounds where every shuffle carries only (long, long)
 * or (long, rank) pairs, never wide rows.
 *
 * All rank arithmetic is INTEGER (ranks seeded at 10⁹, damping applied
 * as `(15·10⁹ + 85·Σ) div 100`, contributions as `rank div out_degree`)
 * so the DuckDB oracle matches bit-for-bit with no float accumulation
 * order to replay, and no overflow until ~10⁸ nodes per partition-sum
 * (BIGINT headroom: Σ ranks ≈ n·10⁹, ×85 < 2⁶³ up to n ≈ 10⁸; a 100 TB
 * deployment re-seeds at 10⁶ for another 10³×).
 */
object GraphOps {

  /** The BULK CO-PURCHASE EDGE BASE both graph queries read: canonical
   *  undirected edges (x < y) between parts that share an order with
   *  quantity ≥ 40 on both lines — computed ONCE per (application, dir)
   *  and snapshotted, the same per-corpus-artifact discipline as the
   *  dedup module's shingle index. Two reasons this is THE graph, not an
   *  optimization shortcut:
   *   - the unthresholded co-purchase graph is asymptotically DENSE
   *     (every part pair eventually shares some order as the corpus
   *     grows), so any analytics over it is quadratic in part degree at
   *     100 TB no matter how the plan is written — production graph
   *     pipelines threshold at EDGE BUILDING, where the predicate still
   *     pushes to the parquet scan;
   *   - pagerank and triangles previously built two different graphs of
   *     the same relation; sharing one snapshot halves the edge-build
   *     work and the RDD-level snapshot survives a consumer's
   *     `catalog.clearCache()` between readers.
   *  Edge building is one self-equi-join of the distinct (order, part)
   *  projection on the order key — the same inverted-index discipline as
   *  the shingle joins, never a cartesian. */
  private val edgeCache = graft.CorpusCaches.snapshots[String]()
  private[graft] def bulkCoPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    edgeCache(spark, dir) {
      val orderParts = Tables.lineitem(spark, dir)
        .filter(col("l_quantity") >= 40)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      orderParts.as("a").join(orderParts.as("b"), "ok")
        .filter(col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("x"), col("b.pk").as("y"))
        .distinct()
    }

  /** PageRank (3 rounds, d = 0.85) over the bulk co-purchase graph:
   *  parts are linked when they appear in the same order in bulk
   *  (see [[bulkCoPurchaseEdges]]). The graph is symmetric by
   *  construction, so every node has both in- and out-edges — no
   *  dangling-mass correction term is needed.
   *
   *  Scale shape: the undirected edge base is the shared snapshot; the
   *  symmetric directed form is a union of two projections over it
   *  (no new shuffle); out-degrees are attached to edges ONCE before the
   *  loop; each round is one shuffle (groupBy dst) over (long, long)
   *  contribution pairs plus a join of the rank table — broadcast while
   *  ranks fit (AQE decides), degenerating to a co-partitioned shuffle
   *  join at node counts where they don't. Top-20 via TakeOrdered. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    // DELIBERATELY NOT snapshot-per-iteration (measured r12): unlike
    // kcore/bfs — whose loops referenced the running state TWICE per round
    // and so doubled the plan — this loop references `rank` exactly once
    // per round: the plan grows LINEARLY and nothing re-executes, because
    // ReuseExchange serves every round's keep-join from the ONE edge
    // exchange. A snapshot-per-iteration rewrite (rank + degree-attached
    // edges as per-round LogicalRDD leaves, eager count per round) was
    // built and measured SLOWER — sf0.1 steady 0.97-1.06 s (this form) vs
    // 1.28-2.15 s, sf1 best 1.67 vs 2.45-2.56 s, interleaved A/B — since
    // LogicalRDD leaves carry no partitioning, so every round RE-SHUFFLES
    // the edge-sized withDeg table the nested form shuffles once.
    val seed = 1000000000L
    val und = bulkCoPurchaseEdges(spark, dir)
    val edges = und.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val withDeg = edges.join(deg, "src")
    // seed ranks from the degree table's keys — the same node set the old
    // `withDeg.select(src).distinct()` produced, without paying a second
    // full exchange for the distinct (the degree aggregate's exchange is
    // shared with the join via ReuseExchange)
    var rank = deg.select(col("src").as("node"))
      .withColumn("rank", lit(seed))
    for (_ <- 1 to 3) {
      rank = withDeg.join(rank.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div od")).as("in_rank"))
        // 15·seed precomputed in Scala: `15 * 1000000000` in SQL would be
        // int×int and overflow under ANSI before widening to bigint
        .select(col("node"), expr(s"(${15 * seed} + 85 * in_rank) div 100").as("rank"))
    }
    rank.select(col("node").as("part_key"), col("rank"))
      .orderBy(col("rank").desc, col("part_key"))
      .limit(20)
  }

  /** TRIANGLE COUNT + global transitivity over the same part co-purchase
   *  graph — the standard "does the engine survive graph skew" probe,
   *  because the naive wedge join is quadratic in the hottest node's
   *  degree. The classic fix (Schank & Wagner 2005; Cohen's MapReduce
   *  formulation, both public): orient every undirected edge from the
   *  (degree, id)-smaller endpoint to the larger one. Each triangle
   *  {a<b<c} then exists exactly once as wedge (a→b, a→c) closed by edge
   *  (b→c), and per-node wedge work drops from Σdeg² to Σ(oriented
   *  out-degree)² — the oriented out-degree of a hub is small because
   *  almost all its neighbors have LOWER degree and the edges point at it.
   *
   *  The orientation key packs (degree, id) into one BIGINT
   *  (`deg·2³² + id`, exact while ids < 2³² — part keys are) so the wedge
   *  self-join carries a single long instead of a struct comparison.
   *
   *  Scale shape: edges build by the same order-key inverted index as
   *  [[pagerank]] (never a cartesian); the wedge join is an equi-join on
   *  the wedge apex with the `ord` inequality as its residual; the close
   *  join is an equi-join on the (v, w) pair. Output is one exact-integer
   *  row: nodes, edges, wedges (Σd(d−1)/2 from the degree table alone),
   *  triangles, and transitivity 3T/wedges in half-up basis points. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // canonical undirected bulk edges (x < y) — the shared per-corpus
    // snapshot; see [[bulkCoPurchaseEdges]] for why the graph thresholds
    val und = bulkCoPurchaseEdges(spark, dir)
    val deg = und.select(col("x").as("n"))
      .unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .select(col("n"), expr("d * 4294967296 + n").as("ord"), col("d"))
    val keyed = und
      .join(deg.select(col("n").as("x"), col("ord").as("xo")), "x")
      .join(deg.select(col("n").as("y"), col("ord").as("yo")), "y")
    val oriented = keyed.select(
      when(col("xo") < col("yo"), col("x")).otherwise(col("y")).as("u"),
      when(col("xo") < col("yo"), col("y")).otherwise(col("x")).as("v"),
      greatest(col("xo"), col("yo")).as("vord"))
    val wedges = oriented.as("p")
      .join(oriented.as("q"),
        col("p.u") === col("q.u") && col("p.vord") < col("q.vord"))
      .select(col("p.v").as("wa"), col("q.v").as("wb"))
    val tri = wedges.join(
        oriented.select(col("u").as("wa"), col("v").as("wb")), Seq("wa", "wb"))
      .agg(count(lit(1)).as("n_triangles"))
    val base = und.agg(count(lit(1)).as("n_edges")).crossJoin(
      deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges")))
    // three 1-row frames; the cross joins broadcast single rows, not data
    base.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(2 * 3 * n_triangles * 10000 + n_wedges) div (2 * n_wedges)").as("transitivity_bp"))
  }

  /** LABEL PROPAGATION (3 synchronous rounds) — community detection over
   *  the same shared co-purchase edge base: each round every node adopts
   *  the most frequent label among its neighbors, ties to the SMALLEST
   *  label (Raghavan et al. 2007, made deterministic). Unlike the dedup
   *  module's connected components (which answers "is there any path"),
   *  LPA finds densely-linked groups inside one component.
   *
   *  The argmax is packed into one BIGINT — `cnt·2³² + (2³²−1−lbl)` —
   *  so the per-node reduction is a plain `max` and the tiebreak (higher
   *  count first, then smaller label) is total and engine-independent;
   *  labels are part keys < 2³², counts bounded by degree, so the pack
   *  is exact with 2⁶³ headroom.
   *
   *  Scale shape: each round is two shuffles of (long, long) pairs —
   *  count per (node, neighbor-label), then max per node — both
   *  partial-aggregated map-side; the label table joins the edge list on
   *  src (AQE broadcast while it fits, co-partitioned shuffle beyond).
   *  Output is the 20 largest communities, via TakeOrdered. */
  /** The 3-round synchronous-LPA label table (node, lbl) both
   *  [[labelPropagation]] and [[modularity]] read — one propagation, two
   *  consumers, snapshotted per (application, dir) exactly like the edge
   *  base (the per-corpus-artifact sharing discipline). */
  private val lpaCache = graft.CorpusCaches.snapshots[String]()
  private[graft] def lpaLabels(spark: SparkSession, dir: String): DataFrame =
    lpaCache(spark, dir)(lpaLabelsUncached(spark, dir))

  private def lpaLabelsUncached(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    val edges = und.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
    var lbl = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to 3) {
      lbl = edges.join(lbl.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(expr("cnt * 4294967296 + (4294967295 - lbl)")).as("sc"))
        .select(col("node"), expr("4294967295 - (sc % 4294967296)").as("lbl"))
    }
    lbl
  }

  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    lpaLabels(spark, dir).groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_member"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }

  /** COMMON-NEIGHBORS LINK PREDICTION over the shared co-purchase graph:
   *  the 20 strongest NOT-yet-connected part pairs, scored by how many
   *  neighbors they share (and neighbor-set Jaccard in half-up basis
   *  points) — the classic "customers who bought these also bought"
   *  candidate generator, and the simplest principled link predictor
   *  (Liben-Nowell & Kleinberg 2003).
   *
   *  Scale shape: pairs sharing a neighbor enumerate as wedges through
   *  the shared node — one self-equi-join of the adjacency list on the
   *  wedge center with `a < b` as residual, the same inverted-index
   *  discipline as [[triangles]]; work is Σ deg(center)², bounded by the
   *  thresholded edge base (at larger scale: threshold harder or cap
   *  per-center neighbor lists — the candidate set IS the output, so the
   *  join's size is the answer's size, not an intermediate blowup).
   *  Non-adjacency is one anti join against the canonical (x<y) edge
   *  set; degrees attach via two broadcast-friendly joins of the tiny
   *  degree table. All arithmetic integer-exact. */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    val edges = und.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    // the wedge-pair aggregate is the dominant exchange (Σ deg² rows):
    // pack (a, b) into one bigint key so the shuffle carries 8 key bytes
    // instead of 16 and the map-side hash partial aggregation keys on a
    // single long. Exact while the HIGH id < 2³¹ (a·2³² needs the sign
    // bit beyond that): part keys reach ~2·10⁸ at sf100 and ~2.1·10⁹
    // only around sf10k — revisit the pack if the generators ever grow
    // keys past 2³¹
    val pairs = edges.select(col("src").as("n"), col("dst").as("a"))
      .join(edges.select(col("src").as("n"), col("dst").as("b")), "n")
      .filter(col("a") < col("b"))
      .select((col("a") * lit(4294967296L) + col("b")).as("ab"))
      .groupBy("ab").agg(count(lit(1)).as("cn"))
      .select(expr("ab div 4294967296").as("a"),
        pmod(col("ab"), lit(4294967296L)).as("b"), col("cn"))
    pairs
      .join(und.select(col("x").as("a"), col("y").as("b")), Seq("a", "b"), "left_anti")
      .join(deg.select(col("src").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("d").as("db")), "b")
      .select(col("a").as("part_a"), col("b").as("part_b"), col("cn").as("n_common"),
        // Jaccard of neighbor sets = cn / (da + db − cn), half-up bp
        expr("(2 * cn * 10000 + (da + db - cn)) div (2 * (da + db - cn))").as("jaccard_bp"))
      .orderBy(col("n_common").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  /** FRONTIER BFS — 3-hop reachability census from the graph's hub (the
   *  max-degree node, ties to the smallest id): how many parts sit at
   *  each distance, the neighborhood-growth probe behind "within-k-hops"
   *  recommendations and blast-radius queries. The canonical distributed
   *  BFS discipline: each round expands ONLY the previous frontier (one
   *  equi-join of the edge list on the frontier), dedups the new
   *  frontier, and anti-joins the visited set so no node is expanded
   *  twice — per-round shuffle volume is O(frontier edges), never
   *  O(visited × degree). The visited set accumulates as a union of
   *  per-hop frames (3 unions of (long, long) rows). */
  def bfsReach(spark: SparkSession, dir: String): DataFrame = {
    // SNAPSHOT each hop frontier (the starComponents/kcore state
    // discipline): hop h's expansion referenced `visited` twice (frontier
    // filter + anti-join), so the un-snapshotted plan DOUBLED per hop
    // (~107 KB formatted at 3 hops, plans/r11/graph_bfs_reach_before.txt)
    // and re-derived every earlier hop's join inside the final action.
    // Each hop is now a constant-size plan over LogicalRDD leaves; the
    // frontier is exactly the previous hop's snapshot (no dist filter),
    // and the visited set is a union of the ≤ h small node frames.
    import org.apache.spark.sql.graft.DatasetBridge
    val und = bulkCoPurchaseEdges(spark, dir)
    val edges = und.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
    val seed = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("src")).limit(1)
      .select(col("src").as("node"), lit(0L).as("dist"))
    // DELIBERATELY one final action, snapshots NOT released per hop
    // (measured r12): an eager per-hop census (collect one bounded row as
    // each hop materializes, release behind it — the kcore discipline) was
    // built and measured SLOWER (sf0.1 steady 1.06-1.24 s this form vs
    // 1.22-1.49; sf1 1.28-1.67 vs 1.82-2.14): the census adds 4
    // driver-synchronized jobs per invocation and removes only the cheap
    // final union-aggregate, while the storage it frees — ≤4 NODE-sized
    // (long, long) hop frames — is negligible next to the corpus
    // artifacts. kcore releases per round because its state is EDGE-sized
    // and shrinking it is the algorithm; hop frontiers are not that case.
    val hops = scala.collection.mutable.ArrayBuffer(DatasetBridge.snapshot(seed).df)
    for (h <- 1 to 3) {
      val visited = hops.reduce(_ unionAll _)
      val next = edges.join(hops.last.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist"))
      hops += DatasetBridge.snapshot(next).df
    }
    hops.reduce(_ unionAll _).groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"), min("node").as("min_node"))
      .orderBy("dist")
  }

  /** K-CORE PEELING (k = 3, 3 synchronous rounds) — the graph-density
   *  filter community detection and influence analysis run first: each
   *  round drops every node with CURRENT degree < k, which lowers
   *  neighbors' degrees and exposes the next peel layer (Batagelj &
   *  Zaveršnik 2003, made synchronous/unrolled). Reports the census
   *  (nodes, edges) after each round — round 3 of the co-purchase graph
   *  is its (approximate) 3-core, exact once a round strips nothing.
   *
   *  Scale shape: each round is one degree aggregate over the edge list
   *  plus two semi-join filters of edges against the surviving node set
   *  — all equi-joins on a long key, shuffle volume shrinking with the
   *  graph. The canonical iterative-CONTRACTION pattern, complementing
   *  the expansion (BFS), propagation (LPA/PageRank) and enumeration
   *  (triangles/wedges) families. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    def degrees(e: DataFrame): DataFrame =
      e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
    // SNAPSHOT each peel round (the starComponents state-management
    // discipline): the previous recompute-per-census form nested round
    // r's plan inside round r+1's TWICE (keep-join + census branches) —
    // the final unioned plan reached ~3,850 physical operators / 936
    // Exchanges at 3 rounds (plans/r11/graph_kcore_before.txt), so the
    // suite paid O(rounds²) execution AND seconds of Catalyst planning.
    // Each round now materializes once into a persisted InternalRow RDD,
    // the census aggregates are collected per round (two 1-row
    // aggregates — bounded driver bookkeeping, the q71 discipline), and
    // the previous round's blocks release the moment the next round is
    // materialized, so peak extra storage is one round's edge set. AQE
    // still sizes the keep-joins from runtime shuffle stats, exactly as
    // before — the join inputs are the same exchanges, just fed by a
    // snapshot scan instead of a re-derived subtree.
    import org.apache.spark.sql.graft.DatasetBridge
    var cur: DataFrame = bulkCoPurchaseEdges(spark, dir)
    var curSnap: DatasetBridge.Snapshot = null
    // the DEGREE TABLE is itself a per-round snapshot doing double duty:
    // round r's keep-filter reads it, and round r's node census is just
    // its ROW COUNT (free at materialization) — so each round runs
    // exactly two jobs (edge count, degree count) with no redundant
    // degree exchange for the census
    var deg: DatasetBridge.Snapshot = DatasetBridge.snapshot(degrees(cur))
    val census = (1 to 3).map { r =>
      val keep = deg.df.filter(col("d") >= k).select("n")
      val next = DatasetBridge.snapshot(
        cur.join(keep.select(col("n").as("x")), "x")
          .join(keep.select(col("n").as("y")), "y")
          .select("x", "y"))
      val nEdges = next.rdd.count() // materializes the round's edge set
      val degNext = DatasetBridge.snapshot(degrees(next.df))
      val nNodes = degNext.rdd.count() // materializes; rows = surviving nodes
      deg.release()
      if (curSnap != null) curSnap.release()
      deg = degNext
      curSnap = next
      cur = next.df
      (r.toLong, nNodes, nEdges)
    }
    deg.release()
    if (curSnap != null) curSnap.release() // census values are collected; nothing re-reads the frame
    import spark.implicits._
    census.toDF("round", "n_nodes", "n_edges").orderBy("round")
  }

  /** CONNECTED-COMPONENT CENSUS over the co-purchase graph — the top-10
   *  components by size, labels = component-minimum part key. The Spark
   *  side runs the dedup module's large-star/small-star contraction
   *  (O(log n) rounds with snapshot-per-round state management — the
   *  100 TB-correct algorithm); the oracle replays HashMin label
   *  propagation (Kiveris et al. 2014's baseline) for a FIXED budget of
   *  16 rounds, generated programmatically like the Lloyd/XXH64 oracles.
   *  Both converge to the same min-id labels; 16 rounds covers the
   *  measured fixpoint at every oracle scale (9 rounds at sf0.01, 12 at
   *  sf0.1) with margin, and GraphOpsSpec asserts the budget against a
   *  sequential union-find so growth in the testdata trips a local spec,
   *  not the driver gate. */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    // preCanonical: the edge snapshot is one row per undirected edge with
    // x < y strict (distinct, self-loop-free, by construction in
    // [[bulkCoPurchaseEdges]]) — the CC wrapper's defensive
    // canonicalize+distinct would be a full 5M-row-at-sf10 exchange plus a
    // redundant snapshot of a frame that is already snapshot-backed (r12,
    // guide §2.4); GraphOpsSpec pins the equivalence against the defensive
    // path.
    graft.dedup.Dedup.connectedComponents(
        und.select(col("x").as("id_a"), col("y").as("id_b")), preCanonical = true)
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_members"), max("node").as("max_member"))
      .orderBy(col("n_members").desc, col("component"))
      .limit(10)
  }

  /** Generated HashMin oracle: `rounds` unrolled min-label iterations. */
  private[operators] def hashMinCcSql(rounds: Int): String = {
    val base = """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      edges AS MATERIALIZED (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk),
      l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    val iter = (1 to rounds).map { i =>
      s""",
      l$i AS MATERIALIZED (
        SELECT l.node, least(l.lbl, coalesce(nb.m, l.lbl)) AS lbl
        FROM l${i - 1} l LEFT JOIN (
          SELECT e.dst AS node, min(x.lbl) AS m
          FROM edges e JOIN l${i - 1} x ON x.node = e.src GROUP BY e.dst) nb
        USING (node))"""
    }.mkString
    base + iter + s"""
      SELECT cast(lbl as bigint) AS component, count(*) AS n_members,
             cast(max(node) as bigint) AS max_member
      FROM l$rounds GROUP BY 1 ORDER BY n_members DESC, component LIMIT 10"""
  }

  /** EDGE CHURN — the dynamic-graph monitoring report: build the
   *  co-purchase graph from orders BEFORE vs AFTER a calendar cutoff and
   *  classify every edge as stable / gained / lost, with churn in basis
   *  points of the union. The "did the relationship structure shift"
   *  probe a recommender retrain decision reads. Each snapshot is the
   *  usual order-key inverted-index edge build (date filter pushed into
   *  the orders scan, semi-joined to lineitem); the diff is ONE
   *  full-outer join on the edge pair rolled straight into a single
   *  aggregate — no anti-join passes, no edge set materialized twice. */
  def edgeChurn(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp_ntz(lit("1998-04-01 00:00:00"))
    def snapshot(cond: org.apache.spark.sql.Column): DataFrame = {
      val op = Tables.lineitem(spark, dir)
        .filter(col("l_quantity") >= 40)
        .join(Tables.orders(spark, dir).filter(cond).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      op.as("a").join(op.as("b"), "ok")
        .filter(col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("x"), col("b.pk").as("y"))
        .distinct()
    }
    snapshot(col("o_orderdate") < cutoff).withColumn("b", lit(1L))
      .join(snapshot(col("o_orderdate") >= cutoff).withColumn("a", lit(1L)),
        Seq("x", "y"), "full_outer")
      .select(coalesce(col("b"), lit(0L)).as("b"), coalesce(col("a"), lit(0L)).as("a"))
      .agg(sum("b").as("n_before"), sum("a").as("n_after"),
        sum(col("b") * col("a")).as("n_stable"),
        sum(col("a") * (lit(1L) - col("b"))).as("n_gained"),
        sum(col("b") * (lit(1L) - col("a"))).as("n_lost"))
      .select(col("n_before"), col("n_after"), col("n_stable"), col("n_gained"), col("n_lost"),
        expr("(n_gained + n_lost) * 10000 div (n_stable + n_gained + n_lost)").as("churn_bp"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) — does the co-purchase graph
   *  wire hubs to hubs (assortative, r > 0) or hubs to leaves
   *  (disassortative, r < 0)? The one-number wiring diagnostic read
   *  before trusting degree-based sampling or epidemic-style reach
   *  estimates. Pearson correlation of endpoint degrees over every
   *  DIRECTED edge: all moments are integer sums (accumulated in
   *  decimal(38) — degree products × edge counts overflow long at
   *  sf10-class graphs), one IEEE sqrt/division at the boundary. Two
   *  degree-table joins on the shared snapshot, one aggregate. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    val edges = und.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    edges
      .join(deg.select(col("src"), col("d").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum(col("dy").cast("decimal(38,0)")).as("sy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"))
      .select(col("n"),
        expr("""cast(n * sxy - sx * sy as double)
               / sqrt(cast(n * sxx - sx * sx as double) * cast(n * syy - sy * sy as double))""").as("r"))
  }

  /** Power-of-two CASE ladder shared verbatim by both engines — the
   *  pipeline_length_buckets discipline: no floating log2 at integer
   *  boundaries. */
  private val degreeLadder: String = {
    val cases = (20 to 0 by -1).map(k => s"WHEN d >= ${1L << k} THEN ${1L << k}").mkString(" ")
    s"CASE $cases ELSE 0 END"
  }

  /** DEGREE DISTRIBUTION — the first chart anyone draws of a graph:
   *  node counts per power-of-two degree bucket (the log-log histogram
   *  that reveals heavy tails). One degree aggregate over the shared
   *  edge snapshot + one ~20-row rollup; bucketing via the integer CASE
   *  ladder, no float log. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    und.select(col("x").as("n")).unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .groupBy(expr(degreeLadder).as("degree_bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("sum_degree"))
      .orderBy("degree_bucket")
  }

  /** LOCAL CLUSTERING COEFFICIENT census — Watts–Strogatz "how cliquish
   *  is each neighborhood", the complement of [[triangles]]' GLOBAL
   *  transitivity (which a few hubs can dominate): per node with degree
   *  ≥ 2, cc = 2·t(v)/(d(v)·(d(v)−1)) in half-up bp, then the census —
   *  how many nodes were evaluated, how many are perfectly closed
   *  (cc = 10000), the bp sum and its half-up mean. Per-node triangle
   *  counts reuse the degree-oriented wedge join (each triangle found
   *  once, then credited to all three corners via one 3-way explode);
   *  work stays Σ(oriented out-degree)², the Schank–Wagner bound, never
   *  raw Σdeg². The census aggregate is one row. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    val deg = und.select(col("x").as("n"))
      .unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .select(col("n"), expr("d * 4294967296 + n").as("ord"), col("d"))
    val keyed = und
      .join(deg.select(col("n").as("x"), col("ord").as("xo")), "x")
      .join(deg.select(col("n").as("y"), col("ord").as("yo")), "y")
    val oriented = keyed.select(
      when(col("xo") < col("yo"), col("x")).otherwise(col("y")).as("u"),
      when(col("xo") < col("yo"), col("y")).otherwise(col("x")).as("v"),
      greatest(col("xo"), col("yo")).as("vord"))
    // every triangle {a,b,c} appears exactly once as (apex u, p.v, q.v)
    val tri = oriented.as("p")
      .join(oriented.as("q"),
        col("p.u") === col("q.u") && col("p.vord") < col("q.vord"))
      .select(col("p.u").as("ta"), col("p.v").as("tb"), col("q.v").as("tc"))
      .join(oriented.select(col("u").as("tb"), col("v").as("tc")), Seq("tb", "tc"))
    val triPerNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.filter(col("d") >= 2)
      .join(triPerNode, Seq("n"), "left")
      .select(col("n"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .select(expr("(2 * 2 * t * 10000 + d * (d - 1)) div (2 * d * (d - 1))").as("cc_bp"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("cc_bp") === 10000, 1L).otherwise(0L)).as("n_closed"),
        sum("cc_bp").as("sum_cc_bp"))
      .select(col("n_eval"), col("n_closed"), col("sum_cc_bp"),
        expr("(2 * sum_cc_bp + n_eval) div (2 * n_eval)").as("avg_cc_bp"))
  }

  /** NEWMAN MODULARITY of the LPA communities — the "are these
   *  communities real" eval: Q = Σ_c [e_c/m − (d_c/2m)²], computed as
   *  (4m·Σe_c − Σd_c²) / 4m² over exact integer moments (internal-edge
   *  counts and degree sums from bounded joins of the shared edge
   *  snapshot against the shared [[lpaLabels]] table), one float
   *  division at the output boundary (Q is signed — the kappa
   *  convention). Σd_c² accumulates in decimal(38) and ships as a
   *  string: a 100 TB graph's hub community squares past 2⁶³. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val und = bulkCoPurchaseEdges(spark, dir)
    val lbl = lpaLabels(spark, dir)
    val m = und.agg(count(lit(1)).as("m"))
    val internal = und
      .join(lbl.select(col("node").as("x"), col("lbl").as("lx")), "x")
      .join(lbl.select(col("node").as("y"), col("lbl").as("ly")), "y")
      .agg(sum(when(col("lx") === col("ly"), 1L).otherwise(0L)).as("internal_edges"))
    val degSq = und.select(col("x").as("n")).unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .join(lbl.withColumnRenamed("node", "n"), "n")
      .groupBy("lbl").agg(sum("d").as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(expr("cast(dc as decimal(38,0)) * dc")).as("sds"))
    m.crossJoin(broadcast(internal)).crossJoin(broadcast(degSq))
      .select(col("m").as("m_edges"), col("n_communities"), col("internal_edges"),
        col("sds").cast("string").as("sum_deg_sq"),
        // 4*m*internal widened to decimal(38,0) BEFORE the multiply: at
        // ~2^31+ undirected edges the 64-bit product wraps silently under
        // Spark's non-ANSI arithmetic while DuckDB's bigint raises — the
        // same 100 TB scale sds was already widened for.
        expr("""(cast(4 * cast(m as decimal(38,0)) * internal_edges as double)
                 - cast(sds as double))
               / cast(4 * cast(m as decimal(38,0)) * m as double)""").as("modularity"))
  }

  val defs: Vector[QueryDef] = Vector(
    // exact twin: the LPA rounds replayed as in graph_label_prop, then
    // the same integer modularity moments and one float division
    QueryDef("graph_modularity", modularity, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM und UNION ALL SELECT y, x FROM und),
      l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      l1 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l0.lbl) AS sc
          FROM edges e JOIN l0 ON l0.node = e.src GROUP BY e.dst, l0.lbl) t
        GROUP BY node),
      l2 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l1.lbl) AS sc
          FROM edges e JOIN l1 ON l1.node = e.src GROUP BY e.dst, l1.lbl) t
        GROUP BY node),
      l3 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l2.lbl) AS sc
          FROM edges e JOIN l2 ON l2.node = e.src GROUP BY e.dst, l2.lbl) t
        GROUP BY node),
      mm AS (SELECT cast(count(*) as bigint) AS m FROM und),
      ii AS (
        SELECT cast(sum(CASE WHEN a.lbl = b.lbl THEN 1 ELSE 0 END) as bigint) AS internal_edges
        FROM und JOIN l3 a ON a.node = und.x JOIN l3 b ON b.node = und.y),
      deg AS (SELECT src AS n, cast(count(*) as bigint) AS d FROM edges GROUP BY 1),
      dc AS (SELECT l3.lbl, sum(d) AS dcg FROM deg JOIN l3 ON l3.node = deg.n GROUP BY 1),
      sq AS (SELECT count(*) AS n_communities,
                    sum(cast(dcg as hugeint) * dcg) AS sds
             FROM dc)
      SELECT mm.m AS m_edges, sq.n_communities, ii.internal_edges,
             cast(sq.sds as varchar) AS sum_deg_sq,
             (cast(4 * cast(mm.m as hugeint) * ii.internal_edges as double)
                - cast(sq.sds as double))
               / cast(4 * cast(mm.m as hugeint) * mm.m as double) AS modularity
      FROM mm, ii, sq""")),
    // exact twin: same oriented wedge enumeration, same 3-corner credit,
    // same half-up per-node bp before the census
    QueryDef("graph_clustering", clusteringCoeff, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS MATERIALIZED (
        SELECT n, cast(count(*) as bigint) AS d,
               cast(count(*) as bigint) * 4294967296 + n AS ord
        FROM (SELECT x AS n FROM und UNION ALL SELECT y AS n FROM und)
        GROUP BY n),
      o AS MATERIALIZED (
        SELECT CASE WHEN dx.ord < dy.ord THEN und.x ELSE und.y END AS u,
               CASE WHEN dx.ord < dy.ord THEN und.y ELSE und.x END AS v,
               greatest(dx.ord, dy.ord) AS vord
        FROM und JOIN deg dx ON und.x = dx.n JOIN deg dy ON und.y = dy.n),
      tri AS MATERIALIZED (
        SELECT p.u AS ta, p.v AS tb, q.v AS tc
        FROM o p JOIN o q ON p.u = q.u AND p.vord < q.vord
             JOIN o c ON c.u = p.v AND c.v = q.v),
      tn AS (
        SELECT n, cast(count(*) as bigint) AS t
        FROM (SELECT ta AS n FROM tri UNION ALL SELECT tb FROM tri
              UNION ALL SELECT tc FROM tri)
        GROUP BY n),
      cc AS (
        SELECT (2 * 2 * coalesce(tn.t, 0) * 10000 + deg.d * (deg.d - 1))
                 // (2 * deg.d * (deg.d - 1)) AS cc_bp
        FROM deg LEFT JOIN tn USING (n) WHERE deg.d >= 2)
      SELECT count(*) AS n_eval,
             cast(sum(CASE WHEN cc_bp = 10000 THEN 1 ELSE 0 END) as bigint) AS n_closed,
             cast(sum(cc_bp) as bigint) AS sum_cc_bp,
             cast((2 * sum(cc_bp) + count(*)) // (2 * count(*)) as bigint) AS avg_cc_bp
      FROM cc""")),
    QueryDef("graph_degree_hist", degreeHist, Some(s"""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS (
        SELECT n, cast(count(*) as bigint) AS d
        FROM (SELECT x AS n FROM und UNION ALL SELECT y FROM und)
        GROUP BY n)
      SELECT $degreeLadder AS degree_bucket,
             count(*) AS n_nodes, cast(sum(d) as bigint) AS sum_degree
      FROM deg GROUP BY 1 ORDER BY degree_bucket""")),
    // exact twin: same symmetric edge-degree pairs, hugeint moments, one
    // float sqrt/division at the end
    QueryDef("graph_assortativity", assortativity, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM und UNION ALL SELECT y, x FROM und),
      deg AS (SELECT src, cast(count(*) as hugeint) AS d FROM edges GROUP BY 1),
      p AS (
        SELECT da.d AS dx, db.d AS dy
        FROM edges e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst),
      m AS (
        SELECT cast(count(*) as hugeint) AS n, sum(dx) AS sx, sum(dy) AS sy,
               sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
        FROM p)
      SELECT cast(n as bigint) AS n,
             cast(n * sxy - sx * sy as double)
               / sqrt(cast(n * sxx - sx * sx as double) * cast(n * syy - sy * sy as double)) AS r
      FROM m""")),
    // exact twin: two date-filtered snapshots, one full-outer flag diff
    QueryDef("graph_edge_churn", edgeChurn, Some("""
      WITH opb AS (
        SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_quantity >= 40 AND o.o_orderdate < timestamp '1998-04-01 00:00:00'),
      eb AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM opb a JOIN opb b ON a.ok = b.ok AND a.pk < b.pk),
      opa AS (
        SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_quantity >= 40 AND o.o_orderdate >= timestamp '1998-04-01 00:00:00'),
      ea AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM opa a JOIN opa b ON a.ok = b.ok AND a.pk < b.pk),
      m AS (
        SELECT CASE WHEN eb.x IS NOT NULL THEN 1 ELSE 0 END AS b,
               CASE WHEN ea.x IS NOT NULL THEN 1 ELSE 0 END AS a
        FROM eb FULL OUTER JOIN ea ON eb.x = ea.x AND eb.y = ea.y)
      SELECT cast(sum(b) as bigint) AS n_before, cast(sum(a) as bigint) AS n_after,
             cast(sum(b * a) as bigint) AS n_stable,
             cast(sum(a * (1 - b)) as bigint) AS n_gained,
             cast(sum(b * (1 - a)) as bigint) AS n_lost,
             cast((sum(a * (1 - b)) + sum(b * (1 - a))) * 10000
                  // (sum(b * a) + sum(a * (1 - b)) + sum(b * (1 - a))) as bigint) AS churn_bp
      FROM m""")),
    QueryDef("graph_components", components, Some(hashMinCcSql(16))),
    // exact twin: 3 unrolled peel rounds, survivors via IN-subqueries
    QueryDef("graph_kcore", kcore, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      e0 AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      k1 AS (SELECT n FROM (
               SELECT n, count(*) AS d
               FROM (SELECT x AS n FROM e0 UNION ALL SELECT y FROM e0)
               GROUP BY 1) WHERE d >= 3),
      e1 AS MATERIALIZED (
        SELECT x, y FROM e0
        WHERE x IN (SELECT n FROM k1) AND y IN (SELECT n FROM k1)),
      k2 AS (SELECT n FROM (
               SELECT n, count(*) AS d
               FROM (SELECT x AS n FROM e1 UNION ALL SELECT y FROM e1)
               GROUP BY 1) WHERE d >= 3),
      e2 AS MATERIALIZED (
        SELECT x, y FROM e1
        WHERE x IN (SELECT n FROM k2) AND y IN (SELECT n FROM k2)),
      k3 AS (SELECT n FROM (
               SELECT n, count(*) AS d
               FROM (SELECT x AS n FROM e2 UNION ALL SELECT y FROM e2)
               GROUP BY 1) WHERE d >= 3),
      e3 AS MATERIALIZED (
        SELECT x, y FROM e2
        WHERE x IN (SELECT n FROM k3) AND y IN (SELECT n FROM k3)),
      s AS (
        SELECT 1 AS round,
               (SELECT count(DISTINCT n) FROM (SELECT x AS n FROM e1 UNION ALL SELECT y FROM e1)) AS n_nodes,
               (SELECT count(*) FROM e1) AS n_edges
        UNION ALL
        SELECT 2,
               (SELECT count(DISTINCT n) FROM (SELECT x AS n FROM e2 UNION ALL SELECT y FROM e2)),
               (SELECT count(*) FROM e2)
        UNION ALL
        SELECT 3,
               (SELECT count(DISTINCT n) FROM (SELECT x AS n FROM e3 UNION ALL SELECT y FROM e3)),
               (SELECT count(*) FROM e3))
      SELECT cast(round as bigint) AS round, cast(n_nodes as bigint) AS n_nodes,
             cast(n_edges as bigint) AS n_edges
      FROM s ORDER BY round""")),
    // exact twin: same seed rule, 3 unrolled frontier expansions with the
    // same dedup-then-anti-join structure
    QueryDef("graph_bfs_reach", bfsReach, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM und UNION ALL SELECT y, x FROM und),
      seed AS (
        SELECT src AS node FROM (SELECT src, count(*) AS d FROM edges GROUP BY 1)
        ORDER BY d DESC, src LIMIT 1),
      v0 AS (SELECT node, 0 AS dist FROM seed),
      f1 AS (SELECT DISTINCT e.dst AS node
             FROM edges e JOIN v0 ON v0.node = e.src
             WHERE e.dst NOT IN (SELECT node FROM v0)),
      v1 AS MATERIALIZED (
        SELECT * FROM v0 UNION ALL SELECT node, 1 FROM f1),
      f2 AS (SELECT DISTINCT e.dst AS node
             FROM edges e JOIN v1 ON v1.node = e.src AND v1.dist = 1
             WHERE e.dst NOT IN (SELECT node FROM v1)),
      v2 AS MATERIALIZED (
        SELECT * FROM v1 UNION ALL SELECT node, 2 FROM f2),
      f3 AS (SELECT DISTINCT e.dst AS node
             FROM edges e JOIN v2 ON v2.node = e.src AND v2.dist = 2
             WHERE e.dst NOT IN (SELECT node FROM v2)),
      v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM f3)
      SELECT cast(dist as bigint) AS dist, count(*) AS n_nodes,
             cast(min(node) as bigint) AS min_node
      FROM v3 GROUP BY 1 ORDER BY 1""")),
    // exact twin: same canonical edges, same wedge enumeration, the anti
    // join spelled as NOT EXISTS, identical half-up integer Jaccard
    QueryDef("graph_common_neighbors", commonNeighbors, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM und UNION ALL SELECT y, x FROM und),
      deg AS (SELECT src, cast(count(*) as bigint) AS d FROM edges GROUP BY 1),
      pairs AS (
        SELECT p.dst AS a, q.dst AS b, cast(count(*) as bigint) AS cn
        FROM edges p JOIN edges q ON p.src = q.src AND p.dst < q.dst
        GROUP BY 1, 2),
      na AS (
        SELECT * FROM pairs
        WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.x = pairs.a AND und.y = pairs.b))
      SELECT na.a AS part_a, na.b AS part_b, cn AS n_common,
             (2 * cn * 10000 + (da.d + db.d - cn)) // (2 * (da.d + db.d - cn)) AS jaccard_bp
      FROM na JOIN deg da ON na.a = da.src JOIN deg db ON na.b = db.src
      ORDER BY n_common DESC, part_a, part_b LIMIT 20""")),
    // exact twin: same symmetric edges, 3 unrolled rounds of the packed
    // integer argmax recurrence — no floats, no arbitrary tie order
    QueryDef("graph_label_prop", labelPropagation, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      edges AS MATERIALIZED (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk),
      l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      l1 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l0.lbl) AS sc
          FROM edges e JOIN l0 ON l0.node = e.src GROUP BY e.dst, l0.lbl) t
        GROUP BY node),
      l2 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l1.lbl) AS sc
          FROM edges e JOIN l1 ON l1.node = e.src GROUP BY e.dst, l1.lbl) t
        GROUP BY node),
      l3 AS MATERIALIZED (
        SELECT node, 4294967295 - (max(sc) % 4294967296) AS lbl FROM (
          SELECT e.dst AS node,
                 cast(count(*) as bigint) * 4294967296 + (4294967295 - l2.lbl) AS sc
          FROM edges e JOIN l2 ON l2.node = e.src GROUP BY e.dst, l2.lbl) t
        GROUP BY node)
      SELECT cast(lbl as bigint) AS community, count(*) AS n_members,
             cast(min(node) as bigint) AS min_member
      FROM l3 GROUP BY lbl
      ORDER BY n_members DESC, community LIMIT 20""")),
    // exact twin: same distinct bulk co-purchase edges, 3 unrolled rounds
    // of the same integer recurrence (DuckDB's hugeint sums are cast back
    // down; every division is integer `//`, so no float anywhere)
    QueryDef("graph_pagerank", pagerank, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      edges AS MATERIALIZED (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk),
      deg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
      e AS MATERIALIZED (SELECT edges.src, edges.dst, deg.od FROM edges JOIN deg USING (src)),
      r0 AS (SELECT src AS node, cast(1000000000 as bigint) AS rank FROM deg),
      r1 AS MATERIALIZED (
        SELECT dst AS node,
               cast((15000000000 + 85 * sum(rank // od)) // 100 as bigint) AS rank
        FROM e JOIN r0 ON r0.node = e.src GROUP BY dst),
      r2 AS MATERIALIZED (
        SELECT dst AS node,
               cast((15000000000 + 85 * sum(rank // od)) // 100 as bigint) AS rank
        FROM e JOIN r1 ON r1.node = e.src GROUP BY dst),
      r3 AS MATERIALIZED (
        SELECT dst AS node,
               cast((15000000000 + 85 * sum(rank // od)) // 100 as bigint) AS rank
        FROM e JOIN r2 ON r2.node = e.src GROUP BY dst)
      SELECT node AS part_key, rank FROM r3
      ORDER BY rank DESC, part_key LIMIT 20""")),
    QueryDef("graph_triangles", triangles, Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem WHERE l_quantity >= 40),
      und AS MATERIALIZED (
        SELECT DISTINCT a.pk AS x, b.pk AS y
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS MATERIALIZED (
        SELECT n, cast(count(*) as bigint) AS d,
               cast(count(*) as bigint) * 4294967296 + n AS ord
        FROM (SELECT x AS n FROM und UNION ALL SELECT y AS n FROM und)
        GROUP BY n),
      o AS MATERIALIZED (
        SELECT CASE WHEN dx.ord < dy.ord THEN und.x ELSE und.y END AS u,
               CASE WHEN dx.ord < dy.ord THEN und.y ELSE und.x END AS v,
               greatest(dx.ord, dy.ord) AS vord
        FROM und JOIN deg dx ON und.x = dx.n JOIN deg dy ON und.y = dy.n),
      tri AS (
        SELECT cast(count(*) as bigint) AS n_triangles
        FROM o p JOIN o q ON p.u = q.u AND p.vord < q.vord
             JOIN o c ON c.u = p.v AND c.v = q.v),
      agg AS (
        SELECT (SELECT cast(count(*) as bigint) FROM deg) AS n_nodes,
               (SELECT cast(count(*) as bigint) FROM und) AS n_edges,
               (SELECT cast(sum(d * (d - 1) // 2) as bigint) FROM deg) AS n_wedges)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
             (2 * 3 * n_triangles * 10000 + n_wedges) // (2 * n_wedges) AS transitivity_bp
      FROM agg, tri"""))
  )
}
