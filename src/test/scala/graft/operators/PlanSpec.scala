package graft.operators

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants — the scale contract, pinned as tests so a
 *  future refactor can't silently regress pushdown/broadcast/top-k shapes.
 *  (Correctness is the oracle gate's job; this guards the PLANS.) */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q1: filter pushed to parquet scan, schema pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q6: all three predicates reach the scan") {
    // PushedFilters renders truncated ("…"), so assert on the data filters
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"))
    assert(p.contains("< 24.0)") && p.contains(">= 0.05)"))
  }

  test("q3: dimension joins broadcast, top-k via TakeOrderedAndProject") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit must not global-sort")
  }

  test("q5: star joins broadcast the dims") {
    assert(plan("q5_region_revenue").contains("BroadcastHashJoin"))
  }

  test("q60/q61: star-join filters reach the scans, dims broadcast, no cartesian") {
    for (q <- Seq("q60_market_share", "q61_profit_by_nation")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast the small dims")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    // the part-side filters are scan-level predicates, not post-join
    assert(plan("q60_market_share").contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)"))
    assert(plan("q61_profit_by_nation").contains("StringContains(p_name,widget)"))
  }

  test("q67/q68/q69: prefix passes range-partition; no no-partition window survives") {
    // the sweep line, the skyline and the decile fences all ride the
    // ScalableRank primitives — the plan must carry a RangePartitioning
    // exchange (parallel by sort key) and every Window must be keyed by
    // the slice id (__pid), never an empty partitionBy
    // an EMPTY partitionBy prints its windowspecdefinition with a sort
    // order as the FIRST argument — that's the single-task shape to ban;
    // per-user / per-slice windows (partition cols first) are fine
    val globalWindow = """windowspecdefinition\([^,)]+ (ASC|DESC)""".r
    for (q <- Seq("q67_concurrency", "q68_skyline", "q69_equiheight")) {
      val p = plan(q)
      assert(p.toLowerCase.contains("rangepartitioning"),
        s"$q must range-partition by the sort key")
      assert(globalWindow.findFirstIn(p).isEmpty,
        s"$q has a no-partition (single-task) window")
    }
  }

  test("graph wave: equi-joins only — no cartesian in wedge/BFS/peel/kNN plans") {
    for (q <- Seq("graph_common_neighbors", "graph_bfs_reach", "graph_kcore")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    // ann_knn_graph's only NLJ is the 16-row broadcast centroid cross join
    val p = plan("ann_knn_graph")
    assert(!p.contains("CartesianProduct"), "knn graph must never cartesian the corpus")
  }

  test("pipeline_curriculum: the ntile rides the range exchange, not a global window") {
    val p = plan("pipeline_curriculum")
    assert(p.toLowerCase.contains("rangepartitioning"),
      "curriculum must range-partition by the quality sort key")
    assert("""windowspecdefinition\([^,)]+ (ASC|DESC)""".r.findFirstIn(p).isEmpty,
      "curriculum has a no-partition (single-task) window")
  }

  test("robust-stat wave: rank passes range-partition; no single-task window") {
    val globalWindow = """windowspecdefinition\([^,)]+ (ASC|DESC)""".r
    for (q <- Seq("q80_mad", "q86_bowley", "q87_tukey", "q88_winsorized",
                  "q89_grouped_median", "q81_rfm", "q72_decile_mobility")) {
      val p = plan(q)
      // the range-partition + per-slice window path splits the sort across
      // tasks; what's banned is the partition-less global window
      assert(p.toLowerCase.contains("rangepartitioning"),
        s"$q must range-partition its rank pass")
      assert(globalWindow.findFirstIn(p).isEmpty,
        s"$q has a no-partition (single-task) window")
    }
  }

  test("hybrid/radius search: the only NLJs are broadcast query/shortlist frames") {
    for (q <- Seq("ann_range_search", "ann_hybrid_rrf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("contribution & cohort splits: dims broadcast, no cartesian") {
    for (q <- Seq("q94_contribution", "q98_new_vs_repeat", "q91_mode", "q78_hhi")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    assert(plan("q94_contribution").contains("BroadcastHashJoin"))
  }

  test("no accidental cartesian products outside the ANN broadcast NLJs") {
    for (q <- Seq("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
                  "q15_sessionize", "dedup_minhash_lsh", "q26_left_outer")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("aggregations are partial+final (map-side combine)") {
    val p = plan("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial and final HashAggregate")
  }

  test("ANN top-k pre-reduces via bounded aggregate, never a per-query window") {
    for (q <- Seq("ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"), s"$q must use the bounded top-k aggregate")
      assert(!p.contains("Window"), s"$q funnels the corpus through a per-query window")
    }
  }

  test("curation pipeline: no join, no window — dedup is one min_by shuffle") {
    val p = plan("pipeline_clean_corpus")
    assert(!p.contains("Join"), "exact dedup must be a groupBy min_by, not a self-join")
    assert(!p.contains("Window"), "no window anywhere in the pipeline")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "min_by(struct, doc_id) should plan as an object/sort aggregate")
  }

  test("q31: literal label dim joins via shuffle hash (the salted demo plan)") {
    val p = plan("q31_salted_join")
    assert(p.contains("ShuffledHashJoin"), "salted join must stay a shuffle join")
    assert(!p.contains("Scan parquet") || "Scan parquet".r.findAllIn(p).size == 1,
      "only the fact table scans parquet; labels are a literal local relation")
  }

  test("q33 ntile never sorts globally in one task (no empty-partitionBy window)") {
    val df = graft.SparkEntry.queries("q33_ntile")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(windows.isEmpty, "found a global (no partitionBy) window in q33")
  }

  test("ann_filtered_topk: metadata predicate is the broadcast join key") {
    val p = plan("ann_filtered_topk")
    assert(p.contains("BroadcastHashJoin"), "label filter must join, not post-filter")
    assert(!p.contains("Window"), "top-k must stay the bounded aggregate")
  }

  test("text_tfidf_search: global top-10 is TakeOrderedAndProject, df broadcast back") {
    val p = plan("text_tfidf_search")
    assert(p.contains("TakeOrderedAndProject"), "orderBy+limit must not global-sort")
    assert(p.contains("BroadcastHashJoin"), "the 4-row df side must broadcast")
  }

  test("graph_triangles: every join an equi-join — the wedge join keys on the apex") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"),
      "wedge/close joins must be equi-joins; only the three 1-row stat frames may nest-loop")
    // the 1-row stat frames join as BroadcastNestedLoopJoin — that's the
    // sanctioned shape; what must never appear is a shuffled cartesian
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "wedge join must be an equi-join")
  }

  test("text_bpe_pairs: bounded top-40, one pair shuffle, no global sort") {
    val p = plan("text_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-40 must not global-sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_oov_rate: 100-row vocab broadcasts back to the token stream") {
    val p = plan("text_oov_rate")
    assert(p.contains("BroadcastHashJoin"), "vocab join must broadcast, never shuffle the tokens")
    assert(p.contains("TakeOrderedAndProject"), "vocab cut must not global-sort")
  }

  test("pipeline_chunks: narrow explode, no hash exchange before the chunks exist") {
    val df = graft.SparkEntry.queries("pipeline_chunks")(spark, dir)
    // the only exchange allowed is the presentation orderBy's range partition;
    // chunk construction itself (tokenize -> sequence-explode -> slice/md5)
    // must be narrow map-side work
    val hashExchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 0, "chunking must not hash-shuffle")
  }

  test("q41 rolling window partitions by customer — never a global sort") {
    val df = graft.SparkEntry.queries("q41_rolling_range")(spark, dir)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, "RANGE window must partition by o_custkey")
  }

  test("q44 funnel plans joins + aggregates only — no windows, no cartesian") {
    val p = plan("q44_funnel")
    assert(!p.contains("Window"), "funnel stages must be groupBy-min, not windows")
    assert(!p.contains("CartesianProduct"),
      "only the three 1-row stage counts may cross-join (BroadcastNestedLoop)")
  }

  test("q45 snapshot diff is one full-outer join, no cartesian") {
    val p = plan("q45_snapshot_diff")
    assert(p.contains("FullOuter"), "diff must be a single full-outer join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q49 skew report: top-k via TakeOrderedAndProject, scalars broadcast") {
    val p = plan("q49_skew_report")
    assert(p.contains("TakeOrderedAndProject"), "top-5 must not global-sort")
    assert(!p.contains("Window"), "global scalars must not plan a window")
  }

  test("text_fuzzy_join: vocabulary dedup before the gram join, no cartesian") {
    val p = plan("text_fuzzy_join")
    assert(!p.contains("CartesianProduct"), "fuzzy join must block on grams, not cross-join")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the distinct-name vocabulary aggregate must partial+final")
  }

  test("sink_orc_roundtrip: the filter reaches the ORC reader") {
    graft.SparkEntry.queries("sink_orc_roundtrip")(spark, dir).collect() // ensure written
    val p = plan("sink_orc_roundtrip")
    assert(p.contains("Scan orc"), "read-back must scan ORC, not fall to rows")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity"),
      s"quantity filter must push into the ORC scan:\n$p")
  }

  test("q7: per-priority top-k is the bounded aggregate, never a 5-task window") {
    val p = plan("q7_top_per_priority")
    assert(p.contains("ObjectHashAggregate"), s"q7 must use the bounded TopK aggregate:\n$p")
    assert(!p.contains("Window"),
      s"a per-priority window funnels all orders through 5 tasks:\n$p")
  }

  test("sink_zorder: both box predicates push into the z-ordered parquet scan") {
    graft.SparkEntry.queries("sink_zorder")(spark, dir).collect() // ensure written
    val p = plan("sink_zorder")
    // both dimensions must reach the scan — that's what lets parquet
    // row-group min/max stats skip: each z-ordered file bounds BOTH.
    // PushedFilters renders truncated ("…"), so the prefix pins user_id's
    // bounds + hr's not-null, and the Filter node text pins hr's bounds.
    assert(p.contains(
      "PushedFilters: [IsNotNull(user_id), IsNotNull(hr), GreaterThanOrEqual(user_id"),
      s"box filters must push into the parquet scan:\n$p")
    for (op <- Seq(">=", "<=")) {
      assert(raw"hr#\d+L? $op \d+".r.findFirstIn(p).isDefined,
        s"hr $op bound must reach the scan's data filters:\n$p")
    }
  }

  test("pipeline_pack: every window rides a range slice, never source alone or global") {
    val df = graft.SparkEntry.queries("pipeline_pack")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "the local prefix sum should still be windowed")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
      assert(keys.exists(_.startsWith("__pid")),
        s"window must include the range-slice id in its partition key (got $keys); " +
          "partitioning by low-cardinality source alone funnels a whole source through one task")
    }
  }

  test("q52_percentiles: rank windows ride range slices; targets broadcast") {
    val df = graft.SparkEntry.queries("q52_percentiles")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "the local rank should still be windowed")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
      assert(w.partitionSpec.nonEmpty && keys.exists(_.startsWith("__pid")),
        s"the rank window must partition by the range-slice id (got $keys) " +
          "— a global window would single-task-sort the table")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "the 3-row target-rank join must broadcast")
    assert(!p.contains("FileScan parquet"),
      "q52 must read the shared price histogram, not scan lineitem")
  }

  test("pipeline_dsir_weights: 64-row ratio table broadcasts; no window, no cartesian") {
    val p = plan("pipeline_dsir_weights")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"),
      "the bucket likelihood-ratio table must join as a broadcast")
  }

  test("graph_pagerank: join+aggregate rounds only — no cartesian, no window; top-20 via TakeOrdered") {
    val p = plan("graph_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("pipeline_shuffle: position windows ride range slices, never a global window") {
    val df = graft.SparkEntry.queries("pipeline_shuffle")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "the local rank should still be windowed")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).exists(_.startsWith("__pid")),
        "the shuffle-position window must partition by the range-slice id")
    }
  }

  test("dedup_semantic & dedup_embedding: rank-window pairing rides the cell/bucket key, no cartesian") {
    // In-cell candidate pairing is a rank window over SemDedupWindow /
    // EmbedPairWindow predecessors (linear in cell population — the sf100
    // direction cone made the former pair JOIN intrinsically ~1e12 cosines),
    // so the plan must show a window PARTITIONED BY the cell/bucket key and
    // never a global window or a cartesian pair stage.
    for ((q, key) <- Seq("dedup_semantic" -> "cell", "dedup_embedding" -> "bucket")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, s"$q should pair candidates via the rank window")
      windows.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
        assert(keys.contains(key), s"$q pair window must partition by $key (got $keys)")
      }
    }
  }

  test("pipeline_domain_mix: per-source aggregate + 1-row broadcast scalar, no real join") {
    val p = plan("pipeline_domain_mix")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the totals scalar must attach as a broadcast")
  }

  test("text_keywords and q53_interval_union: windows ride high-cardinality keys only") {
    for ((q, key) <- Seq("text_keywords" -> "doc_id", "q53_interval_union" -> "user_id")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.nonEmpty, s"$q should rank/merge via windows")
      windows.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
        assert(keys.contains(key), s"$q window must partition by $key (got $keys)")
      }
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    }
  }

  test("q55_below_avg: correlated subquery decorrelates to one aggregate + join") {
    val p = plan("q55_below_avg")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.contains("subquery"),
      "the correlated subquery must be rewritten away, never re-executed per row")
    assert(p.contains("Join"), "decorrelation produces a per-part aggregate joined back")
  }

  test("embed_dim_stats: all 192 statistics in ONE aggregate pass, no Expand") {
    val p = plan("embed_dim_stats")
    assert(!p.contains("Expand"), "per-dimension stats must not Expand the corpus dim-fold")
    assert("Scan parquet".r.findAllIn(p).size == 1, "one corpus pass only")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // the only Generate is the 64-row `stack` reshape ABOVE the aggregate
    // (it runs on the 1-row result, never the corpus)
    val genIdx = p.indexOf("Generate stack")
    val aggIdx = p.indexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx > genIdx, "stack must sit above the single aggregate")
  }

  test("q50_retention: two user-keyed shuffles, no cartesian, no window") {
    val p = plan("q50_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("ann_matryoshka: both stages bounded aggregates, shortlist broadcast back") {
    val p = plan("ann_matryoshka")
    assert(!p.contains("Window"), "both stages must use the bounded top-k aggregate")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("BroadcastHashJoin"), "the rerank must join the broadcast shortlist")
  }

  test("text_rank_quality: vocab rank windows ride range slices, no cartesian") {
    val p = plan("text_rank_quality")
    assert(!p.contains("CartesianProduct"), p)
    // every window must partition on the range-slice id — a bare
    // `row_number() OVER (ORDER BY cnt)` would collapse the vocabulary
    // into one task
    val windows = "Window .*".r.findAllIn(p).toList
    assert(windows.nonEmpty, "expected the ScalableRank local-rank window")
    windows.foreach(w => assert(w.contains("__pid"), s"global window: $w"))
  }

  test("ann_pq: encode is map-side narrow, score is bounded aggregate, no window") {
    val p = plan("ann_pq")
    assert(!p.contains("Window"), "PQ top-k must use the bounded aggregate")
    assert(p.contains("ObjectHashAggregate"), p)
    // encoding + ADC must not shuffle the corpus: the only exchange feeds
    // the final O(k)-buffer aggregate (plus the tiny broadcast query side)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never shuffle for a PQ scan")
  }

  test("q51_dq_rules: the whole rule set is ONE aggregate pass") {
    val p = plan("q51_dq_rules")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, "rules must share a single scan")
  }

  test("bucketed join runs with no shuffle and no sort on either side") {
    // at toy SF the planner would (rightly) broadcast; disable it so the
    // test exercises the big-fact-join path bucketing exists for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val join = graft.sources.Sinks.joinSides(spark, dir)
      // collect() executes THIS QueryExecution (count() would plan a new
      // one), so the asserted AdaptiveSparkPlan is the finalized one that
      // really ran — a runtime AQE re-plan would be caught here
      join.collect()
      val p = join.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // the scale win: both fact sides arrive pre-partitioned, zero
      // Exchange anywhere in the join. (A per-bucket in-memory sort
      // remains: since SPARK-28595 the scan only reports sortBy order
      // behind a legacy flag; the sort is linear per bucket and never
      // shuffles, so it is not the 100 TB bottleneck the Exchange was.)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(p.contains("Bucketed: true"), p)
      // bucket count tracks spark.sql.shuffle.partitions (a fixed count
      // would cap the bucketed scan's parallelism at any corpus size)
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(p.contains(s"SelectedBucketsCount: $n out of $n"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("text_classifier_score: weights computed inline — no join, no window") {
    val p = plan("text_classifier_score")
    assert(!p.contains("Join"), "the frozen weight must not come from a join")
    assert(!p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-doc and per-source aggregates must both map-side combine")
  }

  test("media_dedup_ahash: chunk equi-join, no cartesian, no window") {
    val p = plan("media_dedup_ahash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("sink_ndjson_roundtrip: reads back through a JSON file scan with explicit schema") {
    val p = plan("sink_ndjson_roundtrip")
    assert(p.toLowerCase.contains("filescan json") || p.contains("JsonScan") ||
      p.toLowerCase.contains("format: json"), p.take(2000))
  }
}
