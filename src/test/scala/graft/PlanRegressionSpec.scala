package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties PLANS.md documents, asserted.
  * A change that silently turns a broadcast join into a sort-merge join or
  * drops a pushed filter fails here, not at 100 TB. (sf0.001 keeps the
  * planning fast; shapes are scale-independent except where AQE resizes.) */
class PlanRegressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("W1 composite joins the broadcast day-calendar, never a shuffle join") {
    val p = plan("w1_period_composite")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("projection+filter queries push predicates into the parquet scan") {
    for (q <- Seq("p12_project_filter", "f2_bbox_time_slice")) {
      val p = plan(q)
      assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
             s"$q lost its pushdown:\n$p")
    }
  }

  test("the 6-way star join runs on broadcasts") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q18's HAVING aggregate broadcasts into the detail join") {
    // the semi-join-reduction side (aggregated + filtered orderkeys) must
    // be the broadcast side; the big tables are only scanned
    val p = plan("q18_large_orders")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("k-means refine scores the E-step against broadcast centroids") {
    val p = plan("ann_kmeans_refine")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("SCD2 build is a single exchange: both windows share the user_id shuffle") {
    val p = plan("cdc_scd2_intervals")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
  }

  test("BPE apply joins the rewritten dictionary by broadcast") {
    val p = plan("text_bpe_apply")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("centroid assignment broadcasts the centroid table") {
    val p = plan("ann_centroid_assign")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bucketed co-located join: zero exchange on either join side") {
    // the only hash exchange in the whole plan is the post-join groupBy —
    // both SMJ inputs read already-bucketed files (plus the orderBy's range
    // exchange); a regression that loses bucket pruning shows up as 3
    val p = plan("j_bucketed_colocated")
    assert(p.contains("SortMergeJoin"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange (the groupBy), got $hashEx:\n$p")
  }

  test("native as-of join plans its custom exec with per-side sorts") {
    val p = plan("j_asof_native")
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("RangeJoinRule rewrites the pure interval join to a bucketed hash join") {
    val p = plan("j_range_bucketed") // sets the width conf + registers the rule
    assert(p.contains("Generate explode"), p) // interval → bucket ids
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("RangeJoinRule leaves equi-keyed and disabled joins untouched") {
    import org.apache.spark.sql.functions._
    GraftExtensions.install(spark)
    val l = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("lo"),
                                    (col("id") * 2 + 5).as("hi"))
    val r = spark.range(100).select(col("id").as("k2"), (col("id") * 3).as("v"))
    spark.conf.set(graft.plans.RangeJoinRule.WidthConf, "8")
    try {
      // equi conjunct present → Spark hash-joins on it, rule must not fire
      val withEqui = l.join(r, col("k") === col("k2") &&
        col("v") >= col("lo") && col("v") <= col("hi"))
      assert(!withEqui.queryExecution.executedPlan.toString.contains("Generate"))
      // pure range → fires
      val pure = l.join(r, col("v") >= col("lo") && col("v") <= col("hi"))
      assert(pure.queryExecution.executedPlan.toString.contains("Generate"))
      // and the rewrite is exact: same rows as the nested-loop plan
      spark.conf.set(graft.plans.RangeJoinRule.WidthConf, "0")
      val expect = l.join(r, col("v") >= col("lo") && col("v") <= col("hi"))
        .collect().map(_.toSeq).toSet
      spark.conf.set(graft.plans.RangeJoinRule.WidthConf, "8")
      assert(pure.collect().map(_.toSeq).toSet == expect)
    } finally spark.conf.set(graft.plans.RangeJoinRule.WidthConf, "0")
  }

  test("salted hot-key join stays on the shuffle path it exists to spread") {
    val p = plan("j_salted_hotkey")
    assert(p.contains("SortMergeJoin"), p) // merge hint: the skew-spread demo plan
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("bloom screen broadcasts the bit relation and the exact list, never SMJ") {
    val p = plan("dedup_bloom_screen")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("phash dedup hashes inside whole-stage codegen (no typed map boundary)") {
    val p = plan("mm_phash_dedup")
    assert(!p.contains("MapPartitions"), p) // the Expression replaced the typed path
    assert(!p.contains("DeserializeToObject"), p)
  }

  test("CDC compaction is a single pre-sort shuffle, not a window sort") {
    val p = plan("cdc_latest_by_key")
    assert(!p.contains("Window"), p) // max(struct) combiner form
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p) // agg + orderBy
  }

  test("IVF+PQ search probes on broadcasts only — no shuffle join anywhere") {
    val p = plan("ann_ivf_pq_search")
    assert(p.contains("BroadcastHashJoin"), p) // the single ADC-array probe
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("histogram-quantile sketch is one combiner groupBy, no row-level sort") {
    val p = plan("sketch_hist_quantiles")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("SortMergeJoin"), p) // quantile read joins the tiny q list
  }

  test("snapshot diff keeps the co-partitionable sort-merge join on the key") {
    val p = plan("cdc_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p) // bucketed co-location at scale
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("z-order key is map-side arithmetic: no join, one agg exchange + sort") {
    val p = plan("zorder_cluster_key")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("BPE pair counting aggregates the dictionary, not the token stream") {
    val p = plan("text_bpe_pair_stats")
    // two aggregation exchanges (word dictionary, pair totals) + top-k sort;
    // no join of the raw token explosion against anything
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3, p)
  }

  test("kNN join pairs through the cell equi-join, never a cartesian") {
    val p = plan("j_knn_radius")
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("date-partitioned layout prunes partitions at the scan (K3/F5 at scale)") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      graft.core.Tables.events(spark, dir)
        .select(to_date(col("ts")).as("d"), col("event_id"), col("value"))
        .write.partitionBy("d").mode("overwrite").parquet(out)
      val days = spark.read.parquet(out).select("d").distinct().count()
      val one = spark.read.parquet(out).where(col("d") === "2024-01-03")
      val p = one.queryExecution.executedPlan.toString
      // the filter must land in PartitionFilters (directory pruning), not
      // as a post-scan Filter over all partitions
      assert(p.contains("PartitionFilters: [") && p.contains("isnotnull(d"), p)
      assert(days > 1) // pruning is meaningful: >1 directory existed
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(out))
    }
  }

  test("substring spans: gram dictionary joins broadcast, pair join is equi (no NL join)") {
    val p = plan("dedup_substring_spans")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bigram fluency: both count dictionaries broadcast onto the token stream") {
    val p = plan("text_bigram_fluency")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q17: per-part average and part dim both broadcast; lineitem never shuffled") {
    val p = plan("q17_small_qty_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("OLS normal equations reduce in one pass: a single single-partition exchange, no hash exchange") {
    val p = plan("ml_ols_normal_eq")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1, p)
  }

  test("grouping sets expand in one pass: Expand node + a single hash exchange") {
    val p = plan("a_grouping_sets_id")
    assert(p.contains("Expand"), p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$p")
  }

  test("decile profile: band-summary profile — boundary-only ranking, broadcast offsets, bounded exchanges") {
    // r12 shape: the only row-volume work is the map-side-combining
    // (rf, band) summary; whole bands contribute their summary AS the
    // decile piece and only the ≤ #rf × 9 cut-straddling bands re-rank
    // their rows (broadcast-semi-joined slice). The memoized offsets
    // frame is referenced by both union branches, so the plan TEXT prints
    // its 2-exchange build plan per reference (like q11's cached group
    // table) — 6 printed, 4 executed, and every post-summary exchange
    // carries a bounded slice. No task ever sorts a whole rf partition.
    val p = plan("w_ntile_deciles")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 6, s"expected <=6 printed hash exchanges, got $shuffles:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // the fact table feeds exactly two executed scans: the summary (inside
    // the cached offsets build plan, printed once per union-branch
    // reference → 2 in text) and the boundary slice — 3 printed, 2 run
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"expected <=3 printed lineitem scans, got $scans:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
           s"offsets summary must be the shared cached frame:\n$p")
  }

  test("Q11: the global total re-aggregates the group table and broadcasts as one row") {
    val p = plan("q11_share_threshold")
    // both the total and the probe side read the cached group table — the
    // fact table is aggregated once, not scanned per consumer (the parquet
    // scan text appearing inside InMemoryRelation is the cache's build
    // plan, printed per reference)
    assert("InMemoryTableScan".r.findAllIn(p).length == 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("Q4's EXISTS plans as a left-semi join with the quarter filter pushed to the orders scan") {
    val p = plan("q4_priority_exists")
    assert(p.contains("LeftSemi"), p)
    // the date slice reaches the orders parquet scan (partition-prunable at scale)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("Q13 keeps zero-order customers: a left-outer join feeding two aggregation levels") {
    val p = plan("q13_order_distribution")
    assert(p.contains("LeftOuter"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // partial+final × 2 levels
  }

  test("Q16's supplier blacklist anti-joins by broadcast; the filtered part dim broadcasts into lineitem") {
    val p = plan("q16_supplier_variety")
    assert(p.contains("LeftAnti"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q19's OR'd arms stay a hash-join residual on the partkey equi-key, not a nested loop") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("Q22 broadcasts the one-row cutoff and anti-joins orders on custkey") {
    val p = plan("q22_idle_balance")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row scalar cutoff
    assert(p.contains("LeftAnti"), p)
  }

  test("Q6 pushes all predicates to the lineitem scan and joins nothing") {
    val p = plan("q6_banded_revenue")
    assert(!p.contains("Join"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("Q7/Q8: every dim side broadcasts; the fact join is the only wide work") {
    for (q <- Seq("q7_bilateral_trade", "q8_market_share")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, s"$q:\n$p")
    }
  }

  test("Q9's five-way star join broadcasts every dim; the fact shuffles once into the aggregate") {
    val p = plan("q9_profit_rollup")
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 2, s"expected <=2 hash exchanges, got $shuffles:\n$p")
  }

  test("Q2's per-part argmin rides the join-key shuffle: window partitions by p_partkey, dims broadcast") {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("row_number"), p)
  }

  test("smoothers keep every data-level window on (event_type, chunk); only the summary stitch may partition by type alone") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    for (q <- Seq("w_moving_median", "w_ema_trailing")) {
      val exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val wins = exec.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$q lost its window operators:\n$exec")
      wins.foreach { w =>
        // a single-key (event_type-only) window is the 100-TB scale killer
        // UNLESS it runs over the per-chunk summary, i.e. above an aggregate
        if (w.partitionSpec.length < 2)
          assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
                 s"$q has a low-cardinality window over raw data:\n$exec")
      }
      assert(wins.exists(_.partitionSpec.length >= 2),
             s"$q has no chunked data-level window:\n$exec")
    }
  }

  test("decile profile: data-level ranking windows on (rf, band); only the offset stitch may partition by rf alone") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = SparkEntry.queries("w_ntile_deciles")(spark, dir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wins = exec.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"lost the window operators:\n$exec")
    wins.foreach { w =>
      // a 3-value rf-only window over raw rows funnels a third of the
      // table through one task — allowed only over the band-count summary
      if (w.partitionSpec.length < 2)
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
               s"rf-only window over raw data:\n$exec")
    }
    assert(wins.exists(_.partitionSpec.length >= 2),
           s"no (rf, band)-keyed data-level window:\n$exec")
  }

  test("PPS sampling: no unpartitioned window over raw data, only over chunk totals") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = SparkEntry.queries("sample_pps_systematic")(spark, dir)
      .queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val wins = exec.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"lost the window operators:\n$exec")
    wins.foreach { w =>
      // the single-task window is allowed ONLY on the 64×-reduced chunk
      // totals (i.e. above an aggregate), never over the document rows
      if (w.partitionSpec.isEmpty)
        assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
               s"global window over raw data:\n$exec")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
           s"no chunk-partitioned data window:\n$exec")
  }

  test("interval overlap join is an equi-join on the grid, never a nested loop") {
    val p = plan("j_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
             || p.contains("ShuffledHashJoin"), p)
  }

  test("containment dedup joins candidates by shingle id, never a nested loop") {
    val p = plan("dedup_containment_prefix")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("int8 quantization is a shuffle-free map (only the output sort exchanges)") {
    val p = plan("ann_int8_quantize")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("URL-canonical dedup shuffles only on the high-card canonical key") {
    val p = plan("dedup_url_canonical")
    val hash = "Exchange hashpartitioning\\(canon".r.findAllIn(p).length
    assert(hash >= 1, s"expected the window to partition by canon:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("Q15's max re-aggregates the cached supplier table; the argmax equality hash-joins the one-row max") {
    val p = plan("q15_top_supplier")
    assert("InMemoryTableScan".r.findAllIn(p).length == 2, p)
    // the cross join + equality predicate collapses into an equi hash join
    // against the broadcast one-row max — no nested loop anywhere
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("SortMergeJoin"), p)
  }

  test("priority sampling selects via top-k, never a global sort exchange") {
    val p = plan("sample_weighted_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    // zero exchanges: the corpus is never shuffled, only heap-scanned
    assert(!p.contains("Exchange hashpartitioning") &&
           !p.contains("Exchange rangepartitioning"), p)
  }

  test("Neyman sampling broadcasts the allocation and shuffles only on the stratum/stats keys") {
    val p = plan("sample_neyman_alloc")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("k-center's per-step argmax is a top-1 heap scan of the cached base, not a sort") {
    val p = plan("sample_kcenter_coreset")
    // the returned frame is the driver-assembled 8-row result; the plan to
    // guard is the step scan itself
    val stepPlan = {
      import org.apache.spark.sql.functions._
      GraftExtensions.install(spark)
      val base = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("nx", expr("vec_dot(embedding, embedding)"))
        .withColumn("dmin", col("nx"))
      base.orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .queryExecution.executedPlan.toString
    }
    assert(stepPlan.contains("TakeOrderedAndProject"), stepPlan)
    assert(!stepPlan.contains("Exchange rangepartitioning"), stepPlan)
  }

  test("DQ audit: every FK rule joins by broadcast, nothing cartesian or sort-merge") {
    val p = plan("dq_constraint_audit")
    assert("BroadcastHashJoin .*LeftOuter".r.findAllIn(p).length == 4,
           s"expected 4 broadcast FK joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("FIM split is a pure map: one presentation sort, zero joins or aggregates") {
    val p = plan("corpus_fim_split")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("rolling corr joins the day-total by broadcast; windows run post-aggregation") {
    val p = plan("w_rolling_corr")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the scan collapses through partial aggregation before any window
    assert(p.contains("partial_"), p)
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length +
      "Exchange rangepartitioning".r.findAllIn(p).length
    assert(ex <= 4, s"expected <=4 exchanges, got $ex:\n$p")
  }

  test("label propagation: plurality pick is an aggregation, never a window") {
    // NOTE the per-round edges⋈labels join is ALLOWED to be a shuffle
    // (sort-merge) join: the label frame is |V|-sized and must not be
    // assumed broadcastable. The plurality pick per round must be the
    // min(struct(-cnt, label)) ARGMIN aggregation — map-side combinable,
    // keyed on the high-cardinality node column — not a window (a window
    // sorts whole partitions, and one keyed by label would funnel
    // community skew through single tasks)
    val p = plan("graph_label_prop")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"),
           s"expected no windows in the LPA rounds:\n$p")
    // three rounds -> three node-keyed argmin aggregations (partial+final)
    val argmins = "partial_min\\(struct\\(neg".r.findAllIn(p).length
    assert(argmins >= 3, s"expected >=3 argmin rounds:\n$p")
  }

  test("k-core peel rounds are semi-join shaped with map-side degree partials") {
    val p = plan("graph_kcore")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // per-round degree counts must combine map-side before the shuffle
    assert(p.contains("partial_count"), p)
  }

  test("link prediction wedges come from curated adjacency, never a cross join") {
    val p = plan("graph_jaccard_linkpred")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // known edges leave via an anti-join, not an except/distinct detour
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("partial_count"), p)
  }

  test("preference pairs: both rank windows ride one stratum shuffle, joins stay equi") {
    val p = plan("pref_pair_build")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // two row_numbers over (lang, source) must share a single hash exchange
    // on the data path; the slices then equi-join (+1 possible exchange
    // pair) and one range exchange presents the output
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash <= 3, s"expected <=3 hash exchanges, got $hash:\n$p")
  }

  test("filtered ANN pushes the length floor into the documents scan") {
    val p = plan("ann_filtered_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(n_chars".r.findFirstIn(p).isDefined,
           s"n_chars floor not pushed down:\n$p")
  }

  test("bitext mining: bounded query slice broadcasts into the candidate pool") {
    // the declared exact-baseline BNLJ must broadcast the CAPPED side (the
    // <40-doc query slice), never shuffle-replicate the candidate pool
    val p = plan("mine_bitext_margin")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("l-diversity: one aggregation pass plus the presentation sort only") {
    val p = plan("privacy_l_diversity")
    assert(p.contains("count(distinct event_type"), p) // exact, not approximate
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length +
      "Exchange rangepartitioning".r.findAllIn(p).length
    assert(ex <= 3, s"expected <=3 exchanges, got $ex:\n$p")
  }

  test("t-closeness: broadcast global distribution, no range exchange, window and rollup share a key") {
    val p = plan("privacy_t_closeness")
    assert(p.contains("BroadcastHashJoin"), p)   // 4-row global dist broadcasts
    assert(!p.contains("SortMergeJoin"), p)
    // boundedSort finalizer: zero rangepartitioning exchanges in the plan
    assert(!p.contains("Exchange rangepartitioning"), p)
    // ONE row-volume exchange (the (QI, sensitive) groupBy) + the class-key
    // exchange shared by window and rollup; the other two are the 4-row
    // global-distribution subtree printed once per broadcast reference
    // (deduplicated by exchange reuse at runtime)
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash <= 4, s"expected <=4 hash exchanges, got $hash:\n$p")
  }

  test("timer-close stream: one emitted row per closed session, stream/batch parity") {
    // stream queries' interesting "plan" is the drain; assert the drained
    // result against the batch rule it implements (same check the DuckDB
    // oracle applies at verify time, here pinned at sf0.001 in-suite)
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("stream_tws_session_timers")(spark, dir)
    val e = graft.core.Tables.events(spark, dir) // normalizes the ts physical type
      .select(col("ts"), col("user_id"))
    val batch = e.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), expr("max(unix_micros(ts))").as("last_us"))
      .withColumn("fired_ms", expr("last_us div 1000 + 1800000"))
    val wm = e.agg(expr("max(unix_micros(ts)) div 1000 - 86400000")).head().getLong(0)
    val expect = batch.where(col("fired_ms") < wm).orderBy("user_id")
      .select("user_id", "n_events", "last_us", "fired_ms")
    assert(out.collect().toSeq == expect.collect().toSeq)
  }

  test("gap islands: island agg reuses the user window clustering — one hash exchange total") {
    val p = plan("w_gap_islands")
    // the per-user window's exchange is the ONLY hash exchange: the
    // (user_id, isl) aggregate's distribution is satisfied by the window's
    // hashpartitioning(user_id) (subset rule), so no second data shuffle;
    // the finalizer keeps its parallel range sort (volume-bound output)
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("skyline: banded sweep plans broadcast-only joins, no pair join, one fact pass") {
    val p = plan("j_skyline_pareto")
    assert(p.contains("BroadcastHashJoin"), p) // band prefix + survivor map-back
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the CACHED per-supplier frame is the shared input (round 12: was an
    // eager localCheckpoint — same sharing, but a separate driver job per
    // invocation): all three consumers must read the one InMemoryRelation,
    // so the fact table is materialized once, never rescanned per consumer
    val ims = "InMemoryTableScan".r.findAllIn(p).length
    assert(ims >= 3, s"expected >=3 cache consumers of the per-supplier frame, got $ims:\n$p")
    val rel = "InMemoryRelation".r.findAllIn(p).length
    assert(rel == ims, s"cache consumers read ${rel} distinct relations:\n$p")
  }

  test("benford: predicate pushed to the scan; everything after the census is broadcast") {
    val p = plan("dq_benford_digits")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
           s"o_totalprice > 0 lost its pushdown:\n$p")
    assert(p.contains("BroadcastHashJoin"), p) // 9-row expected-share join
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange rangepartitioning"), p) // boundedSort finalizer
  }

  test("markov transitions: one window pass + bounded-matrix tail, no joins, no range sort") {
    val p = plan("mine_markov_transitions")
    assert(!p.contains("Join"), s"joinless query grew a join:\n$p")
    // user window + (evt,next) census + per-source matrix window; the
    // finalizer is boundedSort (types²-bounded matrix), never a range sort
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash <= 3, s"expected <=3 hash exchanges, got $hash:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("assoc pairs: map-side basket explode, no fact self-join, no cartesian") {
    val p = plan("mine_assoc_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row n_total scalar is the only nested-loop broadcast
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"expected <=1 BNLJ (the 1-row scalar), got $bnl:\n$p")
    // pair generation is Generate(explode) after the basket agg — the fact
    // is never self-joined row-to-row
    assert(p.contains("Generate explode"), s"basket explode missing:\n$p")
    assert(!p.contains("SortMergeJoin"), p) // dims broadcast at this SF
  }

  test("seq pairs: pair gen is a bounded per-user explode, never an event self-join") {
    val p = plan("mine_seq_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"event-level self-join appeared:\n$p")
    // the 1-row n_total scalar is the only nested-loop broadcast
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"expected <=1 BNLJ (the 1-row scalar), got $bnl:\n$p")
    // double explode of the |types|-bounded first-occurrence list
    assert("Generate explode".r.findAllIn(p).length == 2, s"pair explode missing:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p) // boundedSort finalizer
  }

  test("completeness matrix: the k exact distincts share ONE scan via Expand") {
    val p = plan("dq_completeness_matrix")
    assert(p.contains("Expand"), s"multi-distinct lost its Expand plan:\n$p")
    // exactly 2 scans: customer + (filtered) orders — NOT one scan per
    // count(distinct) column, which is the shape that rescans 100 TB k times
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 parquet scans, got $scans:\n$p")
    // (customer is a legitimately-unfiltered full scan, so assert the
    // orders-side pushdown by its literal, not by "no empty lists")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
           s"o_orderstatus = 'F' lost its pushdown:\n$p")
    assert(!p.contains("SortMergeJoin"), p) // the rollup join broadcasts
    assert(!p.contains("Exchange rangepartitioning"), p) // boundedSort finalizer
  }

  test("char simpson: per-row fold — no explode, no aggregation, zero hash exchange") {
    val p = plan("text_char_simpson")
    assert(!p.contains("Join"), s"joinless query grew a join:\n$p")
    // the statistic is per-document: any Generate/HashAggregate means the
    // (doc,gram) census formulation crept back (125M-row shuffle at sf1)
    assert(!p.contains("Generate"), s"bigram explode crept back:\n$p")
    assert(!p.contains("HashAggregate"), s"census aggregation crept back:\n$p")
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 0, s"expected 0 hash exchanges, got $hash:\n$p")
  }

  test("ohlc bars: one map-side-combining groupBy, no sort window, no join") {
    val p = plan("w_ohlc_bars")
    assert(!p.contains("Join"), s"joinless query grew a join:\n$p")
    assert(!p.contains("Window"), s"ordered aggs turned into a sort window:\n$p")
    // one (type,hour) exchange with a partial HashAggregate under it
    val hash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hash == 1, s"expected 1 hash exchange, got $hash:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p) // boundedSort finalizer
  }

  test("vocab growth: vocab-sized census, broadcast-only joins, no rank sort") {
    val p = plan("text_vocab_growth")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"the 10-row bucket join must broadcast:\n$p")
    // the max-key scalar rides BNLJ broadcasts (one per consumer branch)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 2, s"expected <=2 BNLJ (the 1-row scalar), got $bnl:\n$p")
    assert(p.contains("Generate explode"), s"token explode missing:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
           s"key-range deciles must not plan a range sort:\n$p")
  }

  test("temporal embargo: census + gap audit join only through 1-row broadcasts") {
    val p = plan("split_temporal_embargo")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 1, s"expected <=1 BNLJ (the 1-row min-gap scalar), got $bnl:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p) // boundedSort finalizer
  }
}
