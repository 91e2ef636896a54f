package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Physical-plan audits: the 100 TB-posture properties (filter pushdown,
  * column pruning, broadcast choice, whole-stage codegen, partial
  * aggregation) asserted on the actual executed plans, not claimed in
  * prose. A regression that silently de-optimizes a plan fails here even
  * though results stay correct. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  /** Final (post-AQE) executed plan: collect() first so
    * AdaptiveSparkPlanExec prints the finalized plan, codegen stages
    * included. */
  private def plan(name: String): String = {
    // other suites may have registered wheel acceleration; audit each
    // query's own execution path (q_wheel_sql re-registers itself)
    graft.plans.WheelAcceleration.clear()
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("fanOut gates on under-splitting: fans a starved scan, no-ops a well-split frame (round 11)") {
    val p = spark.sparkContext.defaultParallelism
    // single-row-group parquet plans as 1-2 splits -> fanned to p
    val starved = Q.t(spark, dir, "documents")
    assert(starved.rdd.getNumPartitions < p)
    assert(Q.fanOut(starved).rdd.getNumPartitions == p)
    // already at/above p -> the SAME plan back, no shuffle added
    val wide = starved.repartition(p + 4)
    val fanned = Q.fanOut(wide)
    assert(fanned.rdd.getNumPartitions == p + 4)
    assert(fanned.queryExecution.logical eq wide.queryExecution.logical)
  }

  test("q_filter_pred pushes its predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    assert(p.contains("GreaterThan(l_quantity,25.0)"), p)
  }

  test("q_scan_project prunes the scan to exactly the selected columns") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("q_join_broadcast plans a broadcast hash join (no shuffle for the dim)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_range broadcasts the 5-row bucket side (BNLJ, not cartesian shuffle)") {
    val p = plan("q_join_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_time_range_sum splits into partial + final aggregation") {
    val p = plan("q_time_range_sum")
    assert(p.contains("partial_"), p) // map-side combine before the exchange
    assert(p.contains("*("), p) // codegen stage markers
  }

  test("q_agg_group keeps the whole pipeline inside whole-stage codegen") {
    val p = plan("q_agg_group")
    assert(p.contains("*("), p) // codegen stage markers
    assert(p.contains("partial_"), p)
  }

  for (k <- Seq("q_wheel_anomaly_sql", "q_wheel_pct_change_sql",
      "q_wheel_ewma_sql", "q_wheel_topdays_sql", "q_wheel_having_sql",
      "q_wheel_hourofday_sql", "q_wheel_two_table_sql", "q_wheel_share_sql",
      "q_wheel_between_sql", "q_wheel_date_rollup_sql"))
    test(s"$k: analytics compose above the fold, zero FileScan (round 12)") {
      val p = plan(k)
      assert(!p.contains("FileScan"), p)
    }

  test("q_wheel_keyed2_sql: composite-keyed fold, zero FileScan (round 13)") {
    val p = plan("q_wheel_keyed2_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_tz_sql: zone-walked NY day fold, zero FileScan (round 14)") {
    val p = plan("q_wheel_tz_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_rollup_cond_sql: grouped conditional windows fold to a " +
      "LocalTableScan, zero FileScan (round 16)") {
    val p = plan("q_wheel_rollup_cond_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_pivot_or_sql: keyed OR-outer pivot — pure partials + " +
      "executor Aggregate, zero FileScan (round 16)") {
    val p = plan("q_wheel_pivot_or_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  for (k <- Seq("q_wheel_cond_residue_sql", "q_wheel_keyed_cond_residue_sql",
      "q_wheel_rollup_cond_residue_sql", "q_wheel_keyed2_residue_sql",
      "q_wheel_keyed_rollup_cond_sql", "q_wheel_keyed2_cond_sql",
      "q_wheel_sliding_cond_sql", "q_wheel_sliding_keyed_cond_sql",
      "q_wheel_sliding_or_sql"))
    test(s"$k: per-aggregate residue hybrid — folded interior + ONE " +
        "bounded edge scan (rounds 16-17)") {
      val p = plan(k)
      assert(p.contains("LocalTableScan"), p)
      // exactly one scan leg (AQE prints initial+final sections — count
      // within the final plan), reading only the merged sub-minute slivers
      val finalSection = p.split("== Initial Plan ==").head
      assert(finalSection.linesIterator.count(_.contains("FileScan")) == 1, p)
      assert(p.contains("PushedFilters"), p)
    }

  for (k <- Seq("q_wheel_sketch_rollup_distributed_sql",
      "q_wheel_keyed_sketch_rollup_distributed_sql"))
    test(s"$k: above-cap GROUPED sketch merge — shipped bytes + executor " +
        "union per cell, zero FileScan (round 16)") {
      val p = plan(k)
      assert(!p.contains("FileScan"), p)
      assert(p.contains("LocalTableScan"), p)
      assert(p.contains("graft_theta_update_merge"), p)
    }

  test("q_wheel_keyed_sketch_distributed_sql: above-cap keyed sketch " +
      "merge — shipped bytes + executor union, zero FileScan (round 16)") {
    val p = plan("q_wheel_keyed_sketch_distributed_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
    // a REAL executor-side aggregate runs the sketch union (not a
    // plan-time literal): the merge aggregate's name is in the plan
    assert(p.contains("graft_theta_update_merge"), p)
  }

  for (k <- Seq("q_wheel_case_sql", "q_wheel_filter_sql", "q_wheel_pivot_sql"))
    test(s"$k: conditional-aggregate fold, zero FileScan (round 14)") {
      val p = plan(k)
      assert(!p.contains("FileScan"), p)
      assert(p.contains("LocalTableScan"), p)
    }

  test("q_wheel_retention_sql: per-window + union sketch fold, zero FileScan (round 14)") {
    val p = plan("q_wheel_retention_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_dense_sql: spine join composes above the fold, zero FileScan (round 14)") {
    val p = plan("q_wheel_dense_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_catalog_sql: catalog-resolved read, zero FileScan, pushed slot range (round 15)") {
    val p = plan("q_wheel_catalog_sql")
    // the catalog resolves the PERSISTED index — no parquet source scan
    // at any volume, and the slot-range predicate reaches the source
    assert(!p.contains("FileScan"), p)
    assert(p.contains("slots ["), p)
  }

  for (k <- Seq("q_pack_bpe", "q_pack_sequences"))
    test(s"$k: two-phase prefix sum — corpus window is partitioned, " +
        "offsets side broadcasts (round 16, VERDICT r15 #1)") {
      val p = plan(k)
      // the corpus running sum rides ONE pid hash exchange + a
      // PER-BUCKET window (partition spec = __graft_pid, a
      // DETERMINISTIC function of doc_id — round 17, ADVICE r16) —
      // never a total-order single-task window over raw documents
      assert(p.contains("hashpartitioning(__graft_pid"), p)
      val corpusWindow = p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("__graft_pid") &&
          l.contains("doc_id"))
      assert(corpusWindow, p)
      // the ≤-#partitions offsets side joins back broadcast (no corpus
      // shuffle for the join)
      assert(p.contains("BroadcastHashJoin"), p)
      // the final plan (AQE repeats subtrees after "== Initial Plan ==")
      val fin = p.split("== Initial Plan ==").head
      val lines = p.linesIterator.toVector
      // every SinglePartition exchange sits directly above the per-pid
      // HashAggregate (≤ #shuffle-partitions subtotal rows) — never
      // over corpus rows (AQE prints the reused broadcast subtree
      // twice, so count is not the invariant; the child is)
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val below = lines.drop(i + 1)
            .find(l => l.contains("HashAggregate") || l.contains("FileScan") ||
              l.contains("Project"))
          assert(below.exists(_.contains("HashAggregate(keys=[__graft_pid")),
            s"SinglePartition exchange not over the pid subtotals:\n$p")
        }
      // ONE PASS over the counted corpus (VERDICT r16 "what's wrong"
      // #1): both join branches share the pid exchange, so the final
      // plan materializes it ONCE — AQE prints reuse as the same
      // ShuffleQueryStage id, so the invariant is a single pid
      // Exchange node (a reuse break would print a second one with a
      // new plan_id) and a single corpus FileScan.
      val corpusScans = fin.linesIterator
        .count(l => l.contains("FileScan") && l.contains("documents"))
      assert(corpusScans == 1,
        s"expected ONE corpus scan in the final plan, got $corpusScans:\n$fin")
      val pidExchanges = fin.linesIterator
        .count(_.contains("Exchange hashpartitioning(__graft_pid"))
      assert(pidExchanges == 1,
        s"pid exchange materialized $pidExchanges times (reuse broke — " +
          s"the token counter would run per branch):\n$fin")
    }

  test("q_wheel_or_ranges_sql: disjoint-range fold, zero FileScan (round 13)") {
    val p = plan("q_wheel_or_ranges_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_or_sketch_sql: grouped OR sketch fold, zero FileScan (round 14)") {
    val p = plan("q_wheel_or_sketch_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_or_rollup_sql: grouped disjoint-range fold, zero FileScan (round 13)") {
    val p = plan("q_wheel_or_rollup_sql")
    assert(!p.contains("FileScan"), p)
    assert(p.contains("LocalTableScan"), p)
  }

  test("q_wheel_table_agg_sql: complete pushdown — no Aggregate, no Exchange, no FileScan") {
    val p = plan("q_wheel_table_agg_sql")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_table_keyed_agg_sql: keyed complete pushdown — no Aggregate, no FileScan") {
    val p = plan("q_wheel_table_keyed_agg_sql")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("FileScan"), p)
    // the only remaining work is the |keys|-row output sort
    assert(p.contains("PushedAggregates"), p)
  }

  test("q_wheel_table_topn_sql: ORDER BY + LIMIT consumed by the source — no Sort, no FileScan") {
    val p = plan("q_wheel_table_topn_sql")
    assert(p.contains("PushedTopN"), p)
    assert(!p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_query runs NO scan at all (index path)") {
    val p = plan("q_wheel_query")
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_sql is rewritten to a LocalTableScan (index path behind SQL)") {
    val p = plan("q_wheel_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_multi folds the full All family to a LocalTableScan") {
    val p = plan("q_wheel_multi")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_landmark folds the one-sided natural predicate to a LocalTableScan") {
    val p = plan("q_wheel_landmark")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_window_sql folds GROUP BY window(ts) to a LocalTableScan") {
    val p = plan("q_wheel_window_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_grouped_distributed is scan-free with a REAL aggregate over partials (round 10)") {
    val p = plan("q_wheel_grouped_distributed")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
    // the distributed regime: grouping survives as a physical
    // HashAggregate instead of folding to constants
    assert(p.contains("HashAggregate"), p)
  }

  test("q_wheel_wow_sql folds BOTH join sides to LocalTableScans (round 10)") {
    val p = plan("q_wheel_wow_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_stddev_sql folds the second moment to a LocalTableScan (round 10)") {
    val p = plan("q_wheel_stddev_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_approx_distinct_sql folds approx_count_distinct to a LocalTableScan (round 11)") {
    val p = plan("q_wheel_approx_distinct_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_approx_quantile_sql folds percentile_approx to a LocalTableScan (round 11)") {
    val p = plan("q_wheel_approx_quantile_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_approx_topk_sql folds approx_top_k to a LocalTableScan (round 11)") {
    val p = plan("q_wheel_approx_topk_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_approx_distinct_rollup_sql folds per-slot approx distinct to a LocalTableScan (round 11)") {
    val p = plan("q_wheel_approx_distinct_rollup_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_keyed_approx_distinct_sql folds per-(key, cell) approx distinct to a LocalTableScan (late round 11)") {
    val p = plan("q_wheel_keyed_approx_distinct_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_sliding_distributed is scan-free: partials through ONE Generate + aggregate (rounds 11, 18)") {
    val p = plan("q_wheel_sliding_distributed")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
    // the distributed regime: the window enumeration survives as a
    // physical node and the grouping as a HashAggregate, instead of
    // folding to constants — but zero file reads at any volume.
    // Round 18: the enumeration is ONE Generate over a literal offsets
    // array, not the n-projection Expand (the window expression is
    // planned/compiled once)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_wheel_sliding_hybrid_distributed: partials Generate unioned with a BOUNDED edge scan (rounds 11, 18)") {
    val p = plan("q_wheel_sliding_hybrid_distributed")
    // interior leg: minute partials through the Generate enumeration
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Expand"), p)
    assert(p.contains("Union"), p)
    assert(p.contains("HashAggregate"), p)
    // edge leg: ONE bounded FileScan with directly-pushed ts bounds —
    // the two sub-minute edges, kilobytes at any table size
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(ts"), p)
  }

  test("q_wheel_keyed_multi_sql folds mixed measures per key to a LocalTableScan (round 10)") {
    val p = plan("q_wheel_keyed_multi_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_sliding_sql folds the sliding window() Expand to a LocalTableScan (round 10)") {
    val p = plan("q_wheel_sliding_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
    // the Expand itself must be gone — the fold replaced the whole
    // row-multiplying subtree, not just its leaf
    assert(!p.contains("Expand"), p)
  }

  test("q_wheel_sliding_nondiv_sql folds the membership-filtered Expand to a LocalTableScan (round 10)") {
    val p = plan("q_wheel_sliding_nondiv_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q_wheel_sliding_keyed_sql folds the keyed sliding Expand to a LocalTableScan (round 10)") {
    val p = plan("q_wheel_sliding_keyed_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q_subquery family decorrelates: no cartesian anywhere") {
    Seq("q_subquery_scalar", "q_subquery_in", "q_subquery_exists", "q_subquery_corr")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      }
  }

  test("q_join_interval is an equi-join (no BNLJ for the interval condition)") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_sample_hash pushes nothing but stays a single narrow codegen pass") {
    val p = plan("q_sample_hash")
    assert(!p.contains("Exchange hashpartitioning"), p) // filter+sort only, no shuffle agg
  }

  test("q_sim_topk broadcasts the bounded query set against the full corpus") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_wheel_grouped runs NO scan (grouped index path behind SQL)") {
    val p = plan("q_wheel_grouped")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_keyed runs NO scan (keyed index path behind SQL)") {
    val p = plan("q_wheel_keyed")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_join_multi builds on the filtered customer side, shuffles facts once") {
    val p = plan("q_join_multi")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the mktsegment filter must reach the customer scan
    assert(p.contains("EqualTo(c_mktsegment,AUTOMOBILE)"), p) // pushed to the scan
  }

  test("q_join_5way broadcasts every dimension (no dim shuffles)") {
    val p = plan("q_join_5way")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p) // pushed to the scan
  }

  test("q_embed_neardup runs no cartesian product (LSH candidates + verify)") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_vocab_topk bounds the sort: TakeOrdered, not a global sort") {
    val p = plan("q_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p) // map-side combine under the explode
  }

  test("q_tfidf_top broadcasts the bounded tf side against the corpus df") {
    val p = plan("q_tfidf_top")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_pivot is a single aggregate pass (no Expand, no values job)") {
    val p = plan("q_pivot")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q_repetition is shuffle-free except the output sort (local gram counting)") {
    val p = plan("q_repetition")
    // the per-doc UDF removed both gram shuffles: no hash-partitioned
    // exchange may appear — only the range partitioning of the ORDER BY
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate explode"), p) // no gram explode at all
  }

  test("q_contamination broadcasts the held-out shingles before any distinct") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus side must reach the broadcast join un-aggregated: the
    // only hash aggregates allowed are AFTER the join (hit dedup + per-
    // doc counts), which AQE sizes from the tiny post-join side
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_chunk_dedup shuffles md5 fingerprints, not chunk text") {
    val p = plan("q_chunk_dedup")
    // the window shuffle must partition on the md5-derived column `h` —
    // a regression that hashes on reconstructed chunk text (or carries
    // it through the exchange) changes the partitioning expression
    assert(p.contains("hashpartitioning(h#"), p)
    // the chunk text is built and hashed INSIDE the explode projection;
    // no concat of token slices may survive past that exchange. The
    // plan prints top-down (root first, upstream below), so everything
    // printed BEFORE the h-exchange line is downstream of it and must
    // not rebuild chunk text
    val hExchange = p.indexOf("hashpartitioning(h#")
    assert(!p.substring(0, hExchange).contains("concat_ws"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_salted spreads the key space: salted exchange, dim replicated") {
    val p = plan("q_join_salted")
    // salt widens the dim side 8x then equi-joins — never a BNLJ/cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_wheel_topn runs NO scan at all (keyed index, driver-side top-k)") {
    val p = plan("q_wheel_topn")
    assert(!p.contains("FileScan"), p)
  }

  test("q_corpus_assembly is join-free: gates + one window + projections") {
    val p = plan("q_corpus_assembly")
    assert(!p.contains("Join"), p)
    assert(p.contains("*("), p) // gates and projections inside codegen
  }

  test("q_try_arith splits partial+final aggregation inside codegen") {
    val p = plan("q_try_arith")
    assert(p.contains("partial_"), p)
    assert(p.contains("*("), p)
  }

  test("q_nested_agg broadcasts both dimension tables") {
    val p = plan("q_nested_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_knn_graph is join-free: candidates never leave their bucket") {
    val p = plan("q_knn_graph")
    // two bounded aggregations, no join operator of any kind — the
    // O(bucket²) candidate work happens inside the bucket UDF
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_join_bloom: codegen bloom pre-filter on the fact side of a shuffle join") {
    val p = plan("q_join_bloom")
    // the 100 TB shape under test: dim too big to broadcast (hinted), so
    // the join shuffles — and the native bloom predicate prunes the fact
    // side before its exchange, INSIDE whole-stage codegen (no boxed UDF)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("graft_bloom_contains(l_orderkey"), p)
    assert(!p.contains("UDF(knownnotnull(l_orderkey"), p)
    // the Filter node carrying the predicate is codegen'd: toString
    // prefixes whole-stage-codegen operators with "*(stageId)"
    val filterLine = p.linesIterator
      .find(l => l.contains("Filter") && l.contains("graft_bloom_contains"))
    assert(filterLine.exists(_.contains("*(")), s"bloom filter not in codegen stage:\n$p")
  }

  test("q_wheel_multi_measure_sql folds to a LocalTableScan (no file read)") {
    val p = plan("q_wheel_multi_measure_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_month_sql folds the calendar-month grouping to a LocalTableScan") {
    val p = plan("q_wheel_month_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_quarter_sql folds the calendar-quarter grouping to a LocalTableScan") {
    val p = plan("q_wheel_quarter_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_year_sql folds the calendar-year grouping to a LocalTableScan") {
    val p = plan("q_wheel_year_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("q_wheel_residue_sql folds hybrid: interior LocalTableScan + edge-bounded FileScan") {
    val p = plan("q_wheel_residue_sql")
    // the interior folded at plan time...
    assert(p.contains("LocalTableScan"), p)
    // ...a scan remains for the sub-minute edges, with ts bounds pushed
    // where the parquet reader can row-group-prune them
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(ts,"), p)
  }

  test("q_wheel_ts_closed_sql folds hybrid with EXACT µs edge bounds (round 14)") {
    val p = plan("q_wheel_ts_closed_sql")
    // interior folded at plan time; only the sub-minute upper edge
    // scans (the lower bound is minute-aligned — no lower edge)
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters: [GreaterThanOrEqual(ts,"), p)
    // the pushed edge bounds carry the full µs precision (b + 1 µs)
    assert(p.contains("LessThan(ts,2024-01-27T18:42:33.123457)"), p)
  }

  test("q_wheel_rollup_residue_sql folds grouped hybrid with a pushed edge filter") {
    val p = plan("q_wheel_rollup_residue_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(ts,"), p)
  }

  test("q_wheel_keyed_residue_sql folds keyed grouped hybrid with a pushed edge filter") {
    val p = plan("q_wheel_keyed_residue_sql")
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(ts,"), p)
  }

  test("q_wheel_sliding_residue_sql folds the sliding hybrid: edge Generate over a pushed filter (rounds 11, 18)") {
    val p = plan("q_wheel_sliding_residue_sql")
    // interior windows as a LocalRelation, edge rows through ONE
    // Generate enumeration (round 18; was the re-rooted n-projection
    // Expand) over a bounded scan with directly-pushed bounds
    assert(p.contains("LocalTableScan"), p)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Expand"), p)
    assert(p.contains("FileScan"), p)
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(ts,"), p)
  }

  test("two bloom predicates on one session keep their own filters (no registry race)") {
    // ADVICE r6: under a FIXED registered name, building a second bloom
    // Column before the first query analyzed would overwrite the registry
    // slot and silently plan the first query with the second bloom. The
    // per-instance name makes both Columns resolve their own filter even
    // when constructed before either query plans.
    import spark.implicits._
    val df = (1L to 100L).toDF("k")
    val bloomEven = df.filter(org.apache.spark.sql.functions.col("k") % 2 === 0)
      .stat.bloomFilter("k", 1000L, 0.001)
    val bloomSmall = df.filter(org.apache.spark.sql.functions.col("k") <= 10)
      .stat.bloomFilter("k", 1000L, 0.001)
    // build BOTH Columns before either query is analyzed — the race shape
    val kCol = org.apache.spark.sql.functions.col("k")
    val cEven = graft.functions.BloomMightContain.mightContain(spark, bloomEven, kCol)
    val cSmall = graft.functions.BloomMightContain.mightContain(spark, bloomSmall, kCol)
    val gotEven = df.filter(cEven).orderBy("k").as[Long].collect().toSeq
    val gotSmall = df.filter(cSmall).orderBy("k").as[Long].collect().toSeq
    // blooms are deterministic: the exact expected sets (false positives
    // included) come from probing the filters directly
    val expectEven = (1L to 100L).filter(bloomEven.mightContainLong)
    val expectSmall = (1L to 100L).filter(bloomSmall.mightContainLong)
    assert(expectEven != expectSmall, "test fixture failed to discriminate")
    assert(gotEven == expectEven)
    assert(gotSmall == expectSmall)
  }

  test("q_blocklist_filter anti-joins a broadcast blocklist (corpus never shuffles for it)") {
    val p = plan("q_blocklist_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_data_mixture is join-free: budget scalar + one lang window") {
    val p = plan("q_data_mixture")
    // the token budget arrives as a driver scalar (no join against a
    // caps table); the only shuffles are the lang window + output sort
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("q_json_malformed is one aggregation pass over the scan") {
    val p = plan("q_json_malformed")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p) // map-side combine before the lang shuffle
  }

  test("q_html_strip and q_pii_redact are single narrow codegen passes") {
    Seq("q_html_strip", "q_pii_redact", "q_url_parse").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n$p")
      assert(p.contains("*("), s"$q:\n$p") // inside whole-stage codegen
    }
  }
}
