package graft

import org.apache.spark.sql.DataFrame

/** Locks in the structural plan properties SURVEY §6 promises — a regression
  * here means a scale property silently degraded, even if results stay
  * correct.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def auditOf(df: DataFrame): PlanAudit.Audit = {
    df.count()
    PlanAudit.audit(df.queryExecution.executedPlan)
  }

  // customer/supplier carry NO broadcast() hint (a forced hint would OOM at
  // 100× scale) — at test SF they broadcast because AQE sees they fit under
  // autoBroadcastJoinThreshold. This asserts the threshold path works, and
  // that removing the hints did not degrade the small-SF plan.
  test("q5 star join: all five joins broadcast at test SF without hints, no sort-merge") {
    val a = auditOf(run("q5_multi_join"))
    assert(a.broadcastJoins == 5, s"expected 5 broadcast joins, got $a")
    assert(a.sortMergeJoins == 0)
  }

  test("q1 filter reaches the parquet scan") {
    val a = auditOf(run("q1_agg"))
    assert(a.scans == 1 && a.scansWithPushdown == 1, s"$a")
  }

  test("pure text/fingerprint ops are single-scan, zero-join, no fallback exprs") {
    for (q <- Seq("text_quality", "text_tokens", "text_fingerprint", "text_langid",
        "dedup_simhash")) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.broadcastJoins + a.sortMergeJoins == 0, s"$q: $a")
      assert(a.fallbackExprs.isEmpty, s"$q has interpreted exprs: ${a.fallbackExprs}")
    }
  }

  test("dedup family never degrades to a sort-merge pair join") {
    for (q <- Seq("dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_embedding")) {
      val a = auditOf(run(q))
      assert(a.sortMergeJoins == 0, s"$q: $a")
      assert(a.fallbackExprs.isEmpty, s"$q has interpreted exprs: ${a.fallbackExprs}")
    }
  }

  // r3 shape: the df-cap window partitions on (lang, source, h) — the pair
  // join's own key — so the guard must ride the join's shuffle, not add its
  // own exchange. 6 is the full query's exchange count with the guard fused;
  // a 7th means the window started repartitioning separately.
  // r11 shape (AllPairs prefix filter + compact-array verify): the df
  // window's (lang,source,h) exchange; ONE doc_id exchange carrying both
  // the set-size count window and the rarest-first row_number (a groupBy n
  // + join-back would add a shuffle and a join); the prefix-prefix
  // candidate join + distinct; the shingle-set aggregation feeding the
  // verify joins; the output sort. The verify kernel
  // (sorted_intersect_count) must stay codegen — zero fallback exprs.
  // r17: the shingle-row persist was dropped (distinct-rooted subtree —
  // AQE's RUNTIME exchange reuse shares it across the prefix windows and
  // both verify join sides; measured 2.78 → 2.12 s at sf0.1). The STATIC
  // tree now plans the shared subtree once per consumer branch, so the
  // static exchange count reads 12; at runtime the duplicated exchanges
  // collapse (ReusedExchange in the executed plan — see the executed-plan
  // leg below). 13 would mean a consumer branch grew a genuinely new
  // exchange.
  test("ngram prefix filter: bounded exchanges, codegen verify kernel") {
    // another test's leftover persist of the same shingle subtree would make
    // CacheManager substitute InMemoryTableScan for the shared exchanges —
    // the reuse contract below must be judged on the UNCACHED plan
    spark.catalog.clearCache()
    val a = auditOf(run("dedup_ngram_jaccard"))
    assert(a.shuffles <= 12, s"prefix/verify pipeline grew an exchange: $a")
    assert(a.fallbackExprs.isEmpty, s"interpreted verify kernel: $a")
    // runtime contract: the duplicated static subtrees MUST dedupe
    val df = run("dedup_ngram_jaccard")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "shared shingle subtree no longer exchange-reused at runtime")
  }

  // r3 shape: one label-propagation round = the self-label union folded into
  // the neighbor groupBy (ONE output distribution — two exchange nodes, one
  // per union branch, feeding the same hash aggregation) + a broadcast
  // pointer-jump join. A third exchange means the fold regressed to a
  // separate merge step.
  test("clusters propagation round: one shuffled distribution, no sort-merge") {
    import org.apache.spark.sql.functions.col
    val pairs = graft.dedup.Dedup.simhashPairs(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // smallGraphEdges = 0 forces the distributed propagation path (the
    // small-graph union-find would otherwise absorb this fixture)
    graft.dedup.Dedup.connectedComponents(pairs, smallGraphEdges = 0).count()
    val a = graft.dedup.Dedup.lastPropagationAudit.get
    assert(a.shuffles <= 2, s"propagation round grew extra exchanges: $a")
    assert(a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // r4 shape: the sampling predicate is a pure per-row filter fused into the
  // scan stage — the ONLY exchanges are the distinct-agg pair + the output
  // sort. A shuffle before the filter would move 10× the data.
  test("sample_hash: hash filter precedes every exchange, no joins, no fallback") {
    val a = auditOf(run("sample_hash"))
    assert(a.scans == 1 && a.shuffles <= 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // r4 shape: two-level map aggregation = exactly the two hash-agg
  // exchanges plus the output sort; no join anywhere; finishers all codegen
  // (sort_array + GetArrayStructFields — a transform() lambda would be the
  // interpreted regression this guards against).
  test("sum_map: two agg exchanges + sort, zero joins, zero fallback exprs") {
    val a = auditOf(run("sum_map"))
    assert(a.scans == 1 && a.shuffles == 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"interpreted finisher crept in: $a")
  }

  test("group_array finishers stay codegen") {
    val a = auditOf(run("group_array"))
    assert(a.fallbackExprs.isEmpty, s"interpreted finisher crept in: $a")
  }

  // r5 shape: per-user letter-string agg + regex count = the user_id agg
  // exchange plus the output sort; no joins; the letter extraction is
  // GetArrayStructFields (codegen), never a transform() lambda.
  test("sequence_count: one agg exchange + sort, zero joins, zero fallback exprs") {
    val a = auditOf(run("sequence_count"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"interpreted finisher crept in: $a")
  }

  // r11 shape (bucketed two-level prefix — the r5 single per-flag window
  // funneled the whole distinct-price grain through |flags| tasks): the
  // bucket-grain totals branch is its own pruned scan + tiny aggregation,
  // coming back as a BROADCAST join (the global_rank offsets discipline —
  // bucket grain is domain-bounded); the detail branch pays ONE fact-sized
  // (flag, bucket) window exchange with a RANGE frame folding value ties
  // (the earlier (flag, v) pre-agg collapsed nothing on near-unique prices
  // yet its exchange was paid twice). A sort-merge join, or a 3rd scan,
  // means a branch grew a join-back.
  test("quantiles_exact_weighted: bucketed prefix, detail range window, offsets broadcast") {
    val a = auditOf(run("quantiles_exact_weighted"))
    // measured at 5 for the r11b shape (detail window exchange + bucket
    // totals agg pair + final sort); pinned there so a regression back to
    // the old double-exchange prefix (or worse) fails the audit
    assert(a.scans <= 2 && a.shuffles <= 5, s"$a")
    assert(a.broadcastJoins == 1 && a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty,
      s"$a")
  }

  // r6 shapes: the -State/-Merge re-aggregations are two agg exchanges + the
  // output sort, zero joins (cells shuffle once to build, once to merge);
  // moving-sum and substring-dup ride ONE key shuffle into their collapse.
  test("reagg rows: two agg exchanges + sort, zero joins") {
    Seq("topk_reagg", "uniq_reagg").foreach { q =>
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= 3, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$q: $a")
    }
  }

  test("group_array_moving_sum: window and collapse share the user shuffle") {
    val a = auditOf(run("group_array_moving_sum"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("dedup_substring: df window rides the gram shuffle, no self-join") {
    val a = auditOf(run("dedup_substring"))
    // 4 narrow-row exchanges: per-doc gram distinct, the h window, the doc
    // collapse, the output sort. The property that matters at scale is the
    // ABSENCE of a join (the naive df formulation self-joins the gram scan).
    assert(a.scans == 1 && a.shuffles <= 4, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
  }

  test("any_heavy: one agg exchange + sort, zero joins") {
    val a = auditOf(run("any_heavy"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
  }

  // r5 shape: the repetition ratios are pure per-row expressions — the ONLY
  // exchange is the output sort. A second exchange means a ratio stopped
  // being a scan-local computation.
  test("doc_repetition: zero shuffle beyond the output sort, no joins") {
    val a = auditOf(run("doc_repetition"))
    assert(a.scans == 1 && a.shuffles <= 1, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // Whole-bank sweep — every SparkEntry query runs at sf0.001 and must
  // plan with (a) no sort-merge join, except the full-outer CDC applies
  // (full-outer can't broadcast — SMJ is the correct plan there), and
  // (b) no interpreted expression, except uniq_hll's per-group sketch
  // finisher. Any new query that regresses either property fails here.
  test("late-r6 rows: zero-shuffle scan ops stay zero-shuffle") {
    // pii_scrub / embed_quantize / stratified_sample are pure narrow maps or
    // filters: one scan, no joins, only the output-sort exchange allowed
    for (q <- Seq("pii_scrub", "embed_quantize", "stratified_sample")) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.broadcastJoins + a.sortMergeJoins == 0, s"$q: $a")
      assert(a.fallbackExprs.isEmpty, s"$q has interpreted exprs: ${a.fallbackExprs}")
      assert(a.shuffles <= 1, s"$q must not shuffle beyond the output sort: $a")
    }
  }

  test("seq_packing: prefix-sum window is the only data exchange") {
    // one source-keyed window shuffle + the output sort; no join, no agg
    val a = auditOf(run("seq_packing"))
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles <= 2, s"packing must ride ONE window shuffle: $a")
    assert(a.fallbackExprs.isEmpty, s"interpreted exprs: ${a.fallbackExprs}")
  }

  test("ts_fill: counts join the exploded grid as a broadcast, never sort-merge") {
    val a = auditOf(run("ts_fill"))
    assert(a.broadcastJoins == 1 && a.sortMergeJoins == 0, s"$a")
  }

  test("sequence_next_node: chained windows + collapse share one user exchange") {
    val a = auditOf(run("sequence_next_node"))
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles == 2, s"windows and collapse must share the user shuffle: $a")
  }

  test("stream_join batch shape: user equi-join broadcasts at test SF, no BNLJ") {
    val a = auditOf(run("stream_join"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"interpreted exprs: ${a.fallbackExprs}")
  }

  test("whole-bank sweep: no unexpected sort-merge joins or interpreted exprs") {
    val fullOuterApplies = Set("cdc_multi_table", "cdc_snapshot_apply", "mv_incremental")
    // Q7/Q8's orderkey join is fact⋈fact with BOTH sides scaling (each
    // carries a pre-filter dim join, so neither is a raw scan Spark can
    // statically size for a test-SF broadcast). At 100 TB the co-partitioned
    // sort-merge join IS the right plan — broadcasting a pair-filtered
    // orders table would OOM — so exactly one SMJ is the pinned shape.
    // Q20's supplier⋈qualifying-keys semi join is the same class: both
    // sides are O(suppliers) (the HAVING output has no static stats to
    // trigger a test-SF broadcast), and co-partitioned SMJ on suppkey is
    // the shape that survives a 10^7-supplier catalog. semdedup's
    // vec_id join of embeddings against the dropped-node set likewise:
    // the near-dup mass is O(corpus) (19,990/20,000 at the 10× probe's
    // density), so broadcasting it would OOM exactly when dedup matters.
    // semdedup_default (r16) carries the SAME dropped-node join as semdedup:
    // the near-dup mass is O(corpus), so the vec_id join of embeddings
    // against it is correctly a co-partitioned SMJ, cell path or not.
    val factFactShuffle = Set("q7_volume_shipping", "q8_market_share",
      "q20_surplus_suppliers", "semdedup", "semdedup_default")
    // pagerank3 (r17): the edge-table persist was dropped — the static
    // plan now shows the rank⋈edge join of each of the 3 iterations as a
    // SortMergeJoin (≤2 per iteration: ew's own e⋈deg join + the rank
    // join). That is the CORRECT 100 TB strategy (ranks is |nodes|-sized —
    // broadcastable only at test SF, where AQE converts these to broadcast
    // at runtime and reuses the shared ew exchanges; measured 3.38 →
    // 2.81 s at sf0.1). The pre-r17 zero-SMJ static shape was an artifact
    // of the cache's statistics, not a scale property.
    val iterativeRankJoins = Map("pagerank3" -> 6)
    // curate_stream composes FOUR doc-grain screens over one corpus: the
    // quality/exact/band-screen joins are all both-sides-scaling (per-doc
    // signal frames and the O(buckets×cap) band index are each O(corpus)
    // at 100 TB — broadcasting any of them OOMs exactly when curation
    // matters), and the band-screen SMJ co-partitions on the rank window's
    // (b, bkey) exchange. ≤2 SMJs is the pinned composition shape; the
    // rest broadcast at test SF via AQE.
    val docGrainComposition = Set("curate_stream")
    val finisherFallbacks = Map(
      "uniq_hll" -> Set("hll_sketch_estimate"),
      // #306's set algebra (array_sort/intersect + the θ-cut filter
      // lambda) runs on the ≤C(|types|,2)-row PAIR GRAIN — interpreted
      // exprs over ≤10 metadata rows, never the fact table (the fact fold
      // is the codegen'd kmv_sketch agg)
      "uniq_theta_ops" -> Set("array_sort", "lambdafunction",
        "namedlambdavariable", "filter"),
      // #312/#316/#317: the bitmap read-outs are eval-only BY DESIGN and
      // run on the ≤|types| (or ≤types×days) CELL grain — the fact fold is
      // the codegen'd bitmap_agg aggregate
      "group_bitmap_ops" -> Set("bitmap_card", "bitmap_and_card",
        "bitmap_or_card", "bitmap_xor_card"),
      "bitmap_reagg" -> Set("bitmap_card"),
      "bitmap_coverage" -> Set("bitmap_card"),
      // #328: the range walk is eval-only BY DESIGN on the ≤|types| cell
      // grain, same as every bitmap read-out
      "bitmap_range_card" -> Set("bitmap_card", "bitmap_range_card"),
      "stream_bitmap_uniq" -> Set("bitmap_card"))
    // r16 (verdict item 8): suite-wide quadratic-join gate. A
    // BroadcastNestedLoopJoin is O(|left|·|right|) compute — acceptable
    // ONLY against a side that stays BOUNDED at 100 TB. Every whitelist
    // entry below is one of exactly two such classes, each verified at
    // the source (the discovery pass is recorded in SURVEY §7 r16):
    //  - scalar/metadata broadcast: a 1-row global-total or threshold
    //    frame (bm25 avgdl·N, dsir/unigram corpus totals, lorenz/langid/
    //    tok_coverage/tfidf/basket_lift/psi_drift totals, dau_mau's
    //    30-row month-offset frame, surprisal terciles, TPC-H Q11/Q22
    //    scalar subqueries, path3's k-row cap frame, mv_incremental's 4
    //    batch-scalar feeds (max-block splits in the incremental sim),
    //    rfm_segments' 16 quantile-boundary scalars) — O(n)·O(1);
    //  - bounded cell-pair algebra: sketch/bitmap cells crossJoin at the
    //    ≤|types| grain (group_bitmap_ops, uniq_theta_ops) or a ≤256-row
    //    PQ codebook (ann_pq) — O(cells²) metadata, never fact rows.
    // CartesianProduct (shuffles the full product) is NEVER allowed.
    val bnljBounded = Map(
      "ann_pq" -> 1, "basket_lift" -> 1, "bm25_topdocs" -> 1,
      "dau_mau_stickiness" -> 1, "dsir_logratio" -> 1,
      "group_bitmap_ops" -> 1, "langid_kappa" -> 1, "lorenz_points" -> 2,
      "mv_incremental" -> 4, "path3_topk" -> 1, "psi_drift" -> 1,
      "q11_important_parts" -> 1, "q22_idle_customers" -> 1,
      "rfm_segments" -> 16, "surprisal_filter" -> 2, "tfidf_topterms" -> 1,
      "tok_coverage" -> 1, "unigram_surprisal" -> 1, "uniq_theta_ops" -> 1)
    // r18 (verdict item 5): suite-wide partition-less-window gate. A
    // WindowExec/WindowGroupLimitExec with an EMPTY partitionSpec moves its
    // WHOLE input to one task — acceptable ONLY on a grain that stays
    // bounded at 100 TB. Every entry below names its grain and why it is
    // bounded; the data-dependent ones are additionally AUDITED by a
    // CapacityPins entry (CapacityRegimeSpec fails loudly at every local SF
    // the moment a grain outgrows ValueGrainCap), so "bounded" is a
    // measured premise, not an assumption. Four classes:
    //  - fixed-domain grains: calendar / type / digit / decile / bucket
    //    domains with a structural cap (dow_hour 168, benford 9, log2
    //    token buckets ≤64, statuses ≤3, deciles ≤10, contingency ≤50
    //    cells, sources, day offsets ≤30/366, band or interval calendar
    //    grids);
    //  - CapacityPins-audited value grains (the 2-dp value / lag-second /
    //    user-total-cents / heavy-context families — global_rank, ks_test,
    //    mannwhitney, cliffs_delta, lorenz, conversion_lag, kendall's
    //    k-decile pivot, bigram_condprob, revenue_concentration);
    //  - bucketed two-level prefix sums where the partition-less window
    //    sees only the BUCKET grain (rfm_segments, spearman_corr,
    //    rank_corr_matrix — the r18 PrefixRank shape; pins audit the
    //    bucket counts);
    //  - rank windows behind a hard limit(k) (zipf_fit 1000, tok_coverage
    //    10000) or a 1-row/global-total frame (q15 max, cdc cursor max,
    //    global shares over an already-bounded agg grain).
    val upwinBounded = Map(
      "active_days_hist" -> 1,        // share over ≤366-day-count grain
      "benford_digits" -> 1,          // 9 leading digits
      "bigram_condprob" -> 1,         // heavy contexts (ca≥100) — pinned
      "cat_iv" -> 1,                  // ≤|categories| WoE cells
      "cdc_cursor_latest" -> 1,       // global max over the cursor table
      "cliffs_delta" -> 2,            // 2-dp value grain — pinned
      "contingency_coef" -> 1,        // ≤50-cell contingency grain
      "conversion_lag_quantiles" -> 1, // lag-second grain — pinned
      "cramers_v" -> 1,               // ≤50-cell contingency grain
      "cramers_v_corrected" -> 1,     // ≤50-cell contingency grain
      "cross_source_leakage" -> 1,    // global total over the source-pair grain
      "dow_hour_heatmap" -> 1,        // 7×24 = 168 cells
      "events_per_user_hist" -> 1,    // log2 count buckets ≤64
      "global_rank" -> 1,             // 2-dp value grain — pinned
      "interval_overlap_count" -> 1,  // calendar-day grid (bounded span)
      "js_divergence" -> 1,           // ≤10 histogram buckets
      "kendall_tau" -> 2,             // k-decile pivot grain — pinned (r18)
      "kl_divergence" -> 1,           // ≤10 histogram buckets
      "ks_test" -> 2,                 // 2-dp value grain — pinned
      "lorenz_points" -> 3,           // user-total cents grain — pinned
      "mannwhitney_utest" -> 1,       // 2-dp value grain — pinned
      "max_intersections" -> 1,       // calendar-day delta grain
      "mixture_weights" -> 1,         // ≤|sources| rows
      "open_orders_daily" -> 1,       // calendar-day delta grain
      "orders_per_customer_stats" -> 2, // order-count-of-counts grain (~log-growth)
      "psi_drift" -> 1,               // 10 deciles
      "q15_top_supplier" -> 1,        // global max over the supplier grain
      "rank_corr_matrix" -> 3,        // 2 bucket-offset frames (pinned) + ≤24-row hour map
      "retention_curve" -> 1,         // ≤30 day offsets
      "revenue_concentration" -> 3,   // user-total cents grain — pinned
      "rfm_segments" -> 3,            // 1024-USD bucket grain — pinned
      "spearman_corr" -> 2,           // 2 bucket-offset frames — pinned (r18)
      "status_revenue_rollup" -> 1,   // ≤3 statuses
      "tok_coverage" -> 1,            // rank behind limit(10000)
      "tokens_per_doc_hist" -> 1,     // log2 token buckets ≤64
      "zipf_fit" -> 1)                // rank behind limit(1000) — pinned
    for (name <- SparkEntry.allDefs.keys.toSeq.sorted) {
      val a = auditOf(run(name))
      if (factFactShuffle(name))
        assert(a.sortMergeJoins <= 1, s"$name: expected ≤1 fact-fact SMJ: $a")
      else if (docGrainComposition(name))
        assert(a.sortMergeJoins <= 2, s"$name: expected ≤2 doc-grain SMJs: $a")
      else if (iterativeRankJoins.contains(name))
        assert(a.sortMergeJoins <= iterativeRankJoins(name),
          s"$name: iterative rank joins grew: $a")
      else if (!fullOuterApplies(name))
        assert(a.sortMergeJoins == 0, s"$name grew a sort-merge join: $a")
      val allowed = finisherFallbacks.getOrElse(name, Set.empty[String])
      assert(a.fallbackExprs.toSet.subsetOf(allowed),
        s"$name has interpreted exprs: ${a.fallbackExprs}")
      assert(a.cartesianJoins == 0, s"$name grew a CartesianProduct: $a")
      assert(a.nestedLoopJoins <= bnljBounded.getOrElse(name, 0),
        s"$name has ${a.nestedLoopJoins} BroadcastNestedLoopJoins " +
          s"(whitelist allows ${bnljBounded.getOrElse(name, 0)}): $a")
      assert(a.unpartitionedWindows <= upwinBounded.getOrElse(name, 0),
        s"$name has ${a.unpartitionedWindows} partition-less windows " +
          s"(whitelist allows ${upwinBounded.getOrElse(name, 0)}) — " +
          "a single-task sort of an unbounded grain at 100 TB unless the " +
          s"grain is bounded AND justified here: $a")
    }
  }

  // r4 shape: the three chained funnel window passes AND the per-user
  // collapse all ride ONE user_id exchange (plus the 4-row level agg and
  // output sort = 3 total). A 4th exchange means the collapse stopped
  // reusing the window's partitioning.
  test("funnel_window: chained windows + user collapse share one exchange") {
    val a = auditOf(run("funnel_window"))
    assert(a.scans == 1 && a.shuffles == 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // r4 shape: histogram bounds broadcast back onto the binning scan — the
  // per-type join must never sort-merge (that would shuffle the full fact
  // table to meet a 5-row side).
  test("histogram_eq: bounds join broadcasts, binning stays codegen") {
    val a = auditOf(run("histogram_eq"))
    assert(a.broadcastJoins == 1 && a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // r6 stats rows: one conditional-aggregate pass → 6 scalars → formula.
  // A second scan or a join would mean the moments stopped sharing the pass.
  // one-pass Poisson bootstrap: the fact table is scanned ONCE into the
  // typed cells aggregate (no ×64 row expansion before the agg — the
  // exploded form was the sf10 sweep's 807 s worst query); the explode,
  // rank windows and CI fold all ride the |types|-row cells grain.
  test("bootstrap_mean_ci: single fact scan into the cells aggregate") {
    val a = auditOf(run("bootstrap_mean_ci"))
    assert(a.scans == 1 && a.shuffles <= 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
  }

  test("welch_ttest: one scan, one global-agg exchange, zero joins") {
    val a = auditOf(run("welch_ttest"))
    assert(a.scans == 1 && a.shuffles <= 1, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // grain-grouped ranks: value-grain hash agg, single-partition prefix sum
  // over ≤49k grain rows, final 1-row fold — never a global row sort of the
  // fact table.
  test("mannwhitney_utest: rank prefix runs on the value grain, zero joins") {
    val a = auditOf(run("mannwhitney_utest"))
    assert(a.scans == 1 && a.shuffles <= 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("skew_kurt: power sums ride one group exchange, zero joins") {
    val a = auditOf(run("skew_kurt"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // the M4 promise: both row_number windows AND the min/max/first/last
  // collapse share hashpartitioning(event_type, day) — one data exchange
  // plus the output sort. A third exchange means the groupBy stopped
  // reusing the windows' partitioning.
  test("ts_downsample_m4: windows and collapse share one (type, day) exchange") {
    val a = auditOf(run("ts_downsample_m4"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // chunking is a narrow codegen map (sequence explode + substring + md5):
  // nothing may shuffle except the output sort.
  test("doc_chunk: zero shuffle beyond the output sort, no joins") {
    val a = auditOf(run("doc_chunk"))
    assert(a.scans == 1 && a.shuffles <= 1, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("shard_assign: one shard exchange plus output sort, no joins") {
    val a = auditOf(run("shard_assign"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // gap islands: the lag flag, the running session counter, AND the
  // per-(user, session) collapse all ride ONE hashpartitioning(user_id)
  // exchange (hash(user) satisfies the (user, session) clustering) — a
  // second data exchange means the collapse stopped reusing it.
  test("sessionize_batch: windows and session collapse share one user exchange") {
    val a = auditOf(run("sessionize_batch"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("interval_length_sum: sweep + both collapses on one user exchange") {
    val a = auditOf(run("interval_length_sum"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("bounding_ratio: single min_by/max_by aggregation pass, no window") {
    val a = auditOf(run("bounding_ratio"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // after the ≤50-cell grain collapse, every exchange (margin windows,
  // final fold) carries only grain rows — the fact table shuffles once.
  test("cramers_v: one fact shuffle, the rest ride the contingency grain") {
    val a = auditOf(run("cramers_v"))
    assert(a.scans == 1 && a.shuffles <= 7, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // the distributed-rank promise: NO single-partition pass over fact rows —
  // the prefix sum runs on the ≤49k value grain, offsets broadcast back,
  // and the in-value tie-break windows ride hashpartitioning(v).
  test("global_rank: offsets broadcast, fact rows never in one partition") {
    val a = auditOf(run("global_rank"))
    assert(a.scans == 2 && a.shuffles <= 5, s"$a")
    assert(a.broadcastJoins == 1 && a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  test("student_ttest: one scan, one global-agg exchange, zero joins") {
    val a = auditOf(run("student_ttest"))
    assert(a.scans == 1 && a.shuffles <= 1, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // both empirical CDFs collapse to the shared value grain first; the sup
  // scan and totals ride the ≤49k grain — never a fact-row sort.
  test("ks_test: CDF gap computed on the value grain, zero joins") {
    val a = auditOf(run("ks_test"))
    assert(a.scans == 1 && a.shuffles <= 4, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // the rank-moment promise: fact rows are never shuffled or sorted — both
  // rank maps are grain-sized and BROADCAST back; the only exchanges carry
  // grain rows or the final 1-row moment fold. r18: each rank map is the
  // bucketed two-level prefix (PrefixRank), adding per map one bucket-agg
  // exchange + one broadcast bucket-offset join — 4 broadcasts, ≤9
  // grain-row exchanges; fact rows STILL never shuffle.
  test("spearman_corr: rank maps broadcast, fact rows never shuffled") {
    val a = auditOf(run("spearman_corr"))
    assert(a.broadcastJoins == 4 && a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles <= 9, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // grouping-sets pass: cells + both margins + total in ONE fact exchange
  // (the cube partial-agg), then a 1-row entropy fold.
  test("theils_u: cube margins ride one fact exchange, zero joins") {
    val a = auditOf(run("theils_u"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // df must be a count window over the COLLAPSED (doc, tok) rows, never a
  // self-join or a second pass over the raw token stream; N arrives as a
  // 1-row broadcast.
  test("tfidf_topterms: df window over collapsed rows, no sort-merge") {
    val a = auditOf(run("tfidf_topterms"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles <= 5, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // one token-explode pass computes dl AND all three term frequencies —
  // a tf⋈dl join would double the corpus scans.
  test("bm25_topdocs: single doc collapse + 1-row broadcast, no tf join") {
    val a = auditOf(run("bm25_topdocs"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles <= 3, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // the pair stream is array codegen riding the scan (zip_with over shifted
  // slices): no posexplode + per-doc window, no join — one pair-grain
  // collapse plus the bounded top-k sort.
  test("bpe_pair_stats: pair stream rides the scan, one count collapse") {
    val a = auditOf(run("bpe_pair_stats"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  test("group_array_sample: rank window and collapse share the type exchange") {
    val a = auditOf(run("group_array_sample"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // facts collapse to the (type, value) grain in ONE scan + exchange; the
  // median rides every grain row as a conditional window min, so there are
  // NO joins anywhere — a join-back shape re-scanned the facts 3× under AQE.
  test("mad_exact: linear lineage — one scan, zero joins") {
    val a = auditOf(run("mad_exact"))
    assert(a.scans == 1, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
    assert(a.shuffles <= 5, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // the last-day window and the weighted sum share ONE user_id exchange
  // (+ the output sort); a second data exchange means the groupBy stopped
  // reusing the window's partitioning.
  test("exp_time_decayed_sum: window and collapse share the user exchange") {
    val a = auditOf(run("exp_time_decayed_sum"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // ---- round-7 rows ------------------------------------------------------

  // the cohort promise: NO per-user window — the distinct week set builds
  // in the user collapse (collect_set partial-aggs map-side), cohort rides
  // the same row via array_min, so the only exchanges are the user
  // collapse, the tiny (cohort, offset) grain collapse, and the output sort.
  test("cohort_retention: one user exchange, no window, zero joins") {
    val a = auditOf(run("cohort_retention"))
    assert(a.scans == 1 && a.shuffles <= 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // nine moment sums in ONE partial-agg pass; Cramer's rule is per-row
  // scalar arithmetic on the 5-row result — no second scan, no join.
  test("linreg_2f: one scan, one agg exchange, zero joins") {
    val a = auditOf(run("linreg_2f"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // same grain discipline as cramers_v: one fact shuffle into the ≤50-cell
  // contingency grain; margins/fold ride grain rows only.
  test("cramers_v_corrected: one fact shuffle, grain-sized rest") {
    val a = auditOf(run("cramers_v_corrected"))
    assert(a.scans == 1 && a.shuffles <= 7, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // both conditional counts ride ONE partial agg (no per-branch rescans);
  // totals are window sums over the 5-row grain.
  test("cat_iv: conditional counts in one fact exchange") {
    val a = auditOf(run("cat_iv"))
    assert(a.scans == 1 && a.shuffles <= 3, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // the bounded-grain promise: facts collapse straight to ≤3.3k fixed
  // buckets; the threshold scan and collapse ride the bucket grain.
  test("quantile_timing: bucket collapse first, grain-sized rest") {
    val a = auditOf(run("quantile_timing"))
    assert(a.scans == 1 && a.shuffles <= 4, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // -If combinator: the predicate lives INSIDE the aggregate as a null —
  // same single space-saving agg exchange as topk_approx, no extra stage.
  test("topk_if: single typed-agg exchange like the unconditional form") {
    val a = auditOf(run("topk_if"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
  }

  // c(a) must be a window over the COLLAPSED pair grain (the tfidf df
  // move), the heavy-context set a broadcast — no sort-merge, no second
  // corpus pass.
  test("bigram_condprob: context totals ride the pair grain, ctx broadcast") {
    val a = auditOf(run("bigram_condprob"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.broadcastJoins >= 1, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // the vocab join is a hash join on tok (never collected); the corpus
  // total arrives as a 1-row broadcast; the doc filter prunes the fact
  // side BEFORE the join.
  test("unigram_surprisal: vocab hash-joined, total broadcast, no sort-merge") {
    val a = auditOf(run("unigram_surprisal"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.broadcastJoins >= 1, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // the state/merge promise: facts collapse ONCE into (t, day, bk) cells;
  // every later exchange (merge, cum window, final fold) moves cell rows
  // only — the shape a rollup table re-aggregation has at any scale.
  test("quantile_timing_reagg: one fact exchange, cell-sized rest, zero joins") {
    val a = auditOf(run("quantile_timing_reagg"))
    assert(a.scans == 1 && a.shuffles <= 6, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // the top-1000 must arrive via TakeOrderedAndProject (per-partition
  // partial top-k) — a global Sort before the limit would be a vocab-wide
  // single-partition pass.
  test("zipf_fit: top-k is a TakeOrdered, not a global sort") {
    val df = run("zipf_fit"); df.count()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"), "limit not TakeOrderedAndProject")
    val a = PlanAudit.audit(df.queryExecution.executedPlan)
    assert(a.scans == 1 && a.broadcastJoins + a.sortMergeJoins == 0, s"$a")
  }

  // drift pair: both collapse facts to the ≤50-cell grain in one exchange;
  // margins ride window sums over grain rows.
  test("js_divergence / psi_drift: one fact exchange, grain-sized windows") {
    for (q <- Seq("js_divergence", "psi_drift")) {
      val a = auditOf(run(q))
      assert(a.scans <= 2 && a.sortMergeJoins == 0, s"$q: $a")
      assert(a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // containment rides the SAME df-capped block join as ngram-jaccard —
  // never a sort-merge pair join, no interpreted exprs in the shingle path.
  test("dedup_containment: block join stays hash, no fallback exprs") {
    val a = auditOf(run("dedup_containment"))
    assert(a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
  }

  // the -If promise: conditional quantiles cost the same plan as the
  // unconditional form — one fact exchange to the bucket cells, zero joins.
  test("quantile_timing_if: same cell-grain shape as the unconditional form") {
    val a = auditOf(run("quantile_timing_if"))
    assert(a.scans == 1 && a.shuffles <= 4, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // fit diagnostics from the SAME single moment pass as the fit — no
  // scoring rescan, no join.
  test("linreg_fit_stats: one scan, one agg exchange, zero joins") {
    val a = auditOf(run("linreg_fit_stats"))
    assert(a.scans == 1 && a.shuffles <= 2, s"$a")
    assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // benford: facts collapse straight to the 9-digit grain; trimmed_mean:
  // facts collapse to the (type, cents) value grain — every later window
  // and fold moves grain rows only, zero joins in either.
  test("benford_digits / trimmed_mean: grain collapse first, zero joins") {
    for (q <- Seq("benford_digits", "trimmed_mean")) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= 5, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty,
        s"$q: $a")
    }
  }

  // r8 shapes. cube: Expand feeds ONE partial aggregate — all four grouping
  // sets in a single exchange, never four scans. range_window_sum: the
  // RANGE frame rides ONE hashpartitioning(user_id) exchange — a date-band
  // self-join here would re-shuffle the fact table ~7×. median_ci /
  // anomaly_zscore: facts collapse to their grain first; windows and final
  // folds move grain rows only.
  test("cube_agg / range_window_sum / median_ci / anomaly_zscore: single-scan, zero joins") {
    for ((q, maxShuf) <- Seq("cube_agg" -> 2, "range_window_sum" -> 2,
        "median_ci" -> 3, "anomaly_zscore" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty,
        s"$q: $a")
    }
  }

  // kendall_tau: the fact table is scanned exactly ONCE — the collapsed
  // contingency grain PIVOTS on the 7 known dow values and concordant/
  // discordant counts become dominance sums over per-column cumulative
  // windows. No join anywhere in the plan (a per-statistic branch would be
  // 5 corpus passes; even a cell self-join would scan twice).
  test("kendall_tau: one fact scan, pivot + windows, zero joins") {
    val a = auditOf(run("kendall_tau"))
    assert(a.scans == 1, s"fact table re-scanned: $a")
    assert(a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
  }

  // r8b shapes: every new op collapses facts ONCE and rides grain windows /
  // partial aggs — single scan, zero joins anywhere. Shuffle budgets pin
  // the exchange count (collapse + grain window(s) + final fold/sort); a
  // breach means a window started repartitioning separately or a collapse
  // split in two.
  test("r8b ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("autocorr_daily" -> 4, "gini_inequality" -> 4,
        "profile_columns" -> 2, "text_ttr" -> 3, "mean_family" -> 2,
        "contingency_coef" -> 4, "interarrival_quantiles" -> 4,
        "shingle_novelty" -> 4)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // second r8 batch: kl/cliffs/streak/transitions are join-free grain
  // pipelines like the rest of the bank; audience_overlap joins — but only
  // the distinct (type,user) GRAIN with itself on user (hash or broadcast,
  // never sort-merge at test SF AQE may pick either side), plus two
  // broadcast count lookups on ≤10 pair rows.
  test("r8c ops: grain pipelines stay join-free; overlap joins grain only") {
    for ((q, maxShuf) <- Seq("kl_divergence" -> 4, "cliffs_delta" -> 3,
        "max_streak" -> 3, "type_transitions" -> 4)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
    // r17 two-scale audit: the (type,user) grain persist STAYS — dropping
    // it won at sf0.1 (cache overhead on 11 MB inputs) but lost 3.8× at
    // sf10 (1.62 → 6.18 s, A/B at the r16 commit): the join branches'
    // null-filter pushdown diverges their subtrees from the marginals',
    // so runtime exchange reuse re-ran the corpus distinct. All four
    // consumers must read the cache — assert the cache nodes directly.
    val df = run("audience_overlap")
    df.count()
    val a = PlanAudit.audit(df.queryExecution.executedPlan)
    assert(df.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"), "grain not served from cache")
    assert(a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
    graft.CacheRegistry.release()
  }

  // fourth r8 batch: all grain pipelines, zero joins. cov_corr_matrix is
  // ONE partial-agg exchange (the 3-pair stack is a post-agg explode, not
  // a rescan); moving_median rides the day-grain window; theil and
  // doc_length ride their value-grain windows.
  test("r8d ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("cov_corr_matrix" -> 2, "moving_median_7d" -> 3,
        "theil_index" -> 4, "doc_length_stats" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // fifth r8 batch: all single-collapse partial-agg shapes — the cheapest
  // class in the bank. value_cdf_probes must stay windowless (all probes
  // inside ONE conditional agg); the other two add only a grain window.
  test("r8e ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("log2_histogram" -> 3, "value_cdf_probes" -> 2,
        "hour_profile" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // sixth r8 batch: all grain pipelines — dow/hill on per-type grain
  // windows, newness on the (user, day) grain with the first-day window
  // riding the user clustering. Zero joins throughout.
  test("r8f ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("dow_seasonality" -> 3, "user_newness" -> 3,
        "hill_tail" -> 4)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // seventh r8 batch: all three are pure grain pipelines — zero joins.
  // retention_curve's population size is the offset-0 grain row read by a
  // window (total ≡ n_active(0)), so no second scan and no broadcast.
  test("r8g ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("burstiness" -> 3, "gap_survival" -> 3,
        "retention_curve" -> 4)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // eighth r8 batch: all grain pipelines, zero joins — markov on the lag
  // exchange + transition grain, active_days on two bounded collapses,
  // revenue_concentration's clamp cuts on the pinned user-total grain.
  test("r8h ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("markov_entropy" -> 4, "active_days_hist" -> 3,
        "revenue_concentration" -> 5)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // ninth r8 batch: rank_corr_matrix's three rank maps must BROADCAST
  // onto the fact pass (fact rows never shuffle — the spearman_corr
  // promise, ×3); dup_rate is the canonical two-phase distinct. r18: the
  // v and k maps are bucketed two-level prefixes (PrefixRank) — one extra
  // broadcast bucket-offset join each (the hour map stays direct), so 5.
  test("r8i ops: rank maps broadcast, fact rows never shuffled") {
    val a = auditOf(run("rank_corr_matrix"))
    assert(a.broadcastJoins == 5 && a.sortMergeJoins == 0, s"$a")
    assert(a.fallbackExprs.isEmpty, s"$a")
    val b = auditOf(run("dup_rate_by_source"))
    assert(b.scans == 1 && b.shuffles <= 3 &&
      b.broadcastJoins + b.sortMergeJoins == 0 && b.fallbackExprs.isEmpty,
      s"$b")
  }

  // tenth r8 batch: lang_confusion computes the prediction inline on the
  // scan (no join with a pred table); week_over_week is a week-grain
  // collapse + per-type lag window.
  test("r8j ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("lang_confusion" -> 3, "week_over_week" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // eleventh r8 batch: first_touch carries argmin AND conversion in one
  // user aggregate (no join of a first-event table back onto facts);
  // conversion_by_decile is one conditional partial agg.
  test("r8k ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("first_touch_conversion" -> 3,
        "conversion_by_decile" -> 2)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // TPC-H-classic batch: no sort-merge joins at test SF (AQE broadcasts
  // the pruned sides), the q14 part dim must broadcast (forced — it is
  // constant-size at any fact scale), and no interpreted expressions.
  test("tpch r8 batch: joins broadcast at test SF, no fallback") {
    for (q <- Seq("q4_priority_slowship", "q12_priority_class",
        "q14_promo_share")) {
      val a = auditOf(run(q))
      assert(a.sortMergeJoins == 0, s"$q: $a")
      assert(a.fallbackExprs.isEmpty, s"$q: $a")
    }
    val a = auditOf(run("q14_promo_share"))
    assert(a.broadcastJoins == 1, s"part dim must broadcast: $a")
  }

  // final r8 batch: two-level entity rollup + scan-riding token histogram.
  test("r8l ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("orders_per_customer_stats" -> 3,
        "tokens_per_doc_hist" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // closing relational batch: no sort-merge joins at test SF; the brand
  // dim must broadcast (forced — constant-size at any fact scale).
  test("closing relational batch: joins broadcast, no fallback") {
    val a = auditOf(run("delivery_lag_quantiles"))
    assert(a.sortMergeJoins == 0 && a.fallbackExprs.isEmpty, s"$a")
    val b = auditOf(run("brand_band_revenue"))
    assert(b.broadcastJoins == 1 && b.sortMergeJoins == 0 &&
      b.fallbackExprs.isEmpty, s"$b")
  }

  // coda batch: pure single-table rollups.
  test("coda ops: single-scan, zero-join, bounded exchanges") {
    for ((q, maxShuf) <- Seq("status_revenue_rollup" -> 3,
        "events_per_user_hist" -> 3)) {
      val a = auditOf(run(q))
      assert(a.scans == 1 && a.shuffles <= maxShuf, s"$q: $a")
      assert(a.broadcastJoins + a.sortMergeJoins == 0 &&
        a.fallbackExprs.isEmpty, s"$q: $a")
    }
  }

  // The rank ≤ k family's O(k)-state premise is Spark's InferWindowGroupLimit
  // rewrite (row_number/rank over a partition, filtered to ≤ k, executes as
  // WindowGroupLimitExec holding a k-row heap per group instead of buffering
  // and sorting whole groups). That rewrite is the ONLY thing standing between
  // these ops and a fact-sized per-group sort at 100 TB, and it is conf- and
  // version-sensitive (spark.sql.optimizer.windowGroupLimitThreshold) — so it
  // gets a mechanical pin like every other scale premise.
  test("rank-limit pushdown: WindowGroupLimitExec present in every rank<=k op") {
    for (q <- Seq("topk_per_group", "group_array_sorted", "group_array_last",
        "weighted_sample_es", "knn_label_eval", "ann_bruteforce",
        "trending_topk", "tfidf_topterms", "dedup_cluster_rep")) {
      val a = auditOf(run(q))
      assert(a.windowGroupLimits >= 1,
        s"$q: rank-limit pushdown stopped firing (no WindowGroupLimitExec): $a")
    }
    // r17: q2_min_price_supplier left this family — its rn=1 window became
    // a min(struct(unit_cost, suppkey)) aggregate (lexicographic struct min
    // ≡ the window's orderBy winner), which partial-aggregates map-side
    // instead of heaping per group. Pin the NEW shape: no window at all.
    val q2 = auditOf(run("q2_min_price_supplier"))
    assert(q2.windowGroupLimits == 0,
      s"q2_min_price_supplier grew a rank window back: $q2")
  }

  // r15 shapes. group_bitmap_ops: the uniq_theta_ops contract on the exact
  // cells — ONE fact-grain agg exchange into |types| bitmap cells, pair
  // algebra on a broadcast cross join of the cell frame, never a fact
  // self-join; the bitmap_* read-outs are eval-only by design but run on
  // the ≤C(types,2) pair grain. mean_ztest: one scan, one 1-row agg.
  // funnel_strict_increase: user-keyed aggs/joins only — no fact-grain
  // window, no fallback. embed_gram: the pair self-join is vec_id-keyed
  // with bounded 64-row fan-out and its 2080-cell grain partial-aggregates
  // map-side — no fallback in the fact-grain path.
  test("r15 ops: bitmap cells broadcast, bounded exchanges, no fact fallback") {
    // r17 two-scale audit: the cell-frame persist STAYS — dropping it was
    // flat at sf0.1 but re-aggregated the fact table at sf10 (runtime
    // exchange reuse does not cover the broadcast pair-join side here).
    val b = auditOf(run("group_bitmap_ops"))
    assert(b.shuffles <= 2, s"group_bitmap_ops grew a fact-grain exchange: $b")
    assert(b.sortMergeJoins == 0, s"$b")
    assert(b.fallbackExprs.forall(_.startsWith("bitmap_")), s"$b")
    val z = auditOf(run("mean_ztest"))
    assert(z.scans == 1 && z.shuffles <= 1 &&
      z.broadcastJoins + z.sortMergeJoins == 0 && z.fallbackExprs.isEmpty, s"$z")
    val f = auditOf(run("funnel_strict_increase"))
    assert(f.fallbackExprs.isEmpty, s"$f")
    val g = auditOf(run("embed_gram"))
    assert(g.fallbackExprs.isEmpty && g.sortMergeJoins == 0, s"$g")
  }

  // r15 (r14 verdict item 2): the hand-kept list above can rot as the bank
  // grows — this sweep is MECHANICAL over every registered query: each
  // optimized plan is scanned for a literal-bounded rank-like filter
  // (row_number/rank/dense_rank compared to a literal directly above its
  // Window), and each such window must carry the InferWindowGroupLimit
  // rewrite beneath it. A new rank<=k op can now only enter the bank
  // un-pinned by not planning a bounded rank filter at all.
  test("mechanical sweep: every bounded rank filter in the bank rides WindowGroupLimit") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, GlobalLimit, LocalLimit, Window => LWindow, WindowGroupLimit}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val missing = scala.collection.mutable.SortedSet.empty[String]
    val covered = scala.collection.mutable.SortedSet.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      // every rank-like window output in the plan, wherever it sits —
      // a non-rank Window stacked between the filter and the rank window
      // blocks the rewrite too (the dedup_cluster_rep miss this sweep
      // caught at r15), so detection must not require Filter-over-Window
      // adjacency
      val rankWindows: Map[ExprId, LWindow] = plan.collect {
        case w: LWindow =>
          w.windowExpressions.collect {
            case a @ Alias(WindowExpression(_: RowNumber | _: Rank | _: DenseRank, _), _) =>
              a.toAttribute.exprId -> w
          }
      }.flatten.toMap
      plan.foreach {
        case LFilter(cond, _) =>
          val boundedRanks = conjuncts(cond).flatMap {
            case LessThanOrEqual(a: Attribute, Literal(_, _)) => rankWindows.get(a.exprId)
            case LessThan(a: Attribute, Literal(_, _)) => rankWindows.get(a.exprId)
            case EqualTo(a: Attribute, Literal(_, _)) => rankWindows.get(a.exprId)
            case EqualTo(Literal(_, _), a: Attribute) => rankWindows.get(a.exprId)
            case GreaterThanOrEqual(Literal(_, _), a: Attribute) => rankWindows.get(a.exprId)
            case GreaterThan(Literal(_, _), a: Attribute) => rankWindows.get(a.exprId)
            case _ => None
          }
          boundedRanks.foreach { w =>
            // either rewrite pins the O(k) premise: InferWindowGroupLimit's
            // per-group heap, or — for partition-less rank windows —
            // LimitPushDownThroughWindow's global top-k Limit+Sort
            val pinned = w.child match {
              case _: WindowGroupLimit | _: GlobalLimit | _: LocalLimit => true
              case _ => false
            }
            if (pinned) covered += name else missing += name
          }
        case _ =>
      }
    }
    assert(missing.isEmpty,
      s"bounded rank filters WITHOUT the WindowGroupLimit rewrite " +
        s"(split mixed windows or restructure): ${missing.mkString(", ")}")
    // the ops the r14 verdict named must be IN the mechanically-swept set
    // (r17: q2_min_price_supplier left the family — its rn=1 window became
    // a min(struct) aggregate, so it no longer HAS a bounded rank filter)
    for (q <- Seq("trending_topk", "tfidf_topterms", "dedup_cluster_rep",
        "topk_per_group"))
      assert(covered(q),
        s"$q expected in the covered set (${covered.size} covered)")
  }

  // r11 curation batch. gopher_rules is the bank's cheapest shape — a
  // stateless rule projection whose ONLY exchange is the output sort.
  // winnow_fingerprint: one gram scan feeds the window + fingerprint
  // distinct + both per-doc collapses; the m⋈f join is doc_id-keyed.
  // embed_contamination: the scan feeds the closure kernel; exchanges are
  // the compute-spread repartition + the output sort, and NOTHING
  // pair-grained (no join operator at all — the bench side lives in the
  // task closure).
  test("r11 curation ops: bounded exchanges, no fallback, no pair-grained join") {
    val g = auditOf(run("gopher_rules"))
    assert(g.scans == 1 && g.shuffles <= 1 &&
      g.broadcastJoins + g.sortMergeJoins == 0 && g.fallbackExprs.isEmpty, s"$g")
    val w = auditOf(run("winnow_fingerprint"))
    assert(w.scans <= 2 && w.shuffles <= 6 && w.fallbackExprs.isEmpty, s"$w")
    val e = auditOf(run("embed_contamination"))
    assert(e.scans == 1 && e.shuffles <= 2 &&
      e.broadcastJoins + e.sortMergeJoins == 0 && e.fallbackExprs.isEmpty, s"$e")
  }

  // r14 shapes. uniq_theta_ops: ONE fact scan folds into |types| sketch
  // cells (agg exchange), the pair algebra is a broadcast cross join of
  // the ≤|types|-row cell frame against itself — NEVER a second fact scan
  // or a fact self-join (the audience_overlap contrast). trending_topk:
  // the per-type anchor day must BROADCAST-join back (a fact-grain
  // max-window would single-partition 60M rows/type at sf10); then one
  // (type,user) agg exchange + the rank window on the collapsed grain.
  // relational_division: one (type,user) agg pipeline, zero joins.
  test("r14 ops: sketch cells broadcast, anchors broadcast, no fact self-join") {
    // r17 two-scale audit: the persisted cell frame STAYS (dropping it was
    // flat at sf0.1 but 1.9× slower at sf10 — the broadcast side
    // re-aggregated the fact). It appears under an InMemoryTableScan on
    // BOTH pair-join sides, so the static scan count reads 2 even though
    // the fact parquet materializes once; the load-bearing pins are the
    // single agg exchange and the absence of any fact-grain sort-merge
    // pair join. The lambda fallback exprs (array_sort/filter) run on the
    // ≤C(types,2) pair grain — ≤10 rows by design, never fact-grain.
    val t = auditOf(run("uniq_theta_ops"))
    assert(t.shuffles <= 2, s"uniq_theta_ops grew a fact-grain exchange: $t")
    assert(t.sortMergeJoins == 0, s"$t")
    val tr = auditOf(run("trending_topk"))
    assert(tr.broadcastJoins >= 1 && tr.sortMergeJoins == 0,
      s"trending_topk anchor join degraded: $tr")
    val rd = auditOf(run("relational_division"))
    assert(rd.scans == 1 && rd.broadcastJoins + rd.sortMergeJoins == 0, s"$rd")
    val rg = auditOf(run("uniq_theta_reagg"))
    assert(rg.scans == 1 && rg.broadcastJoins + rg.sortMergeJoins == 0, s"$rg")
  }

  test("r16 ops: whiten read-out is one scan + cell agg; cent folds share exchanges") {
    // embed_whiten's RETURNED plan is the whitened moment read-out (the
    // model build collects eagerly at fn time): one corpus scan into the
    // partition-local matvec kernel, one ≤2080-row cell agg exchange +
    // the output sort, zero joins — the broadcast matrix never shows up
    // as a join because it rides the task closure
    val w = auditOf(run("embed_whiten"))
    assert(w.scans == 1 && w.shuffles <= 2, s"embed_whiten grew an exchange: $w")
    assert(w.broadcastJoins + w.sortMergeJoins + w.nestedLoopJoins == 0, s"$w")
    // delta_sum_timestamp: the within-day window and the day-cell collapse
    // ride (user, day)-compatible exchanges; the cross-day merge + final
    // agg + output sort stay on the user grain — bounded exchanges, no
    // joins anywhere (the merge law is pure windowing)
    val d = auditOf(run("delta_sum_timestamp"))
    assert(d.scans == 1 && d.shuffles <= 4, s"delta_sum_timestamp exchanges: $d")
    assert(d.broadcastJoins + d.sortMergeJoins + d.nestedLoopJoins == 0, s"$d")
    // bitmap_range_card: single fact fold into |types| cells, range
    // read-outs eval-only on the cell grain
    val b = auditOf(run("bitmap_range_card"))
    assert(b.scans == 1 && b.broadcastJoins + b.sortMergeJoins == 0, s"$b")
    // group_array_intersect: the distinct + two folds + the left join all
    // ride user_id-compatible hash partitionings — no quadratic joins,
    // no fact-grain window
    val g = auditOf(run("group_array_intersect"))
    assert(g.nestedLoopJoins + g.cartesianJoins == 0, s"$g")
  }
}
