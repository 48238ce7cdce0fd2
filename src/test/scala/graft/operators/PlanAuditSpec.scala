package graft

/** Physical-plan audits (the "would this survive 100× scale-up" gate):
  * filters and projections must reach the parquet scan, dimension joins
  * must broadcast, top-k must compile to TakeOrderedAndProject, and the
  * hot paths must stay inside WholeStageCodegen. These assertions pin the
  * plans we designed for, so a regression (e.g. a lost pushdown after a
  * refactor) fails CI instead of surfacing as a 100 TB incident.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    // AQE only materializes the final plan (incl. WholeStageCodegen spans,
    // printed as "*(n)" operator prefixes) after an action on this exact
    // queryExecution; keep only the final-plan section
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q2: filter and projection are pushed to the parquet scan") {
    val p = plan("q2_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"), p)
    assert(!p.contains("l_quantity"), "unprojected column read from scan:\n" + p)
  }

  test("q7: star join broadcasts every dimension hop") {
    val p = plan("q7_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected 4 broadcast joins (orders/customer/nation/region):\n$p")
    assert(!p.contains("SortMergeJoin"), "star join fell back to sort-merge:\n" + p)
  }

  test("q18: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q18_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is partial+final hash aggregate with codegen") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined,
      "aggregate outside WholeStageCodegen:\n" + p)
  }

  test("q19: measures pipeline joins broadcast and stays in codegen") {
    val p = plan("q19_measures")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("""\*\(\d+\) BroadcastHashJoin""".r.findFirstIn(p).isDefined,
      "join outside WholeStageCodegen:\n" + p)
  }

  test("s42: custom cosine expression participates in codegen (no UDF)") {
    val p = plan("s42_ann_brute")
    assert(p.contains("cosinesimilarity") || p.contains("cosine_sim"), p)
    assert(!p.toLowerCase.contains("batchevalpython"), "python UDF in plan")
    assert(!p.contains("ScalaUDF"), "interpreted Scala UDF in plan:\n" + p)
  }

  test("t33: text analysis is a single scan with no shuffle before the sort") {
    val p = plan("t33_token_count")
    assert("Exchange".r.findAllIn(p).size <= 1, // only the final rangepartition sort
      s"unexpected shuffles in scan-shaped query:\n$p")
  }

  // A broadcast() hint FORCES the build side at any size — fine for
  // provably-bounded relations (dimension tables, the df-capped hot
  // shingle set, 1-row aggregates), a 100×-scale OOM for anything that
  // grows with the corpus. Two unbounded families (VERDICT r4 #2 widened
  // the audit from the first to both):
  //  - per-ROW identity columns (one row per order/doc/vector/event);
  //  - per-TERM/GRAM/SHINGLE group keys — vocabulary-like tables whose
  //    cardinality grows with the corpus (Heaps' law), which the r4 audit
  //    missed and t52's pinned broadcast(dfreq) slipped through.
  // AQE choosing broadcast at test scale is fine — the *hint* is what
  // must not exist.
  private val corpusScalingCols = Set(
    // per-row identities
    "doc_id", "id1", "id2", "doc_len", "sz", "sz1", "sz2",
    "o_orderkey", "l_orderkey", "vec_id", "event_id",
    // unbounded-cardinality group keys (vocabulary-like)
    "term", "df", "shingle", "gram", "bigram", "trigram", "g", "chunk_key")

  private def hintedCorpusScalingOutputs(
      df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint => h.child.output.map(_.name.toLowerCase)
    }.filter(_.exists(corpusScalingCols))
  }

  test("no forced broadcast of corpus-scaling relations (q5/q21/t52/d38/t51/t85)") {
    for (q <- Seq("q5_join_inner", "q21_date_diff", "t52_tfidf",
        "d38_dedup_jaccard", "t51_top_bigrams", "t85_repetition",
        "t92_pipeline_e2e", "t98_unigram_logprob", "t101_dsir", "t102_novelty",
        "t114_bigram_logprob", "d112_dup_span_coverage", "s116_knn_classify",
        // round-8: label/event/order tables are corpus-sized — their
        // joins must stay hint-free (AQE decides)
        "s176_hard_negatives", "s178_hard_negatives_lsh",
        "q169_attribution", "q177_linear_attribution", "q182_join_ivm")) {
      val bad = hintedCorpusScalingOutputs(SparkEntry.queries(q)(spark, sf))
      assert(bad.isEmpty,
        s"$q: forced broadcast of a corpus-scaling relation " +
          s"(outputs: ${bad.map(_.mkString(", ")).mkString("; ")})")
    }
  }

  test("hint audit flags a deliberately re-pinned vocabulary broadcast") {
    // audit-of-the-audit (VERDICT r4 #2 'done' criterion): rebuild t52's
    // r4 shape — broadcast hint on the per-term df table — and prove the
    // check above would reject it
    import org.apache.spark.sql.functions._
    val tokens = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
    val dfreq = tokens.groupBy("term").agg(count(lit(1)).as("df"))
    val pinned = tokens.join(broadcast(dfreq), "term")
    assert(hintedCorpusScalingOutputs(pinned).nonEmpty,
      "audit failed to flag a forced broadcast of a per-term table")
  }

  test("q100: correlated scalar subquery decorrelates to an aggregate + equi-join") {
    val p = plan("q100_correlated")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"correlated subquery executed as a per-row loop:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("t102: the gram stream shuffles exactly once") {
    // the explicit gram co-partition must serve BOTH the distinct-pair
    // aggregation and the first-doc window — a second gram exchange means
    // the heaviest stream in the query (every 8-gram instance) travels
    // the network twice at 100 TB
    val p = plan("t102_novelty")
    assert("Exchange hashpartitioning\\(gram".r.findAllIn(p).size == 1,
      s"t102: gram stream shuffled more than once:\n$p")
  }

  test("t113: hashed classifier is a single scan with no pre-sort shuffle") {
    // the whole point of the hashing trick: model application without a
    // vocabulary join — any Exchange besides the presentation sort means
    // a join/aggregate crept into the per-row fold
    val p = plan("t113_quality_classifier")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"t113 must stay scan-shaped:\n$p")
  }

  test("d112: the 8-gram stream shuffles exactly once (t102's co-partition)") {
    val p = plan("d112_dup_span_coverage")
    assert("Exchange hashpartitioning\\(gram".r.findAllIn(p).size == 1,
      s"d112: gram stream shuffled more than once:\n$p")
  }

  test("q126: the range join runs as a bucket equi-join, not a nested loop") {
    // the bucket grid exists precisely so the point-in-interval predicate
    // never evaluates as an O(points × intervals) nested-loop join over
    // the EVENT side; the only nested-loop allowed is the calendar-sized
    // interval roster completion
    val df = SparkEntry.queries("q126_range_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian range join:\n$p")
    assert(p.contains("hashpartitioning(bucket") || p.contains("BroadcastHashJoin"),
      s"bucket key must drive a hash join:\n$p")
  }

  test("q125: base and delta cutoff filters reach both parquet scans") {
    // the incremental-maintenance promise is partition pruning on the
    // delta side — if the cutoff predicate stops reaching the scan, the
    // "incremental" path quietly re-reads the full table
    val p = plan("q125_incremental_agg")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"base-side cutoff not pushed:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"delta-side cutoff not pushed:\n$p")
  }

  test("q105: both CDC windows share one exchange on the key") {
    val p = plan("q105_upsert_latest")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"q105: rank and version-count windows should stack on one key shuffle:\n$p")
  }

  test("q104: the exact heavy-hitter side is TakeOrdered, not a global window") {
    val p = plan("q104_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"q104: exact top-20 must compile to TakeOrderedAndProject:\n$p")
  }

  test("t92: end-to-end pipeline reads the corpus at most twice") {
    // VERDICT r4 #3: the composition must stay single-pass per signal
    // family — one scan for the per-row projection, one for the n-gram
    // stats. A regression to per-stage scans multiplies corpus IO at
    // 100 TB.
    val p = plan("t92_pipeline_e2e")
    val scans = "(?i)FileScan parquet|BatchScan".r.findAllIn(p).size
    assert(scans <= 2, s"t92 physical plan holds $scans corpus scans (>2):\n$p")
  }

  test("q110: profiling all columns costs two streaming scans, no corpus sort") {
    // two passes by design (distinct/nulls hash branch + zero-key min/max
    // branch) — NOT one per column, and never a SortAggregate over the
    // 7×-expanded distinct rewrite (string min/max buffers would force it
    // in a fused plan)
    val p = plan("q110_profile")
    val scans = "(?i)FileScan parquet|BatchScan".r.findAllIn(p).size
    assert(scans == 2, s"q110 physical plan holds $scans scans (want 2):\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"q110 distinct branch lost its HashAggregate shape:\n$p")
  }

  test("sampling/chunking/redaction operators stay scan-shaped (no pre-sort shuffle)") {
    for (q <- Seq("t69_split_assign", "t70_source_mixture", "t72_chunk_windows",
        "t73_sentences", "t74_redact", "s75_quantize_int8")) {
      val p = plan(q)
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q: unexpected shuffles in scan-shaped query:\n$p")
      assert(!p.contains("ScalaUDF"), s"$q: interpreted UDF in plan:\n$p")
    }
  }

  test("round-7 analytics run as hash joins — no nested loop, no cartesian") {
    // funnel/cohort/triangles/bands join only on equi keys; sliding-window
    // and rolling-active expand rows instead of range-joining, so none of
    // these plans may fall back to a nested loop at any scale
    for (q <- Seq("q130_funnel", "q131_cohort_retention", "q133_transition_matrix",
        "q134_rolling_active", "s135_knn_triangles", "t137_length_bands",
        "m136_media_near_dup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in plan:\n$p")
      // the only sanctioned nested loop is the kNN exact tier's B²-row
      // block-grid broadcast (bounded by the tier gate, not the corpus)
      if (q != "s135_knn_triangles")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: nested loop in plan:\n$p")
    }
    // the sliding window needs NO join at all — overlap is an Expand/
    // Explode on the map side, the property that keeps it linear
    val slide = plan("q132_sliding_window")
    assert(!slide.contains("Join"), s"q132 should be join-free:\n$slide")
    // the band boundary table must not carry a forced broadcast (t52 rule)
    val banded = hintedCorpusScalingOutputs(
      SparkEntry.queries("t137_length_bands")(spark, sf))
    assert(banded.isEmpty, "t137: forced broadcast of the boundary table")
  }

  test("q141: all three SCD2 windows stack on a single exchange") {
    val p = plan("q141_scd2_dimension")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"q141 should shuffle once on the key, saw $exchanges:\n$p")
    assert(!p.contains("Join"), s"q141 should be join-free:\n$p")
  }

  test("q142: CDC diff is one shuffled full-outer equi-join, no nested loop") {
    val p = plan("q142_snapshot_cdc")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"q142 should co-partition both snapshots:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q142: non-equi join shape:\n$p")
  }

  test("d194: star rounds are groupBy-only — no cartesian, no nested loop, no label-table join") {
    val p = plan("d194_clusters_bigstar")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d194: non-equi join shape:\n$p")
    // the fixpoint edge set is a localCheckpoint scan, so the final plan
    // must not re-derive the pair graph
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"d194: expected checkpointed edges at the leaves:\n$p")
  }

  test("q195/q199: sketch builds are single partial+final object aggregates") {
    for (name <- Seq("q195_count_min", "q199_heavy_hitters_mg")) {
      val p = plan(name)
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$name: typed-imperative aggregate missing:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: probe join must be an equi-join:\n$p")
    }
  }

  test("t196: term joins are equi-joins with no forced broadcast (AQE picks the strategy)") {
    // at this sf AQE auto-broadcasts the tiny vocab tables — correct
    // adaptively, and it flips to shuffled joins once vocab outgrows the
    // threshold BECAUSE the code never hints broadcast on the term joins.
    // The audit pins the forbidden shapes only.
    val p = plan("t196_moore_lewis")
    assert(!p.contains("CartesianProduct"), s"t196: cartesian:\n$p")
    val lp = SparkEntry.queries("t196_moore_lewis")(spark, sf)
      .queryExecution.logical.toString
    // the only broadcast HINTS allowed are the three 1-row scalar totals
    assert("ResolvedHint".r.findAllIn(lp).size <= 3,
      s"t196: a vocab-sized join carries a broadcast hint:\n$lp")
  }

  test("s197: candidate scoring broadcasts only the query set") {
    val p = plan("s197_mrl_recall")
    assert(!p.contains("CartesianProduct"), s"s197: cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"s197: query-set broadcast missing:\n$p")
    // the =!= join condition makes the broadcast side the 5-row query
    // set; the corpus side must remain a streamed scan (no corpus-sized
    // exchange before the scoring join)
    assert(p.contains("l2sq") || p.contains("squaredl2"),
      s"s197: codegen'd L2 missing:\n$p")
  }

  test("s210: trained-PQ serving joins broadcast only codebook-sized sides") {
    val p = plan("s210_pq_trained")
    assert(!p.contains("CartesianProduct"), s"s210: cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"s210: expected broadcast joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"s210: nested loop:\n$p")
    assert(p.contains("l2sq") || p.contains("squaredl2"),
      s"s210: codegen'd integer L2 missing:\n$p")
  }

  test("q208: CEP collapses to one user-keyed aggregate; the regex pass is scan work") {
    val p = plan("q208_event_pattern_cep")
    assert(!p.contains("Join"), s"q208 should be join-free:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      s"q208: more than one user-keyed shuffle:\n$p")
  }

  test("d211: soft dedup adds only an equi-join and scan-local hashing over d62") {
    val p = plan("d211_soft_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d211: non-equi join shape:\n$p")
  }

  test("s140: PQ encode/ADC/rerank joins broadcast the KB-sized sides only") {
    // codebook (2048 rows), distance tables (2048/query-set), query
    // vectors (5): every join's build side is bounded by the codebook,
    // never the corpus — the corpus side streams exactly like a scan
    val p = plan("s140_pq_ann")
    assert(!p.contains("CartesianProduct"), s"s140: cartesian in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"s140: expected broadcast joins:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"s140: nested loop:\n$p")
    // the codegen'd L2 expression, not an interpreted HOF, scores candidates
    assert(p.contains("l2sq") || p.contains("squaredl2"),
      s"s140: SquaredL2Distance missing from plan:\n$p")
    assert(!p.toLowerCase.contains("aggregate(zip_with"),
      s"s140: interpreted HOF distance survived:\n$p")
  }

  test("s139: cross-modal featurization is scan-local; only the query set broadcasts") {
    val p = plan("s139_cross_modal")
    // featurizer = one MapPartitions over the documents scan — no shuffle
    // may appear between the scan and the serialize-from-object boundary
    assert(p.contains("MapPartitions"), s"s139: featurizer missing:\n$p")
    // 5 query vectors ride a broadcast; the media corpus must not
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"s139: query set should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"s139: cartesian in plan:\n$p")
    // the only exchange after scoring is the k-row-per-query heap merge
    assert(p.contains("topk_by_score"), s"s139: bounded-heap top-k missing:\n$p")
  }

  test("t146: weighted sample's top-k compiles to TakeOrderedAndProject") {
    val p = plan("t146_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"t146: A-ES selection must be a bounded heap, not a global sort:\n$p")
  }

  test("t147: compression signal is scan-shaped — featurize, then one aggregate shuffle") {
    val p = plan("t147_compression_ratio")
    assert(p.contains("MapPartitions"), s"t147: deflate stage missing:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"t147: expected one shuffle (per-source agg), saw $exchanges:\n$p")
    assert(p.contains("partial"), s"t147: map-side partial aggregation missing:\n$p")
  }

  test("q148: percentile bounds broadcast back onto the fact; no cartesian") {
    val p = plan("q148_robust_stats")
    assert(p.contains("BroadcastHashJoin"),
      s"q148: the 3-row bounds table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q148: non-equi shape:\n$p")
  }

  test("q269/sketch tier: KLL runs as partial+final ObjectHashAggregate; q269 stays equi-join") {
    // q269's randomized sketch stats are localCheckpoint-pinned (one
    // draw for all claims), which truncates their lineage out of the
    // final plan — so the sketch-path physical shape is audited on
    // q148's conf-forced tier (the same robustStats code path), and
    // q269's own final plan is pinned join-shape-only.
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      val sk = plan("q148_robust_stats")
      assert(sk.contains("kll_sketch_agg"),
        s"sketch tier must aggregate KLL sketches:\n$sk")
      assert("ObjectHashAggregate".r.findAllIn(sk).size >= 2,
        s"sketch tier: expected partial+final ObjectHashAggregate pair:\n$sk")
      assert(!sk.contains("percentile("),
        s"sketch tier must not run an exact percentile over the fact:\n$sk")
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
    val p = plan("q269_robust_stats_sketch")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q269: non-equi shape:\n$p")
  }

  test("q167 auto-tier: above the limit the global ntile sort disappears") {
    // exact tier = ntile over a single-partition sort of the user frame
    // (the documented t127 bound); sketch tier = KLL boundary banding —
    // the checkpointed 1-row bounds hide the kll aggregate from this
    // plan, so the pin is the ABSENCE of the sort: no ntile window and
    // no user-frame SinglePartition exchange may survive
    val exactPlan = plan("q167_decile_lift")
    assert(exactPlan.contains("ntile"),
      s"q167 exact tier should rank with ntile:\n$exactPlan")
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      val p = plan("q167_decile_lift")
      assert(!p.contains("ntile"),
        s"q167 above the limit must not run the exact ntile:\n$p")
      // the only SinglePartition work left is the 10-row decile window
      val userSorts = "Sort \\[spend".r.findAllIn(p).size
      assert(userSorts == 0,
        s"q167 above the limit must not globally sort the user frame:\n$p")
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
  }

  test("percentile auto-tier: with the conf limit below the corpus, q148/t98/t137 switch to KLL") {
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      Seq("q148_robust_stats", "t98_unigram_logprob", "t137_length_bands")
        .foreach { q =>
          val p = plan(q)
          assert(p.contains("kll_sketch_agg"),
            s"$q above the limit must aggregate sketches:\n$p")
          assert(!p.contains("percentile("),
            s"$q above the limit must not run an exact percentile:\n$p")
        }
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
  }

  test("q280: the Z-order bucket IN-list prunes partitions at planning time") {
    val p = plan("q280_zorder_pruning")
    assert("PartitionFilters: \\[[^\\]]*zb#".r.findFirstIn(p).isDefined,
      s"q280: bucket IN-list must reach the scan as a partition filter:\n$p")
    assert(p.contains("PushedFilters: [") &&
      (p.contains("GreaterThanOrEqual(l_partkey") ||
        p.contains("l_partkey") && p.contains("PushedFilters")),
      s"q280: residual rectangle predicates must push to parquet:\n$p")
  }

  test("q233 auto-tier: above the limit the single-partition rank window disappears") {
    // exact tier = rank + running sum in ONE empty-partition-spec window
    // (a SinglePartition sort of the part grain — fine at gate scale,
    // the named scale-killer at 100 TB); banded tier = the same pair of
    // windows partitioned BY band (the KLL-cut prefix-sum shape), so the
    // pin is the window's partition spec: no window may sort the part
    // frame globally
    val exactPlan = plan("q233_abc_pareto")
    assert(exactPlan.contains("windowspecdefinition(part_cents#"),
      s"q233 exact tier should rank in one global window:\n$exactPlan")
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      val p = plan("q233_abc_pareto")
      assert(!p.contains("windowspecdefinition(part_cents#"),
        s"q233 above the limit must not run an empty-partition-spec window:\n$p")
      assert(p.contains("windowspecdefinition(band#"),
        s"q233 banded tier should window partitioned by band:\n$p")
      assert("Sort \\[part_cents".r.findAllIn(p).isEmpty,
        s"q233 above the limit must not globally sort the part frame:\n$p")
      assert(p.contains("Exchange hashpartitioning(band#"),
        s"q233 banded tier's only added shuffle is the band repartition:\n$p")
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
  }

  test("q175 auto-tier: above the limit the global key rank disappears; top-10 is a bounded heap") {
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      val p = plan("q175_skew_report")
      assert(!p.contains("row_number"),
        s"q175 above the limit must not rank the full key grid:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"q175 sketch tier: top-10 must be a bounded heap:\n$p")
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
  }

  test("q228 auto-tier: above the limit all three ntile sorts disappear") {
    spark.conf.set("spark.graft.stats.exactPercentileLimit", "0")
    try {
      val p = plan("q228_rfm_segments")
      assert(!p.contains("ntile"),
        s"q228 above the limit must band by quintile boundaries, not ntile:\n$p")
    } finally spark.conf.unset("spark.graft.stats.exactPercentileLimit")
  }

  test("q149: EWMA runs on a single user_id shuffle end to end") {
    // rank window, count window, and final aggregate all key on user_id —
    // one exchange must satisfy every stage
    val p = plan("q149_ewma_features")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"q149: expected one user_id shuffle, saw $exchanges:\n$p")
  }

  test("q151: path mining tops out in TakeOrderedAndProject") {
    val p = plan("q151_event_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"q151: top-20 must be a bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"q151: cartesian:\n$p")
  }

  test("d145: PassJoin candidates are a shuffled equi-join, never a cross product") {
    // index and probe sides each fan out through a Generate (explode of a
    // constant-bounded array) and meet on (L, seg_i, substring) — an
    // equi-shuffle; the quadratic shape would show up as
    // CartesianProduct/BroadcastNestedLoopJoin
    val p = plan("d145_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d145: non-equi candidate generation:\n$p")
    assert(p.contains("Generate explode"), s"d145: segment fan-out missing:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"d145: hash candidate join missing:\n$p")
  }

  test("round-8 second wave: sketch/seasonal/overlap/PMI plans hold their shapes") {
    // q157: the rollup must aggregate partial+final (mergeable sketches),
    // with the T-row exact side joining small — never a cartesian
    val sketch = plan("q157_sketch_rollup")
    assert(sketch.contains("partial"), s"q157: map-side partial agg missing:\n$sketch")
    assert(!sketch.contains("CartesianProduct"), s"q157: cartesian:\n$sketch")
    // q158: the seasonal baseline (|types|×168 rows) broadcasts back onto
    // the hourly grid; no non-equi join may appear
    val seas = plan("q158_seasonal_anomaly")
    assert(seas.contains("BroadcastHashJoin"),
      s"q158: baseline must broadcast:\n$seas")
    assert(!seas.contains("CartesianProduct") &&
      !seas.contains("BroadcastNestedLoopJoin"), s"q158: non-equi shape:\n$seas")
    // q162: audiences meet on a shuffled user_id equi-join; the T-row
    // size table broadcasts
    val ov = plan("q162_audience_overlap")
    assert(!ov.contains("CartesianProduct") &&
      !ov.contains("BroadcastNestedLoopJoin"), s"q162: non-equi shape:\n$ov")
    assert(ov.contains("BroadcastHashJoin"), s"q162: sizes should broadcast:\n$ov")
    // t160: the two corpus totals ride the sanctioned 1-row lazy-scalar
    // broadcast (F15); the top-50 must be a bounded heap, not a global sort
    val pmi = plan("t160_pmi_collocations")
    assert(pmi.contains("TakeOrderedAndProject"),
      s"t160: top-50 must compile to a bounded heap:\n$pmi")
    assert(!pmi.contains("CartesianProduct"), s"t160: cartesian:\n$pmi")
  }

  test("s159/s161: MMR and k-hop stay candidate-bounded — no cartesian") {
    // s159: candidate generation is s42's broadcast-scored pass into the
    // bounded TopKByScore heap; every MMR stage runs on ≤10 rows/query
    val mmr = plan("s159_mmr_diversify")
    assert(mmr.contains("topk_by_score"),
      s"s159: bounded-heap candidate pool missing:\n$mmr")
    assert(!mmr.contains("CartesianProduct"), s"s159: cartesian:\n$mmr")
    // s161: mutual edges and the 2-hop expansion are equi-joins on vertex
    // keys (the exact tier's block grid is the only sanctioned broadcast)
    val khop = plan("s161_khop_reach")
    assert(!khop.contains("CartesianProduct"), s"s161: cartesian:\n$khop")
  }

  test("s163: MaxSim streams the corpus once; only the 8-vector query set broadcasts") {
    val p = plan("s163_maxsim")
    // the query side rides the sanctioned non-equi broadcast (s42's shape);
    // the corpus side must never be the build side of anything
    assert(p.contains("topk_by_score"), s"s163: bounded-heap top-k missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"s163: cartesian:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"s163: corpus scanned $scans times (want ≤2):\n$p")
  }

  test("q167: spend collapses per user before the single-partition ntile sort") {
    val p = plan("q167_decile_lift")
    // the ONLY corpus-sized shuffle is the per-user partial+final sum;
    // the global ntile sort runs on the aggregated user frame
    assert(p.contains("partial"), s"q167: map-side partial agg missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"q167: non-equi shape:\n$p")
  }

  test("round-8 third wave: basket/quality/KLL/AB/attribution plan shapes") {
    // q164: candidate pairs come from an equi-self-join on the basket
    // key (fan-out bounded by basket width); supports broadcast; the
    // top-20 is a bounded heap
    val basket = plan("q164_basket_rules")
    assert(!basket.contains("CartesianProduct"), s"q164: cartesian:\n$basket")
    assert(basket.contains("BroadcastHashJoin"),
      s"q164: support tables must broadcast:\n$basket")
    assert(basket.contains("TakeOrderedAndProject"),
      s"q164: top-20 must be a bounded heap:\n$basket")
    // q165: all orders metrics fold into ONE aggregate over ONE scan of
    // orders plus the RI join's scan — the stack runs on a single row
    val qc = plan("q165_quality_checks")
    assert(!qc.contains("CartesianProduct") || qc.contains("BroadcastNestedLoopJoin"),
      s"q165: the only cross join is the sanctioned 1-row attach:\n$qc")
    assert("Scan parquet .*orders".r.findAllIn(qc).size <= 2,
      s"q165: orders must not be re-scanned per check:\n$qc")
    // q166: the KLL aggregates must run partial+final (ObjectHashAggregate
    // over the TypedImperativeAggregate) so only sketch blobs cross the
    // exchange; the 5-row estimate table broadcasts back
    val kll = plan("q166_quantile_rollup")
    assert(kll.contains("ObjectHashAggregate"),
      s"q166: sketch agg must be ObjectHashAggregate:\n$kll")
    assert(kll.contains("partial_kll_sketch_agg"),
      s"q166: map-side partial sketch missing:\n$kll")
    assert(kll.contains("BroadcastHashJoin"),
      s"q166: estimates must broadcast for the rank audit:\n$kll")
    // q168: one user_id aggregate, one 2-row variant aggregate — no join
    val ab = plan("q168_ab_test")
    assert(ab.contains("partial"), s"q168: map-side partial agg missing:\n$ab")
    assert(!ab.contains("Join"), s"q168: unexpected join:\n$ab")
    // q169: the as-of composition is one window over the union — a
    // single key shuffle, no join of any kind before the channel rollup
    val attr = plan("q169_attribution")
    assert(!attr.contains("Join"), s"q169: as-of must not join:\n$attr")
    assert(attr.contains("Window"), s"q169: carry-forward window missing:\n$attr")
  }

  test("round-8 fourth wave: theta/resample/rolling plan shapes") {
    // q170: the sketch aggregate must run partial+final so only compact
    // blobs cross the exchange; the sketch-pair cross is the sanctioned
    // 5-row broadcast, never a CartesianProduct
    val theta = plan("q170_theta_overlap")
    assert(theta.contains("partial_theta_long_sketch_agg"),
      s"q170: map-side partial sketch missing:\n$theta")
    assert(theta.contains("ObjectHashAggregate"),
      s"q170: sketch agg must be ObjectHashAggregate:\n$theta")
    assert(!theta.contains("CartesianProduct"), s"q170: cartesian:\n$theta")
    // q171: corpus collapses in ONE partial+final hourly aggregate; the
    // calendar spine attaches by broadcast; windows run on the grid
    val rs = plan("q171_resample_interpolate")
    assert(rs.contains("partial"), s"q171: map-side partial agg missing:\n$rs")
    assert(!rs.contains("CartesianProduct"), s"q171: cartesian:\n$rs")
    assert(rs.contains("Window"), s"q171: interpolation windows missing:\n$rs")
    // q172: daily grid from one partial+final count; bounded 7-row frames
    val rm = plan("q172_rolling_median")
    assert(rm.contains("partial"), s"q172: map-side partial agg missing:\n$rm")
    assert(rm.contains("Window"), s"q172: rolling window missing:\n$rm")
    assert(!rm.contains("Join"), s"q172: unexpected join:\n$rm")
    // q173: μ/MAD broadcast back onto the daily grid; CUSUM is pure
    // windows — no cartesian, no nested loop
    val cu = plan("q173_cusum_changepoint")
    assert(cu.contains("partial"), s"q173: map-side partial agg missing:\n$cu")
    assert(cu.contains("BroadcastHashJoin"),
      s"q173: baselines must broadcast:\n$cu")
    assert(!cu.contains("CartesianProduct") &&
      !cu.contains("BroadcastNestedLoopJoin"), s"q173: non-equi shape:\n$cu")
    assert(cu.contains("Window"), s"q173: prefix-sum windows missing:\n$cu")
    // q174: corpus collapses in one partial+final monthly aggregate;
    // the lags run on the |months| grid
    val pg = plan("q174_period_growth")
    assert(pg.contains("partial"), s"q174: map-side partial agg missing:\n$pg")
    assert(!pg.contains("Join"), s"q174: unexpected join:\n$pg")
    // q175: one key aggregate, rank windows on the |keys| grid only
    val sk = plan("q175_skew_report")
    assert(sk.contains("partial"), s"q175: map-side partial agg missing:\n$sk")
    assert(!sk.contains("Join"), s"q175: unexpected join:\n$sk")
    // s191: the Gram matrix must fold in ONE ObjectHashAggregate pass —
    // the corpus is never exploded ×d² before the exchange
    val gram = plan("s191_embedding_gram")
    assert(gram.contains("partial_gram_matrix_agg"),
      s"s191: map-side partial Gram fold missing:\n$gram")
    assert("Scan parquet".r.findAllIn(gram).size == 1,
      s"s191: embeddings must be scanned exactly once:\n$gram")
    // q177: the lookback range join must run as the bucket equi-join —
    // hash joins only, never a nested loop over orders×events
    val la = plan("q177_linear_attribution")
    assert(!la.contains("CartesianProduct") &&
      !la.contains("BroadcastNestedLoopJoin"), s"q177: non-equi shape:\n$la")
    // q182: all four IVM terms are hash equi-joins with the cutoff
    // predicates pushed to the parquet scans
    val ivm = plan("q182_join_ivm")
    assert(!ivm.contains("CartesianProduct") &&
      !ivm.contains("BroadcastNestedLoopJoin"), s"q182: non-equi shape:\n$ivm")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(ivm).isDefined &&
      "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(ivm).isDefined,
      s"q182: cutoff predicates must reach the scans:\n$ivm")
  }

  test("round-10 linkage/CF/eval/drift run as equi-joins — no cartesian, no nested loop") {
    // d219 joins ONLY on the blocking prefix; s226 on custkey/item keys;
    // s235 on label; the eval aggregates carry no join at all — none of
    // these plans may fall back to a pair-enumerating shape at any scale
    for (q <- Seq("d219_record_linkage", "s226_item_cf", "q220_auc_roc",
        "q221_confusion_f1", "q222_ece_calibration", "s235_embedding_drift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: nested loop in plan:\n$p")
    }
  }

  test("round-10 scalar attachments: no cartesian anywhere, Q10 broadcasts the dim") {
    // q233/q227/q223 attach 1-row totals (the sanctioned F15 lazy-scalar
    // nested loop); a true cartesian is still forbidden
    for (q <- Seq("q233_abc_pareto", "q227_psi_drift", "q223_kaplan_meier",
        "q228_rfm_segments", "q234_user_growth")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in plan:\n$p")
    }
    val q10 = plan("q224_tpch_q10")
    assert(q10.contains("BroadcastHashJoin"), s"q224: nation dim must broadcast:\n$q10")
    assert(!q10.contains("CartesianProduct"), s"q224: cartesian:\n$q10")
  }

  test("q241: every Q6 predicate reaches the parquet scan") {
    val p = plan("q241_tpch_q6")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined &&
      "PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(p).isDefined &&
      "PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined,
      s"q241: predicates must push to the scan:\n$p")
    assert(!p.contains("Join"), s"q241 is single-table:\n$p")
  }

  test("q266: the equi side filters null keys before the join; the null-safe side keeps them") {
    // the scaladoc's claim made falsifiable: Catalyst derives isnotnull
    // on both inputs of the `=` join (the null bucket never reaches the
    // exchange), and no such filter may exist for the `<=>` join
    val p = plan("q266_null_safe_join")
    val joins = p.split("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin")
    assert(joins.length >= 3, s"q266 must run two joins:\n$p")
    // Catalyst rewrites the null test THROUGH the nullif and pushes it
    // to the equi side's scan: `if ((o_orderstatus = O)) false else
    // isnotnull(o_orderstatus)` appears in the scan's DataFilters
    assert("isnotnull\\(o_orderstatus".r.findFirstIn(p).isDefined,
      s"q266: equi side must null-filter its key below the join:\n$p")
    // the null-safe join plans as composite coalesce+isnull hash keys —
    // NULL becomes an ordinary hashable value, which is the semantics
    assert("coalesce\\(status_key".r.findFirstIn(p).isDefined &&
      "isnull\\(status_key".r.findFirstIn(p).isDefined,
      s"q266: the null-safe join must hash NULL as a value:\n$p")
  }

  test("q240: the bucketed join runs with NO exchange on either side") {
    // both tables pre-hashed into 8 matching buckets — the whole point
    // of the layout is that the join pays zero shuffle; a regression
    // here (lost bucketing metadata, mismatched bucket counts) is
    // exactly the 100 TB incident this tier exists to prevent
    val df = SparkEntry.queries("q240_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val joinSection = p.split("HashAggregate")(p.split("HashAggregate").length - 1)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"q240: join missing:\n$p")
    assert(!joinSection.contains("Exchange hashpartitioning"),
      s"q240: the bucketed join must not shuffle its inputs:\n$p")
    assert(p.contains("Bucketed: true"), s"q240: scans not bucketed:\n$p")
  }

  test("round-10 TPC-H wave: hash joins only; scalar thresholds broadcast") {
    // q248/q249/q255 attach a 1-row scalar via the sanctioned lazy-scalar
    // broadcast (shows as BroadcastNestedLoopJoin); everything else in the
    // wave must run pure hash joins — a nested loop or cartesian on any
    // fact-sized side would be a 100 TB killer
    // full executedPlan string INCLUDING the initial-plan section — the
    // final-plan section alone elides subtrees inside already-materialized
    // ShuffleQueryStages, which would let a negative check pass vacuously
    def fullPlan(q: String): String = {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val scalarAttach = Set("q248_tpch_q22", "q249_tpch_q15", "q255_tpch_q11")
    for (q <- Seq("q243_tpch_q4", "q244_tpch_q13", "q245_tpch_q17",
        "q246_tpch_q19", "q247_tpch_q21", "q248_tpch_q22", "q249_tpch_q15",
        "q250_tpch_q7", "q251_tpch_q8", "q252_tpch_q2", "q253_tpch_q9",
        "q255_tpch_q11", "q256_tpch_q12", "q257_tpch_q16", "q258_tpch_q20")) {
      val p = fullPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian in plan:\n$p")
      if (!scalarAttach(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q: nested loop in plan:\n$p")
      else
        assert(p.contains("BroadcastExchange"),
          s"$q: the scalar threshold must broadcast:\n$p")
    }
    // Q4's EXISTS must stay a semi join (probe-side dedup inside the join,
    // never a one-to-many blowup), Q16's NOT IN an anti join. Checked on
    // the optimized logical plan — AQE's final-plan string elides joins
    // that land inside already-materialized ShuffleQueryStages.
    def logical(q: String): String =
      SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
    assert(logical("q243_tpch_q4").contains("LeftSemi"), "q243: EXISTS not a semi join")
    assert(logical("q257_tpch_q16").contains("LeftAnti"), "q257: NOT IN not an anti join")
  }

  test("q259: the month scan is pruned by a RUNTIME dpp subquery") {
    // the dim filter is on the quarter label (a non-partition attribute),
    // so only dynamic partition pruning can skip month directories
    val df = SparkEntry.queries("q259_dynamic_pruning")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"q259: no dynamic pruning subquery in PartitionFilters:\n$p")
  }

  test("q260: with broadcast off, a bloom probe lands on the fact scan side") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = graft.Tables.lineitem(spark, sf)
        .select(col("l_partkey"), (col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))).as("rev"))
      val j = li.join(graft.Tables.part(spark, sf)
            .filter(col("p_brand") === "Brand#23").select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_type").agg(count(lit(1)).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"q260: no runtime bloom probe injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("s225/s230: the query set broadcasts; the corpus side streams") {
    for (q <- Seq("s225_radius_search", "s230_ann_filtered")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: query-set broadcast missing:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
      // the corpus must not be exchanged before the scoring join — the
      // scan feeds the broadcast join directly
      assert(!"Exchange hashpartitioning\\([^)]*vec_id".r.findFirstIn(
        p.split("BroadcastNestedLoopJoin|BroadcastHashJoin")(0)).isDefined ||
        q == "s230_ann_filtered",
        s"$q: corpus-side exchange before the scoring join:\n$p")
    }
  }
}
