package graft.queries

import graft.SparkTestBase

/** Plan-quality regression guards: these properties are what make the
  * queries scale (SURVEY §4); losing one in a refactor must fail CI, not
  * surface as a 100x slowdown on a cluster. Runs against sf0.001. */
class PlanQualitySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("filter + projection reach the parquet scan (q02)") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag)"), p.take(800))
    // pruned read schema: no l_tax / l_shipdate in the scan
    assert(!p.contains("l_tax"), "scan reads unneeded columns")
  }

  test("small dimension joins broadcast; fact side never shuffles (q05)") {
    val p = plan("q05_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("aggregations are map-side partial before the exchange (q01)") {
    val p = plan("q01_pricing_summary")
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    // plan prints top-down: final agg, exchange, partial agg — a partial
    // agg must exist BELOW (after) the exchange in the printed tree
    assert(p.indexOf("HashAggregate", firstExchange) > firstExchange,
      "no partial aggregation below the shuffle")
  }

  test("ANN top-k applies WindowGroupLimit before the shuffle (q29)") {
    val p = plan("q29_ann_bruteforce")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(p.contains("BroadcastExchange"), "query set not broadcast")
  }

  test("hard-negative mining: anchors broadcast, top-k group-limited (q114)") {
    val p = plan("q114_hard_negatives")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(p.contains("BroadcastExchange"), "anchor set not broadcast")
  }

  test("boilerplate strip joins on digests only; text never joins text (q111)") {
    val p = plan("q111_boilerplate_strip")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // membership join keys on the md5 chunk digest
    assert(p.contains("__h"), "digest join key missing")
  }

  test("shard manifest is one combinable aggregation, no global sort (q112)") {
    val p = plan("q112_shard_manifest")
    assert(!p.contains("rangepartitioning"), "global sort crept in:\n" + p.take(800))
    assert(p.contains("partial_"), "aggregation not map-side partial")
  }

  test("epoch mix fans out narrowly: no shuffle after the broadcast joins (q113)") {
    val p = plan("q113_epoch_mix")
    assert(p.contains("BroadcastExchange"), "per-source counts not broadcast")
    // the only exchanges allowed are for the two tiny aggregates +
    // their broadcasts — the doc payload itself never hash-shuffles
    assert(!p.contains("hashpartitioning(doc_id"), p.take(800))
  }

  test("overlap audit joins on digests; sketch twin group-limits signatures (q117, q118)") {
    val p = plan("q117_source_overlap")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastExchange"), "pair totals not broadcast")
    val p2 = plan("q118_source_overlap_kmv")
    assert(p2.contains("WindowGroupLimit"), "KMV signatures not group-limited")
  }

  test("image resize is one narrow pass: zero exchanges, payloads never shuffle (q155)") {
    val p = plan("q155_image_resize")
    assert(!p.contains("Exchange"),
      "resize-on-ingest must be shuffle-free:\n" + p.take(800))
    assert(p.contains("FileScan parquet"), p.take(400))
  }

  test("native expressions appear in the similarity plans (q30)") {
    val p = plan("q30_label_cohesion")
    assert(p.contains("graft_cosine"), p.take(800))
  }

  test("similarity pair queries join on LSH band buckets, not coarse keys (q31, q62)") {
    // a join whose only equi-keys are (source, lang) is quadratic in block
    // size; candidates must come from band-bucket agreement
    for (q <- Seq("q31_ngram_jaccard", "q62_edit_distance")) {
      val p = plan(q)
      assert(p.contains("__bucket"), s"$q: no band-bucket join in plan")
      assert(p.contains("__band"), s"$q: no band lane key in plan")
    }
  }

  test("stratified sampling is a pure scan+filter: no shuffle at all (q74)") {
    val p = plan("q74_stratified_sample")
    assert(!p.contains("Exchange"), "hash sampling must not shuffle:\n" + p.take(800))
  }

  test("as-of join is one window pass, not a range join (q75)") {
    val p = plan("q75_asof_join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of degraded to a pair-exploding join")
    // exactly ONE exchange: the user_id hash partitioning for the window
    assert(p.sliding("Exchange hashpartitioning".length).count(
      _ == "Exchange hashpartitioning") == 1, "expected a single hash exchange")
  }

  test("BM25 broadcasts the one-row stats, never shuffles the corpus (q77)") {
    val p = plan("q77_bm25")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "stats join degraded to SMJ")
  }

  test("gap-fill reuses the user_id partitioning between join and fill window (q79)") {
    val p = plan("q79_gap_fill")
    // the forward-fill window must not introduce a second hashpartitioning
    // on user_id beyond the ones feeding the join (AQE may reuse); assert
    // no cartesian anywhere and that a Window over user_id exists
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), "spine construction went cartesian-unbounded")
  }

  test("CDC compaction is a partial-aggregated groupBy, no window sort (q80)") {
    val p = plan("q80_cdc_snapshot")
    assert(!p.contains("Window"), "latest-wins should be max_by aggregation, not a window")
    // max_by lowers to SortAggregate; what matters is the partial phase
    // (map-side combine) sitting BELOW the exchange in the printed tree
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 &&
      p.indexOf("partial_max_by", firstExchange) > firstExchange,
      "no partial max_by below the shuffle:\n" + p.take(800))
  }

  test("heavy hitters apply WindowGroupLimit before the rank shuffle (q85)") {
    val p = plan("q85_top_terms")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("bloom probe sits on the fact side as a native predicate (q89)") {
    val p = plan("q89_bloom_join")
    val probe = p.indexOf("graft_bloom_might_contain")
    assert(probe >= 0, "bloom probe missing from plan:\n" + p.take(800))
    assert(!p.toLowerCase.contains("scalaudf"), "probe degraded to a UDF")
  }

  test("tf-idf top-k ranks via WindowGroupLimit (q90)") {
    val p = plan("q90_tfidf")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("range join goes through bin buckets — equi-join, no nested loop (q83)") {
    val p = plan("q83_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval predicate planned as a pair-exploding join:\n" + p.take(800))
    assert(p.contains("bin"), "no bin bucketing key in the join")
  }

  test("PQ ADC search: broadcast LUTs, WindowGroupLimit top-k, no UDF (q95)") {
    val p = plan("q95_ann_pq")
    // one LUT row per query broadcast against the codes; ADC is pure
    // element_at arithmetic inside codegen
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("WindowGroupLimit"), "top-k not group-limited before shuffle")
    assert(!p.toLowerCase.contains("scalaudf"), "ADC path degraded to a UDF")
  }

  test("IVFADC probes via broadcast hash join on cell — collection never shuffles (q96)") {
    val p = plan("q96_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), "probe join went cartesian")
    assert(!p.contains("SortMergeJoin"), "probe join shuffled the collection")
  }

  test("multimodal dedups join on band chunks, never cartesian (q100, q101)") {
    for (q <- Seq("q100_image_neardup", "q101_audio_neardup")) {
      val p = plan(q)
      assert(p.contains("__chunk"), s"$q: no band-chunk join key in plan")
      assert(!p.contains("CartesianProduct"), s"$q: pair join went cartesian")
    }
  }

  test("span dedup shuffles only 32-byte digests, never token arrays (q105)") {
    val p = plan("q105_dup_spans")
    // every Exchange key must be the md5 span digest or the doc grouping —
    // a token-array or raw-text shuffle would blow up the network at scale
    assert(!p.contains("CartesianProduct"), p.take(800))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(l => l.contains("__h") || l.contains("doc_id")),
      "span-count shuffle keys changed:\n" + exchanges.mkString("\n"))
  }

  test("LM scoring aggregates bigram counts map-side before the shuffle (q106)") {
    val p = plan("q106_lm_score")
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 &&
      p.indexOf("HashAggregate", firstExchange) > firstExchange,
      "no partial aggregation below the bigram shuffle:\n" + p.take(800))
    assert(p.contains("BroadcastExchange"), "vocab scalar not broadcast")
  }

  test("k-NN graphs: window candidates, group-limited top-k, no cartesian (q108, q109)") {
    for (q <- Seq("q108_knn_graph", "q109_embedding_knn")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q: top-k not group-limited")
      assert(!p.contains("CartesianProduct"), s"$q: candidate join went cartesian")
      assert(p.contains("__bucket"), s"$q: no bucket window in plan")
    }
  }

  test("flagship scores consume no UDF: q41 is a local relation on both fronts") {
    // The model, distances included, is fitted on the driver on either
    // side of the local threshold (DriverFitSpec pins the two bit for
    // bit), and the scores come back as a local relation: no scoring plan
    // is left to hold a UDF.
    val p = plan("q41_outbreak_scores")
    assert(p.contains("LocalTableScan"), p.take(1200))
    assert(!p.contains("UDF"), p.take(1200))
    val above = graft.outbreak.AnomalyScorer.fit(PipelineQueries.dailyFromEvents(spark, dir),
      PipelineQueries.EventTypes, pcaK = 0, localEvalThreshold = 0L)._1
      .queryExecution.executedPlan.toString
    assert(above.contains("LocalTableScan"), above.take(1200))
    assert(!above.contains("UDF"), above.take(1200))
  }

  test("weighted sample ranks via WindowGroupLimit, no global sort (q126)") {
    val p = plan("q126_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(!p.contains("GlobalSort") && !p.contains("TakeOrderedAndProject"),
      "per-source rank degraded to a global ordering")
  }

  test("span leakage joins on digests only; text never joins text (q125)") {
    val p = plan("q125_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("__h"), "digest join key missing")
  }

  test("NB scoring joins the model on the token key, never all-pairs (q122)") {
    val p = plan("q122_nb_langid")
    // the only nested-loop joins allowed are the broadcast one-row /
    // class-count frames (vocab size, priors); the token-keyed model
    // join must be a hash/merge join
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("__tok"), "token join key missing")
    val tokJoinIdx = p.indexOf("__tok")
    assert(tokJoinIdx >= 0)
  }

  test("DSIR scoring broadcasts the O(buckets) model (q124)") {
    val p = plan("q124_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "bucket-model join degraded past broadcast")
  }

  test("quality rule battery is a pure scan — zero exchanges (q130)") {
    val p = plan("q130_quality_rules")
    assert(!p.contains("Exchange"), s"rule battery shuffles:\n${p.take(800)}")
  }

  test("tokenizer fertility partial-aggregates before its one shuffle (q129)") {
    val p = plan("q129_tokenizer_fertility")
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0)
    assert(p.indexOf("HashAggregate", firstExchange) > firstExchange,
      "no partial aggregation below the shuffle")
    // one agg shuffle only (the final round() projection adds none)
    assert(p.indexOf("Exchange", firstExchange + 1) < 0, "extra shuffle")
  }

  test("ccnet buckets never degrade to a cartesian join (q132)") {
    val p = plan("q132_ccnet_buckets")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the vocab scalar is the only nested-loop input (1-row broadcast)
    assert(p.contains("Window"), "tercile window missing")
  }

  test("keep-best dedup joins quality on doc_id — no all-pairs (q131)") {
    val p = plan("q131_dedup_keep_best")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("curriculum cumsum never collapses to a single partition (q133)") {
    val p = plan("q133_curriculum")
    // the naive global `sum over (ORDER BY …)` window prints an
    // `Exchange SinglePartition` — DistCumSum's bucketed form must not
    assert(!p.contains("SinglePartition"),
      s"global window collapsed the corpus to one partition:\n${p.take(800)}")
    assert(p.contains("Window"), "running sum window missing")
  }

  test("constraint battery: one agg pass + broadcast anti probe (q134)") {
    val p = plan("q134_table_constraints")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "referential probe degraded past broadcast")
  }

  test("OLS trend: partial aggregation, scalar anchor broadcast (q162)") {
    val p = plan("q162_linreg_trend")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_"), "sufficient stats not map-side partial")
    // the min-day scalar joins as a 1-row broadcast, never a shuffle
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "day-zero anchor not broadcast")
  }

  test("MAD fence: per-type medians broadcast back, values never re-shuffle twice (q163)") {
    val p = plan("q163_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "tiny per-type median table degraded to SMJ against the value stream")
  }

  test("blocking linkage is an equi hash join, never all-pairs (q167)") {
    val p = plan("q167_fellegi_sunter")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // pair generation must key on the blocking column (a 1-row
    // BroadcastNestedLoopJoin remains for the histogram scalar — fine)
    assert(p.matches(
      "(?s).*(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[nat#.*"),
      "blocking key lost — pair generation went all-pairs:\n" + p.take(800))
  }

  test("DP release is one aggregation; the noise is a pure projection (q175)") {
    val p = plan("q175_dp_release")
    assert(!p.contains("Join"), "the seeded noise must not need a join:\n" + p.take(600))
    assert(p.split("Exchange").length - 1 == 1,
      "expected exactly the one groupBy exchange:\n" + p.take(800))
  }

  test("PSI aggregates the corpus once; everything after is the 10-row frame (q177)") {
    val p = plan("q177_psi_split_drift")
    val scans = p.split("FileScan parquet").length - 1
    assert(scans == 1,
      s"documents scanned $scans times — totals must derive from the one binned frame:\n" + p.take(800))
  }

  test("quote pairs join 32-byte digests; the window set is cached, not re-derived (q182)") {
    val p = plan("q182_quote_pairs")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // every re-reference of the exploded window set must hit the cache
    assert(p.contains("InMemoryTableScan"), "wins cache lost:\n" + p.take(800))
    val firstJoin = p.indexOf("Join")
    val lastGen = p.lastIndexOf("Generate explode")
    assert(firstJoin >= 0 && lastGen > firstJoin,
      "window fan-out must sit below the joins (digest-only shuffles)")
  }

  test("prefix join keys candidates on rare tokens and verifies natively (q183)") {
    val p = plan("q183_prefix_join")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("graft_intersect_size"),
      "exact verify must be the native merge walk:\n" + p.take(800))
    assert(p.matches("(?s).*(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[tok#.*"),
      "candidate generation must join on the prefix-token key:\n" + p.take(800))
  }

  test("snapshot diff joins digests on doc_id; text never crosses the exchange (q168)") {
    val p = plan("q168_dataset_diff")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // md5 digests are computed BELOW the join's exchange (projected at
    // scan side), so the shuffled payload is (doc_id, source, digest)
    val firstJoin = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin")
    val lastMd5 = p.lastIndexOf("md5")
    assert(firstJoin >= 0, "expected a shuffled full outer join")
    assert(lastMd5 > firstJoin,
      "digest computed above the join — raw text crossed the shuffle")
  }

  test("AUC eval prunes the documents scan to (text, lang) (q194)") {
    val p = plan("q194_auc_calibration")
    assert(!p.contains("n_chars") && !p.contains("source"),
      "scan reads unneeded document columns:\n" + p.take(800))
    // the per-score reduction must be map-side partial — the rank spine
    // is bounded, the corpus shuffle is not
    assert(p.contains("partial_"), "score groupBy not map-side partial")
  }

  test("layout audit prunes the events scan; bounds broadcast back (q198)") {
    val p = plan("q198_zorder_layout")
    assert(!p.contains("props") && !p.contains("event_type"),
      "scan reads unneeded event columns:\n" + p.take(800))
    assert(p.contains("BroadcastExchange"), "global bounds not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "bounds join degraded:\n" + p.take(800))
  }

  test("BLB's 20x replicate fan-out combines map-side; spine broadcasts (q199)") {
    val p = plan("q199_blb_bootstrap")
    assert(!p.contains("o_orderpriority") && !p.contains("o_orderdate"),
      "scan reads unneeded order columns:\n" + p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "replicate spine not broadcast")
    // the (subset, rep) aggregation must reduce the expansion before its
    // exchange — otherwise corpus x 20 rows cross the wire
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0 &&
      p.indexOf("HashAggregate", firstExchange) > firstExchange,
      "no partial aggregation below the replicate shuffle")
  }

  test("CUPED: one user shuffle, pooled stats broadcast back (q200)") {
    val p = plan("q200_cuped_abtest")
    assert(p.contains("BroadcastExchange"), "pooled theta not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "single-row stats join degraded to SMJ:\n" + p.take(800))
  }

  test("ACF prunes the events scan to ts; no corpus-scale window (q203)") {
    val p = plan("q203_acf")
    assert(!p.contains("props") && !p.contains("user_id"),
      "scan reads unneeded event columns:\n" + p.take(800))
    // the day spine must reduce map-side before its exchange
    assert(p.contains("partial_"), "day groupBy not map-side partial")
    // all ordered work runs on the bounded spine — no Window at all here
    assert(!p.contains("Window"), "unexpected window over corpus rows")
  }

  test("equi-depth histogram runs DistCumSum's two-level scan (q204)") {
    val p = plan("q204_equidepth_hist")
    // the spine window must be PARTITIONED by DistCumSum's bucket — a
    // plain Window.orderBy over the spine would show a windowspec with
    // no partition key and a single-partition spine exchange
    assert(p.contains("__bk"), "DistCumSum bucket key missing:\n" + p.take(1200))
    assert(p.contains("partial_"), "value groupBy not map-side partial")
  }

  test("conformal: bounded per-type frames broadcast onto the corpus (q205)") {
    val p = plan("q205_conformal_interval")
    assert(p.contains("BroadcastExchange"), "train/qhat frames not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "type-alphabet join degraded to SMJ:\n" + p.take(800))
    // the quantile window partitions by event_type over the residual
    // spine, never a global ordering
    assert(p.contains("windowspecdefinition(event_type"),
      "quantile window lost its partition key:\n" + p.take(1200))
  }

  test("grouped quartiles rank on the spine, never buffer group members (q212)") {
    val p = plan("q212_group_quartiles")
    // the q45 hazard this query exists to avoid: a percentile() agg
    // buffering every group member
    assert(!p.contains("percentile"), "value-buffering percentile crept in")
    assert(p.contains("windowspecdefinition(event_type"),
      "cumulative window lost its partition key:\n" + p.take(1200))
    assert(p.contains("partial_"), "spine groupBy not map-side partial")
  }

  test("cohort LTV: bounded spine window, sizes broadcast back (q213)") {
    val p = plan("q213_cohort_ltv")
    assert(p.contains("windowspecdefinition(cohort_day"),
      "cumulative window lost its partition key:\n" + p.take(1200))
    assert(p.contains("BroadcastExchange"), "cohort sizes not broadcast")
  }

  test("Markov eval: alphabet predictor broadcasts onto test bigrams (q214)") {
    val p = plan("q214_markov_accuracy")
    assert(p.contains("BroadcastExchange"), "predictor not broadcast")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("MV maintenance: dirty-key recompute is semi-join restricted (q215)") {
    val p = plan("q215_incremental_agg")
    // the min/max recompute leg must reach the base scan as a
    // broadcast LeftSemi on the dirty keys, not a full re-aggregation
    assert(p.contains("LeftSemi"), "dirty-key restriction missing:\n" + p.take(1200))
    assert(p.contains("BroadcastExchange"), "dirty keys not broadcast")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("DiD is one global aggregate; bounds broadcast in (q216)") {
    val p = plan("q216_did")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), "date bounds not broadcast")
    assert(p.contains("partial_"), "cell sums not map-side partial")
  }

  test("KS / Mann-Whitney rank on the DistCumSum spine (q217, q218)") {
    for (q <- Seq("q217_ks_test", "q218_mann_whitney")) {
      val p = plan(q)
      assert(p.contains("__bk"), s"$q: DistCumSum bucket key missing:\n" +
        p.take(1200))
      assert(p.contains("partial_"), s"$q: histogram not map-side partial")
    }
  }

  test("LLR collocations: vocab margins broadcast; top-k is TakeOrdered (q219)") {
    val p = plan("q219_llr_collocations")
    assert(p.contains("BroadcastExchange"), "margins not broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k materialized a global sort:\n" + p.take(1200))
    assert(p.contains("partial_"), "bigram groupBy not map-side partial")
  }

  test("pruning audit: zone maps aggregate map-side; probes broadcast (q220)") {
    val p = plan("q220_pruning_audit")
    assert(p.contains("partial_"), "zone-map groupBy not map-side partial")
    // the overlap test is metadata × metadata: probes must arrive
    // broadcast, never as a shuffled join of the corpus
    assert(p.contains("BroadcastExchange"), "probe frames not broadcast")
  }

  test("item-CF: pair join keys on basket; item counts broadcast (q206)") {
    val p = plan("q206_item_cf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation degraded to a cross product:\n" + p.take(800))
    assert(p.contains("BroadcastExchange"), "item-count frame not broadcast")
    // lineitem scan needs only the two key columns
    assert(!p.contains("l_extendedprice") && !p.contains("l_shipdate"),
      "scan reads unneeded lineitem columns:\n" + p.take(800))
  }

  test("TWA: one user shuffle feeds window AND aggregate (q227)") {
    val p = plan("q227_time_weighted_avg")
    // exactly one shuffle exchange: the window's user_id partitioning is
    // reused by the groupBy — a second Exchange means the reuse broke
    val exchanges = "(?<!Broadcast)Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n" +
      p.take(1200))
  }

  test("percentile rank: spine broadcasts, corpus never shuffles (q242)") {
    val p = plan("q242_percentile_rank")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the doc side must not hash-shuffle; the only exchanges belong to
    // the bounded spine aggregation/cumulative
    assert(!p.contains("SortMergeJoin"),
      "spine join degraded to a corpus shuffle:\n" + p.take(1200))
  }

  test("priority sample: the cut is TakeOrdered heaps, not a global sort (q228)") {
    val p = plan("q228_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("Zipf fit: token cut is TakeOrdered; one corpus shuffle (q229)") {
    val p = plan("q229_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    val exchanges = "(?<!Broadcast)Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges == 1,
      s"token spine should be the only shuffle, got $exchanges")
  }

  test("OHLC is one combinable aggregate: no window, no sort (q241)") {
    val p = plan("q241_ohlc")
    assert(!p.contains("Window"), "OHLC regressed to a window:\n" + p.take(800))
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0 &&
      p.indexOf("HashAggregate", firstExchange) > firstExchange,
      "no partial aggregation below the shuffle")
  }

  test("frequent triples join on the basket key, never cartesian (q253)") {
    // q253 materializes (SmallResult), so inspect the PRE-materialize
    // plan of the triple join itself
    import org.apache.spark.sql.functions._
    val b = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .distinct()
    val t1 = b.select(col("user_id"), col("d"), col("event_type").as("ta"))
    val t2 = b.select(col("user_id"), col("d"), col("event_type").as("tb"))
    val p = t1.join(t2, Seq("user_id", "d")).where(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "triple generation went all-pairs:\n" + p.take(800))
    assert(p.contains("partial_"), "basket distinct not map-side partial")
  }

  test("burstiness: the top-terms cut is TakeOrdered heaps (q255)") {
    val p = plan("q255_term_burstiness")
    assert(p.contains("TakeOrderedAndProject"),
      "top-terms cut materialized a global sort:\n" + p.take(800))
    assert(p.contains("partial_"), "term counts not map-side partial")
  }

  test("Gini's rank window shards per source (q256)") {
    val p = plan("q256_gini_length")
    assert(p.contains("windowspecdefinition(source"),
      "rank window lost its source partition key:\n" + p.take(1200))
    assert(!p.contains("text"), "scan reads the text column it never needs")
  }

  test("McNemar is a pure scan + one scalar aggregate — no join (q257)") {
    val p = plan("q257_mcnemar")
    assert(!p.contains("Join"), "paired cells must not need a join:\n" + p.take(600))
    assert(!p.contains("lang") && !p.contains("source"),
      "scan reads unneeded document columns:\n" + p.take(800))
  }

  test("Spearman ranks on the DistCumSum histogram spine (q258)") {
    val p = plan("q258_spearman")
    assert(p.contains("__bk"),
      "DistCumSum bucket key missing — rank went corpus-wide:\n" + p.take(1200))
    assert(p.contains("partial_"), "value histograms not map-side partial")
  }

  test("Cramer's V broadcasts the margins like q92 (q260)") {
    val p = plan("q260_cramers_v")
    assert(p.contains("BroadcastExchange"), "margins not broadcast")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("partial_"), "cell counts not map-side partial")
  }

  test("Levene: group means broadcast onto the stream; ANOVA partial-aggregates (q261)") {
    val p = plan("q261_levene")
    assert(p.contains("BroadcastHashJoin"), "group-mean join degraded:\n" + p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "k-row mean table shuffled the corpus:\n" + p.take(800))
    assert(p.contains("partial_"), "deviation stats not map-side partial")
  }

  test("typo canopy pairs come from one window, never a pair join (q278)") {
    val p = plan("q278_typo_canopy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation degraded to a pair join:\n" + p.take(800))
    assert(p.contains("graft_damerau"), "native expression missing from plan")
  }

  test("negative sampling: candidates anti-join positives on the key (q280)") {
    val p = plan("q280_negative_sampling")
    assert(p.contains("LeftAnti"), "anti join missing:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"),
      "users x items cross product appeared:\n" + p.take(800))
  }

  test("eventlog query reads through the V2 BatchScan (q281)") {
    val p = plan("q281_eventlog_scan")
    assert(p.contains("BatchScan"), "not a V2 scan:\n" + p.take(800))
    assert(p.contains("graft-eventlog"), p.take(800))
    assert(p.contains("partial_"), "per-type aggregate not map-side partial")
  }

  test("the native as-of exec plans directly over V2 scans (q286)") {
    val p = plan("q286_eventlog_asof")
    assert(p.contains("AsOfJoin"), "marker not rewritten to the exec:\n" + p.take(800))
    assert(p.contains("graft-eventlog"), "not reading through the V2 source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "as-of degraded to a product plan:\n" + p.take(800))
  }

  test("the compacted-store aggregate scans records with map-side partials (q284)") {
    val p = plan("q284_eventlog_compacted")
    assert(p.contains("BatchScan") && p.contains("graft-eventlog"), p.take(800))
    // sum/min/max make the grouped METADATA push refuse — this one must
    // actually read records, with the partial-aggregate shape intact
    assert(!p.contains("manifest-only"), "q284 wrongly took the metadata scan")
    assert(p.contains("partial_"), "per-type aggregate not map-side partial")
  }

  test("grouped type counts are manifest-only — no record scan in the plan (q283)") {
    val p = plan("q283_eventlog_type_counts")
    assert(p.contains("manifest-only grouped"),
      "q283 did not plan through the grouped metadata scan:\n" + p.take(800))
    // the pushed partial rewrites the final COUNT into a SUM of counts
    assert(p.contains("sum("), "final aggregate should SUM the pushed counts:\n" +
      p.take(800))
  }

  test("q287 delivers runtime filters that SKIP type-split files at execution") {
    val ev = graft.sources.v2.EventLog
    val rf0 = ev.runtimeFilterCalls.get()
    val skip0 = ev.skippedFiles.get()
    val plan0 = ev.plannedFiles.get()
    val df = graft.SparkEntry.queries("q287_eventlog_runtime_prune")(spark, dir)
    val rows = df.collect()
    // purchase + signup are the only types longer than 5 chars
    assert(rows.map(_.getString(0)).toSet == Set("purchase", "signup"))
    assert(ev.runtimeFilterCalls.get() > rf0,
      "no runtime filter reached the eventlog scan:\n" +
        df.queryExecution.executedPlan.toString.take(1500))
    val skipped = ev.skippedFiles.get() - skip0
    val planned = ev.plannedFiles.get() - plan0
    // the type-split store holds one type per file: the In(purchase,
    // signup) set must prune the click/error/view families — 3/5 of files
    assert(skipped == planned * 3 / 2 && skipped > 0,
      s"expected 3 of 5 type families skipped; skipped=$skipped planned=$planned")
  }

  test("q289 is a storage-partitioned join — no shuffle above the V2 scans") {
    // broadcast off: with it on, a tiny side broadcasts and the plan is
    // trivially exchange-free; the claim under test is that the
    // KeyGroupedPartitioning alignment carries the SHUFFLE join too
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.SparkEntry.queries("q289_eventlog_spj")(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft-eventlog"), p.take(800))
      assert(!p.contains("Exchange hashpartitioning"),
        "the co-bucketed self-join re-shuffled:\n" + p.take(2000))
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q290 composes all three ladders: as-of exec over co-bucketed V2 scans, zero shuffle") {
    val p = plan("q290_eventlog_asof_spj")
    assert(p.contains("AsOfJoin"), "marker not rewritten to the exec:\n" + p.take(800))
    assert(p.contains("graft-eventlog"), "not reading through the V2 source")
    assert(!p.contains("Exchange"),
      "the co-bucketed as-of join still inserted an exchange:\n" + p.take(2000))
  }

  test("grouped type sums are manifest-only too — count AND sum pushed (q288)") {
    val p = plan("q288_eventlog_type_sums")
    assert(p.contains("manifest-only grouped"),
      "q288 did not plan through the grouped metadata scan:\n" + p.take(800))
    assert(p.contains("sum(cents)"),
      "SUM(cents) was not pushed into the metadata scan:\n" + p.take(800))
  }

  test("q292/q298 plan a version-pinned V2 scan; q293 the changes slice") {
    val p292 = plan("q292_eventlog_time_travel")
    assert(p292.contains("view=AsOf(1)"),
      "q292 did not plan from the version snapshot:\n" + p292.take(800))
    val p298 = plan("q298_eventlog_sql_asof")
    assert(p298.contains("view=AsOf(1)"),
      "q298's VERSION AS OF did not pin the scan:\n" + p298.take(800))
    val p293 = plan("q293_eventlog_changes")
    assert(p293.contains("view=Changes(1,2)"),
      "q293 did not plan from the changes window:\n" + p293.take(800))
  }

  test("q296's offset is pushed COMPLETE — no Offset node above the scan") {
    val p = plan("q296_eventlog_offset")
    assert(p.contains("offset=250"),
      "the offset did not reach the scan:\n" + p.take(800))
    assert(!p.contains("CollectLimit") && !p.contains("GlobalLimit"),
      "a limit/offset operator survived above a complete pushdown:\n" +
        p.take(800))
  }

  test("q294's post-delete store plans header-free (manifest intact)") {
    val ev = graft.sources.v2.EventLog
    graft.SparkEntry.queries("q294_eventlog_retention")(spark, dir).collect()
    val h0 = ev.headerReads.get()
    assert(graft.SparkEntry.queries("q294_eventlog_retention")(spark, dir)
      .count() > 0)
    assert(ev.headerReads.get() == h0,
      "the retention delete degraded planning to per-file header reads")
  }

  test("q302's user-range predicate reaches the scan and skips z-chunks") {
    val ev = graft.sources.v2.EventLog
    // baseline BEFORE any planning: the scan's skip counters are
    // memoized per instance, so the first materialization (even a plan
    // print) is the one that counts
    graft.SparkEntry.queries("q302_eventlog_zorder")(spark, dir) // fixture
    val skip0 = ev.skippedFiles.get()
    val df = graft.SparkEntry.queries("q302_eventlog_zorder")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft-eventlog") &&
      p.contains("LessThanOrEqual(user_id"),
      "the user bound was not pushed to the V2 scan:\n" + p.take(900))
    assert(df.collect().nonEmpty)
    assert(ev.skippedFiles.get() - skip0 > 0,
      "the z-ordered store pruned no files under the user-range bound")
  }

  test("q304 plans exactly one file — the key lane's point-lookup contract") {
    val ev = graft.sources.v2.EventLog
    graft.SparkEntry.queries("q304_eventlog_point_lookup")(spark, dir) // fixture
    val plan0 = ev.plannedFiles.get()
    val df = graft.SparkEntry.queries("q304_eventlog_point_lookup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(event_id"),
      "the key predicate was not pushed to the V2 scan:\n" + p.take(900))
    assert(df.collect().length == 1)
    assert(ev.plannedFiles.get() - plan0 == 1,
      "the point lookup planned more than one file")
  }
}
