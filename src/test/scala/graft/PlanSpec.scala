package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions — the "would this survive 100x scale" checks:
  * filters/projections must reach the parquet scan, small dims must
  * broadcast, the merge join must not degenerate to a cartesian product. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  /** Write-path and iterative queries execute real work at construction
    * time, so the whole-surface guards skip them; their operator internals
    * are plan-asserted by their own suites. */
  private val sideEffecting = Set("q52_scd2_table_write", "q56_ivf_index",
    "q59_scd4_table_write", "q53_dedup_clusters", "q83_cluster_survivors",
    "q96_curation_pipeline", "q102_pagerank", "q71_bucketed_join",
    "q15_scd1_merge", "q16_scd2_merge", "q17_scd4_merge",
    "q114_leakage_safe_split", "q132_ivf_append", "q172_cluster_stats",
    "q181_dedup_savings", "q182_split_leakage", "q183_planted_recall",
    "q187_index_neardups", "q189_auto_threshold_neardups",
    "q244_bpe_learn", "q249_bpe_encode", "q253_bfs_hops",
    "q262_erasure_audit", "q264_ivm_agg", "q268_fps_coreset",
    "q283_ivm_join")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection push into the parquet scan") {
    val p = plan(SparkEntry.queries("q02_filter_pushdown")(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThan(l_quantity") || p.contains("IsNotNull"), p)
    // ReadSchema must be pruned to the 4 referenced columns, not all 11
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_shipdate") && !read.contains("l_tax"),
      s"scan reads unneeded columns: $read")
  }

  test("star-join dims broadcast; no shuffle of the fact side for dims") {
    val p = plan(SparkEntry.queries("q04_dim_star_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join degenerated to SMJ:\n$p")
  }

  test("merge join is a real equi-join, never a cartesian product") {
    val p = plan(SparkEntry.queries("q15_scd1_merge")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("theta join keeps the equi part as the join key") {
    val p = plan(SparkEntry.queries("q05_theta_join")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("ANN scan broadcasts the query side (corpus never shuffles for the join)") {
    val p = plan(SparkEntry.queries("q24_ann_topk")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("ANN top-k is a partial aggregate, not a window over the scored set") {
    val p = plan(SparkEntry.queries("q24_ann_topk")(spark, sf))
    assert(!p.contains("Window"), s"top-k degenerated to a window shuffle:\n$p")
    assert(p.contains("partial_topk_agg"), s"no map-side partial top-k:\n$p")
  }

  test("bucketed join: sort-merge with ZERO exchanges (co-located layout)") {
    val out = SparkEntry.queries("q71_bucketed_join")(spark, sf)
    // the aggregation after the join still shuffles on its tiny group key;
    // assert no Exchange BELOW the join — i.e. the join inputs are consumed
    // in bucket layout
    val p = plan(out)
    assert(p.contains("SortMergeJoin"), p)
    val joinIdx = p.indexOf("SortMergeJoin")
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles its inputs:\n$p")
    // and the bucket-sorted files feed the SMJ without a per-query sort
    assert(p.contains("Bucketed: true"), p)
  }

  test("IVF assignment is a projection: no join/window over corpus x centroids") {
    val assigned = graft.operators.Similarity.ivfAssign(
      Tables.load(spark, sf, "embeddings"), nCentroids = 8)
    val p = plan(assigned)
    assert(!p.contains("Window"), s"centroid argmin shuffled through a window:\n$p")
    assert(!p.contains("Join"), s"centroid argmin joined instead of projecting:\n$p")
    val q40 = plan(SparkEntry.queries("q40_ivf_topk")(spark, sf))
    assert(!q40.contains("Window") && !q40.contains("CartesianProduct"), q40)
    assert(q40.contains("partial_topk_agg"), q40)
  }

  test("salted join stays an equi-join on (key, salt)") {
    val p = plan(SparkEntry.queries("q41_salted_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("grouping sets expand once: one scan, one Expand, no union of scans") {
    val p = plan(SparkEntry.queries("q88_grouping_sets")(spark, sf))
    assert(p.contains("Expand"), p)
    // one pass over orders — the lattice must not re-scan per grouping set
    assert("Scan parquet".r.findAllIn(p).length == 1, s"multiple scans:\n$p")
    assert(!p.contains("Union"), p)
  }

  test("skew profile and BM25 top-k ride the bounded partial aggregate") {
    val skew = plan(SparkEntry.queries("q90_skew_profile")(spark, sf))
    assert(skew.contains("partial_topk_agg"), skew)
    assert(!skew.contains("Window"), s"heavy-hitter rank became a global sort:\n$skew")
    val bm25 = plan(SparkEntry.queries("q87_bm25")(spark, sf))
    assert(bm25.contains("partial_topk_agg"), bm25)
    assert(!bm25.contains("Window"), bm25)
  }

  test("rank-window suite evaluates in a single Window operator") {
    val p = plan(SparkEntry.queries("q89_rank_windows")(spark, sf))
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"shared-frame window functions split into extra Window operators:\n$p")
  }

  test("skew profile is a single scan (totals fused into the top-k aggregation)") {
    val p = plan(SparkEntry.queries("q90_skew_profile")(spark, sf))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"totals split into a second scan subtree:\n$p")
  }

  test("whole surface: no query ever plans a CartesianProduct; nested-loop joins only where the broadcast side is bounded") {
    // BNLJ is acceptable ONLY for deliberately tiny broadcast sides
    // (1-row stats frames, bounded ANN query sets) — everything else must
    // stay a hash/merge equi-join. A new query that degrades to a real
    // cartesian product fails here before it ever reaches a benchmark.
    val bnljAllowed = Set("q23_embedding_cosine", "q24_ann_topk", "q55_tfidf",
      "q305_image_dhash", // all-pairs over the bounded broadcast image set
      "q314_exif_orientation_dhash", // same bounded harness, rotated-twin set
                          // (10 distinct payloads; corpus-scale pairing
                          // rides SimHash-style banding, per scaladoc)
      "q76_sql_surface", "q79_unigram_logprob", "q80_hard_negatives",
      "q87_bm25", "q100_temperature_mix", "q101_zorder",
      "q115_hll_merge", // three 1-row control frames cross-joined
      "q122_pq_adc_topk", "q125_ivf_recall", "q167_rank_eval",
      "q128_mmr_rerank", // bounded broadcast ANN query sets
      "q131_source_kl", // 1-row corpus-total control frame cross-joined
      "q138_rrf_fuse", "q142_hamming_topk", // bounded broadcast ANN query sets
      "q141_logodds_terms", // 1-row vocab/total control frame cross-joined
      "q143_psi_drift", // 1-row min-max + share-total control frames
      "q148_transition_matrix", // 1-row transition-total control frame
      "q150_rolling_active", // broadcast day-spine range join (|days| rows)
      "q164_join_size_est", // 1-row exact x 1-row estimate control frames
      "q166_key_overlap", // four 1-row sketch-estimate control frames
      "q175_ks_drift", // 1-row min-max frame + |groups|x|bins| densify cross
      "q176_pair_distance_profile", // bounded id-modulus sample sides
      "q178_calibration", // 1-row ECE control frame cross-joined
      "q179_water_fill", // 1-row water-level control frame cross-joined
      "q184_hourly_uniformity", // |types| x broadcast 24-row spine densify
      "q186_join_preflight", // seven 1-row sketch/count frames cross-joined
      "q188_daily_value_drift", // q175's 1-row min-max + densify cross
      "q196_label_kappa", // 1-row base + 1-row marginal-product control frames
      "q198_leadlag_corr", // 7-row literal lag frame cross-joined onto the daily spine
      "q199_mutual_info", // 1-row corpus-total + 1-row MI-total control frames
      "q204_ri_orphans", // three 1-row orphan-count control frames
      "q205_freshness", // 1-row global-max control frame
      "q206_block_profile", // per-candidate 1-row null-count x 1-row block-stats frames
      "q209_chi2_independence", // 1-row dims + 1-row chi2-sum control frames
      "q210_drift_fdr", // q175's 1-row min-max frame + densify cross
      "q213_truncated_recall", // bounded broadcast ANN query sets
      "q234_hamming_rerank", // bounded broadcast ANN query sets, both stages
      "q215_reciprocal_margin", // bounded broadcast ANN query sets, both directions
      "q221_kmv_overlap", // |groups|-row sketch-table self-join on g_a < g_b
      "q227_cuped", // 1-row pooled-theta control frame cross-joined
      "q232_conformal_interval", // 1-row fit/k/qhat control frames cross-joined
      "q238_disparate_impact", // 1-row max-rate reference frame cross-joined
      "q239_burstiness", // |keys| x broadcast |days|-row spine densify
      "q240_cold_start", // four 1-row count control frames cross-joined
      "q241_chunk_dedup", // 1-row docs x 1-row chunk-stats control frames
      "q243_cdc_chunk_dedup", // 1-row docs x 1-row chunk-stats control frames
      "q231_heaps_fit", // 1-row log-means frame x |sources|-row points frame
      "q230_kaplan_meier", // 1-row corpus-end frame cross-joined
      "q246_poisson_bootstrap", // 1-row full-sample-mean control frame
      "q256_mahalanobis_outliers", // 1-row moment control frame
      "q257_negative_sampling", // 1-row catalog-count control frame
      "q258_yuen_trimmed_t", // 1-row arm frames cross-joined
      "q259_poststrat_mean", // 1-row population-total control frame
      "q260_knn_eval", // bounded broadcast ANN query set
      "q265_emd_drift", // 1-row min-max/total frames + 64-row bin densify
      "q266_bradley_terry", // 1-row mean-strength renorm frame per MM round
      "q267_jackknife_se", // 1-row grand-total control frame
      "q279_shard_mixing", // 1-row corpus-total control frame
      "q280_krippendorff", // 1-row marginals control frame
      "q282_pr_curve", // 1-row positives-total control frame
      "q286_ips_policy", // 1-row |A| frame x the |contexts|-row policy frame
      "q287_mix_shift", // 1-row period-totals control frame
      "q293_rare_collapse", // 1-row category-total control frame
      "q295_range_bounds", // <=nParts-row broadcast bounds frame
      "q296_brier_decomp", // 1-row totals control frame
      "q298_funnel_ab") // two 1-row arm frames cross-joined
    for ((name, fn) <- SparkEntry.queries if !sideEffecting(name)) {
      val p = plan(fn(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected nested-loop join:\n$p")
    }
  }

  test("sequence-gap lag is range-partitioned: no global-sort Window in q106") {
    // the old formulation ordered EVERY distinct id through one partition;
    // the range-bucketed rewrite must leave no Window without a partitionSpec
    val df = SparkEntry.queries("q106_sequence_gaps")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the per-range lag window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"an unpartitioned Window sorts every id through ONE partition:\n" +
        df.queryExecution.optimizedPlan)
    // and the domain-cap report no longer plans any window at all
    val q86 = plan(SparkEntry.queries("q86_domain_caps")(spark, sf))
    assert(!q86.contains("Window"), s"domain-cap counts window-sorted:\n$q86")
  }

  test("whole surface: unpartitioned Windows only over bounded value-space frames") {
    // A Window with an empty partitionSpec sorts its whole input through ONE
    // partition — the q106 failure mode. The only legitimate uses are over
    // frames bounded by something other than the corpus. histogramBuckets
    // (q75/q101) left this list in r12: its grid cumulative now runs the
    // globalRank two-pass range partitioning, so it plans NO unpartitioned
    // window even on a continuous column. Any new query that grows a global
    // window must either partition it or justify itself onto this list.
    val boundedFrameAllowed = Set(
      // |sources|-row ratio-order greedy — bounded by the source count
      "q179_water_fill",
      // constant-partition quantile rank over the bounded pair sample —
      // the optimizer folds the lit(0) partition key away
      "q176_pair_distance_profile",
      // nBuckets-row decile table: cumulative + totals windows over <= 10 rows
      "q208_lift_table",
      // BH rank/m/tail-min windows over the |source-pairs|-row hypothesis
      // frame — control-plane bounded, never row-scale
      "q210_drift_fdr",
      // Gini rank window over the |sources|-row totals frame
      "q223_gini_concentration",
      // at-risk / zero-mask / ln-sum windows over the |lifetime-days|-row
      // curve frame — bounded by the corpus SPAN, never user rows
      "q230_kaplan_meier",
      // skyline running-max over the DISTINCT (x, max-y) value grid —
      // bounded by the metric's value space, never rows
      "q245_pareto_front",
      // dense catalog index: row_number over the |catalog|-row small side
      "q257_negative_sampling",
      // cumulative-from-top windows over the nBins-row PR-curve frame
      "q282_pr_curve",
      // sample-grid cumulative for the range bounds — computing split
      // bounds IS a global-ordering problem (Spark's own RangePartitioner
      // collects its sample to the driver; this sorts it distributed)
      "q295_range_bounds")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((name, fn) <- SparkEntry.queries if !sideEffecting(name)) {
      val globals = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (!boundedFrameAllowed(name))
        assert(globals.isEmpty,
          s"$name plans ${globals.size} unpartitioned Window(s) — a single-" +
            s"partition global sort at scale:\n${globals.mkString("\n")}")
    }
  }

  test("whole surface: no quadratic unbounded-FOLLOWING window frames") {
    // Spark evaluates an aggregate over (moving lower bound ..
    // UNBOUNDED FOLLOWING) by re-scanning to the partition end for EVERY
    // row — O(n^2) per partition (cost q113's first formulation 18.3 s vs
    // 2.0 s). Whole-partition frames (unboundedPreceding ..
    // unboundedFollowing) are computed once and stay legal; anything with
    // a moving lower bound and an unbounded upper bound fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    for ((name, fn) <- SparkEntry.queries if !sideEffecting(name)) {
      val frames = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow => w.windowExpressions.flatMap(_.collect {
          case WindowExpression(_, WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(_, lower, UnboundedFollowing)))
            if lower != UnboundedPreceding => lower
        })
      }.flatten
      assert(frames.isEmpty,
        s"$name plans a quadratic (moving-lower .. UNBOUNDED FOLLOWING) frame")
    }
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
