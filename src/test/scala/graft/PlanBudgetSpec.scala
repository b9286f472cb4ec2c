package graft

import graft.ops.Bucketing

/** Shuffle-budget regression guards: the plan shapes PERF.md promises,
  * asserted so an accidental re-introduction of a global window / lost
  * broadcast / un-pushed filter fails the suite, not just the benchmark.
  * Budgets are ceilings on the INITIAL plan (AQE can only improve them).
  */
class PlanBudgetSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def shuffles(q: String): Int =
    Bucketing.shuffleCount(SparkEntry.queries(q)(spark, sfDir))

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("projected scans shuffle nothing and push their filters") {
    assert(shuffles("q01_scan_project") === 0)
    assert(planOf("q01_scan_project").contains("PushedFilters: [IsNotNull(c_acctbal)"))
    assert(shuffles("q02_daily_scan") === 0)
  }

  test("pitLookup: the only exchange is the dim-side collapse (never the fact)") {
    assert(shuffles("q07_pit_lookup") <= 1)
    assert(planOf("q07_pit_lookup").contains("BroadcastExchange"))
  }

  test("contract validation is a pure narrow pipeline") {
    assert(shuffles("q03_validate_contract") === 0)
    assert(shuffles("q04_date_parse_multi") === 0)
  }

  test("flagship fact load stays within its two fact-side shuffles (plus dim prep)") {
    assert(shuffles("q19_fact_tx_load") <= 5)
  }

  test("pricing summary is one aggregate exchange plus the presentation sort") {
    assert(shuffles("q25_pricing_summary") <= 2)
  }

  test("date predicates reach the parquet scans (row-group pruning at 100 TB)") {
    // native DateType compares — a date_format() wrapper here would leave
    // only IsNotNull in PushedFilters and force a full fact scan at scale
    assert(planOf("q25_pricing_summary").contains("LessThanOrEqual(l_shipdate"))
    val q48 = planOf("q48_shipping_priority")
    assert(q48.contains("GreaterThan(l_shipdate"))
    assert(q48.contains("LessThan(o_orderdate"))
  }

  test("contract catalogs (user/product/tx) are pure narrow pipelines") {
    assert(shuffles("q51_user_contract") === 0)
    assert(shuffles("q52_product_contract") === 0)
    // q53 pays exactly one exchange: the duplicate-occurrence window on
    // transaction_id; the two dim lookups stay broadcasts
    assert(shuffles("q53_tx_price_dup_contract") <= 1)
  }

  test("curation/decontamination/interval-join stay within their shuffle budgets") {
    // q57 composition: spread fan-out + exact-dedup agg + semi-join +
    // chained band candidates (ONE lead window — r8 replaced the band
    // self-join + band-size aggregate) + pair distinct + verify joins +
    // final anti-join — each a keyed exchange, none quadratic; the chain
    // rework dropped the budget 12 → 9
    assert(shuffles("q57_corpus_curation") <= 9)
    // q59: one spread + the shard-local running-sum window
    assert(shuffles("q59_token_packing") <= 2)
    // q60: spread + shingle-hash join both sides + final per-doc aggregate
    assert(shuffles("q60_decontamination") <= 5)
    // q61: one exchange per side on (key, bucket) — never a range-join blowup
    assert(shuffles("q61_interval_join") <= 2)
  }

  test("chained SCD2 merges stay collapsed (r7 #5: the 22-broadcast fanout)") {
    // since r8's single-pass Scd2.merge (unchanged+expired emitted by ONE
    // explode over the join instead of four filtered re-derivations) the
    // two-merge chain plans each merge's join once — broadcasts must stay
    // ≤ 8 (was 22) and shuffles bounded; a regression here means the
    // branch fanout came back and a k-step chain re-plans ~4^k subtrees
    val plan = planOf("q120_scd2_stream_twin")
    val nBroadcast = "BroadcastExchange".r.findAllIn(plan).length
    assert(nBroadcast <= 8, s"q120 broadcasts regressed: $nBroadcast")
    assert(shuffles("q120_scd2_stream_twin") <= 14)
    // the single merge keeps its two-exchange shape
    assert(shuffles("q06_scd2_merge") <= 4)
  }

  test("analytics/set-op additions stay within their shuffle budgets") {
    // q73: distinct per side + the set-op joins; the ts cut must reach the
    // scan as a bare-attribute compare in the column's native read type
    // (NTZ on Spark 4.1+, nanos long under the legacy flag) — a compare on
    // the cast/converted timestamp column silently un-pushes it
    assert(shuffles("q73_set_ops") <= 3)
    val q73 = planOf("q73_set_ops")
    assert(q73.contains("LessThan(ts,2024-01-04T00:00)") ||
      q73.contains("LessThan(ts,1704326400000000000)"), q73.take(800))
    assert(shuffles("q74_cube_totals") <= 1)   // expand feeds ONE agg exchange
    assert(shuffles("q76_moving_avg") <= 2)    // daily agg + post-agg window
    assert(shuffles("q77_ntile_deciles") <= 2) // nation window + rollup agg
    assert(shuffles("q79_order_baskets") <= 1) // one groupBy exchange
    // q141: 6-table star — every dim side broadcasts (nation/region forced,
    // supplier/customer planner-chosen), so the only exchanges are the
    // group-by aggregate and the presentation sort; the order-year filter
    // must reach the orders scan
    assert(shuffles("q141_regional_revenue") <= 2)
    assert(planOf("q141_regional_revenue")
      .contains("GreaterThanOrEqual(o_orderdate,1996-01-01"))
  }

  test("per-row LLM operators shuffle only their spread() fan-out") {
    // repartition is one round-robin exchange; everything after is narrow
    Seq("q27_text_quality", "q30_simhash", "q31_lang_id", "q32_fingerprint",
      "q34_srp_buckets", "q36_embedding_norms", "q38_multimodal_meta",
      "q44_token_counts").foreach { q =>
      assert(shuffles(q) <= 1, s"$q grew a shuffle")
    }
  }

  test("retrieval and funnel operators hold their scan-bound shapes") {
    // BM25: tf off the token array + a 1-row stats broadcast — the corpus
    // is read ONCE and nothing but that row moves (spread() is the only
    // exchange); this is the plan that reads 100 TB without shuffling it
    assert(shuffles("q88_bm25_search") <= 1)
    assert(planOf("q88_bm25_search").contains("BroadcastExchange"))
    // tf-idf: (doc,term) agg + vocab broadcast + per-doc window
    assert(shuffles("q94_tfidf_terms") <= 4)
    // funnel: one keyed aggregate, one 1-row reduce — no self-joins
    assert(shuffles("q89_event_funnel") <= 2)
    // RFM: per-customer agg + nation windows; the reference date broadcasts
    assert(shuffles("q90_rfm_segments") <= 3)
    assert(shuffles("q91_cohort_retention") <= 3)
    // basket pairs: order-local self-join — distinct + join + pair agg
    assert(shuffles("q92_basket_pairs") <= 3)
    assert(shuffles("q93_value_histogram") <= 1)
  }

  test("engagement/profiling operators hold their bounded-fan-out shapes") {
    // sliding windows: the 4× expand happens map-side; ONE agg exchange
    assert(shuffles("q95_sliding_window") <= 1)
    // DAU/WAU: dedup + bounded 7× fan-out + two distinct aggs + day join —
    // never a distinct-over-range window
    assert(shuffles("q96_active_users") <= 6)
    // transitions: per-user lead window + the 25-cell agg (+ prob window)
    assert(shuffles("q97_event_transitions") <= 3)
    // anomaly: daily agg + 1-row stats broadcast back onto the series
    assert(shuffles("q98_revenue_anomaly") <= 2)
    assert(planOf("q98_revenue_anomaly").contains("BroadcastExchange"))
    // heavy hitters: keyed agg + TakeOrdered — no global sort exchange
    assert(shuffles("q99_heavy_hitters") <= 2)
    // trigram profiles: explode map-side + (lang,gram) agg + per-lang window
    assert(shuffles("q100_char_trigrams") <= 3)
  }

  test("hybrid retrieval / quantization / profiling hold their shapes") {
    // RRF: both rank lists are k-bounded before the fusion join; the only
    // full-corpus work is the BM25 pass (0 data shuffles) + cosine scan
    assert(shuffles("q101_hybrid_rrf") <= 6)
    // boilerplate + URL extraction: narrow per-row + one small agg
    assert(shuffles("q102_boilerplate") <= 1)
    assert(shuffles("q103_url_domains") <= 2)
    // quantization: per-dim extrema agg collapses to one broadcast row
    assert(shuffles("q104_scalar_quantization") <= 3)
    assert(planOf("q104_scalar_quantization").contains("BroadcastExchange"))
    // profiling: the multi-distinct Expand is ONE pass over the table
    assert(shuffles("q105_column_profile") <= 2)
  }

  test("winsorize/CDC/sampling hold their shapes") {
    // winsorize: the p01/p99 cuts come from the TWO-exchange value-
    // histogram quantile (value-grain groupBy + one cumulative window);
    // the rest is the 1-row cuts broadcast + the final clip rollup — the
    // former histogram-partition path spent 15+ slim exchanges here
    assert(shuffles("q106_winsorize") <= 4)
    assert(planOf("q106_winsorize").contains("BroadcastExchange"))
    // snapshot diff: one full-outer hash join on the business key
    assert(shuffles("q107_snapshot_diff") <= 3)
    // hash sample: a pure per-row filter — zero exchanges
    assert(shuffles("q108_hash_sample") === 0)
    // entropy: (doc,term) agg + per-doc window + per-doc fold
    assert(shuffles("q109_token_entropy") <= 3)
    // weighted sample: per-row key + TakeOrdered — spread() only
    assert(shuffles("q110_weighted_sample") <= 1)
    // native session windows: one keyed exchange + the session sort
    assert(shuffles("q111_session_window") <= 2)
    // sketches + their exact twins; the exact p50 rides the two-exchange
    // value-histogram quantile, the exact distinct its two-stage
    // aggregate, plus the sketch agg and the type-keyed joins
    assert(shuffles("q112_approx_aggregates") <= 8)
    // as-of with tolerance: asOfUnion's single union-window exchange
    assert(shuffles("q113_asof_tolerance") <= 2)
    // gaps-and-islands / mode: distinct+window / agg+window per group
    assert(shuffles("q114_gaps_islands") <= 3)
    assert(shuffles("q115_mode_per_group") <= 2)
    // training mix: per-lang rank windows + two broadcast singletons
    assert(shuffles("q116_training_mix") <= 4)
    // chunking: a pure per-row explode — spread() only
    assert(shuffles("q117_chunk_overlap") <= 1)
    // incremental rollup: two partition-pruned partial aggs + one merge
    assert(shuffles("q118_incremental_rollup") <= 3)
    // capped band join: q29's exchanges + the band-size agg; the hot-key
    // exclusion itself is a broadcast anti-join (no extra data shuffle)
    assert(shuffles("q119_lsh_banded_cap") <= 6)
    // bloom decontamination: bench-gram distinct + exact-hit semi-join +
    // final aggregates; the bloom PROBE itself is a plan literal — the
    // candidate side is scanned once with zero probe-side exchanges
    assert(shuffles("q122_bloom_decontamination") <= 8)
  }

  test("curation additions stay within their shuffle budgets") {
    // q123/q125/q127 cache intermediates; a warm CacheManager entry from
    // an earlier suite re-prints the cached subtree's exchanges under
    // each consumer — count the cold plan, which is what executes at scale
    spark.catalog.clearCache()
    // repetition filters: spread + ONE tagged (doc,n,gram) count agg
    // feeding both the top-1 window and the dup-mass rollup, + the
    // per-doc assembly joins (doc-keyed — no hot key at any size)
    assert(shuffles("q123_repetition_filters") <= 5)
    // block dedup: the block-keyed first-wins window + the per-doc
    // reassembly aggregate (block text must move for reassembly anyway)
    assert(shuffles("q124_block_dedup") <= 3)
    // span fractions: (hash → doc-frequency) agg + slim hash join; span
    // text never shuffles — only 60-bit hashes
    assert(shuffles("q125_dup_span_frac") <= 3)
    // ORC roundtrip: pure scan→write→scan, zero exchanges
    assert(shuffles("q126_orc_ingest") === 0)
    // unigram LM: token count agg + per-doc fold; the model and its
    // 1-row total ride broadcasts (vocab is sublinear in corpus size)
    assert(shuffles("q127_unigram_lm") <= 3)
    assert(planOf("q127_unigram_lm").contains("BroadcastExchange"))
    // DSIR: two vocab aggregates + their merge + the per-doc fold; the
    // log-ratio model and its constants ride broadcasts — raw text never
    // shuffles at any corpus size
    assert(shuffles("q128_dsir_importance") <= 5)
    assert(planOf("q128_dsir_importance").contains("BroadcastExchange"))
    // CMS: ONE exact-count exchange (the verification side); the sketch
    // itself is a 1-row commutative aggregate probed off a broadcast
    assert(shuffles("q129_cms_heavy_hitters") <= 1)
    assert(planOf("q129_cms_heavy_hitters").contains("BroadcastExchange"))
    // bigram LM: the model is join-KEYED (distinct bigrams grow with the
    // corpus — never broadcast); unigram leg + 1-row total still broadcast
    assert(shuffles("q130_bigram_lm") <= 5)
    assert(planOf("q130_bigram_lm").contains("BroadcastExchange"))
    // pagerank: Fixpoint.iterate's mid-loop lineage cut (round 4 of 8)
    // puts rounds 1-4 behind a LogicalRDD, and the STATIC frames (ew on
    // src, nodesNN on node) are pre-partitioned + cut (r10, VERDICT r9
    // #5), so each live round pays only its contrib aggregate — measured
    // 8 exchanges (was 25 when the cached edges re-shuffled per round).
    // The ceiling guards the cuts staying wired (losing the mid-loop cut
    // re-renders all 8 rounds, ~90+; losing the edge pre-partitioning
    // puts an exchange back in every round) and the linear formulation
    // (ranks-joins-ranks doubles lineage per iteration)
    assert(shuffles("q131_domain_pagerank") <= 14)
    // the static frames surface as RDD scans (lineage cuts), not caches
    assert(planOf("q131_domain_pagerank").contains("Scan ExistingRDD"))
    // temperature mix: stratum count agg + the lang-keyed quota window +
    // final assembly; quota table rides a broadcast
    assert(shuffles("q132_temperature_mix") <= 3)
    assert(planOf("q132_temperature_mix").contains("BroadcastExchange"))
    // quality classifier: scoring is a PURE NARROW pipeline — zero
    // exchanges between the scan and the verdict at any corpus size
    assert(shuffles("q133_quality_classifier") === 0)
    // leakage-free split: q72's clustering plus a hash over the label —
    // the split assignment itself adds NO exchange
    assert(shuffles("q134_leakage_free_split") <= 2)
    // diversity: two single-purpose aggregates per granularity (total +
    // distinct), joined on the slim lang key — never an Expand
    assert(shuffles("q135_ngram_diversity") <= 7)
    assert(!planOf("q135_ngram_diversity").contains("Expand"))
    // minhash estimate: adjacent-pair join is a broadcast off the shared
    // cached signature frame — zero exchanges
    assert(shuffles("q136_minhash_estimate") === 0)
    // DSIR selection: q128's aggregates plus lang join, per-lang rank
    // window and broadcast stratum counts
    assert(shuffles("q137_dsir_selection") <= 9)
    assert(planOf("q137_dsir_selection").contains("BroadcastExchange"))
    // incremental dedup: q29's band-join machinery with the new-side
    // predicate pushed into the join — same ceiling as the full pipeline
    assert(shuffles("q138_incremental_dedup") <= 8)
    // stream-curation twin: the fp first-wins window + the day rollup
    assert(shuffles("q139_stream_curation_twin") <= 3)
    // GPU batching: the media-keyed window + the batch rollup
    assert(shuffles("q140_gpu_batching") <= 3)
    // mean pooling: ONE (doc,dim)-keyed aggregate exchange; the explode
    // fan-out is narrow and the agg state is bounded by chunks-per-doc
    assert(shuffles("q142_mean_pool") <= 1)
    // unpivot: the stack Generate is narrow; 4-group rollup + final sort
    assert(shuffles("q143_unpivot_measures") <= 2)
    // grouping sets: ONE Expand (3× the slim projection) into ONE agg
    // exchange — never three scans
    assert(shuffles("q144_grouping_sets") <= 1)
    // HLL MV refresh: day-sketch agg + union agg + the exact twin's
    // two-stage distinct; the 5-row merge side rides a broadcast
    assert(shuffles("q145_incremental_distinct") <= 4)
    // linear interpolation: day-grain agg + the prio-partitioned window
    // pair; the per-prio calendar bounds ride a broadcast
    assert(shuffles("q146_linear_interp") <= 3)
    // vocab growth: first-seen agg + two-stage day-distinct off the
    // cached token frame; the cumulative window rides the 28-row
    // day-grain join (28-row side broadcast)
    assert(shuffles("q147_vocab_growth") <= 5)
    // robust scaling: q64's two-exchange quantile + the broadcast join
    // back to the facts (per-group cut rows, never the table)
    assert(shuffles("q148_robust_scaling") <= 4)
  }

  test("scale-layout additions stay within their shuffle budgets") {
    spark.catalog.clearCache()
    // equi-depth bins: the two-exchange global quantile + the 1-row cuts
    // broadcast + the 4-group bin rollup — the fact side never sorts
    // globally (the whole point vs window NTILE)
    assert(shuffles("q149_equidepth_bins") <= 4)
    // EWMA: day-grain agg, the bounded-horizon self-join of the
    // AGGREGATE-grain series, the final per-(type,day) fold
    assert(shuffles("q150_ewma_daily") <= 4)
    // triangles: e and oriented are LAZY LINEAGE CUTS (r9, VERDICT r8
    // #2 — the cached subtrees previously re-rendered under every
    // consumer: 50 exchanges/13 broadcasts at r8, now 5/2): the rendered
    // plan is the adjacency-array build (collect_list per src over the
    // oriented edge RDD) + the two edge→adjacency joins feeding the
    // per-edge array_intersect count + the 1-row agg; each cut's own
    // derivation (pair-gen, edge distinct, degree agg, orientation
    // joins) runs exactly once
    assert(shuffles("q151_triangle_count") <= 7)
    // z-order audit: pure narrow bit math into ONE 64-group aggregate
    assert(shuffles("q152_zorder_layout") <= 1)
    // prefix-filter join: df agg + per-doc prefix window + per-token
    // chain window (r8: replaced the candidate self-join) + the verify
    // joins off the cached set frame + the top-20 emission window —
    // the chain rework collapsed the budget 30 → 8
    assert(shuffles("q153_prefix_filter_join") <= 8)
    // cluster representative: q72's CC (checkpointed lineage collapses
    // its iterations) + the length join + the per-cluster argmax window
    assert(shuffles("q154_cluster_representative") <= 8)
    // arrival-chain scored near-dups:
    // ONE band-keyed lag window + the per-doc min aggregate — the whole
    // near-dup report in two exchanges, no self-join anywhere
    assert(shuffles("q178_stream_neardup_twin") <= 2)
    // compaction plan: date-grain agg, the bounded global window over
    // it, the 5-group rollup
    assert(shuffles("q155_compaction_plan") <= 3)
    // CDC apply: one keyed full-outer merge over q107's change feed
    assert(shuffles("q156_cdc_apply") <= 6)
    // sketch overlap: two sketch aggregates (type-keyed then 1-row
    // merge) + the exact twin's two-stage user dedup
    assert(shuffles("q157_sketch_overlap") <= 4)
    // session paths: sessionization windows + per-session collect +
    // path rollup; final top-20 is TakeOrdered, never a global Sort
    assert(shuffles("q158_top_paths") <= 4)
    assert(!planOf("q158_top_paths").matches("(?s).*Sort \\[n.*global=true.*"))
    // inverted index: tf agg + df agg + 1-row corpus count broadcast +
    // the per-token rank window + postings rollup
    assert(shuffles("q159_inverted_index") <= 6)
    // profile drift: two 1-row profile aggregates into a broadcast join
    assert(shuffles("q160_profile_drift") <= 4)
    // DSv2 connector: the 97-bucket rollup is the only exchange
    assert(shuffles("q161_synthetic_source") <= 1)
    // rolling distinct: day-sketch agg + the bounded day-grain window +
    // the exact twin's distinct/fan-out aggregates + the day-grain join —
    // user-level rows shuffle once (the distinct), never per window
    assert(shuffles("q162_rolling_distinct") <= 8)
    // survivorship: a label scan + ONE aggregate + the 3-row sort — the
    // third consumer of the materialized labels adds no closure/band join
    assert(shuffles("q163_dedup_survivorship") <= 2)
    assert(!planOf("q163_dedup_survivorship").contains("SortMergeJoin"))
    // daily event extract: the formatter-string filter must be rewritten
    // to day bounds that reach the RAW event scan — through the NTZ read's
    // analyzer cast — or 100 TB of events are scanned for one day
    assert(shuffles("q164_event_daily_extract") <= 2)
    assert(planOf("q164_event_daily_extract")
      .contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-18T00:00)"),
      planOf("q164_event_daily_extract").take(900))
  }

  test("r6 additions: PQ / JL / OLS / correlation plan shapes") {
    // PQ ADC: codebook + per-query LUT ride broadcasts (m×ks and
    // |Q|×m×ks rows); encode argmin is a map-side-partial min(struct)
    // aggregate — the shuffles carry slim (id,sub,code) rows only
    assert(shuffles("q166_pq_adc_topk") <= 10)
    assert(planOf("q166_pq_adc_topk").contains("BroadcastExchange"))
    // JL projection: the ±1 matrix constant-folds to literals, so the
    // projection is a pure narrow map; the only exchange is the
    // deliberate CPU-spread repartition after the single-file scan
    assert(shuffles("q170_jl_project") <= 1)
    // OLS trend: one fact-side join shuffle + the month-grain and
    // nation-grain aggregates; the nation dim stays a broadcast
    assert(shuffles("q168_ols_trend") <= 4)
    assert(planOf("q168_ols_trend").contains("BroadcastExchange"))
    // correlation profile: ONE aggregate pass computes all 14 power sums
    // (no Expand, no per-measure scans) — the only exchange is its
    // partial→final step
    assert(shuffles("q169_corr_profile") <= 1)
    assert(!planOf("q169_corr_profile").contains("Expand"))
    // JL distortion: spread + the consecutive-id self-join + the 1-row
    // stats aggregate broadcast back onto the pair frame
    assert(shuffles("q171_jl_distortion") <= 6)
    // incremental sessionize: all windows/aggregates are user-keyed; the
    // proof-side full recompute doubles the exchanges but every one is
    // partitioned — no global window anywhere near raw events
    assert(shuffles("q174_incremental_sessionize") <= 12)
    // vocab overlap: distinct + token-keyed self-join (per-token fan-out
    // bounded by n_langs) + two broadcast size lookups; the static count
    // includes the size branches re-deriving the distinct subtree, which
    // canonicalizes identically and reuses at execution
    assert(shuffles("q175_lang_vocab_overlap") <= 8)
    assert(planOf("q175_lang_vocab_overlap").contains("BroadcastExchange"))
    // linear-probe training: the corpus reduces to ONE sufficient-
    // statistics row in a single map-side-partial aggregate pass; the
    // Cramer solve is driver-free expression algebra on that row
    assert(shuffles("q173_linear_probe") <= 1)
    assert(!planOf("q173_linear_probe").contains("Expand"))
    // BPE: every cost is VOCABULARY-bounded — the word-freq aggregate +
    // one pair-count aggregate per unrolled round; top pairs ride 1-row
    // broadcasts (TakeOrdered, never a global sort exchange). The static
    // count is inflated by the 3-way union repeating its round-prefix
    // subtrees (round N's plan contains rounds 1..N-1); those prefixes
    // canonicalize identically, so exchange reuse collapses them at
    // execution — the budget pins the static ceiling
    assert(shuffles("q172_bpe_merges") <= 14)
  }

  test("per-group exact quantiles hold the two-exchange value-histogram shape") {
    // exchange 1: the (group, cents) histogram; exchange 2: the group-
    // keyed cumulative window — the flanking-value aggregate reuses that
    // partitioning and interpolation is a projection. No single buffer
    // ever holds a group's values.
    assert(shuffles("q64_quantiles") <= 2)
  }

  test("global windows (no partitionBy) only sit above bounded-grain inputs") {
    // A Window.orderBy without partitionBy moves ALL input rows to one
    // task — fatal at 100 TB unless the input is already aggregate-grain
    // (month/day buckets, a k-limited list) or otherwise bounded. q66/q76/
    // q101 pass today by construction; this guard stops a future registry
    // query from shipping a genuine global sort over raw rows.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def boundedBelow(p: SparkPlan): Boolean = {
      val bounded = p.collectFirst {
        case _: BaseAggregateExec => true
        case _: GlobalLimitExec => true
        case _: TakeOrderedAndProjectExec => true
        // a broadcast-joined side is bounded by the broadcast threshold;
        // the windowed side then carries at most |left|×|broadcast| rows
        // of an already-bounded driver (q116's distinct-lang spine)
        case _: BroadcastNestedLoopJoinExec => true
      }
      bounded.getOrElse(false)
    }
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan
      plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(boundedBelow(w.child),
            s"$q: global window over an unbounded input — " +
              s"aggregate or limit first\n${w.child.treeString.take(2000)}")
        }
      // companion invariant: no registered query may use the exact
      // `percentile` aggregate — its buffer holds every group value
      // (executor OOM at 100 TB); graft.ops.Quantiles is the bounded
      // exact path, approx_percentile the sketch path
      assert(!"(?<![_a-z])percentile\\(".r.findFirstIn(plan.toString).isDefined,
        s"$q: exact percentile aggregate (unbounded buffer) in plan")
    }
  }

  test("every registered query stays within its recorded plan-shape ceiling") {
    // VERDICT r10 #8: the hand-written budgets above guard the
    // historically-bad plans; this pins EVERYTHING — a currently-narrow
    // query growing a shuffle fails here instead of landing silently.
    // Ceilings = counts recorded by PlanCeilingGen at this spec's scale
    // + 1 slack (broadcast-vs-shuffle planner flips on boundary-sized
    // inputs). On an INTENTIONAL plan change, regenerate:
    //   tools/run_main.sh graft.tools.PlanCeilingGen \
    //     /root/testdata/sf0.001 src/test/resources/plan_ceilings.tsv
    // Lineage-cut queries (q165/q167, the components family) are pinned
    // TWICE (VERDICT r11 #2): post-cut counts (the consumer plan — the
    // small residue a plain audit sees) AND pre-cut counts including
    // every Fixpoint.cut subtree, so a shuffle added INSIDE the cut —
    // the actual expensive part — fails here too. Both deterministic at
    // fixed data. Fixpoint loops execute at frame-build time; their
    // pre-cut number is the full uncut-lineage work across rounds.
    val in = getClass.getResourceAsStream("/plan_ceilings.tsv")
    assert(in != null, "src/test/resources/plan_ceilings.tsv missing — run PlanCeilingGen")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val rec: Map[String, (Int, Int, Int, Int)] =
      try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).map { l =>
        val f = l.split('\t')
        f(0) -> (f(1).toInt, f(2).toInt, f(3).toInt, f(4).toInt)
      }.toMap
      finally src.close()
    val missing = SparkEntry.queries.keySet -- rec.keySet
    assert(missing.isEmpty,
      s"queries with no recorded ceiling (regenerate plan_ceilings.tsv): $missing")
    val stale = rec.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"ceilings for unregistered queries (regenerate plan_ceilings.tsv): $stale")
    // labels closure builds at first consumer construction; force it here
    // so its cost isn't charged to an arbitrary query below
    graft.queries.ClusterLabels(spark, sfDir)
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (nS, nB, pS, pB, _) = Bucketing.cutAwareCounts(fn(spark, sfDir))
      val (cS, cB, cPS, cPB) = rec(name)
      // shuffle ceilings are EXACT both ways (hash/range exchange counts
      // are deterministic at fixed data + this spec's pinned config — a
      // +1 slack was proven to absorb a whole gratuitous repartition, r12
      // mutation test; a recorded count above the plan is slack that
      // would hide the same regression, as q137's 12-vs-9 row did);
      // broadcasts keep +1 for static size-estimate flips on
      // boundary-sized inputs
      def exact(what: String, n: Int, c: Int): Seq[String] =
        if (n > c) Seq(s"$name $what $n > $c")
        else if (n < c) Seq(s"$name $what $n < recorded $c: stale row, regenerate")
        else Nil
      exact("shuffles", nS, cS) ++
        (if (nB > cB + 1) Seq(s"$name broadcasts $nB > $cB+1") else Nil) ++
        exact("pre-cut shuffles", pS, cPS) ++
        (if (pB > cPB + 1) Seq(s"$name pre-cut broadcasts $pB > $cPB+1") else Nil)
    }
    assert(violations.isEmpty,
      "plan shapes differ from plan_ceilings.tsv (intentional? regenerate " +
        s"it via PlanCeilingGen):\n  ${violations.mkString("\n  ")}")
  }
}
