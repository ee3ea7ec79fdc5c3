package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{AnsiSurface, Relational, Windows}
import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import graft.plans.AsOfJoin
import graft.streaming.{Sessionize, StreamAggregator}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers a query here;
  * where the semantics are ANSI-SQL-expressible the matching DuckDB oracle
  * is in [[oracleSql]] (column names aliased identically on both sides —
  * the driver compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The cell-1 + cell-3 reference pipeline shape: grouped multi-aggregate
    * then windowed argmax-per-group top-k. */
  def entry(spark: SparkSession): DataFrame =
    Relational.topKByBestDay(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 aggregations (A1-A6)
    "q_events_daily_agg" -> (Relational.eventsDailyAgg _),
    "q_events_daily_agg_hll" -> (Relational.eventsDailyAggApprox _),
    "q_monthly_sketch_rollup" -> (graft.ops.Sketches.monthlyUserEstimates _),
    "q_monthly_quantile_rollup" -> (graft.ops.Sketches.monthlyValueQuantiles _),
    // Count-Min: table-shaped portable sketch — unlike the binary
    // DataSketches buffers above, these two are HASH-EXACT oracled
    "q_cms_sketch" -> (graft.ops.Sketches.mergedCmsSketch _),
    "q_cms_heavy_hitters" -> (graft.ops.Sketches.cmsHeavyHitters _),
    // persisted CMS epoch store: build + append-at-frozen-width +
    // merge, hash-exact vs the oracle's one-pass sketch
    "q_cms_store_merged" -> (graft.ops.Sketches.cmsStoreMergedQuery _),
    // pipeline observability: day-grain volume z-scores (all-integer
    // trailing sums; fixed float expression shape → hash-exact)
    "q_volume_anomaly" -> ((s: SparkSession, d: String) =>
      graft.ops.Monitor.volumeAnomaly(s, d)),
    // data layout: Z-order clustering profile + min/max-stats pruning
    // simulation (all-integer Morton arithmetic → hash-exact)
    "q_zorder_layout" -> (graft.ops.Layout.zorderLayout _),
    "q_zorder_prune_effect" -> (graft.ops.Layout.zorderPruneEffect _),
    // the pruning claim proven on the REAL parquet reader, as an
    // SF-checked gate row (scan metrics -> strict-ordering booleans)
    "q_zorder_scan_gate" -> (graft.ops.Layout.zorderScanGate _),
    "q_distinct_types" -> (Relational.distinctEventTypes _),
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q_value_percentiles" -> (Relational.valuePercentiles _),
    "q_value_percentiles_approx" -> (Relational.valuePercentilesApprox _),
    "q_props_extract" -> (Relational.propsExtract _),
    "q_profile_orders" -> (graft.ops.Profile.ordersProfile _),
    "q_profile_orders_hll" -> (graft.ops.Profile.ordersProfileHll _),
    "q_anti_join" -> (AnsiSurface.customersWithoutEvents _),
    "q_having" -> (AnsiSurface.richSegments _),
    "q_histogram" -> (AnsiSurface.orderValueHistogram _),
    "q_correlated_subquery" -> (AnsiSurface.aboveNationAverage _),
    "q_string_funcs" -> (AnsiSurface.partNameStrings _),
    "q_date_parts" -> (AnsiSurface.ordersByDateParts _),
    "q_pivot" -> (AnsiSurface.ordersPivotByStatus _),
    // hash-oracled CSV rendering; the raw-array form is library-only
    // (list cells crash the driver's pandas canonicalization) and is
    // asserted equal to this CSV twin in SqlSurfaceSpec
    "q_array_agg" -> (AnsiSurface.customerOrderArraysCsv _),
    "q_cube" -> (AnsiSurface.pricingCube _),
    "q_map_funcs" -> (AnsiSurface.statusCountMaps _),
    "q_stable_ids" -> (graft.ops.Pack.docStableIds _),
    // §2.5 + §2.6 window / top-k / sort (W1, P4, O1, O2)
    "q_topk_best_day" -> (Relational.topKByBestDay _),
    "q_sorted_agg" -> (Relational.sortedAggDump _),
    "q_argmax_per_customer" -> (Relational.latestBestOrderPerCustomer _),
    "q_order_ranks" -> (Windows.orderRanks _),
    "q_order_timeline" -> (Windows.orderTimeline _),
    "q_pricing_rollup" -> (Windows.pricingRollup _),
    "q_hourly_windows" -> (Windows.hourlyEventWindows _),
    "q_trailing_spend" -> (Windows.trailingSpend _),
    "q_grouping_sets" -> (Windows.pricingGroupingSets _),
    "q_relative_ranks" -> (Windows.orderRelativeRanks _),
    "q_funnel" -> (Relational.signupFunnel _),
    "q_novelty" -> (TextStats.noveltyScores _),
    "q_set_ops" -> (Windows.setOpsCustomers _),
    // §2.3 projections / filters (P1-P5)
    "q_filter_isin" -> (Relational.filterIsin _),
    "q_filter_eq_project" -> (Relational.filterEqProject _),
    "q_with_literal" -> (Relational.withLiteralColumn _),
    // §2.7 joins (geo-join capability + semi-join form of P2)
    "q_semijoin_active_users" -> (Relational.semiJoinActiveUsers _),
    "q_revenue_by_region" -> (Relational.revenueByRegion _),
    "q_revenue_by_priority" -> (Relational.revenueByPriority _),
    "q_asof_join" -> (AsOfJoin.eventsWithLatestOrder _),
    // binned range joins: equi-join-on-bin plans for predicates Spark
    // would otherwise nested-loop (band / point-in-interval / overlap)
    "q_band_join" -> (graft.engine.RangeJoin.partPriceBands _),
    // grain-collapsed twin: the distributive band aggregate at the
    // domain-bounded (brand, cents, cnt) cell grain
    "q_band_join_agg" -> (graft.engine.RangeJoin.partPriceBandsAgg _),
    "q_interval_join" -> (graft.engine.RangeJoin.inTransitByPriority _),
    "q_interval_attach" -> (graft.engine.RangeJoin.marchTransitAttach _),
    "q_interval_overlap" ->
      (graft.engine.RangeJoin.supplierTransitOverlaps _),
    // §2.1 + §2.2 + §2.9 streaming: file stream → stateful agg →
    // complete-mode memory sink (S2, A1-A5, K1); oracle = batch SQL,
    // proving stream == batch.
    "q_stream_agg" -> (StreamAggregator.streamAggQuery _),
    // stream-stream range join (batch form here; streaming equivalence
    // asserted in StreamingSpec)
    "q_stream_join" -> (graft.streaming.StreamJoin.flaggedFollowupsQuery _),
    // gap-based sessionization (batch oracle form; the streaming
    // flatMapGroupsWithState variant is equivalence-tested in
    // StatefulSpec)
    "q_sessions" -> (Sessionize.sessionsQuery _),
    // ----- training-data extensions (SURVEY §7 step 7) -----
    // text analysis
    "q_token_counts" -> (TextStats.tokenCounts _),
    "q_quality_scores" -> (TextStats.qualityScores _),
    "q_quality_filtered" -> (TextStats.qualityFiltered _),
    "q_fingerprints" -> (TextStats.fingerprints _),
    "q_lang_id" -> (TextStats.langId _),
    // dedup
    "q_dedup_groups" -> (Dedup.exactDupGroups _),
    "q_dedup_exact" -> (Dedup.dedupExact _),
    "q_ngram_jaccard_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.ngramJaccardPairs(s, d)),
    "q_dedup_incremental" -> (Dedup.dedupIncremental _),
    // bloom-screened twin: same oracle — the hash match proves the
    // Bloom gate in front of the history anti-join is result-invariant
    "q_dedup_incremental_bloom" -> (Dedup.dedupIncrementalBloom _),
    // the same cogroup screen at 8 prefix shards (forced), same
    // oracle again
    "q_dedup_incremental_bloom_sharded" ->
      (Dedup.dedupIncrementalBloomSharded _),
    // PERSISTED-STORE twin: screen from the bloom store, confirm
    // against the fp-BUCKETED ingest store (exchange- and sort-free
    // on the history side — IngestSpec plan-asserts); same oracle
    "q_dedup_incremental_store" -> (Dedup.dedupIncrementalStore _),
    "q_redact_docs" -> (graft.ops.Redact.redactDocs _),
    // near-dup clustering: pair graph → connected components → survivors
    // iterative link-graph rank: integer-mass power iteration, K=4 —
    // hash-exact (integer addition commutes across partial-agg order)
    "q_link_rank" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.linkRank(s, d)),
    // same recurrence off the PERSISTED bucketed-by-src edge table
    // (the cluster webgraph layout): no exchange/sort on the edge
    // side in any iteration — LinkRankSpec plan-asserts it
    "q_link_rank_bucketed" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.linkRankBucketed(s, d)),
    "q_link_rank_top" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.linkRankTop(s, d)),
    // seeded trust propagation: mass originates ONLY at a vetted
    // source, so spam in-degree without seed reachability stays at 0
    "q_trust_rank" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.trustRank(s, d)),
    // crawl-graph health: degree histograms + dangling/orphan counts
    "q_graph_degrees" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.graphDegrees(s, d)),
    // rank staleness: yesterday's 80% crawl vs the full corpus,
    // all-integer churn metrics (the drift gate of the graph family)
    "q_link_rank_churn" -> ((s: SparkSession, d: String) =>
      graft.ops.LinkRank.linkRankChurn(s, d)),
    "q_near_dup_components" -> ((s: SparkSession, d: String) =>
      graft.ops.Components.nearDupComponents(s, d)),
    "q_dedup_survivors" -> ((s: SparkSession, d: String) =>
      graft.ops.Components.dedupNearSurvivors(s, d)),
    "q_dedup_best_survivors" -> ((s: SparkSession, d: String) =>
      graft.ops.Components.bestQualitySurvivors(s, d)),
    "q_corpus_clean" -> ((s: SparkSession, d: String) =>
      graft.ops.Components.cleanCorpus(s, d)),
    "q_dedup_clusters_lsh" -> (graft.ops.Components.lshDedupClusters _),
    "q_dedup_clusters_portable" ->
      (graft.ops.Components.lshDedupClustersPortable _),
    "q_minhash_lsh_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.minhashLshPairs(s, d)),
    "q_minhash_lsh_portable" -> ((s: SparkSession, d: String) =>
      Dedup.minhashLshPairsPortable(s, d)),
    "q_simhash_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairs(s, d)),
    // character-grain verify tier: LSH candidates × exact Levenshtein
    // (xxhash64 path rows-only; the md5 portable twin is hash-exact)
    "q_editdist_near_dup" -> ((s: SparkSession, d: String) =>
      Dedup.editDistNearDup(s, d)),
    "q_editdist_near_dup_portable" -> ((s: SparkSession, d: String) =>
      Dedup.editDistNearDupPortable(s, d)),
    "q_simhash_portable" -> ((s: SparkSession, d: String) =>
      Dedup.simhashPairsPortable(s, d)),
    // term statistics (TF-IDF family) + BM25 retrieval
    "q_term_stats" -> (graft.ops.Terms.termStats _),
    "q_top_terms" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.topTermsPerDoc(s, d)),
    "q_bm25_topk" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.bm25TopK(s, d)),
    // hybrid lexical+dense retrieval (query-by-example, RRF fusion);
    // the IVF-probe dense side is the scale path, hash-gated against
    // the exact hybrid by the overlap gate
    "q_hybrid_rrf" -> ((s: SparkSession, d: String) =>
      graft.ops.Retrieval.hybridRrfTopK(s, d)),
    "q_hybrid_rrf_ivf" -> ((s: SparkSession, d: String) =>
      graft.ops.Retrieval.hybridRrfTopKIvf(s, d)),
    "q_hybrid_rrf_gate" -> ((s: SparkSession, d: String) =>
      graft.ops.Retrieval.hybridRrfOverlapGate(s, d)),
    // retriever training data: lexically-close/semantically-far
    "q_hard_negatives" -> ((s: SparkSession, d: String) =>
      graft.ops.Retrieval.hardNegatives(s, d)),
    // tokenizer prep: per-doc OOV rate against the top-V vocabulary
    "q_vocab_coverage" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.vocabCoverage(s, d)),
    // BPE tokenizer training: pair stats, learned merges, pricing
    "q_bpe_pair_stats" -> ((s: SparkSession, d: String) =>
      graft.ops.Tokenize.bpePairStats(s, d)),
    "q_bpe_merges" -> ((s: SparkSession, d: String) =>
      graft.ops.Tokenize.bpeMerges(s, d)),
    "q_bpe_merges_gate" -> ((s: SparkSession, d: String) =>
      graft.ops.Tokenize.bpeMergesGate(s, d)),
    "q_bpe_encode" -> ((s: SparkSession, d: String) =>
      graft.ops.Tokenize.bpeEncodeCounts(s, d)),
    "q_bpe_encode_gate" -> ((s: SparkSession, d: String) =>
      graft.ops.Tokenize.bpeEncodeGate(s, d)),
    // curation governance: per-source dedup + corpus-shape reports
    "q_dedup_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Dedup.dedupReport(s, d)),
    "q_length_histogram" -> ((s: SparkSession, d: String) =>
      graft.ops.Profile.lengthHistogram(s, d)),
    // snapshot versioning: added/removed/changed/moved between
    // corpus versions, fp-grain joins only
    "q_snapshot_diff" -> ((s: SparkSession, d: String) =>
      graft.ops.Snapshot.snapshotDiffDocs(s, d)),
    "q_snapshot_diff_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Snapshot.snapshotDiffReport(s, d)),
    // causal-LM sequence packing: docs split across fixed-length cuts
    "q_pack_sequences" -> ((s: SparkSession, d: String) =>
      graft.ops.Pack.docSequences(s, d)),
    "q_sequence_manifest" -> ((s: SparkSession, d: String) =>
      graft.ops.Pack.sequenceManifest(s, d)),
    // model-scored selection: hashed linear classifier + DSIR
    "q_quality_model_scores" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.qualityModelScores(s, d)),
    "q_quality_model_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.qualityModelReport(s, d)),
    "q_dsir_weights" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.dsirWeights(s, d)),
    "q_dsir_selected" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.dsirSelected(s, d)),
    // LM fluency filtering: rational-exact scores + true perplexity
    "q_bigram_lm_scores" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.bigramLmScores(s, d)),
    "q_bigram_lm_ppl" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.bigramLmPerplexity(s, d)),
    "q_bigram_lm_ppl_gate" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.bigramLmPerplexityGate(s, d)),
    // CCNet head/middle/tail perplexity buckets (distributed NTILE)
    "q_ppl_buckets" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.pplBuckets(s, d)),
    "q_ppl_bucket_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Classify.pplBucketReport(s, d)),
    // curriculum schedule: easy→hard phase order + in-phase shuffle,
    // one prefix-sum global order (no per-phase window)
    "q_curriculum" -> ((s: SparkSession, d: String) =>
      graft.ops.Curriculum.curriculumSchedule(s, d)),
    "q_curriculum_audit" -> ((s: SparkSession, d: String) =>
      graft.ops.Curriculum.curriculumAudit(s, d)),
    // length-bucketed token-capped batching (dynamic-batching manifest)
    "q_length_batches" -> ((s: SparkSession, d: String) =>
      graft.ops.Pack.lengthBucketBatches(s, d)),
    "q_batch_manifest" -> ((s: SparkSession, d: String) =>
      graft.ops.Pack.batchManifest(s, d)),
    // per-source governance: domain caps + the admission ledger
    "q_source_caps" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.sourceCappedCorpus(s, d)),
    "q_source_cap_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.sourceCapReport(s, d)),
    // persisted term-bucketed postings index; same oracle as the flat
    // path (identical results through the pruned probe)
    "q_bm25_indexed" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.bm25IndexedTopKQuery(s, d)),
    // the MAINTENANCE path gate: half-build + per-batch append +
    // probe, bit-identical to the flat path → same oracle
    "q_bm25_appended" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.bm25AppendedTopKQuery(s, d)),
    // the TAKEDOWN path gate: full build + tombstone delete + probe,
    // bit-identical to a rebuild on the surviving corpus → the same
    // oracle restricted to surviving documents
    "q_bm25_deleted" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.bm25DeletedTopKQuery(s, d)),
    // textbook (Lucene log-idf) Okapi variant — transcendental, so
    // rows-only here; rank agreement with the oracled rational form
    // is spec-asserted (exact on single-term queries)
    "q_bm25_topk_logidf" -> ((s: SparkSession, d: String) =>
      graft.ops.Terms.bm25TopKLogIdf(s, d)),
    // data mixing: sampling / split / leakage
    "q_sample_stratified" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.stratifiedSample(s, d)),
    "q_train_test_split" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.trainTestSplit(s, d)),
    "q_split_leakage" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.crossSplitLeakage(s, d)),
    // cluster-grain split: leakage-free by construction (whole
    // near-dup component → one side; audit proves leak_pairs = 0)
    "q_cluster_split" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.clusterSplit(s, d)),
    "q_cluster_split_audit" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.clusterSplitAudit(s, d)),
    // weighted corpus mixing: deterministic per-source epoch
    // upsampling/downsampling + its per-source audit
    "q_corpus_mix" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.corpusMix(s, d)),
    "q_corpus_mix_summary" -> (graft.ops.Mix.corpusMixSummary _),
    // token-budget mixing: per-source TARGET TOKEN COUNTS, weights
    // derived from the data in one aggregate pass (all-BIGINT)
    "q_token_budget_mix" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.tokenBudgetMix(s, d)),
    "q_token_budget_audit" -> (graft.ops.Mix.tokenBudgetMixAudit _),
    // temperature mixing: p_s ∝ n_s^½ (XLM-R recipe), exact isqrt
    "q_temperature_mix" -> ((s: SparkSession, d: String) =>
      graft.ops.Mix.temperatureMix(s, d)),
    "q_temperature_mix_audit" -> (graft.ops.Mix.temperatureMixAudit _),
    // shard packing (distributed prefix sum) + corpus shuffle
    "q_pack_shards" -> (graft.ops.Pack.packDocs _),
    "q_shard_manifest" -> (graft.ops.Pack.shardManifest _),
    "q_pack_payloads" -> (graft.ops.Pack.packedPayloads _),
    "q_corpus_shuffle" -> ((s: SparkSession, d: String) =>
      graft.ops.Pack.corpusShuffle(s, d)),
    // chunking + repetition quality signals
    "q_chunk_docs" -> (graft.ops.Chunk.chunkDocs _),
    // chunk-grain exact dedup (cross-document boilerplate removal)
    "q_chunk_dedup" -> (graft.ops.Chunk.chunkDedup _),
    "q_repetition" -> (graft.ops.Repetition.repetitionSignals _),
    // benchmark decontamination + the composed governance corpus
    // (dedup survivors ∘ decontaminate)
    "q_contamination_report" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.contaminated(s, d)),
    "q_decontaminated_corpus" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.decontaminatedCorpus(s, d)),
    "q_governed_corpus" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.governedCorpus(s, d)),
    // fuzzy (MinHash-LSH) decontamination: production xxhash64 form is
    // rows-only; the md5 portable twin + composed corpus are the
    // hash-exact proofs of the same cross-corpus banding machinery
    "q_fuzzy_contamination" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.fuzzyContamination(s, d)),
    "q_fuzzy_contamination_portable" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.fuzzyContaminationPortable(s, d)),
    "q_fuzzy_decontaminated" -> ((s: SparkSession, d: String) =>
      graft.ops.Decontaminate.fuzzyDecontaminatedCorpus(s, d)),
    // the full end-to-end pipeline (ingest → dedup → decontaminate →
    // quality → shuffle → pack) as ONE hash-oracled artifact; each
    // variant builds its own survivor set
    "q_training_shards" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.trainingShards(s, d)),
    // the complete pipeline with the weighted-mixing stage composed in
    "q_training_shards_mixed" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.trainingShardsMixed(s, d)),
    // the pipeline with CHUNK-GRAIN boilerplate removal composed in
    // (non-overlapping chunks → cross-doc exact dedup → chunk packing)
    "q_training_shards_chunked" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.trainingShardsChunked(s, d)),
    // similarity search
    "q_ann_topk" -> ((s: SparkSession, d: String) =>
      Similarity.bruteForceTopK(s, d)),
    "q_ann_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.ivfTopK(s, d)),
    // IVF recall gate: hash-exact row asserting per-query recall ≥ 0.9
    // vs the brute-force twin (which is itself hash-proven vs DuckDB)
    "q_ann_ivf_recall" -> ((s: SparkSession, d: String) =>
      Similarity.ivfRecall(s, d)),
    // PQ (product quantization) ANN: ADC candidates + exact rerank;
    // recall gate hash-asserts ≥ 0.9 vs the brute-force twin
    "q_ann_pq" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.pqTopK(s, d)),
    "q_ann_pq_recall" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.pqRecall(s, d)),
    // persisted IVF-PQ index — the composed ≥10⁹-vector layout: build
    // the partitioned+encoded index, then answer through the
    // partition- AND column-pruned probe (plan shape in QuantizeSpec)
    "q_ann_ivfpq" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqTopKQuery(s, d)),
    "q_ann_ivfpq_recall" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqRecall(s, d)),
    // incremental IVF-PQ: structure trained on half the corpus, the
    // other half appended frozen-structure, probed over the union;
    // recall twin drives the hash-exact driver gate
    "q_ann_ivfpq_incr" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqIncrTopKQuery(s, d)),
    "q_ann_ivfpq_incr_recall" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqIncrRecall(s, d)),
    // delete path: tombstoned vectors never surface, recall holds
    // over the SURVIVING corpus — both asserted in one hash-gated row
    "q_ann_ivfpq_deleted" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqDeletedRecall(s, d)),
    // DRIFT path: frozen structure + 4 appends of progressively
    // shifted data — stale recall still ≥ 0.7, a fresh rebuild
    // restores ≥ 0.9 and strictly beats stale (the periodic-rebuild
    // cadence is a measured gate, not a doc sentence; curve in
    // SCALE.md via StressDrift)
    "q_ann_ivfpq_drift" -> ((s: SparkSession, d: String) =>
      graft.ops.Quantize.ivfPqDriftRecall(s, d)),
    // STREAMING-index drift twin: centroids frozen on the first
    // micro-batch, 4 drifted-slice batches ingested online, probed
    // with drifted queries — stale floor holds, rebuildEmbedIndex
    // (retrain + re-assign + atomic vindex swap) restores the target
    // band and never regresses (the repair is an operator, not a doc
    // sentence)
    "q_ingest_embed_drift" -> ((s: SparkSession, d: String) =>
      graft.streaming.IngestEmbed.ingestEmbedDriftGate(s, d)),
    "q_winnow_fp" -> ((s: SparkSession, d: String) =>
      graft.ops.TextStats.winnowing(s, d)
        .select("doc_id", "n_fingerprints")),
    // ExactSubstr-grain dedup (Lee et al. 2022): duplicated-span
    // detection + removal. Hash-exact oracles despite the xxhash64
    // internals — the duplicate set is token equality, so the oracle
    // groups on the window string and the hash never reaches output
    "q_dup_spans" -> (graft.ops.Spans.dupSpans _),
    "q_despanned_docs" -> (graft.ops.Spans.despannedDocs _),
    "q_winnow_fp_portable" -> ((s: SparkSession, d: String) =>
      graft.ops.TextStats.winnowingPortable(s, d)),
    "q_embed_near_dup" -> ((s: SparkSession, d: String) =>
      Similarity.nearDupPairsExact(s, d)),
    "q_embed_near_dup_lsh" -> ((s: SparkSession, d: String) =>
      Similarity.lshNearDupPairs(s, d)),
    // SemDeDup-style: IVF-cell-bucketed pairs -> CC clusters (rows-only:
    // float-seeded centroids; recall/precision asserted in PipelineOpsSpec)
    "q_semantic_dedup" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDedupClusters(s, d)),
    // SemDeDup-paper centroid screen — the Θ(n) variant (no pairwise
    // term at all; rows-only: float-seeded centroids) plus its
    // hash-exact gate row (labels total, exact dups collapsed, pair
    // recall vs the exact clustering ≥ band)
    "q_semantic_dedup_centroid" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDedupCentroid(s, d)),
    "q_semantic_dedup_centroid_gate" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDedupCentroidGate(s, d)),
    // topic-balanced sampling over embedding cells (rows-only:
    // float centroids; the gate row is the hash-exact check)
    "q_cluster_mix" -> ((s: SparkSession, d: String) =>
      Similarity.clusterBalancedSample(s, d)),
    "q_cluster_mix_gate" -> ((s: SparkSession, d: String) =>
      Similarity.clusterBalancedSampleGate(s, d)),
    // screen-first hybrid: centroid screen collapses the duplicate
    // regime, tau-level pairwise clustering decides the survivors
    // (rows-only: float-seeded; invariance vs the unscreened path is
    // spec'd, the hash-exact compensator is the composed-shards gate)
    "q_semantic_dedup_screened" -> ((s: SparkSession, d: String) =>
      Similarity.semanticDedupClustersScreened(s, d)),
    // the flagship composition: training shards with embedding-level
    // semantic dedup (rows-only) + its hash-exact gate row
    "q_training_shards_semantic" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.trainingShardsSemantic(s, d)),
    "q_training_shards_semantic_gate" -> ((s: SparkSession, d: String) =>
      graft.ops.Corpus.trainingShardsSemanticGate(s, d)),
    // multimodal plumbing; the *_portable twins run the same
    // mapPartitions decode seam at integer grain so the family is
    // hash-oracled (slot_sums ≡ round(255 × features) is spec-pinned,
    // making the green oracle rows a differential proof of the float
    // path too)
    "q_media_features" -> (Multimodal.featureSummary _),
    "q_media_features_portable" -> (Multimodal.featuresPortable _),
    "q_media_frames" -> (Multimodal.frameSampleSummary _),
    "q_media_ann" -> ((s: SparkSession, d: String) =>
      Multimodal.mediaAnnTopK(s, d)),
    "q_media_ann_portable" -> ((s: SparkSession, d: String) =>
      Multimodal.mediaAnnPortable(s, d))
  )

  /** DuckDB-runnable oracle SQL per query (same column aliases). Queries
    * absent here (HLL estimates, stochastic ops) get rows-only checks. */
  def oracleSql: Map[String, String] = Map(
    "q_events_daily_agg" -> Relational.eventsDailyAggSql,
    "q_distinct_types" -> Relational.distinctEventTypesSql,
    "q1_pricing_summary" -> Relational.q1PricingSummarySql,
    "q_value_percentiles" -> Relational.valuePercentilesSql,
    "q_props_extract" -> Relational.propsExtractSql,
    "q_profile_orders" -> graft.ops.Profile.ordersProfileSql,
    "q_anti_join" -> AnsiSurface.customersWithoutEventsSql,
    "q_having" -> AnsiSurface.richSegmentsSql,
    "q_histogram" -> AnsiSurface.orderValueHistogramSql,
    "q_correlated_subquery" -> AnsiSurface.aboveNationAverageSql,
    "q_string_funcs" -> AnsiSurface.partNameStringsSql,
    "q_date_parts" -> AnsiSurface.ordersByDatePartsSql,
    "q_pivot" -> AnsiSurface.ordersPivotByStatusSql,
    "q_array_agg" -> AnsiSurface.customerOrderArraysCsvSql,
    "q_cube" -> AnsiSurface.pricingCubeSql,
    "q_map_funcs" -> AnsiSurface.statusCountMapsSql,
    "q_stable_ids" -> graft.ops.Pack.docStableIdsSql,
    "q_topk_best_day" -> Relational.topKByBestDaySql,
    "q_sorted_agg" -> Relational.sortedAggDumpSql,
    "q_argmax_per_customer" -> Relational.latestBestOrderPerCustomerSql,
    "q_order_ranks" -> Windows.orderRanksSql,
    "q_order_timeline" -> Windows.orderTimelineSql,
    "q_pricing_rollup" -> Windows.pricingRollupSql,
    "q_hourly_windows" -> Windows.hourlyEventWindowsSql,
    "q_trailing_spend" -> Windows.trailingSpendSql,
    "q_grouping_sets" -> Windows.pricingGroupingSetsSql,
    "q_relative_ranks" -> Windows.orderRelativeRanksSql,
    "q_funnel" -> Relational.signupFunnelSql,
    "q_novelty" -> TextStats.noveltyScoresSql,
    "q_set_ops" -> Windows.setOpsCustomersSql,
    "q_filter_isin" -> Relational.filterIsinSql,
    "q_filter_eq_project" -> Relational.filterEqProjectSql,
    "q_cms_sketch" -> graft.ops.Sketches.cmsSketchSql,
    "q_cms_heavy_hitters" -> graft.ops.Sketches.cmsHeavyHittersSql,
    "q_cms_store_merged" -> graft.ops.Sketches.cmsStoreMergedSql,
    "q_volume_anomaly" -> graft.ops.Monitor.volumeAnomalySql,
    "q_zorder_layout" -> graft.ops.Layout.zorderLayoutSql,
    "q_zorder_prune_effect" -> graft.ops.Layout.zorderPruneEffectSql,
    "q_zorder_scan_gate" -> graft.ops.Layout.zorderScanGateSql,
    "q_with_literal" -> Relational.withLiteralColumnSql,
    "q_semijoin_active_users" -> Relational.semiJoinActiveUsersSql,
    "q_revenue_by_region" -> Relational.revenueByRegionSql,
    "q_revenue_by_priority" -> Relational.revenueByPrioritySql,
    "q_asof_join" -> AsOfJoin.eventsWithLatestOrderSql,
    "q_band_join" -> graft.engine.RangeJoin.partPriceBandsSql,
    "q_band_join_agg" -> graft.engine.RangeJoin.partPriceBandsAggSql,
    "q_interval_join" -> graft.engine.RangeJoin.inTransitByPrioritySql,
    "q_interval_attach" -> graft.engine.RangeJoin.marchTransitAttachSql,
    "q_interval_overlap" ->
      graft.engine.RangeJoin.supplierTransitOverlapsSql,
    "q_stream_agg" -> StreamAggregator.streamAggSql,
    "q_stream_join" -> graft.streaming.StreamJoin.flaggedFollowupsSql,
    "q_sessions" -> Sessionize.sessionsSql,
    "q_token_counts" -> TextStats.tokenCountsSql,
    "q_quality_scores" -> TextStats.qualityScoresSql,
    "q_quality_filtered" -> TextStats.qualityFilteredSql,
    "q_fingerprints" -> TextStats.fingerprintsSql,
    "q_lang_id" -> TextStats.langIdSql,
    "q_winnow_fp_portable" -> TextStats.winnowingPortableSql,
    "q_minhash_lsh_portable" -> Dedup.minhashLshPairsPortableSql,
    "q_editdist_near_dup_portable" -> Dedup.editDistNearDupPortableSql,
    "q_simhash_portable" -> Dedup.simhashPairsPortableSql,
    "q_dedup_clusters_portable" ->
      graft.ops.Components.lshDedupClustersPortableSql,
    "q_dedup_groups" -> Dedup.exactDupGroupsSql,
    "q_dedup_exact" -> Dedup.dedupExactSql,
    "q_ngram_jaccard_pairs" -> Dedup.ngramJaccardPairsSql,
    "q_dedup_incremental" -> Dedup.dedupIncrementalSql,
    "q_dedup_incremental_bloom" -> Dedup.dedupIncrementalSql,
    "q_dedup_incremental_bloom_sharded" -> Dedup.dedupIncrementalSql,
    "q_dedup_incremental_store" -> Dedup.dedupIncrementalSql,
    "q_redact_docs" -> graft.ops.Redact.redactDocsSql,
    "q_link_rank" -> graft.ops.LinkRank.linkRankSql,
    "q_link_rank_bucketed" -> graft.ops.LinkRank.linkRankSql,
    "q_link_rank_top" -> graft.ops.LinkRank.linkRankTopSql,
    "q_trust_rank" -> graft.ops.LinkRank.trustRankSql,
    "q_graph_degrees" -> graft.ops.LinkRank.graphDegreesSql,
    "q_link_rank_churn" -> graft.ops.LinkRank.linkRankChurnSql,
    "q_near_dup_components" -> graft.ops.Components.nearDupComponentsSql,
    "q_dedup_survivors" -> graft.ops.Components.dedupNearSurvivorsSql,
    "q_dedup_best_survivors" ->
      graft.ops.Components.bestQualitySurvivorsSql,
    "q_corpus_clean" -> graft.ops.Components.cleanCorpusSql,
    "q_hybrid_rrf" -> graft.ops.Retrieval.hybridRrfTopKSql,
    "q_hybrid_rrf_gate" -> graft.ops.Retrieval.hybridRrfOverlapGateSql,
    "q_hard_negatives" -> graft.ops.Retrieval.hardNegativesSql,
    "q_vocab_coverage" -> graft.ops.Terms.vocabCoverageSql,
    "q_bpe_pair_stats" -> graft.ops.Tokenize.bpePairStatsSql,
    "q_bpe_merges_gate" -> graft.ops.Tokenize.bpeMergesGateSql,
    "q_bpe_encode_gate" -> graft.ops.Tokenize.bpeEncodeGateSql,
    "q_dedup_report" -> graft.ops.Dedup.dedupReportSql,
    "q_snapshot_diff" -> graft.ops.Snapshot.snapshotDiffDocsSql,
    "q_snapshot_diff_report" -> graft.ops.Snapshot.snapshotDiffReportSql,
    "q_length_histogram" -> graft.ops.Profile.lengthHistogramSql,
    "q_pack_sequences" -> graft.ops.Pack.docSequencesSql,
    "q_sequence_manifest" -> graft.ops.Pack.sequenceManifestSql,
    "q_quality_model_scores" -> graft.ops.Classify.qualityModelScoresSql,
    "q_quality_model_report" -> graft.ops.Classify.qualityModelReportSql,
    "q_dsir_weights" -> graft.ops.Classify.dsirWeightsSql,
    "q_dsir_selected" -> graft.ops.Classify.dsirSelectedSql,
    "q_bigram_lm_scores" -> graft.ops.Classify.bigramLmScoresSql,
    "q_bigram_lm_ppl_gate" -> graft.ops.Classify.bigramLmPerplexityGateSql,
    "q_ppl_buckets" -> graft.ops.Classify.pplBucketsSql,
    "q_ppl_bucket_report" -> graft.ops.Classify.pplBucketReportSql,
    "q_curriculum" -> graft.ops.Curriculum.curriculumScheduleSql,
    "q_curriculum_audit" -> graft.ops.Curriculum.curriculumAuditSql,
    "q_length_batches" -> graft.ops.Pack.lengthBucketBatchesSql,
    "q_batch_manifest" -> graft.ops.Pack.batchManifestSql,
    "q_source_caps" -> graft.ops.Corpus.sourceCappedCorpusSql,
    "q_source_cap_report" -> graft.ops.Corpus.sourceCapReportSql,
    "q_term_stats" -> graft.ops.Terms.termStatsSql,
    "q_top_terms" -> graft.ops.Terms.topTermsPerDocSql,
    "q_bm25_topk" -> graft.ops.Terms.bm25TopKSql,
    "q_bm25_indexed" -> graft.ops.Terms.bm25TopKSql,
    "q_bm25_appended" -> graft.ops.Terms.bm25TopKSql,
    "q_bm25_deleted" -> graft.ops.Terms.bm25DeletedTopKSql,
    "q_sample_stratified" -> graft.ops.Mix.stratifiedSampleSql,
    "q_train_test_split" -> graft.ops.Mix.trainTestSplitSql,
    "q_split_leakage" -> graft.ops.Mix.crossSplitLeakageSql,
    "q_cluster_split" -> graft.ops.Mix.clusterSplitSql,
    "q_cluster_split_audit" -> graft.ops.Mix.clusterSplitAuditSql,
    "q_corpus_mix" -> graft.ops.Mix.corpusMixSql,
    "q_corpus_mix_summary" -> graft.ops.Mix.corpusMixSummarySql,
    "q_token_budget_mix" -> graft.ops.Mix.tokenBudgetMixSql,
    "q_token_budget_audit" -> graft.ops.Mix.tokenBudgetMixAuditSql,
    "q_temperature_mix" -> graft.ops.Mix.temperatureMixSql,
    "q_temperature_mix_audit" -> graft.ops.Mix.temperatureMixAuditSql,
    "q_pack_shards" -> graft.ops.Pack.packDocsSql,
    "q_shard_manifest" -> graft.ops.Pack.shardManifestSql,
    "q_pack_payloads" -> graft.ops.Pack.packedPayloadsSql,
    "q_corpus_shuffle" -> graft.ops.Pack.corpusShuffleSql,
    "q_chunk_docs" -> graft.ops.Chunk.chunkDocsSql,
    "q_chunk_dedup" -> graft.ops.Chunk.chunkDedupSql,
    "q_repetition" -> graft.ops.Repetition.repetitionSignalsSql,
    "q_dup_spans" -> graft.ops.Spans.dupSpansSql,
    "q_despanned_docs" -> graft.ops.Spans.despannedDocsSql,
    "q_contamination_report" -> graft.ops.Decontaminate.contaminatedSql,
    "q_decontaminated_corpus" ->
      graft.ops.Decontaminate.decontaminatedCorpusSql,
    "q_governed_corpus" -> graft.ops.Decontaminate.governedCorpusSql,
    "q_fuzzy_contamination_portable" ->
      graft.ops.Decontaminate.fuzzyContaminationPortableSql,
    "q_fuzzy_decontaminated" ->
      graft.ops.Decontaminate.fuzzyDecontaminatedCorpusSql,
    "q_ann_topk" -> Similarity.bruteForceTopKSql,
    "q_ann_ivf_recall" -> Similarity.ivfRecallSql,
    "q_semantic_dedup_centroid_gate" ->
      Similarity.semanticDedupCentroidGateSql,
    "q_cluster_mix_gate" -> Similarity.clusterBalancedSampleGateSql,
    "q_training_shards_semantic_gate" ->
      graft.ops.Corpus.trainingShardsSemanticGateSql,
    "q_ann_pq_recall" -> graft.ops.Quantize.pqRecallSql,
    "q_ann_ivfpq_recall" -> graft.ops.Quantize.ivfPqRecallSql,
    "q_ann_ivfpq_incr_recall" -> graft.ops.Quantize.ivfPqRecallSql,
    "q_ann_ivfpq_deleted" -> graft.ops.Quantize.ivfPqDeletedRecallSql,
    "q_ann_ivfpq_drift" -> graft.ops.Quantize.ivfPqDriftRecallSql,
    "q_ingest_embed_drift" ->
      graft.streaming.IngestEmbed.ingestEmbedDriftGateSql,
    "q_training_shards" -> graft.ops.Corpus.trainingShardsSql,
    "q_training_shards_mixed" -> graft.ops.Corpus.trainingShardsMixedSql,
    "q_training_shards_chunked" -> graft.ops.Corpus.trainingShardsChunkedSql,
    "q_embed_near_dup" -> Similarity.nearDupPairsExactSql,
    "q_media_frames" -> Multimodal.frameSampleSummarySql,
    "q_media_features_portable" -> Multimodal.featuresPortableSql,
    "q_media_ann_portable" -> Multimodal.mediaAnnPortableSql
  )
}
