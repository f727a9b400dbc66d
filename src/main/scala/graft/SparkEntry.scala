package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching ANSI-SQL oracle in `oracleSql`
  * (run by the driver in DuckDB over the same parquet tables) unless the
  * operator depends on Spark-native hashing (MinHash/SimHash/LSH buckets:
  * murmur3/xxhash64 are not reproducible in DuckDB SQL → rows-only check;
  * their correctness is covered by ScalaTest specs against exact
  * baselines).
  *
  * Engine-parity rules used throughout (verified bit-exact locally):
  *  - column names and ORDER BY identical on both sides;
  *  - integer aggregates cast to BIGINT in DuckDB (sum → HUGEINT there);
  *  - money sums in exact DECIMAL(12,2) arithmetic, cast to double;
  *  - double averages rounded to 4 dp, cosines to 6 dp;
  *  - timestamps never exposed raw (parquet is ns; Spark truncates to µs):
  *    hours as strings, instants as epoch milliseconds.
  */
object SparkEntry {

  /** Flagship: the full index LIFECYCLE the reference operates —
    * build the letter-partitioned index (`/root/reference/helper_map.c:166`
    * → `helper_reduce.c:153`), incrementally re-index one changed document
    * (replacing the reference's duplicating `a+` append,
    * `helper_reduce.c:241`), then SERVE lookups from the materialized
    * index with partition pruning (`helper_reduce.c:238-242`). The first
    * returned posting ("graftmarker") can only exist if the upsert landed;
    * the rest prove ordinary serving still works. Driver smoke-checks
    * rows>0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val sfDir = "/root/testdata/sf0.001"
    val indexPath = graft.util.Scratch.dir(spark, "graft_entry_index")
    Indexer.writeIndex(spark, sfDir, indexPath)
    val updated = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0)
      .withColumn("text", concat(col("text"), lit(" graftmarker")))
    Indexer.upsertIntoIndex(spark, indexPath, updated)
    // read AFTER the in-place upsert: a relation resolved earlier would
    // still list the replaced files
    val upserted = spark.read.parquet(indexPath)
    Indexer.lookupInIndex(upserted, "graftmarker")
      .unionAll(Indexer.lookupInIndex(upserted, "the"))
  }

  /** Shared ANN-recall evaluation geometry: every recall-family
    * REGISTRATION (ann_recall / recall_curve / dim_ablation /
    * quantize_recall / ivfpq_topk / filtered_ann) and every recall-family
    * ORACLE CTE (exactTopKCtes, ivfPqCtes, the per-query recall SQL)
    * derive their query-set bound and depth from these two constants, so
    * changing the registered call cannot silently desynchronize the
    * oracle from the engine — the r15-advice drift hazard.
    */
  private val RecallNQueries = 10
  private val RecallK = 10

  /** The recall-curve points, mirroring Similarity.recallCurve's
    * `Seq(1, 5, 10).filter(_ <= k)` clamp exactly.
    */
  private def recallCurvePointsSql: String =
    Seq(1, 5, 10).filter(_ <= RecallK).mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — inverted index (reference parity) —
    "q_index_build"    -> ((s, d) => Indexer.indexBuild(s, d)),
    // the SAME postings, produced by the Structured Streaming maintenance
    // path drained with an AvailableNow trigger — streaming state must
    // converge to the batch answer under the batch oracle
    "q_streaming_index" -> ((s, d) => graft.streaming.StreamingIndexer.indexAvailableNow(s, d)),
    // two file batches, two query incarnations, ONE checkpoint: the
    // resumed run recovers state + file log, reads only the delta, and
    // converges to batch postings (exactly-once restart)
    "q_streaming_resume" -> ((s, d) =>
      graft.streaming.StreamingIndexer.indexResumeAvailableNow(s, d)),
    // DataSource V2 interop: postings written in the REFERENCE'S native
    // ./index/<letter> text format, read back through the custom V2
    // source (filter pushdown prunes to letter files at planning time)
    "q_refindex_scan" -> ((s, d) =>
      graft.sources.v2.RefIndexInterop.refIndexScan(s, d)),
    "q_refindex_lookup" -> ((s, d) =>
      graft.sources.v2.RefIndexInterop.refIndexLookup(s, d, "the")),
    // V2 runtime filtering: data-derived hot letters prune the letter
    // files at EXECUTION time (SupportsRuntimeFiltering — DPP for the
    // custom source; spec-asserted)
    "q_refindex_runtime" -> ((s, d) =>
      graft.sources.v2.RefIndexInterop.refIndexRuntimePruned(s, d, 10L)),
    // build a scratch index, upsert a changed doc, return the whole index —
    // oracle computes postings over the modified corpus: hash match proves
    // upsert ≡ rebuild (the reference's re-index, minus its duplication bug)
    "q_index_upsert"   -> ((s, d) => Indexer.upsertRoundTrip(s, d)),
    // copy-on-write snapshot versioning: commit the index as snapshot v1,
    // upsert doc 0 as snapshot v2, then fingerprint BOTH snapshots read
    // through their manifests — the oracle computes v1 stats over the
    // ORIGINAL corpus, so a hash match proves time travel still serves the
    // pre-upsert answer bit-for-bit after the write
    "q_snapshot_timetravel" -> ((s, d) => Snapshots.timetravelRoundTrip(s, d)),
    // change data feed between snapshots: the exact rows an upsert added/
    // removed, answered from the two manifests — oracle diffs the corpora
    "q_snapshot_changes" -> ((s, d) => Snapshots.snapshotChanges(s, d)),
    // right-to-be-forgotten: copy-on-write delete ≡ rebuild-without-docs
    "q_gdpr_delete" -> ((s, d) => Snapshots.gdprDelete(s, d)),
    // incremental view maintenance: materialized partial states + delta
    // merge — oracle recomputes the rollup from scratch (incremental ≡ full)
    "q_ivm_rollup" -> ((s, d) => Incremental.incrementalRollup(s, d)),
    // SCD2 maintained by STATE MERGE: stored dimension + event delta,
    // base events never re-read; hash-match vs the monolithic rebuild
    "q_ivm_scd2" -> ((s, d) => Incremental.scd2Incremental(s, d)),
    // the same state merge driven per micro-batch (CDC at ingest):
    // drained dimension state == the monolithic rebuild
    "q_streaming_scd2" -> ((s, d) =>
      graft.streaming.StreamingScd2.scd2AvailableNow(s, d)),
    // two-sided delta-join maintenance: ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB merged into
    // materialized state — oracle re-joins the full tables from scratch
    "q_ivm_join" -> ((s, d) => Incremental.incrementalJoinView(s, d)),
    // MOSS robust winnowing: rightmost-min fingerprint selection per
    // sliding gram window, as one windowed min over a packed integer key
    "q_winnowing" -> ((s, d) => TextAnalysis.winnowing(s, d)),
    // BPE merge training: 3 driver-coordinated rounds over word types
    "q_bpe_train" -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    // tokenizer APPLICATION: per-lang compression accounting of the
    // corpus encoded with the learned merges (word-type granularity)
    "q_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    // schema evolution: mergeSchema across generations, NULL backfill
    "q_schema_evolution" -> ((s, d) => Formats.schemaEvolutionRead(s, d)),
    // winnowing fingerprints in use: candidate near-dup pairs via shared
    // rare fingerprints (df-cutoff bounds the self-join)
    "q_winnow_pairs" -> ((s, d) => TextAnalysis.winnowPairs(s, d)),
    // time-series gap fill: generated hour spine + carry-forward window
    "q_gap_fill" -> ((s, d) => Events.gapFillHourly(s, d)),
    // schema-on-read: JSON props parsed with from_json, rolled up per type
    "q_json_extract" -> ((s, d) => Events.propsExtract(s, d)),
    // ANALYZE-style exact column stats in one scan, unpivoted via stack
    "q_table_profile" -> ((s, d) => Relational.tableProfile(s, d)),
    // anti-entropy: order-invariant per-letter checksums of the index
    "q_partition_checksums" -> ((s, d) => IndexQueries.partitionChecksums(s, d)),
    // posting-list gap encoding + varint cost model (index compression)
    "q_postings_delta" -> ((s, d) => IndexQueries.postingsDeltaStats(s, d)),
    // first-seen shingle novelty: marginal contribution per document
    "q_novelty" -> ((s, d) => TextAnalysis.noveltyScore(s, d)),
    // stream-stream join: watermarked views ⋈ purchases with a time-range
    // condition, drained AvailableNow — same oracle as the batch interval
    // join, so the join-state semantics are driver-verified
    "q_streaming_join" -> ((s, d) =>
      graft.streaming.StreamingJoin.purchaseViewsAvailableNow(s, d)),
    // LEFT OUTER stream-stream join: null-padded rows emit when the
    // watermark proves no match can arrive; sentinel-flushed drain
    "q_streaming_outer_join" -> ((s, d) =>
      graft.streaming.StreamingJoin.purchaseViewsOuterAvailableNow(s, d)),
    // per-source quota cap: deterministic first-N admission per source
    "q_quota_cap" -> ((s, d) => Sampling.quotaCap(s, d)),
    // mergeable-sketch IVM: merged half-KMVs ≡ full-data KMV (exact oracle)
    "q_ivm_sketch" -> ((s, d) => Incremental.incrementalDistinctSketch(s, d)),
    "q_term_lookup"    -> ((s, d) => Indexer.termLookup(s, d, "the")),
    "q_multi_term_and" -> ((s, d) => Indexer.multiTermAnd(s, d, Seq("scan", "join", "filter"))),
    // served from the MATERIALIZED letter-partitioned index (build-once/
    // query-many — the reference's actual operating mode); same oracles as
    // the corpus-scan forms prove the index is a lossless materialization
    "q_index_serve_lookup" -> ((s, d) => MaterializedIndex.termLookup(s, d, "window")),
    // typeahead: one pruned letter partition + pushed StartsWith
    "q_prefix_search" -> ((s, d) => MaterializedIndex.prefixSearch(s, d, "s")),
    "q_index_serve_and" -> ((s, d) => MaterializedIndex.multiTermAnd(s, d, Seq("scan", "join", "filter"))),
    "q_index_serve_phrase" -> ((s, d) => MaterializedIndex.servePhrase(s, d, "key order")),
    "q_bm25_topk"      -> ((s, d) => IndexQueries.bm25TopK(s, d, Seq("scan", "join", "filter"), 10)),
    "q_tfidf_topk"     -> ((s, d) => Indexer.tfIdfTopK(s, d, 5)),
    // hybrid keyword+vector retrieval fused with RRF
    "q_hybrid_rrf"     -> ((s, d) =>
      IndexQueries.hybridRRF(s, d, Seq("scan", "join", "filter"), 0, 50, 10)),
    "q_vocab_stats"    -> ((s, d) => Indexer.vocabStats(s, d)),
    "q_phrase_search"  -> ((s, d) => IndexQueries.phraseSearch(s, d, "key order")),
    "q_top_terms_per_doc" -> ((s, d) => IndexQueries.topTermsPerDoc(s, d, 3)),
    "q_common_terms"   -> ((s, d) => IndexQueries.commonTerms(s, d, 0L, 1L)),
    "q_terms_only_in"  -> ((s, d) => IndexQueries.termsOnlyIn(s, d, 0L, 1L)),
    "q_running_totals" -> ((s, d) => IndexQueries.customerRunningTotals(s, d)),
    // per-lang vocabulary cardinality by engine-exact KMV sketch (the
    // HLL++ variant, IndexQueries.vocabApprox, stays library+spec-only:
    // its sketch values are Spark-implementation-specific)
    "q_vocab_kmv"      -> ((s, d) => IndexQueries.vocabKMV(s, d, 64)),
    // the same sketch via the NATIVE TypedImperativeAggregate (map-side
    // partial sketches; at most k longs per task reach the exchange)
    "q_vocab_kmv_native" -> ((s, d) => IndexQueries.vocabKMVNative(s, d, 64)),
    // KMV set algebra: pairwise vocabulary overlap from the k-row
    // sketches alone (exact inter/union as the audit leg)
    "q_vocab_overlap"  -> ((s, d) => IndexQueries.vocabOverlapKMV(s, d, 64)),
    // the same overlap matrix from SHIPPED sketch members (native
    // KmvHashesAgg + O(k) array set algebra per pair; the estimate legs
    // never touch the data after the one sketch pass)
    "q_vocab_overlap_native" -> ((s, d) => IndexQueries.vocabOverlapNative(s, d, 64)),
    "q_shingle_kmv"    -> ((s, d) => IndexQueries.shingleKMV(s, d, 64)),
    // CMS / Bloom: engine-exact frequency and membership sketches with a
    // probe-set audit (estimate-vs-truth, claimed-vs-actual)
    "q_cms_counts"     -> ((s, d) => Sketches.cmsEstimate(s, d)),
    "q_bloom_audit"    -> ((s, d) => Sketches.bloomAudit(s, d)),
    // fixed-bin histogram percentile estimation vs exact truth — the
    // approximate-quantile shape that avoids the global sort at scale
    "q_hist_percentiles" -> ((s, d) => Sketches.histPercentiles(s, d)),
    // per-group quantiles from the native bottom-k sample sketch (≤ k
    // pairs per task reach the exchange; deterministic, oracle-exact —
    // unlike percentile_approx, whose compaction is order-dependent)
    "q_sketch_quantiles" -> ((s, d) => Quantiles.sketchQuantiles(s, d)),
    // measured sketch accuracy: exact rank error of each estimate, from
    // one broadcast-join corpus pass (never an exact per-type percentile)
    "q_sketch_error"   -> ((s, d) => Quantiles.sketchErrorAudit(s, d)),
    // range-partition boundary planning from the same sketch: the
    // 31 cut points for a 32-way repartitionByRange over doc length
    "q_range_boundaries" -> ((s, d) => Quantiles.rangeBoundaries(s, d)),
    // the boundary plan CONSUMED: per-doc shard assignment by row-local
    // array fold against the broadcast cut points, plus the shard census
    "q_range_shards"   -> ((s, d) => Quantiles.rangeShards(s, d)),
    // sketch-based join-size estimation: two k-hash sketches + a
    // members-only count probe predict |orders ⋈ lineitem| without
    // running the join (exact count kept as the audit leg)
    "q_join_size_est"  -> ((s, d) => JoinEstimate.joinSizeEstimate(s, d)),
    // measured broadcast planning: a cheap pre-pass counts the FILTERED
    // dimension (static stats only see file size) and broadcasts when it
    // fits — the fact side then never shuffles
    "q_measured_join"  -> ((s, d) => JoinPlanner.segmentRevenue(s, d)),
    // closed-form linear regression: ONE aggregation pass of ten exact
    // integer moments, Cramer solve as plan arithmetic — no gradient
    // loop, no collect; betas bit-match DuckDB via the shared solve
    "q_linear_model"   -> ((s, d) => LinearModel.linearFit(s, d)),
    // many models in one shuffle: per-priority moments, betas as columns
    "q_linear_grouped" -> ((s, d) => LinearModel.groupedFit(s, d)),
    // score every order with the fitted model (betas ride a 1-row
    // broadcast), keep the top-15 by |residual| (TakeOrderedAndProject)
    "q_linear_outliers" -> ((s, d) => LinearModel.residualOutliers(s, d)),
    // retrain from stored moments + the delta batch's moments — base
    // orders never re-read; exact by integer-sum associativity
    "q_ivm_linear"     -> ((s, d) => LinearModel.linearFitIncremental(s, d)),
    // closed-form multinomial Naive Bayes: sufficient statistics =
    // mergeable counts materialized in ONE corpus pass; likelihoods
    // quantized to integer micro-nats so scores are exact BIGINT sums
    "q_nb_train"       -> ((s, d) => NaiveBayes.nbTrain(s, d)),
    // held-out argmax scoring: token stream ⋈ model on term, priors
    // broadcast; deterministic (score DESC, class ASC) tie-break
    "q_nb_predict"     -> ((s, d) => NaiveBayes.nbPredict(s, d)),
    // class × class held-out confusion counts — quality in one table
    "q_nb_confusion"   -> ((s, d) => NaiveBayes.nbConfusion(s, d)),
    // exact one-vs-rest ROC-AUC from integer rank sums (ties averaged)
    "q_nb_auc"         -> ((s, d) => NaiveBayes.nbAuc(s, d)),
    // the model kept always-current at ingest: per-micro-batch moment
    // merge (ten longs of state), two incarnations over one checkpoint;
    // drained betas == the monolithic retrain
    "q_streaming_linear" -> ((s, d) =>
      graft.streaming.StreamingLinear.linearFitAvailableNow(s, d)),
    // the hourly view kept current at ingest (per-batch exact cell
    // merge, resume over one checkpoint), then SERVED via the optimizer
    // rewrite — the query and its oracle both run against base events
    "q_streaming_mv" -> ((s, d) =>
      graft.streaming.StreamingMv.mvServeAvailableNow(s, d)),
    // the same per-type sketch maintained as streaming state (O(k) per
    // group); drained state == batch sketch, so the oracle is shared
    "q_streaming_quantiles" -> ((s, d) =>
      graft.streaming.StreamingSketch.sketchQuantilesAvailableNow(s, d)),
    // CMS maintained as streaming state; drained state ≡ the batch
    // sketch because cellwise add IS the sketch merge
    "q_streaming_cms"  -> ((s, d) =>
      graft.streaming.StreamingSketch.cmsCellsAvailableNow(s, d)),
    // hourly anomaly flags over STREAMED hour cells (state = hour table)
    "q_streaming_anomaly" -> ((s, d) =>
      graft.streaming.StreamingSketch.hourlyAnomaliesAvailableNow(s, d)),
    // GPT-style concat-and-chunk sequence packing over the token stream
    // (two-phase distributed prefix sum; no text moves)
    "q_seq_packing"    -> ((s, d) => Packing.packingHistogram(s, d)),
    "q_pack_summary"   -> ((s, d) => Packing.packingSummary(s, d)),
    // dynamic-batching padding waste per length bucket (inference side)
    "q_padding_report" -> ((s, d) => Packing.paddingReport(s, d)),
    // append-only incremental packing: base manifest + offset-shifted
    // delta must summarize identically to the monolithic re-pack (the
    // oracle IS the monolithic recompute)
    "q_ivm_packing"    -> ((s, d) => Packing.packingSummaryIncremental(s, d)),
    "q_doc_similarity" -> ((s, d) => IndexQueries.docSimilarity(s, d, 5, 5)),
    "q_sliding_windows" -> ((s, d) => Events.slidingWindows(s, d)),
    "q_event_pivot"    -> ((s, d) => Events.eventPivot(s, d)),
    "q_views_before_purchase" -> ((s, d) => Events.viewsBeforePurchase(s, d)),
    // KEYLESS range join (no equality column at all) via bin-bucketing —
    // the shape Catalyst alone would run as BroadcastNestedLoopJoin
    "q_range_join"     -> ((s, d) => Events.errorWindowClicks(s, d, 10)),
    "q_funnel"         -> ((s, d) => Events.conversionFunnel(s, d)),
    "q_retention"      -> ((s, d) => Events.retentionCohorts(s, d)),
    // — text analysis —
    "q_doc_stats"      -> ((s, d) => TextAnalysis.docStats(s, d)),
    "q_lang_breakdown" -> ((s, d) => TextAnalysis.langBreakdown(s, d)),
    "q_quality_score"  -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    // decontamination: per-doc shingle overlap vs a held-out benchmark set
    "q_contamination"  -> ((s, d) => TextAnalysis.contamination(s, d, 10)),
    // perplexity-style quality signal under the corpus unigram LM
    "q_surprisal"      -> ((s, d) => TextAnalysis.unigramSurprisal(s, d)),
    // decile cut-points of the surprisal signal via the two-phase scan
    "q_quality_deciles" -> ((s, d) => TextAnalysis.qualityDeciles(s, d)),
    // Gopher-style repetition filter signals (row-local HOF math)
    "q_repetition"     -> ((s, d) => TextAnalysis.repetitionStats(s, d)),
    "q_token_counts"   -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "q_fingerprints"   -> ((s, d) => TextAnalysis.fingerprints(s, d)),
    "q_rolling_fp"     -> ((s, d) => TextAnalysis.rollingFingerprints(s, d)),
    "q_chunk_documents" -> ((s, d) => TextAnalysis.chunkDocuments(s, d, 50, 10)),
    "q_langid"         -> ((s, d) => TextAnalysis.langId(s, d)),
    "q_bigram_counts"  -> ((s, d) => TextAnalysis.ngramCounts(s, d, 2, 20)),
    // bigram conditional LM: P(w2|w1) over the most frequent pairs
    "q_bigram_lm"      -> ((s, d) => TextAnalysis.bigramLm(s, d, 20)),
    // collocations: PMI over positional marginals, integer count gate
    "q_pmi_collocations" -> ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    // BPE training, iteration 1: weighted char-pair counts over the vocab
    "q_bpe_pairs"      -> ((s, d) => TextAnalysis.bpePairCounts(s, d, 20)),
    // per-doc share of corpus-common shingles (boilerplate detector)
    "q_boilerplate"    -> ((s, d) => TextAnalysis.boilerplateRatio(s, d)),
    "q_typo_pairs"     -> ((s, d) => TextAnalysis.typoPairs(s, d, 2)),
    "q_heavy_hitters"  -> ((s, d) => TextAnalysis.heavyHitters(s, d, 64)),
    "q_hash_features"  -> ((s, d) => TextAnalysis.hashingTrickFeatures(s, d, 16)),
    "q_train_split"    -> ((s, d) => TextAnalysis.trainValTestSplit(s, d)),
    // split by dup-cluster label so near-dups never straddle train/test
    "q_leakage_safe_split" -> ((s, d) => Sampling.leakageSafeSplit(s, d, 0.8)),
    // cumulative token share of the top-N vocabulary (tokenizer sizing)
    "q_vocab_coverage" -> ((s, d) => IndexQueries.vocabCoverage(s, d)),
    "q_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(s, d, 512)),
    // token-count histogram: the packing planner's budget input
    "q_length_histogram" -> ((s, d) => TextAnalysis.lengthHistogram(s, d, 16)),
    // per-source mixture report: composition + duplication shares
    "q_source_mixture" -> ((s, d) => TextAnalysis.sourceMixture(s, d)),
    // OOV rate per language against a df-floor vocabulary
    "q_oov_rate"       -> ((s, d) => TextAnalysis.oovRate(s, d, 3)),
    // duplicated-shingle coverage per source (suffix-array-dedup signal)
    "q_dup_ngram_coverage" -> ((s, d) => TextAnalysis.dupNgramCoverage(s, d)),
    // mixture resampling plan: ppm keep-rates toward target source weights
    "q_mixture_resample" -> ((s, d) =>
      Sampling.mixtureResample(s, d, Map("src0" -> 5, "src1" -> 3), 1)),
    // DSIR importance weights: per-doc Σ micro-nat(llq_target − llq_source)
    // under two Laplace unigram LMs — exact BIGINT, broadcast grid scoring
    "q_dsir_weights" -> ((s, d) => Sampling.dsirWeights(s, d)),
    // the selection the weights exist for: fixed-k most-target-like docs
    "q_dsir_select" -> ((s, d) => Sampling.dsirSelect(s, d)),
    "q_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(s, d, Map("en" -> 25), 60)),
    "q_sample_stats"   -> ((s, d) =>
      Sampling.stratifiedSampleStats(s, d, Map("en" -> 25), 60)),
    // per-ROW continuous-weight Bernoulli keep rule (quality-weighted
    // downsampling shape); still a shuffle-free map-side filter
    "q_weighted_sample" -> ((s, d) => Sampling.weightedSample(s, d, 2000)),
    // deterministic per-epoch permutation via keyed-hash rank (no RNG)
    "q_epoch_shuffle"  -> ((s, d) => Sampling.epochShuffle(s, d, 2)),
    // PSI drift monitor: new-generation distribution vs the base corpus
    "q_distribution_drift" -> ((s, d) => Drift.distributionDrift(s, d)),
    // the SAME monitor with the new generation's cells as STREAMING state
    "q_streaming_drift" -> ((s, d) =>
      graft.streaming.StreamingDrift.driftAvailableNow(s, d)),
    // Deequ-style declarative data-quality gate: uniqueness /
    // completeness / domain / range / referential integrity in one report
    "q_constraint_audit" -> ((s, d) => Constraints.constraintAudit(s, d)),
    // — privacy / PII hygiene —
    "q_pii_mask"       -> ((s, d) => Privacy.pseudonymizeCustomers(s, d)),
    "q_pseudonym_join" -> ((s, d) => Privacy.ordersByPseudonym(s, d)),
    // k-anonymity: sub-k quasi-identifier classes suppressed, not dropped
    "q_kanon_release"  -> ((s, d) => Privacy.kAnonymousRelease(s, d, 5)),
    // free-text PII census + redaction round-trip proof (residual = 0),
    // and the PII-density gate composed into the curation pipeline
    "q_pii_scrub"      -> ((s, d) => Privacy.piiScrub(s, d)),
    "q_pii_curate"     -> ((s, d) => Privacy.piiCurate(s, d)),
    // the same census maintained micro-batch by micro-batch (mergeable
    // integer sums); drained state answers the identical batch oracle
    "q_streaming_pii"  -> ((s, d) =>
      graft.streaming.StreamingPii.piiCensusAvailableNow(s, d)),
    // — dedup —
    "q_exact_dedup"    -> ((s, d) => Dedup.exactDedup(s, d)),
    // the SAME dedup reduction (keeper = min id, group_size) computed by
    // streaming state and drained with AvailableNow — arrival-order-proof,
    // so the batch oracle applies bit-for-bit
    "q_streaming_dedup" -> ((s, d) => graft.streaming.StreamingDedup.dedupAvailableNow(s, d)),
    "q_neardup_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d, 0.8)),
    // eval-set decontamination: train docs covering ≥ half of a benchmark
    // doc's shingles (benchmark side broadcasts — fixed-size at any scale)
    "q_decontaminate"  -> ((s, d) => Dedup.decontaminate(s, d)),
    // asymmetric: docs whose shingles are ≥90% subsumed by another doc
    "q_containment_pairs" -> ((s, d) => Dedup.containmentPairs(s, d, 0.9)),
    "q_minhash_lsh"    -> ((s, d) => Dedup.minhashLshPairs(s, d, 0.8)),
    // new-batch (doc_id ≡ 7 mod 10) LSH'd against the existing corpus only —
    // O(batch), never re-pairs the corpus; exact-verified like q_minhash_lsh
    "q_incremental_neardup" -> ((s, d) => Dedup.incrementalNeardup(s, d, 0.8)),
    "q_simhash"        -> ((s, d) => Dedup.simhashSignatures(s, d)),
    // pigeonhole chunk banding (Manku WWW'07) + exact Hamming verify;
    // recall is GUARANTEED at maxDist=3, so the brute-force oracle matches
    "q_simhash_pairs"  -> ((s, d) => Dedup.simhashPairs(s, d, 3)),
    "q_dup_clusters"   -> ((s, d) => Dedup.dupClusters(s, d, 0.8)),
    // retention policy: keep the LONGEST doc per near-dup cluster
    "q_cluster_keep_longest" -> ((s, d) => Dedup.clusterKeepLongest(s, d, 0.8)),
    // C4-style span scrub: REMOVE tokens covered by cross-doc 3-grams
    "q_span_scrub"     -> ((s, d) => TextAnalysis.spanScrub(s, d)),
    // per-source scrub audit served from the materialized scrub counts
    "q_scrub_report"   -> ((s, d) => TextAnalysis.scrubReport(s, d)),
    // T5-style span-corruption accounting: hash-seeded spans, merged by
    // the covered window; per-doc achieved mask share
    "q_span_corruption" -> ((s, d) => TextAnalysis.spanCorruption(s, d)),
    // intra-doc repetition scrub: later same-doc 3-gram tellings removed
    "q_self_scrub"     -> ((s, d) => TextAnalysis.selfScrub(s, d)),
    // V3 capstone: retention → scrub → gate → shard manifest in one plan
    "q_curated_shards" -> ((s, d) => Curate.curatedShards(s, d)),
    // two-phase skyline: quality-vs-cost Pareto frontier of the corpus
    "q_pareto_frontier" -> ((s, d) => Curate.paretoFrontier(s, d)),
    // doc-atomic token-budget shards for the export writer
    "q_shard_manifest" -> ((s, d) => Packing.shardManifest(s, d, 8192)),
    "q_curated_corpus" -> ((s, d) => Curate.curateCorpus(s, d)),
    // the curation funnel audit: cumulative survivors per gate, one pass
    "q_curation_funnel" -> ((s, d) => Curate.curationFunnel(s, d)),
    // v2: + boilerplate and bigram-repetition content gates
    "q_curated_v2"     -> ((s, d) => Curate.curateCorpusV2(s, d)),
    // — similarity search —
    "q_multimodal_stats" -> ((s, d) => Multimodal.featureStats(s, d)),
    "q_frame_sample"   -> ((s, d) => Multimodal.frameSampleStats(s, d, 4)),
    // perceptual-hash image dedup: native 63-bit blockhash signature,
    // then Manku chunk-banded candidate join + exact Hamming verify
    "q_image_phash"    -> ((s, d) => Multimodal.imagePhash(s, d)),
    "q_image_neardup"  -> ((s, d) => Multimodal.imageNearDupPairs(s, d, 3)),
    // audio twin: real WAV decode → 63-frame energy profile → banded
    // Hamming pairs → CC labels
    "q_audio_sig"      -> ((s, d) => Multimodal.audioSig(s, d)),
    "q_audio_neardup"  -> ((s, d) => Multimodal.audioNearDupPairs(s, d, 3)),
    "q_audio_dup_clusters" -> ((s, d) => Multimodal.audioDupClusters(s, d, 3)),
    // the dedup decision: CC labels over the pair graph, min-id keeper
    "q_image_dup_clusters" -> ((s, d) => Multimodal.imageDupClusters(s, d, 3)),
    "q_cosine_topk"    -> ((s, d) => Similarity.cosineTopK(s, d, 10, 10)),
    "q_ann_topk"       -> ((s, d) => Similarity.annTopK(s, d, 10, 10)),
    // PQ/ADC serving: rank by code distance, floats touched only for the
    // k winners' exact-cosine audit
    "q_pq_topk"        -> ((s, d) => Similarity.pqTopK(s, d, 10, 10)),
    // sign-bit prefilter (1 bit/dim) + exact rerank of the 30 best
    "q_binary_topk"    -> ((s, d) => Similarity.binaryTopK(s, d, 10, 10)),
    // the TRAINED IVF (Similarity.ivfTopK, k-means centroids) stays
    // library+spec-only — data-derived centroids are not reproducible in
    // static oracle SQL; the serve path with shipped centroids is the
    // declared, oracle-checked IVF query
    "q_ivf_serve"      -> ((s, d) => Similarity.ivfServeTopK(s, d, 10, 10)),
    // ANN-index diagnostics: per-cell population + assignment quality
    "q_ivf_cell_stats" -> ((s, d) => Similarity.ivfCellStats(s, d)),
    // the composed production shape: IVF probes bound candidates, ADC
    // over materialized codes ranks them, exact cosine reranks the top 30
    "q_ivfpq_topk"     -> ((s, d) => Similarity.ivfPqTopK(s, d, RecallNQueries, RecallK)),
    // predicate + ANN: nearest among label<=4, predicate pushed to the
    // codes scan BEFORE ADC scoring (plan-asserted in FilteredAnnSpec)
    "q_filtered_ann"   -> ((s, d) => Similarity.filteredAnnTopK(s, d, RecallNQueries, RecallK)),
    // incremental ANN-index maintenance: append a batch, delta-encode
    // ONLY the new file, serve the per-cell fingerprint — delta ≡ rebuild
    "q_ivfpq_refresh"  -> ((s, d) => Similarity.ivfPqRefresh(s, d)),
    // per-micro-batch delta encode into copy-on-write code generations,
    // two-incarnation checkpoint resume; fingerprint ≡ the batch refresh
    "q_streaming_ann"  -> ((s, d) =>
      graft.streaming.StreamingAnn.annCodesAvailableNow(s, d)),
    // — index/compression fidelity: measured recall@k per lossy tier —
    "q_ann_recall"     -> ((s, d) => Similarity.annRecall(s, d, RecallNQueries, RecallK)),
    "q_recall_curve"   -> ((s, d) => Similarity.recallCurve(s, d, RecallNQueries, RecallK)),
    "q_dim_ablation"   -> ((s, d) => Similarity.dimAblation(s, d, RecallNQueries, RecallK)),
    "q_quantize_recall" -> ((s, d) => Similarity.quantizeRecall(s, d, RecallNQueries, RecallK)),
    "q_embed_stats"    -> ((s, d) => Similarity.embedStats(s, d)),
    // per-class mean embedding (prototypes) from exact integer moments
    "q_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    // Cleanlab-style mislabel audit: own-prototype vs best-impostor margin
    "q_label_noise"    -> ((s, d) => Similarity.labelNoiseAudit(s, d)),
    "q_embed_neardup"  -> ((s, d) => Similarity.embedNearDupPairs(s, d, 100, 0.3)),
    // SemDeDup: per-cell min-id-keeper semantic dedup on fixed centroids
    "q_semdedup"       -> ((s, d) => Similarity.semDedup(s, d, 0.3)),
    "q_quantize_embed" -> ((s, d) => Similarity.quantizeEmbeddings(s, d)),
    // exact covariance grid from integer micro-unit moments (row-local
    // pair products; the only exchange is the d²-cell partial sums)
    "q_embed_covariance" -> ((s, d) => Covariance.covarianceGrid(s, d)),
    // eigenpair of the grid pinned by oracle-checkable matrix invariants
    "q_pca_top"        -> ((s, d) => Covariance.pcaTopQuery(s, d)),
    // Pearson correlation from the same exact moments (diagonal self-join
    // rides the reused pair-cell exchange — one corpus pass)
    "q_embed_correlation" -> ((s, d) => Covariance.correlationGrid(s, d)),
    // per-dim two-sample drift z between corpus slices, exact moments
    "q_embed_drift"    -> ((s, d) => Covariance.embedDrift(s, d)),
    // streaming-maintained moment cells, drained state == batch grid
    "q_streaming_covariance" ->
      ((s, d) => graft.streaming.StreamingCovariance.covarianceGridAvailableNow(s, d)),
    // k-NN label vote over the exact-cosine top-k (map-side partial top-k)
    "q_knn_classify"   -> ((s, d) => Similarity.knnClassify(s, d)),
    // nearest-prototype argmax per vector (broadcast L×d cells), output =
    // confusion matrix — the consumer the label centroids exist for
    "q_centroid_classify" -> ((s, d) => Similarity.centroidClassify(s, d)),
    // contrastive pair mining: best positive + hardest negative per query
    // via conditional struct-max (partially aggregable — no window funnel)
    "q_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // — relational (TPC-H-style) —
    "q1_pricing"       -> ((s, d) => Relational.q1Pricing(s, d)),
    "q3_top_unshipped" -> ((s, d) => Relational.q3TopUnshipped(s, d)),
    "q5_region_revenue" -> ((s, d) => Relational.q5RegionRevenue(s, d)),
    "q_parts_top_brand" -> ((s, d) => Relational.partsTopPerBrand(s, d)),
    "q_orders_rollup"  -> ((s, d) => Relational.ordersRollup(s, d)),
    "q_orders_rollup_cube" -> ((s, d) => Relational.ordersRollupCube(s, d)),
    "q_value_percentiles" -> ((s, d) => Relational.valuePercentiles(s, d)),
    "q_cust_no_orders" -> ((s, d) => Relational.customersWithoutOrders(s, d)),
    "q_supp_with_ship" -> ((s, d) => Relational.suppliersWithShipments(s, d)),
    // correlated scalar subqueries — Catalyst decorrelates to agg+join
    "q_parts_above_avg" -> ((s, d) => Relational.partsAboveBrandAvg(s, d)),
    // TPC-H Q7 shape: nation dimension in two roles over a 5-join chain
    "q_nation_trade"   -> ((s, d) => Relational.nationTrade(s, d)),
    // TPC-H Q6 through the spark.sql front end (view + SQL text)
    "q6_forecast_revenue" -> ((s, d) => Relational.q6ForecastRevenue(s, d)),
    // TPC-H Q14 shape: conditional aggregation (promo share of revenue)
    "q14_promo_share"  -> ((s, d) => Relational.promoRevenueShare(s, d)),
    // TPC-H Q19 shape: disjunctive multi-column predicate pushdown
    "q19_brand_ranges" -> ((s, d) => Relational.brandRangeRevenue(s, d)),
    // TPC-H Q4 shape: EXISTS with a two-table predicate → semi join
    "q4_late_orders"   -> ((s, d) => Relational.lateOrderPriorities(s, d)),
    // TPC-H Q8 shape: market share via two-role nation + conditional sums
    "q8_market_share"  -> ((s, d) => Relational.marketShare(s, d)),
    // TPC-H Q9 shape: part-family revenue by supplier nation × order year
    "q9_profit_nation" -> ((s, d) => Relational.profitByNationYear(s, d)),
    // TPC-H Q10 shape: returned-item revenue, top-20 customers
    "q10_returned_items" -> ((s, d) => Relational.returnedItemRevenue(s, d)),
    // TPC-H Q13 shape: two-level aggregation (orders/customer → histogram)
    "q13_order_counts" -> ((s, d) => Relational.customerOrderDistribution(s, d)),
    // TPC-H Q17 shape: correlated per-part average, exact-decimal cut
    "q17_small_qty"    -> ((s, d) => Relational.smallQtyRevenue(s, d)),
    // TPC-H Q2 shape: argmin join — cheapest regional supplier per part
    "q2_min_cost_supp" -> ((s, d) => Relational.minCostSupplier(s, d)),
    // TPC-H Q11 shape: HAVING vs scalar subquery, scale-free threshold
    "q11_important_parts" -> ((s, d) => Relational.importantParts(s, d)),
    // TPC-H Q12 shape: two-bucket CASE pivot over an orderkey join
    "q12_late_priority" -> ((s, d) => Relational.latePriorityPivot(s, d)),
    // TPC-H Q16 shape: distinct-supplier counts minus an excluded set
    "q16_supp_diversity" -> ((s, d) => Relational.partSupplierDiversity(s, d)),
    // TPC-H Q20 shape: nested correlated quantity threshold → semi join
    "q20_dominant_supp" -> ((s, d) => Relational.dominantSuppliers(s, d)),
    // TPC-H Q21 shape: sole-blame lateness via one per-order rollup
    "q21_blame_supplier" -> ((s, d) => Relational.blameSuppliers(s, d)),
    // TPC-H Q22 shape: above-average balance + anti join, by nation
    "q22_untapped"     -> ((s, d) => Relational.globalSalesOpportunity(s, d)),
    // rank-based distribution windows (percent_rank/cume_dist)
    "q_price_position" -> ((s, d) => Relational.pricePosition(s, d)),
    // iterative graph propagation as one relational plan (integer mass)
    "q_rank_propagation" -> ((s, d) => IndexQueries.rankPropagation(s, d, 25)),
    // degree-oriented triangle counting over the part co-purchase graph
    "q_copurchase_triangles" -> ((s, d) => Graph.copurchaseTriangles(s, d)),
    // association rules (support/confidence/lift) over the same baskets
    "q_basket_rules"   -> ((s, d) => Graph.basketRules(s, d)),
    // TPC-H Q15 shape: view + max-over-view, decimal-exact winner cut
    "q_top_supplier"   -> ((s, d) => Relational.topRevenueSupplier(s, d)),
    // TPC-H Q18 shape: HAVING subquery → aggregate + join over winners
    "q_large_orders"   -> ((s, d) => Relational.largeQuantityOrders(s, d, 250)),
    "q_bucketed_join"  -> ((s, d) => Bucketing.bucketedOrderRevenue(s, d)),
    // per-file Bloom skipping: point lookup on a column the Z-layout's
    // min/max envelopes can't prune; result is bloom-invariant
    "q_bloom_skip_lookup" -> ((s, d) => BloomSkip.bloomPrunedLookup(s, d, 42L)),
    "q_clustered_scan" -> ((s, d) => Clustering.clusteredRectRevenue(s, d)),
    // same rectangle served with PLANNING-time file pruning via the
    // stats manifest (the table-format metadata layer analogue)
    "q_pruned_scan"    -> ((s, d) => Clustering.prunedRectRevenue(s, d)),
    // fragment → compact → aggregate the compacted copy; oracle aggregates
    // the original table (rewrite losslessness under the hash check)
    "q_compacted_scan" -> ((s, d) => Compaction.compactedRoundTrip(s, d)),
    // aggregate pushdown: MIN/MAX/COUNT answered from parquet footers on
    // the V2 path — zero data pages read (plan-asserted in spec)
    "q_agg_pushdown"   -> ((s, d) => ScanPushdown.footerStatsProfile(s, d)),
    // nested schema pruning: one struct leaf read out of a nested layout
    "q_nested_prune"   -> ((s, d) => ScanPushdown.nestedPayloadRollup(s, d)),
    // runtime Bloom-filter join: fact rows pruned by a might_contain
    // filter BEFORE the shuffle when the dim can't broadcast
    "q_runtime_filter" -> ((s, d) => Relational.runtimeFilteredBrandQty(s, d)),
    // dynamic partition pruning: data-derived dim set prunes the
    // lang-partitioned fact scan at RUNTIME (plan-asserted in spec)
    "q_dpp_lookup"     -> ((s, d) => PartitionedCorpus.dppLangRollup(s, d, 300L)),
    // dynamic partition overwrite: re-curate one lang partition in place;
    // sibling partitions survive byte-for-byte (file-asserted in spec)
    "q_partition_overwrite" -> ((s, d) =>
      PartitionedCorpus.dynamicOverwriteReport(s, d, 200L)),
    // corpus staged to ORC and read back — format interchange is lossless
    "q_orc_roundtrip"  -> ((s, d) => Formats.orcRoundTrip(s, d)),
    // the text-format leg: headered CSV with an explicit read schema
    "q_csv_roundtrip"  -> ((s, d) => Formats.csvRoundTrip(s, d)),
    // the JSON-lines leg of the same interchange contract
    "q_json_roundtrip" -> ((s, d) => Formats.jsonRoundTrip(s, d)),
    "q_skew_join"      -> ((s, d) => Skew.skewedSupplierRevenue(s, d)),
    // — event-time analytics —
    "q_hourly_rollup"  -> ((s, d) => Events.hourlyRollup(s, d)),
    // materialized-view rewrite: both queries are WRITTEN against base
    // events; the optimizer rule serves them from the registered hourly
    // view (oracle runs on base — a hash match proves the rewrite exact)
    "q_mv_hourly"      -> ((s, d) => RollupView.hourlyServe(s, d)),
    "q_mv_bytype"      -> ((s, d) => RollupView.byTypeServe(s, d)),
    // multi-view selection: hourly + per-type both registered, optimizer
    // serves the per-type aggregate from the cheaper per-type view
    "q_mv_choose"      -> ((s, d) => RollupView.chooseServe(s, d)),
    // derived aggregates (sum/count average, max−min range) + HAVING —
    // the rewrite maps each aggregate inside the larger expression tree
    "q_mv_avg"         -> ((s, d) => RollupView.avgServe(s, d)),
    // coarser TIME GRAIN: day truncation composes through the hour key
    "q_mv_daily"       -> ((s, d) => RollupView.dailyServe(s, d)),
    // full lifecycle: staged base copy → view → append → INCREMENTAL
    // refresh (delta file only) → serve from the refreshed generation;
    // oracle recomputes over base ∪ the same appended batch
    "q_mv_refresh"     -> ((s, d) => RollupView.refreshedServe(s, d)),
    // INDEX-AWARE rewrite: raw tokenize-and-count over documents served
    // from the postings index (Generate-aware matcher; oracle tokenizes
    // the base, so the hash match proves the rewrite exact)
    "q_index_rewrite"  -> ((s, d) => IndexRewrite.topTermsServe(s, d)),
    "q_index_rewrite_doc" -> ((s, d) => IndexRewrite.termDocServe(s, d, "the")),
    // postings-view lifecycle: append → delta-only refresh → serve
    "q_index_refresh"  -> ((s, d) => IndexRewrite.refreshedServe(s, d)),
    // the same windows produced by the watermarked streaming aggregation,
    // drained AvailableNow — streaming window state under the batch oracle
    "q_streaming_hourly" -> ((s, d) => graft.streaming.StreamingIndexer.hourlyRollupAvailableNow(s, d)),
    // stream-static enrichment join drained AvailableNow — the per-batch
    // broadcast dim join + rollup state under the batch oracle
    "q_streaming_enrich" -> ((s, d) => graft.streaming.StreamingIndexer.enrichedSegmentRollup(s, d)),
    "q_sessionize"     -> ((s, d) => Events.sessionize(s, d)),
    // first-order Markov transition matrix over user timelines: lead()
    // on the user exchange, T×T result carries the row-share window
    "q_event_transitions" -> ((s, d) => Events.transitionMatrix(s, d)),
    // SCD type-2 dimension build: per-user attribute history as
    // validity intervals (gaps-and-islands, one user-keyed exchange)
    "q_scd2_build"     -> ((s, d) => Events.scd2Build(s, d)),
    // the same sessions produced by flatMapGroupsWithState append-mode
    // state, flushed by a far-future sentinel that drives the final
    // watermark past every gap deadline — streaming session state under
    // the batch oracle
    "q_streaming_sessions" -> ((s, d) => graft.streaming.StreamingSessionize.sessionsAvailableNow(s, d)),
    // the DECLARATIVE twin: built-in session_window merging aggregation,
    // same staging + oracle as the flatMapGroupsWithState sessionizer
    "q_session_window" -> ((s, d) => graft.streaming.StreamingSessionWindow.sessionsAvailableNow(s, d)),
    "q_asof_purchase_view" -> ((s, d) => Events.asofPurchaseView(s, d)),
    // the NATIVE as-of operator (custom LogicalPlan+Strategy+SparkPlan)
    "q_asof_native"        -> ((s, d) => Events.asofPurchaseViewNative(s, d)),
    // the BROADCAST as-of: dimension-sized right side broadcasts, the
    // event feed is neither shuffled nor sorted
    "q_asof_broadcast"     -> ((s, d) => Events.prevHourRate(s, d)),
    // the same enrichment per MICRO-BATCH via foreachBatch (custom exec
    // inside a streaming pipeline); union of batches ≡ the batch answer
    "q_streaming_asof"     -> ((s, d) =>
      graft.streaming.StreamingAsOf.enrichAvailableNow(s, d)),
    // the A/B control: identical enrichment through the SHUFFLED merge —
    // bench shuffle_mb shows the whole feed crossing the exchange
    "q_asof_rate_merge"    -> ((s, d) => Events.prevHourRateMerge(s, d)),
    // |z|>3 hourly outliers via the fraction-free (kn-S)² > 9(kSS-S²) rule
    "q_hourly_anomaly"     -> ((s, d) => Events.hourlyAnomalies(s, d)),
    // the median/MAD robust twin over trailing 24 calendar hours
    "q_robust_anomaly"     -> ((s, d) => Events.robustHourlyAnomalies(s, d)),
    // α=½ EWMA forecast + integer-exact Poisson 3σ gate over 16 lags
    "q_ewma_anomaly"       -> ((s, d) => Events.ewmaAnomalies(s, d)),
    // event-time RANGE frame (INTERVAL 1 HOUR PRECEDING) per user
    "q_user_activity_window" -> ((s, d) => Events.userActivityWindow(s, d)),
    // CUBE(source, lang): Expand-based multi-level rollup + grouping_id
    "q_mixture_cube"   -> ((s, d) => TextAnalysis.mixtureCube(s, d)),
    "q_type_shares"    -> ((s, d) => Events.typeShares(s, d)),
    "q_top_users"      -> ((s, d) => Events.topUsers(s, d))
  )

  // ——— DuckDB oracle SQL ———

  /** Tokenization CTE fragment, defined identically to
    * [[graft.functions.TextFunctions.tokens]].
    */
  /** Covariance grid CTEs — shared by the grid query and the PCA
    * invariant query. The `+ 0.0` canonicalizes IEEE −0.0 (a tiny
    * negative raw covariance keeps its sign through DuckDB's round but
    * not Spark's; the driver hash sees the sign bit).
    */
  private val covGridOracleCtes =
    """WITH q AS (
      |  SELECT list_transform(embedding,
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qs
      |  FROM embeddings),
      |ex AS (
      |  SELECT CAST(a.i - 1 AS INTEGER) AS dim_i, CAST(b.i - 1 AS INTEGER) AS dim_j,
      |         p.qs[a.i] AS qi, p.qs[b.i] AS qj
      |  FROM q p,
      |       LATERAL (SELECT unnest(generate_series(1, len(p.qs))) AS i) a,
      |       LATERAL (SELECT unnest(generate_series(1, len(p.qs))) AS i) b
      |  WHERE b.i >= a.i),
      |g AS (SELECT dim_i, dim_j, count(*) AS n, sum(qi) AS s_i,
      |             sum(qj) AS s_j, sum(qi * qj) AS s_ij
      |      FROM ex GROUP BY 1, 2),
      |grid AS (
      |  SELECT dim_i, dim_j, CAST(n AS BIGINT) AS n, CAST(s_i AS BIGINT) AS s_i,
      |         CAST(s_j AS BIGINT) AS s_j, CAST(s_ij AS BIGINT) AS s_ij,
      |         round(CAST(CAST(n AS HUGEINT) * s_ij - CAST(s_i AS HUGEINT) * s_j AS DOUBLE)
      |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 6) + 0.0 AS cov
      |  FROM g)""".stripMargin

  /** Fraction-free |z|>3 anomaly oracle — shared verbatim by the batch
    * detector and its streaming-state twin.
    */
  private val anomalyOracleSql =
    """WITH hours AS (
      |  SELECT epoch_ms(ts) // 3600000 AS hour_id, count(*) AS n
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT hour_id, n,
      |         count(*) OVER t AS k,
      |         sum(n) OVER t AS s,
      |         sum(n * n) OVER t AS ss
      |  FROM hours
      |  WINDOW t AS (ORDER BY hour_id ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT CAST(hour_id AS BIGINT) AS hour_id, CAST(n AS BIGINT) AS n,
      |       CAST(s AS BIGINT) AS trail_sum, CAST(ss AS BIGINT) AS trail_sumsq,
      |       (CAST(k AS HUGEINT) * n - s) * (CAST(k AS HUGEINT) * n - s)
      |         > 9 * (CAST(k AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
      |         AS is_anomaly
      |FROM w WHERE k = 24 ORDER BY hour_id""".stripMargin

  /** PSI drift oracle — shared verbatim by the batch monitor and its
    * streaming twin (streamed cells ≡ batch cells is the claim).
    */
  private val driftOracleSql =
    """WITH half AS (SELECT max(doc_id) // 2 AS h FROM documents),
      |g AS (
      |  SELECT CASE WHEN doc_id <= (SELECT h FROM half)
      |              THEN 'base' ELSE 'new' END AS gen,
      |         CAST((n_chars // 64) * 64 AS VARCHAR) AS len_bin,
      |         source, lang
      |  FROM documents),
      |dims AS (
      |  SELECT gen, 'length' AS dimension, len_bin AS bin FROM g
      |  UNION ALL SELECT gen, 'source', source FROM g
      |  UNION ALL SELECT gen, 'lang', lang FROM g),
      |bybin AS (
      |  SELECT dimension, bin,
      |         sum(CASE WHEN gen = 'base' THEN 1 ELSE 0 END) AS a,
      |         sum(CASE WHEN gen = 'new' THEN 1 ELSE 0 END) AS b
      |  FROM dims GROUP BY dimension, bin),
      |tot AS (
      |  SELECT dimension, count(*) AS n_bins, sum(a) AS n_base,
      |         sum(b) AS n_new
      |  FROM bybin GROUP BY dimension)
      |SELECT t.dimension, CAST(n_bins AS BIGINT) AS n_bins,
      |       CAST(n_base AS BIGINT) AS n_base,
      |       CAST(n_new AS BIGINT) AS n_new,
      |       round(sum((CAST(a + 1 AS DOUBLE) / CAST(n_base + n_bins AS DOUBLE)
      |                  - CAST(b + 1 AS DOUBLE) / CAST(n_new + n_bins AS DOUBLE))
      |                 * ln((CAST(a + 1 AS DOUBLE) / CAST(n_base + n_bins AS DOUBLE))
      |                      / (CAST(b + 1 AS DOUBLE) / CAST(n_new + n_bins AS DOUBLE)))), 6)
      |         AS psi
      |FROM bybin x JOIN tot t USING (dimension)
      |GROUP BY t.dimension, n_bins, n_base, n_new
      |ORDER BY t.dimension""".stripMargin

  // per-lang KMV vocabulary sketch — deterministic (engine-exact
  // polynomial hash); shared by the declarative window formulation
  // (q_vocab_kmv) and the native TypedImperativeAggregate twin
  // (q_vocab_kmv_native): estimate AND exact count both checked
  private lazy val kmvOracleSql: String =
    s"""WITH $toksCte, t AS (
         |  SELECT DISTINCT lang, t AS term FROM toks, unnest(ts) AS u(t)),
         |hs AS (SELECT lang,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, len(term)+1), i -> CAST(ord(substr(term,i,1)) AS BIGINT))),
         |    (acc,c) -> (acc*131+c) % 2147483647) * 4294967296 +
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, len(term)+1), i -> CAST(ord(substr(term,i,1)) AS BIGINT))),
         |    (acc,c) -> (acc*257+c) % 4294967291) AS h
         |  FROM t),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hs),
         |a AS (SELECT lang,
         |        CAST(sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS k,
         |        max(CASE WHEN rn <= 64 THEN h END) AS kth_min,
         |        CAST(count(*) AS BIGINT) AS exact_vocab
         |      FROM r GROUP BY lang)
         |SELECT lang, k, kth_min,
         |       CAST(floor((k - 1) * (CAST(2147483647 AS DOUBLE) * CAST(4294967296 AS DOUBLE)) / kth_min + 0.5) AS BIGINT) AS estimate,
         |       exact_vocab
         |FROM a ORDER BY lang""".stripMargin

  // SCD2 monolithic rebuild — shared by the direct build (q_scd2_build)
  // and the state-merge incremental maintenance (q_ivm_scd2): merge ==
  // rebuild is exactly the claim under test
  private lazy val scd2OracleSql: String =
    """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ms, event_id)
        |        IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg FROM e),
        |v AS (SELECT *, sum(chg) OVER
        |        (PARTITION BY user_id ORDER BY ms, event_id) AS version FROM m),
        |r AS (SELECT user_id, version, event_type, min(ms) AS valid_from_ms,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM v GROUP BY user_id, version, event_type),
        |f AS (SELECT *, lead(valid_from_ms) OVER
        |        (PARTITION BY user_id ORDER BY version) AS valid_to_ms FROM r)
        |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |       valid_from_ms, valid_to_ms, n_events,
        |       CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |         AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin

  // bottom-k sample quantiles per event type — shared by the batch query
  // (q_sketch_quantiles) and the streaming-state twin
  // (q_streaming_quantiles): the drained stream state IS the batch sketch
  // the bottom-k sketch REPLAY (ending at `s`: per-type sorted sample +
  // size) — one definition shared by the quantile extraction and the
  // rank-error audit, so the audit can never drift onto a different
  // sketch than the tier it measures
  private lazy val sketchReplayCtes: String =
    """WITH b AS (
      |  SELECT event_type,
      |         ((CAST(event_id AS HUGEINT) * 2654435761) % 4294967296) AS h,
      |         CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL),
      |d AS (SELECT DISTINCT event_type, h, v FROM b),
      |r AS (SELECT event_type, v,
      |        row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rn
      |      FROM d),
      |s AS (SELECT event_type, list(v ORDER BY v) AS sv,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM r WHERE rn <= 256 GROUP BY event_type)""".stripMargin

  private lazy val sketchQuantilesOracleSql: String =
    s"""$sketchReplayCtes
      |SELECT event_type, n AS n_sample,
      |       sv[CAST((50 * (n - 1)) // 100 AS INT) + 1] AS p50_est,
      |       sv[CAST((90 * (n - 1)) // 100 AS INT) + 1] AS p90_est,
      |       sv[CAST((99 * (n - 1)) // 100 AS INT) + 1] AS p99_est
      |FROM s ORDER BY event_type""".stripMargin

  // range-boundary plan body (no final ORDER BY so q_range_shards can
  // embed it as a CTE); q_range_boundaries appends the sort itself
  private lazy val rangeBoundariesOracleBody: String =
    """WITH b AS (
      |  SELECT ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) AS h,
      |         CAST(n_chars AS DOUBLE) AS v
      |  FROM documents WHERE n_chars IS NOT NULL),
      |d AS (SELECT DISTINCT h, v FROM b),
      |r AS (SELECT v, row_number() OVER (ORDER BY h, v) AS rn FROM d),
      |s AS (SELECT list(v ORDER BY v) AS sv, CAST(count(*) AS BIGINT) AS n
      |      FROM r WHERE rn <= 512),
      |g AS (SELECT unnest(range(1, 32)) AS bucket)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |       sv[CAST((bucket * (n - 1)) // 32 AS INT) + 1] AS upper_bound
      |FROM g, s""".stripMargin

  // full pairwise vocabulary-overlap matrix (KMV estimates + exact audit
  // legs) — shared by the declarative window formulation (q_vocab_overlap)
  // and the native sketch-members twin (q_vocab_overlap_native)
  private lazy val vocabOverlapOracleSql: String =
    s"""WITH $toksCte, t AS (
         |  SELECT DISTINCT lang, t AS term FROM toks, unnest(ts) AS u(t)),
         |hs AS (SELECT lang, ${foldSql("term")} AS h FROM t),
         |r AS (SELECT lang, h,
         |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |      FROM hs),
         |kmin AS (SELECT lang, h FROM r WHERE rn <= 64),
         |langs AS (SELECT DISTINCT lang FROM kmin),
         |lp AS (SELECT x.lang AS lang_a, y.lang AS lang_b
         |       FROM langs x JOIN langs y ON x.lang < y.lang),
         |mh AS (
         |  SELECT lang_a, lang_b, h,
         |         max(CASE WHEN lang = lang_a THEN 1 ELSE 0 END) AS in_a,
         |         max(CASE WHEN lang <> lang_a THEN 1 ELSE 0 END) AS in_b
         |  FROM lp JOIN kmin ON lang = lang_a OR lang = lang_b
         |  GROUP BY 1, 2, 3),
         |tk AS (SELECT *, row_number() OVER (PARTITION BY lang_a, lang_b
         |                                    ORDER BY h) AS rn FROM mh),
         |est AS (
         |  SELECT lang_a, lang_b, count(*) AS k, max(h) AS kth_min,
         |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both
         |  FROM tk WHERE rn <= 64 GROUP BY 1, 2),
         |ex0 AS (
         |  SELECT lang_a, lang_b, term,
         |         max(CASE WHEN lang = lang_a THEN 1 ELSE 0 END) AS a,
         |         max(CASE WHEN lang <> lang_a THEN 1 ELSE 0 END) AS b
         |  FROM lp JOIN t ON lang = lang_a OR lang = lang_b
         |  GROUP BY 1, 2, 3),
         |ex AS (
         |  SELECT lang_a, lang_b,
         |         CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter_exact,
         |         CAST(count(*) AS BIGINT) AS union_exact
         |  FROM ex0 GROUP BY 1, 2)
         |SELECT lang_a, lang_b,
         |       round(CAST(n_both AS DOUBLE) / k, 6) AS jaccard_est,
         |       CAST(floor((k - 1) * (CAST(2147483647 AS DOUBLE) * CAST(4294967296 AS DOUBLE)) / kth_min + 0.5) AS BIGINT) AS union_est,
         |       inter_exact, union_exact,
         |       round(CAST(inter_exact AS DOUBLE) / union_exact, 6) AS jaccard_exact
         |FROM est JOIN ex USING (lang_a, lang_b)
         |ORDER BY lang_a, lang_b""".stripMargin

  private val toksCte =
    """toks AS (
      |  SELECT doc_id, lang, source, n_chars, text,
      |         list_filter(list_transform(string_split(lower(text), ' '),
      |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
      |                     w -> w <> '') AS ts
      |  FROM documents
      |)""".stripMargin

  /** Shared Naive Bayes training chain: Knuth 80/20 split (the
    * q_train_split integer rule), train token counts, vocab × class
    * grid, and the quantized-likelihood model — the predict/confusion
    * oracles extend this with priors and held-out scoring. The llq
    * formula is the SAME fragment the engine evaluates
    * ([[operators.NaiveBayes.llqExpr]]).
    */
  private val nbCte =
    s"""lbl AS (
       |  SELECT doc_id, lang, ts,
       |         ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 100 < 80 AS is_train
       |  FROM toks
       |), cnt AS (
       |  SELECT lang, term, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT lang, unnest(ts) AS term FROM lbl WHERE is_train)
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1
       |), vn AS (
       |  SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM cnt
       |), grid AS (
       |  SELECT t.lang, voc.term, coalesce(c.n, 0) AS n, t.tot, vn.v
       |  FROM (SELECT DISTINCT term FROM cnt) voc
       |  CROSS JOIN tot t CROSS JOIN vn
       |  LEFT JOIN cnt c ON c.term = voc.term AND c.lang = t.lang
       |), model AS (
       |  SELECT lang, term, CAST(n AS BIGINT) AS n,
       |         ${operators.NaiveBayes.llqExpr} AS llq
       |  FROM grid
       |)""".stripMargin

  /** Held-out scoring tail shared by q_nb_predict / q_nb_confusion. */
  private val nbScoreCte =
    s"""pri AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM lbl WHERE is_train GROUP BY 1
       |), ntr AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_train FROM pri
       |), priors AS (
       |  SELECT lang AS cls, ${operators.NaiveBayes.priorExpr} AS prior_llq
       |  FROM pri CROSS JOIN ntr
       |), te AS (
       |  SELECT doc_id, lang AS actual, ts FROM lbl WHERE NOT is_train
       |), tkc AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS k
       |  FROM (SELECT doc_id, unnest(ts) AS term FROM te) GROUP BY 1, 2
       |), tsc AS (
       |  SELECT tkc.doc_id, m.lang AS cls,
       |         CAST(sum(tkc.k * m.llq) AS BIGINT) AS tok_llq
       |  FROM tkc JOIN model m ON m.term = tkc.term GROUP BY 1, 2
       |), sc AS (
       |  SELECT t.doc_id, t.actual, p.cls,
       |         p.prior_llq + coalesce(s.tok_llq, 0) AS score
       |  FROM te t CROSS JOIN priors p
       |  LEFT JOIN tsc s ON s.doc_id = t.doc_id AND s.cls = p.cls
       |), pred AS (
       |  SELECT doc_id, actual, cls, score,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score DESC, cls) AS rn
       |  FROM sc
       |)""".stripMargin

  /** Monolithic full-corpus packing summary — the oracle for BOTH the
    * direct q_pack_summary and the incremental q_ivm_packing (append ≡
    * re-pack is exactly the claim under test).
    */
  private val packSummarySql =
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, CAST(len(ts) + 1 AS BIGINT) AS n FROM toks),
       |c AS (SELECT doc_id, n,
       |        coalesce(sum(n) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
       |      FROM d),
       |w AS (SELECT n, st // 512 AS fw, (st + n - 1) // 512 AS lw FROM c)
       |SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN lw > fw THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_split_docs,
       |       CAST(max(lw) + 1 AS BIGINT) AS n_windows,
       |       CAST(sum(n) - max(lw) * 512 AS BIGINT) AS last_fill
       |FROM w""".stripMargin

  /** DuckDB rendering of [[graft.functions.HashFunctions.polyFold64]]
    * applied to column `c` — shared by the sketch oracles.
    */
  private def foldSql(c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len($c)+1), i -> CAST(ord(substr($c,i,1)) AS BIGINT))),
       |    (acc,x) -> (acc*131+x) % 2147483647) * 4294967296 +
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len($c)+1), i -> CAST(ord(substr($c,i,1)) AS BIGINT))),
       |    (acc,x) -> (acc*257+x) % 4294967291)""".stripMargin

  /** The CMS/Bloom depth-row constants and probe set as SQL fragments —
    * MUST mirror [[graft.operators.Sketches]].
    */
  private val sketchRowsSql =
    "(VALUES (0,1,0),(1,31,17),(2,131,257),(3,1031,4099)) v(d,a,b)"
  private val sketchProbesSql =
    graft.operators.Sketches.DefaultProbes
      .map(p => s"('$p')").mkString("(VALUES ", ",", ") p(term)")

  /** BPE training-round CTE chain (seq0 → t3): learned pairs t1..t3 and
    * intermediate sequences, shared by the q_bpe_train and q_bpe_encode
    * oracles. MUST replay graft.operators.TextAnalysis.bpeMergedSeq
    * bit-for-bit (doubled-separator canonical merges).
    */
  private val bpeCte =
    s"""WITH $toksCte, flat AS (
         |  SELECT unnest(ts) AS word FROM toks
         |), words AS (
         |  SELECT word, count(*) AS freq FROM flat GROUP BY 1
         |), seq0 AS (
         |  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, freq
         |  FROM words
         |), p1 AS (
         |  SELECT syms[i] || ' ' || syms[i+1] AS pair, freq
         |  FROM (SELECT string_split(s, ' ') AS syms, freq FROM seq0),
         |       unnest(range(1, len(syms))) u(i)
         |), t1 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p1
         |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
         |), seq1 AS (
         |  SELECT trim(replace(replace(replace(' ' || s || ' ', ' ', '  '),
         |           ' ' || (SELECT replace(pair, ' ', '  ') FROM t1) || ' ',
         |           ' ' || (SELECT replace(pair, ' ', '') FROM t1) || ' '),
         |           '  ', ' ')) AS s,
         |         freq
         |  FROM seq0
         |), p2 AS (
         |  SELECT syms[i] || ' ' || syms[i+1] AS pair, freq
         |  FROM (SELECT string_split(s, ' ') AS syms, freq FROM seq1),
         |       unnest(range(1, len(syms))) u(i)
         |), t2 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p2
         |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
         |), seq2 AS (
         |  SELECT trim(replace(replace(replace(' ' || s || ' ', ' ', '  '),
         |           ' ' || (SELECT replace(pair, ' ', '  ') FROM t2) || ' ',
         |           ' ' || (SELECT replace(pair, ' ', '') FROM t2) || ' '),
         |           '  ', ' ')) AS s,
         |         freq
         |  FROM seq1
         |), p3 AS (
         |  SELECT syms[i] || ' ' || syms[i+1] AS pair, freq
         |  FROM (SELECT string_split(s, ' ') AS syms, freq FROM seq2),
         |       unnest(range(1, len(syms))) u(i)
         |), t3 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p3
         |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
         |)""".stripMargin

  /** Engine-exact SimHash signature CTE chain, ending in
    * `sig(doc_id, simhash)` — the two-modulus polynomial char-fold of
    * [[graft.operators.Dedup.polyHash]] reproduced in exact Int64 DuckDB
    * arithmetic. Shared by the q_simhash and q_simhash_pairs oracles.
    */
  private val simhashSigCte =
    s"""$toksCte,
       |tok AS (SELECT doc_id, t AS term, count(*) AS tf
       |        FROM toks, unnest(ts) AS u(t) GROUP BY 1, 2),
       |v AS (SELECT DISTINCT term FROM tok),
       |vh AS (SELECT term,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len(term)+1), i -> CAST(ord(substr(term,i,1)) AS BIGINT))),
       |    (acc,c) -> (acc*131+c) % 2147483647) AS h1,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len(term)+1), i -> CAST(ord(substr(term,i,1)) AS BIGINT))),
       |    (acc,c) -> (acc*257+c) % 4294967291) AS h2
       | FROM v),
       |th AS (SELECT doc_id, tf, h1*4294967296 + h2 AS h
       |       FROM tok JOIN vh USING (term)),
       |bits AS (SELECT doc_id, i,
       |           sum(CASE WHEN (h >> CAST(i AS INTEGER)) & 1 = 1
       |               THEN tf ELSE -tf END) AS s
       |         FROM th, unnest(range(0, 64)) t(i) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0
       |  THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  /** 63-bit blockhash signatures of the image assets (doc_id ≡ 0 mod 3),
    * replayed from the DECODED-PIXEL formula: the engine renders each
    * fixture asset as a real PNG, decodes it with javax.imageio, and
    * folds a 63×8 luma grid (Multimodal.lumaAt — flat grayscale columns:
    * bright/dark by a Knuth-mix bit of the asset's GROUP, with group
    * member m inverting columns 0..m−1); the oracle replays the same
    * integer formula directly, so a hash match proves the whole
    * encode→decode→grid→blockhash path. Grid columns are flat (all 8
    * rows equal), so blocksum_j = 8·luma_j and the blockhash mean test
    * 63·blocksum_j > total reduces to 63·luma_j > Σluma.
    */
  private val imagePhashCte =
    """img AS (SELECT doc_id AS asset_id FROM documents
      |        WHERE doc_id % 3 = 0),
      |cols AS (
      |  SELECT asset_id, CAST(x AS INTEGER) AS x,
      |         CASE WHEN x < (asset_id % 12) // 3
      |              THEN 250 - base ELSE base END AS luma
      |  FROM (
      |    SELECT asset_id, x,
      |           CASE WHEN xor(h2, h2 >> 16) >= 2147483648
      |                THEN 190 ELSE 60 END AS base
      |    FROM (
      |      SELECT asset_id, x,
      |             (xor(h1, h1 >> 15) * 1655765949) % 4294967296 AS h2
      |      FROM (
      |        SELECT asset_id, x,
      |               (xor(h0, h0 >> 16) * 2146121005) % 4294967296 AS h1
      |        FROM (
      |          SELECT asset_id, x,
      |                 ((asset_id // 12) * 63 + x + 1) % 4294967296 AS h0
      |          FROM img, unnest(range(0, 63)) t(x)))))),
      |tot AS (SELECT asset_id, CAST(sum(luma) AS BIGINT) AS ts
      |        FROM cols GROUP BY 1),
      |sig AS (
      |  SELECT c.asset_id,
      |         CAST(sum(CASE WHEN c.luma * 63 > t.ts
      |              THEN (CAST(1 AS BIGINT) << c.x) ELSE 0 END) AS BIGINT)
      |           AS phash
      |  FROM cols c JOIN tot t USING (asset_id) GROUP BY 1)""".stripMargin

  /** 63-bit frame-energy signatures of the audio assets (doc_id ≡ 1
    * mod 3), replayed from the fixture formula: the engine renders each
    * asset as a real RIFF/WAVE PCM payload, decodes it with javax.sound,
    * and folds 63 per-frame mean-|amplitude| bytes
    * (Multimodal.ampAt >> 7 — loud 18000→140, quiet 3000→23, group
    * member m inverting frames 0..m−1 via 163−b); the oracle replays the
    * integers directly. Same avalanche mix as the image fixtures under a
    * domain-separation salt.
    */
  private val audioSigCte =
    """aud AS (SELECT doc_id AS asset_id FROM documents
      |        WHERE doc_id % 3 = 1),
      |acols AS (
      |  SELECT asset_id, CAST(x AS INTEGER) AS x,
      |         CASE WHEN x < (asset_id % 12) // 3
      |              THEN 163 - b ELSE b END AS b
      |  FROM (
      |    SELECT asset_id, x,
      |           CASE WHEN xor(h2, h2 >> 16) >= 2147483648
      |                THEN 140 ELSE 23 END AS b
      |    FROM (
      |      SELECT asset_id, x,
      |             (xor(h1, h1 >> 15) * 1655765949) % 4294967296 AS h2
      |      FROM (
      |        SELECT asset_id, x,
      |               (xor(h0, h0 >> 16) * 2146121005) % 4294967296 AS h1
      |        FROM (
      |          SELECT asset_id, x,
      |                 ((asset_id // 12) * 63 + x + 1 + 15485863) % 4294967296 AS h0
      |          FROM aud, unnest(range(0, 63)) t(x)))))),
      |atot AS (SELECT asset_id, CAST(sum(b) AS BIGINT) AS ts
      |         FROM acols GROUP BY 1),
      |asig AS (
      |  SELECT c.asset_id,
      |         CAST(sum(CASE WHEN c.b * 63 > t.ts
      |              THEN (CAST(1 AS BIGINT) << c.x) ELSE 0 END) AS BIGINT)
      |           AS ahash
      |  FROM acols c JOIN atot t USING (asset_id) GROUP BY 1)""".stripMargin

  private val postingsCte =
    s"""WITH $toksCte, flat AS (
      |  SELECT doc_id, unnest(ts) AS term FROM toks
      |), postings AS (
      |  SELECT term, doc_id, count(*) AS tf FROM flat GROUP BY term, doc_id
      |)""".stripMargin

  /** [[postingsCte]] over the corpus with document 0's text amended — the
    * oracle-side twin of the upsert round-trip's modified corpus.
    */
  private val upsertPostingsCte =
    """WITH docs0 AS (
      |  SELECT doc_id, lang, source, n_chars,
      |         CASE WHEN doc_id = 0 THEN text || ' graftmarker' ELSE text END AS text
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id,
      |         list_filter(list_transform(string_split(lower(text), ' '),
      |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
      |                     w -> w <> '') AS ts
      |  FROM docs0
      |), flat AS (
      |  SELECT doc_id, unnest(ts) AS term FROM toks
      |), postings AS (
      |  SELECT term, doc_id, count(*) AS tf FROM flat GROUP BY term, doc_id
      |)""".stripMargin

  /** Winnowing selection CTE (k=4, w=5): gram hashes, full-window packed
    * minkeys, distinct rightmost-min selections — mirrors
    * [[operators.TextAnalysis.winnowSelected]].
    */
  private val winnowCte =
    s"""WITH $toksCte, grams AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         (CAST(length(ts[i]) * 256 + ord(ts[i][1]) AS BIGINT) * 29791 +
       |          CAST(length(ts[i+1]) * 256 + ord(ts[i+1][1]) AS BIGINT) * 961 +
       |          CAST(length(ts[i+2]) * 256 + ord(ts[i+2][1]) AS BIGINT) * 31 +
       |          CAST(length(ts[i+3]) * 256 + ord(ts[i+3][1]) AS BIGINT))
       |         % 1000000007 AS h
       |  FROM toks, unnest(range(1, len(ts) - 2)) AS u(i)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1
       |), wins AS (
       |  SELECT doc_id, pos,
       |         min(h * 4294967296 + (4294967295 - pos)) OVER (
       |           PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS minkey
       |  FROM grams
       |), sel AS (
       |  SELECT DISTINCT doc_id, n_grams, minkey
       |  FROM wins JOIN sizes USING (doc_id)
       |  WHERE pos <= n_grams - 5)""".stripMargin

  /** Word-3-gram distinct shingle CTE (mirrors TextFunctions.wordShingles). */
  private val shingleCte =
    s"""WITH $toksCte, sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
      |  FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
      |)""".stripMargin

  /** Double-precision cosine between two float-list columns — bit-identical
    * to VectorFunctions.cosine (products exact, sequential sums).
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a)+1),
       |   i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(range(1, len($a)+1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |  * sqrt(list_sum(list_transform(range(1, len($b)+1),
       |      i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

  /** The composed IVF-PQ oracle, parameterized by an extra candidate
    * predicate (empty for q_ivfpq_topk; the metadata filter for
    * q_filtered_ann) — one pipeline, two declared queries.
    */
  /** Shared by q_ivfpq_refresh and q_streaming_ann: recompute cells +
    * codes over base ∪ the appended batch directly from the embedded
    * literals, so a hash match proves a delta-encoded (or streamed
    * copy-on-write) artifact equals a full rebuild.
    */
  private def pqRefreshOracleSql: String =
    s"""WITH cents(cent_id, c) AS (VALUES
         |  $ivfCentroidValues),
         |cb(m, c, w) AS (VALUES
         |  $pqCodebookValues),
         |emb AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 100),
         |sim AS (
         |  SELECT vec_id, cent_id,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS s
         |  FROM (
         |    SELECT e.vec_id, c.cent_id,
         |           ${cosSql("e.embedding", "c.c")} AS s
         |    FROM emb e CROSS JOIN cents c)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim) WHERE rn = 1),
         |dists AS (
         |  SELECT e.vec_id, cb.m, cb.c,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i])
         |              * (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i]))) AS d
         |  FROM emb e CROSS JOIN cb),
         |codes AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
         |    FROM dists) WHERE rn = 1),
         |cks AS (SELECT vec_id, CAST(sum((c + 1) * (m + 1)) AS BIGINT) AS k
         |        FROM codes GROUP BY vec_id)
         |SELECT a.cent_id,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(a.vec_id) AS BIGINT) AS sum_ids,
         |       CAST(sum(k) AS BIGINT) AS code_cks
         |FROM assign a JOIN cks USING (vec_id)
         |GROUP BY a.cent_id ORDER BY a.cent_id""".stripMargin

  private def ivfPqOracleSql(candFilter: String): String =
    s"""${ivfPqCtes(candFilter)}
       |SELECT query_id, vec_id, cosine, rnk FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin

  /** The same pipeline's CTE chain ENDING at `r` (ranked rerank winners),
    * so consumers can compose it: the serving oracles take `r`'s first k
    * rows directly; q_ann_recall joins them against the exact reference.
    */
  private def ivfPqCtes(candFilter: String): String =
      s"""WITH cents(cent_id, c) AS (VALUES
         |  $ivfCentroidValues),
         |cb(m, c, w) AS (VALUES
         |  $pqCodebookValues),
         |sim AS (
         |  SELECT vec_id, cent_id,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS s
         |  FROM (
         |    SELECT e.vec_id, c.cent_id,
         |           ${cosSql("e.embedding", "c.c")} AS s
         |    FROM embeddings e CROSS JOIN cents c)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim WHERE vec_id < $RecallNQueries) WHERE rn <= 3),
         |cand0 AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM assign a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.query_id$candFilter),
         |dists AS (
         |  SELECT e.vec_id, cb.m, cb.c,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i])
         |              * (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i]))) AS d
         |  FROM embeddings e CROSS JOIN cb),
         |codes AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
         |    FROM dists) WHERE rn = 1),
         |sub AS (
         |  SELECT k.vec_id, k.m, cb.w
         |  FROM codes k JOIN cb ON cb.m = k.m AND cb.c = k.c),
         |pairsums AS (
         |  SELECT c0.query_id, s.vec_id, s.m,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (CAST(q.embedding[s.m*8 + i] AS DOUBLE) - s.w[i])
         |              * (CAST(q.embedding[s.m*8 + i] AS DOUBLE) - s.w[i]))) AS pd
         |  FROM cand0 c0
         |  JOIN sub s        ON s.vec_id = c0.vec_id
         |  JOIN embeddings q ON q.vec_id = c0.query_id),
         |adc AS (
         |  SELECT query_id, vec_id,
         |         round(list_sum(list(pd ORDER BY m)), 6) AS adc_dist
         |  FROM pairsums GROUP BY 1, 2),
         |cand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY adc_dist, vec_id) AS rn
         |    FROM adc) WHERE rn <= 30),
         |scored AS (
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT c.query_id, c.vec_id,
         |           round(${cosSql("qe.embedding", "e.embedding")}, 6) AS cosine
         |    FROM cand c
         |    JOIN embeddings e  ON e.vec_id  = c.vec_id
         |    JOIN embeddings qe ON qe.vec_id = c.query_id)),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
         |      FROM scored)""".stripMargin

  /** Exact brute-force top-k as appendable CTEs (prefix-named to avoid
    * clashes), ending at `<p>ref`: (query_id, vec_id) of the reference
    * top 10 — the denominator of every recall oracle.
    */
  private def exactTopKCtes(p: String): String =
    s"""${p}q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |          FROM embeddings WHERE vec_id < $RecallNQueries),
       |${p}j AS (
       |  SELECT query_id, vec_id,
       |         CASE WHEN cosine IS NULL OR isnan(cosine)
       |              THEN -2.0 ELSE cosine END AS cosine
       |  FROM (
       |    SELECT q.query_id, e.vec_id,
       |           round(${cosSql("q.q_emb", "e.embedding")}, 6) AS cosine
       |    FROM embeddings e CROSS JOIN ${p}q q WHERE e.vec_id <> q.query_id)),
       |${p}r AS (SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id
       |                    ORDER BY cosine DESC, vec_id) AS rnk
       |        FROM ${p}j),
       |${p}ref AS (SELECT query_id, vec_id FROM ${p}r WHERE rnk <= $RecallK)""".stripMargin

  /** recall@k aggregation over `<p>ref` (reference ids) vs a candidate
    * CTE holding the lossy tier's (query_id, vec_id) top k.
    */
  private def recallSelectSql(p: String, candCte: String): String =
    s"""SELECT x.query_id,
       |       CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(c.vec_id) AS BIGINT) AS n_hits,
       |       round(CAST(count(c.vec_id) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS recall
       |FROM ${p}ref x
       |LEFT JOIN $candCte c
       |  ON c.query_id = x.query_id AND c.vec_id = x.vec_id
       |GROUP BY x.query_id""".stripMargin

  /** The DSIR weight pipeline as shared oracle CTEs (ending at `w`:
    * one row per document with its BIGINT weight) — q_dsir_weights
    * reads it ordered by doc, q_dsir_select takes the fixed-k best.
    */
  private def dsirCteSql: String =
    s"""WITH $toksCte,
       |cnt AS (
       |  SELECT term,
       |         CAST(count(*) AS BIGINT) AS n_s,
       |         CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_t
       |  FROM (SELECT lang, unnest(ts) AS term FROM toks) GROUP BY 1),
       |tots AS (
       |  SELECT CAST(sum(n_s) AS BIGINT) AS tot_s,
       |         CAST(sum(n_t) AS BIGINT) AS tot_t,
       |         CAST(count(*) AS BIGINT) AS v
       |  FROM cnt),
       |grid AS (
       |  SELECT term,
       |         CAST(round(ln(CAST(n_t + 1 AS DOUBLE) / CAST(tot_t + v AS DOUBLE)) * 1000000) AS BIGINT)
       |       - CAST(round(ln(CAST(n_s + 1 AS DOUBLE) / CAST(tot_s + v AS DOUBLE)) * 1000000) AS BIGINT)
       |           AS dllq
       |  FROM cnt CROSS JOIN tots),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |         CAST(sum(dllq) AS BIGINT) AS w_llq
       |  FROM (SELECT doc_id, unnest(ts) AS term FROM toks) t
       |  JOIN grid USING (term) GROUP BY 1),
       |w AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |         CAST(coalesce(pd.n_toks, 0) AS BIGINT) AS n_toks,
       |         CAST(coalesce(pd.w_llq, 0) AS BIGINT) AS w_llq
       |  FROM documents d LEFT JOIN pd USING (doc_id))""".stripMargin

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

  /** The seeded LSH hyperplanes as SQL VALUES rows (tbl, 2^bit, weights).
    * Scala's Double.toString is shortest-round-trip, so DuckDB parses each
    * literal back to the bit-identical double Spark uses.
    */
  private def annPlanesValues: String =
    operators.Similarity.lshPlaneRows.map { case (t, pw, w) =>
      s"($t, $pw, CAST([${w.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n  ")

  /** The fixed IVF serve centroids as SQL VALUES rows (cent_id, weights) —
    * same literal-embedding trick as [[annPlanesValues]].
    */
  private def ivfCentroidValues: String =
    operators.Similarity.ivfCentroidRows.map { case (i, c) =>
      s"($i, CAST([${c.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n  ")

  /** The fixed PQ codebooks as SQL VALUES rows (m, c, weights). */
  private def pqCodebookValues: String =
    operators.Similarity.pqCodebookRows.map { case (m, c, w) =>
      s"($m, $c, CAST([${w.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n  ")

  def oracleSql: Map[String, String] = Map(
    // — inverted index —
    "q_index_build" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter, term, doc_id, tf
         |FROM postings ORDER BY term, doc_id""".stripMargin,
    // streaming drain of the same corpus — identical oracle: the complete-
    // mode aggregation state must equal the one-shot batch index
    "q_streaming_index" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter, term, doc_id, tf
         |FROM postings ORDER BY term, doc_id""".stripMargin,
    // resume must converge to the SAME batch postings — recovery loses
    // nothing, duplicates nothing
    "q_streaming_resume" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter, term, doc_id, tf
         |FROM postings ORDER BY term, doc_id""".stripMargin,
    // V2-source round-trip through the reference's text format must be
    // lossless vs batch postings
    "q_refindex_scan" ->
      s"""$postingsCte
         |SELECT term, doc_id, tf FROM postings
         |ORDER BY term, doc_id""".stripMargin,
    "q_refindex_lookup" ->
      s"""$postingsCte
         |SELECT term, doc_id, tf FROM postings
         |WHERE term = 'the' ORDER BY doc_id""".stripMargin,
    // runtime pruning changes which FILES are listed, not the answer:
    // the oracle is the plain semi-join on the hot-letter set
    "q_refindex_runtime" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter,
         |       count(*) AS n_postings, CAST(sum(tf) AS BIGINT) AS sum_tf
         |FROM postings
         |WHERE substr(term, 1, 1) IN (
         |  SELECT DISTINCT substr(term, 1, 1) FROM postings WHERE tf >= 10)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_index_upsert" ->
      s"""$upsertPostingsCte
         |SELECT substr(term, 1, 1) AS first_letter, term, doc_id, tf
         |FROM postings ORDER BY term, doc_id""".stripMargin,
    // v1 stats over the ORIGINAL corpus, v2 over the amended one — the
    // engine answers both from manifests after the copy-on-write upsert
    "q_snapshot_timetravel" ->
      s"""$postingsCte, docs0 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id = 0 THEN text || ' graftmarker'
         |              ELSE text END AS text
         |  FROM documents
         |), toks2 AS (
         |  SELECT doc_id,
         |         list_filter(list_transform(string_split(lower(text), ' '),
         |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
         |                     w -> w <> '') AS ts
         |  FROM docs0
         |), flat2 AS (
         |  SELECT doc_id, unnest(ts) AS term FROM toks2
         |), postings2 AS (
         |  SELECT term, doc_id, count(*) AS tf FROM flat2 GROUP BY term, doc_id
         |)
         |SELECT * FROM (
         |  SELECT 'v1' AS version, count(*) AS n_postings,
         |         count(DISTINCT term) AS n_terms,
         |         CAST(sum(tf) AS BIGINT) AS total_tf,
         |         CAST(sum(CASE WHEN term = 'graftmarker' THEN 1 ELSE 0 END)
         |              AS BIGINT) AS marker_postings
         |  FROM postings
         |  UNION ALL
         |  SELECT 'v2', count(*), count(DISTINCT term),
         |         CAST(sum(tf) AS BIGINT),
         |         CAST(sum(CASE WHEN term = 'graftmarker' THEN 1 ELSE 0 END)
         |              AS BIGINT)
         |  FROM postings2)
         |ORDER BY version""".stripMargin,
    "q_term_lookup" ->
      s"""$postingsCte
         |SELECT term, doc_id, tf FROM postings WHERE term = 'the'
         |ORDER BY tf DESC, doc_id""".stripMargin,
    "q_multi_term_and" ->
      s"""$postingsCte
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM postings WHERE term IN ('scan', 'join', 'filter')
         |GROUP BY doc_id HAVING count(DISTINCT term) = 3
         |ORDER BY total_tf DESC, doc_id""".stripMargin,
    "q_index_serve_lookup" ->
      s"""$postingsCte
         |SELECT term, doc_id, tf FROM postings WHERE term = 'window'
         |ORDER BY tf DESC, doc_id""".stripMargin,
    // prefix (typeahead) aggregate over the postings — the engine side
    // serves it from the letter-partitioned index with ONE pruned
    // partition (spec-asserted) and a pushed StartsWith
    "q_prefix_search" ->
      s"""$postingsCte
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM postings WHERE term LIKE 's%'
         |GROUP BY term ORDER BY term""".stripMargin,
    "q_index_serve_and" ->
      s"""$postingsCte
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM postings WHERE term IN ('scan', 'join', 'filter')
         |GROUP BY doc_id HAVING count(DISTINCT term) = 3
         |ORDER BY total_tf DESC, doc_id""".stripMargin,
    "q_tfidf_topk" ->
      s"""$postingsCte, df AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
         |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT term, doc_id, tf, tf_idf, rank FROM (
         |  SELECT p.term, p.doc_id, p.tf,
         |         round(p.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tf_idf,
         |         CAST(row_number() OVER (PARTITION BY p.term
         |           ORDER BY round(p.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC, p.doc_id) AS INTEGER) AS rank
         |  FROM postings p JOIN df USING (term) CROSS JOIN n
         |) WHERE rank <= 5 ORDER BY term, rank""".stripMargin,
    "q_vocab_stats" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter,
         |       count(DISTINCT term) AS n_terms,
         |       count(DISTINCT doc_id) AS n_docs,
         |       CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM postings GROUP BY 1 ORDER BY first_letter""".stripMargin,
    // BM25 (k1=1.2, b=0.75): ln (DuckDB log() is log10), exact
    // sum/count avgdl, 6-dp rounding absorbs last-ulp libm skew
    "q_bm25_topk" ->
      s"""$postingsCte, dl AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
         |), stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |         CAST(count(*) AS BIGINT) AS n_docs FROM dl
         |), qp AS (
         |  SELECT term, doc_id, tf FROM postings
         |  WHERE term IN ('scan', 'join', 'filter')
         |), dfreq AS (
         |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qp GROUP BY term
         |), scored AS (
         |  SELECT qp.doc_id,
         |         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |         tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
         |  FROM qp JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
         |SELECT doc_id, round(sum(s), 6) AS score
         |FROM scored GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // hybrid RRF: both legs reuse the exact oracle logic of q_bm25_topk
    // and q_cosine_topk (rank windows over the same rounded scores), so
    // the fusion is integer-rank + identical-double arithmetic throughout
    "q_hybrid_rrf" ->
      s"""$postingsCte, dl AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM postings GROUP BY doc_id
         |), stats AS (
         |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         |         CAST(count(*) AS BIGINT) AS n_docs FROM dl
         |), qp AS (
         |  SELECT term, doc_id, tf FROM postings
         |  WHERE term IN ('scan', 'join', 'filter')
         |), dfreq AS (
         |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM qp GROUP BY term
         |), sc AS (
         |  SELECT qp.doc_id,
         |         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |         tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS s
         |  FROM qp JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
         |), bm AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_bm
         |  FROM (SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id)
         |  ORDER BY r_bm LIMIT 50
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id = 0
         |), cj AS (
         |  SELECT vec_id, CASE WHEN c IS NULL OR isnan(c) THEN -2.0 ELSE c END AS cosine
         |  FROM (SELECT e.vec_id, round(${cosSql("q.q_emb", "e.embedding")}, 6) AS c
         |        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |), cos AS (
         |  SELECT vec_id AS doc_id,
         |         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS r_cos
         |  FROM cj ORDER BY r_cos LIMIT 50
         |)
         |SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id, r_bm, r_cos,
         |       round(COALESCE(1.0/(60 + r_bm), 0.0) + COALESCE(1.0/(60 + r_cos), 0.0), 6) AS rrf
         |FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // served-from-positional-index phrase search must equal the corpus
    // scan — same oracle
    "q_index_serve_phrase" ->
      s"""WITH $toksCte, bg AS (
         |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
         |  FROM toks, unnest(range(1, len(ts))) AS t(i))
         |SELECT doc_id, count(*) AS n_occurrences FROM bg
         |WHERE bigram = 'key order' GROUP BY doc_id
         |ORDER BY n_occurrences DESC, doc_id""".stripMargin,
    "q_phrase_search" ->
      s"""WITH $toksCte, bg AS (
         |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
         |  FROM toks, unnest(range(1, len(ts))) AS t(i))
         |SELECT doc_id, count(*) AS n_occurrences FROM bg
         |WHERE bigram = 'key order' GROUP BY doc_id
         |ORDER BY n_occurrences DESC, doc_id""".stripMargin,
    "q_top_terms_per_doc" ->
      s"""$postingsCte
         |SELECT doc_id, term, tf, rnk FROM (
         |  SELECT doc_id, term, tf,
         |         CAST(row_number() OVER (PARTITION BY doc_id
         |              ORDER BY tf DESC, term) AS INTEGER) AS rnk
         |  FROM postings)
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_common_terms" ->
      s"""$postingsCte
         |SELECT term FROM postings WHERE doc_id = 0
         |INTERSECT
         |SELECT term FROM postings WHERE doc_id = 1
         |ORDER BY term""".stripMargin,
    "q_terms_only_in" ->
      s"""$postingsCte
         |SELECT term FROM postings WHERE doc_id = 0
         |EXCEPT
         |SELECT term FROM postings WHERE doc_id = 1
         |ORDER BY term""".stripMargin,
    "q_running_totals" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
        |            OVER (PARTITION BY o_custkey
        |                  ORDER BY o_orderdate, o_orderkey
        |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    // per-lang KMV vocabulary sketch — deterministic (engine-exact
    // polynomial hash), unlike the HLL++ vocabApprox it replaced in the
    // declared set; estimate AND exact count both checked
    "q_vocab_kmv" -> kmvOracleSql,
    // the NATIVE TypedImperativeAggregate computes the same k-smallest-
    // distinct pair — a pure function of the input set — so it answers
    // to the IDENTICAL oracle
    "q_vocab_kmv_native" -> kmvOracleSql,
    // KMV set algebra over the same per-lang sketches: ρ = fraction of
    // K(A∪B) in both K(A) and K(B) estimates Jaccard; exact audit leg
    "q_vocab_overlap" -> vocabOverlapOracleSql,
    // the native sketch-members twin computes the IDENTICAL matrix
    "q_vocab_overlap_native" -> vocabOverlapOracleSql,
    "q_sketch_quantiles" -> sketchQuantilesOracleSql,
    // rank error of the sketch estimates: replay the sketch, then count
    // the exact rank legs per (type, p) — integers end to end
    "q_sketch_error" ->
      s"""$sketchReplayCtes,
        |est AS (
        |  SELECT event_type, CAST(p AS INT) AS p,
        |         sv[CAST((p * (n - 1)) // 100 AS INT) + 1] AS est
        |  FROM s, unnest([50, 90, 99]) t(p)),
        |base AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |         FROM events WHERE value IS NOT NULL),
        |agg AS (
        |  SELECT e.event_type, e.p, e.est,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN b.v < e.est THEN 1 ELSE 0 END) AS BIGINT) AS rank_lo,
        |         CAST(sum(CASE WHEN b.v <= e.est THEN 1 ELSE 0 END) AS BIGINT) AS rank_hi1
        |  FROM base b JOIN est e USING (event_type) GROUP BY 1, 2, 3)
        |SELECT event_type, p, n, est, rank_lo,
        |       rank_hi1 - 1 AS rank_hi,
        |       (p * (n - 1)) // 100 AS target,
        |       greatest(0, rank_lo - (p * (n - 1)) // 100,
        |                (p * (n - 1)) // 100 - (rank_hi1 - 1)) AS rank_err
        |FROM agg ORDER BY event_type, p""".stripMargin,
    // streaming twin: drained sketch state == the batch sketch
    "q_streaming_quantiles" -> sketchQuantilesOracleSql,
    "q_range_boundaries" ->
      s"$rangeBoundariesOracleBody ORDER BY bucket",
    "q_range_shards" ->
      s"""WITH bq AS ($rangeBoundariesOracleBody),
        |bl AS (SELECT list(upper_bound ORDER BY bucket) AS bs FROM bq),
        |dd AS (SELECT CAST(n_chars AS DOUBLE) AS v
        |       FROM documents WHERE n_chars IS NOT NULL)
        |SELECT CAST(len(list_filter(bs, b -> b < v)) AS BIGINT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       min(v) AS min_chars, max(v) AS max_chars
        |FROM dd, bl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_size_est" ->
      """WITH oh AS (SELECT ((CAST(o_orderkey AS HUGEINT) * 2850178704830799361) % 4611686018427387904) AS h
        |           FROM orders),
        |lh AS (SELECT ((CAST(l_orderkey AS HUGEINT) * 2850178704830799361) % 4611686018427387904) AS h
        |       FROM lineitem),
        |ka AS (SELECT h FROM (SELECT DISTINCT h FROM oh) ORDER BY h LIMIT 256),
        |kb AS (SELECT h FROM (SELECT DISTINCT h FROM lh) ORDER BY h LIMIT 256),
        |ku AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
        |       FROM (SELECT h FROM ka UNION SELECT h FROM kb)),
        |m AS (SELECT h,
        |        h IN (SELECT h FROM ka) AS in_a,
        |        h IN (SELECT h FROM kb) AS in_b
        |      FROM ku WHERE rn <= 256),
        |ca AS (SELECT h, CAST(count(*) AS BIGINT) AS c_a FROM oh
        |       WHERE h IN (SELECT h FROM m) GROUP BY h),
        |cb AS (SELECT h, CAST(count(*) AS BIGINT) AS c_b FROM lh
        |       WHERE h IN (SELECT h FROM m) GROUP BY h),
        |e0 AS (SELECT CAST(count(*) AS BIGINT) AS k_union, max(h) AS kth,
        |         CAST(sum(CASE WHEN in_a AND in_b THEN c_a * c_b ELSE 0 END)
        |           AS BIGINT) AS sample_rows
        |       FROM m LEFT JOIN ca USING (h) LEFT JOIN cb USING (h)),
        |e1 AS (SELECT k_union, sample_rows,
        |         CAST(floor((k_union - 1) * CAST(4611686018427387904 AS DOUBLE)
        |           / CAST(kth AS DOUBLE) + 0.5) AS BIGINT) AS est_keys
        |       FROM e0),
        |e2 AS (SELECT k_union, sample_rows, est_keys,
        |         CAST(floor(CAST(sample_rows AS DOUBLE)
        |           * CAST(est_keys AS DOUBLE) / k_union + 0.5) AS BIGINT)
        |           AS est_join_rows
        |       FROM e1),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT k_union, est_keys, sample_rows, est_join_rows, exact_join_rows,
        |       round(abs(CAST(est_join_rows AS DOUBLE) - exact_join_rows)
        |         / exact_join_rows, 6) AS rel_err
        |FROM e2, x""".stripMargin,
    "q_measured_join" -> JoinPlanner.segmentRevenueOracleSql,
    // closed-form regression: oracle built from the SAME solve fragments
    // the engine evaluates — identical expression trees over identical
    // integer moments, bit-identical betas
    "q_linear_model" -> LinearModel.fitOracleSql,
    "q_linear_grouped" -> LinearModel.groupedOracleSql,
    "q_nb_train" ->
      s"""WITH $toksCte, $nbCte
         |SELECT lang, term, n, llq FROM model ORDER BY lang, term""".stripMargin,
    "q_nb_predict" ->
      s"""WITH $toksCte, $nbCte, $nbScoreCte
         |SELECT doc_id, cls AS predicted, actual, CAST(score AS BIGINT) AS score
         |FROM pred WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_nb_confusion" ->
      s"""WITH $toksCte, $nbCte, $nbScoreCte
         |SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT actual, cls AS predicted FROM pred WHERE rn = 1)
         |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin,
    // exact rank-sum AUC over the same integer scores: doubled average
    // rank of a tie group = 2*cum_before + cnt + 1, all BIGINT
    "q_nb_auc" ->
      s"""WITH $toksCte, $nbCte, $nbScoreCte,
         |g AS (SELECT cls, score, count(*) AS cnt,
         |             sum(CASE WHEN actual = cls THEN 1 ELSE 0 END) AS np
         |      FROM sc GROUP BY 1, 2),
         |c AS (SELECT cls, np, cnt,
         |             coalesce(sum(cnt) OVER (PARTITION BY cls ORDER BY score
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
         |      FROM g),
         |a AS (SELECT cls, CAST(sum(np) AS BIGINT) AS p,
         |             CAST(sum(cnt) - sum(np) AS BIGINT) AS n,
         |             CAST(sum(np * (2*cumb + cnt + 1)) AS BIGINT) AS s2
         |      FROM c GROUP BY 1)
         |SELECT cls, p, n, s2,
         |       round(CAST(s2 - p*(p+1) AS DOUBLE)
         |             / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS auc
         |FROM a WHERE p > 0 AND n > 0 ORDER BY cls""".stripMargin,
    "q_linear_outliers" -> LinearModel.outliersOracleSql(),
    // the incremental retrain answers the IDENTICAL monolithic oracle —
    // moments(base)+moments(Δ) == moments(all), integer-exact
    "q_ivm_linear" -> LinearModel.fitOracleSql,
    // so does the streaming per-micro-batch moment merge
    "q_streaming_linear" -> LinearModel.fitOracleSql,
    "q_scd2_build" -> scd2OracleSql,
    // incremental maintenance answers to the IDENTICAL monolithic oracle
    "q_ivm_scd2" -> scd2OracleSql,
    // so does the per-micro-batch CDC merge
    "q_streaming_scd2" -> scd2OracleSql,

    "q_doc_similarity" ->
      s"""$postingsCte, df AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term
         |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |w AS (
         |  SELECT term, doc_id, tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
         |  FROM postings JOIN df USING (term) CROSS JOIN n
         |  WHERE df * 10 <= n_docs * 9  -- near-zero-idf prune, mirrors Spark side
         |), nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
         |qw AS (SELECT term, doc_id AS q_doc, w AS qw FROM w WHERE doc_id < 5),
         |dots AS (
         |  SELECT q_doc, w.doc_id, sum(w.w * qw.qw) AS dot
         |  FROM w JOIN qw USING (term) WHERE w.doc_id <> qw.q_doc
         |  GROUP BY 1, 2)
         |SELECT q_doc, doc_id, cosine, rnk FROM (
         |  SELECT d.q_doc, d.doc_id,
         |         round(d.dot / (qn.nrm * nn.nrm), 4) AS cosine,
         |         CAST(row_number() OVER (PARTITION BY d.q_doc
         |              ORDER BY round(d.dot / (qn.nrm * nn.nrm), 4) DESC, d.doc_id)
         |           AS INTEGER) AS rnk
         |  FROM dots d
         |  JOIN nrm qn ON d.q_doc = qn.doc_id
         |  JOIN nrm nn ON d.doc_id = nn.doc_id)
         |WHERE rnk <= 5 ORDER BY q_doc, rnk""".stripMargin,
    "q_sliding_windows" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |         strftime(date_trunc('hour', ts) - k * INTERVAL 1 HOUR,
        |                  '%Y-%m-%d %H:%M:%S') AS win_start
        |  FROM events, unnest([0, 1]) AS t(k))
        |SELECT win_start, event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "q_event_pivot" ->
      """SELECT CAST(extract(hour FROM ts) AS INTEGER) AS hr,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY hr""".stripMargin,
    // — text analysis —
    "q_doc_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id, lang, source, n_chars,
         |       CAST(len(ts) AS INTEGER) AS n_tokens,
         |       CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct,
         |       round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |             / nullif(len(ts), 0), 4) AS avg_token_len
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q_lang_breakdown" ->
      s"""WITH $toksCte
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(sum(len(ts)) AS BIGINT) AS total_tokens,
         |       count(DISTINCT source) AS n_sources
         |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,
    "q_quality_score" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |       CAST(len(ts) AS INTEGER) AS n_tokens,
         |       CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS INTEGER) AS n_stopwords,
         |       round(CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS DOUBLE) / nullif(len(ts), 0), 4) AS stopword_ratio,
         |       round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / nullif(len(ts), 0), 4) AS avg_token_len,
         |       (len(ts) >= 10 AND CAST(len(list_filter(ts, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS DOUBLE) / len(ts) < 0.5) AS keep
         |FROM toks ORDER BY doc_id""".stripMargin,
    // decontamination: LEFT JOIN count of benchmark-shared shingles per
    // candidate doc; single exact division → deterministic at 6 dp
    "q_contamination" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10),
         |per AS (
         |  SELECT s.doc_id, count(*) AS n_shingles, count(b.sh) AS n_contaminated
         |  FROM sh s LEFT JOIN bench b ON s.sh = b.sh
         |  WHERE s.doc_id >= 10 GROUP BY s.doc_id)
         |SELECT doc_id, n_shingles, n_contaminated,
         |       round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6) AS contamination
         |FROM per ORDER BY doc_id""".stripMargin,
    // perplexity-style signal: mean -ln(unigram prob) per doc; double avg
    // rounded to 4 dp (the established cross-engine FP margin)
    "q_surprisal" ->
      s"""WITH $toksCte, flat AS (
         |  SELECT doc_id, unnest(ts) AS term FROM toks
         |), freq AS (
         |  SELECT term, count(*) AS cnt FROM flat GROUP BY term
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM freq)
         |SELECT doc_id, count(*) AS n_tokens,
         |       round(avg(-ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_surprisal
         |FROM flat JOIN freq USING (term) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // quality deciles: same surprisal CTE; the bucket rule is the explicit
    // floor((rank-1)*10/n) on both engines (ntile's remainder convention
    // is engine-specific), bounds are exact order statistics
    "q_quality_deciles" ->
      s"""WITH $toksCte, flat AS (
         |  SELECT doc_id, unnest(ts) AS term FROM toks
         |), freq AS (
         |  SELECT term, count(*) AS cnt FROM flat GROUP BY term
         |), tot AS (
         |  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM freq
         |), s AS (
         |  SELECT doc_id, round(avg(-ln(CAST(cnt AS DOUBLE) / n_total)), 4) AS avg_surprisal
         |  FROM flat JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id
         |), r AS (
         |  SELECT avg_surprisal,
         |         row_number() OVER (ORDER BY avg_surprisal, doc_id) AS rnk,
         |         count(*) OVER () AS n_docs
         |  FROM s)
         |SELECT CAST(floor((rnk - 1) * 10.0 / n_docs) + 1 AS INTEGER) AS decile,
         |       count(*) AS n, min(avg_surprisal) AS lo, max(avg_surprisal) AS hi
         |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,
    // repetition signals: duplicate-bigram and distinct-token ratios,
    // exact integer divisions → deterministic at 6 dp
    "q_repetition" ->
      s"""WITH $toksCte, b AS (
         |  SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
         |         CAST(len(list_distinct(ts)) AS INTEGER) AS n_distinct_tokens,
         |         list_transform(range(1, len(ts)),
         |                        i -> ts[i] || ' ' || ts[i+1]) AS bg
         |  FROM toks WHERE len(ts) >= 2)
         |SELECT doc_id, n_tokens, n_distinct_tokens,
         |       round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
         |         AS dup_bigram_ratio,
         |       round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6)
         |         AS distinct_token_ratio
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_token_counts" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(list_transform(string_split(lower(text), ' '),
         |       w -> regexp_replace(w, '[^a-z]', '', 'g')), w -> w <> '')) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens,
         |  round(CAST(n_chars AS DOUBLE)
         |        / nullif(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')), 0), 4) AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_chunk_documents" ->
      s"""WITH $toksCte, t2 AS (
         |  SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0
         |), t3 AS (
         |  SELECT doc_id, ts, n,
         |         1 + greatest(0, CAST(floor((n - 50 + 39.0) / 40) AS INTEGER)) AS nwin
         |  FROM t2)
         |SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
         |       array_to_string(ts[k*40+1 : k*40+50], ' ') AS chunk_text,
         |       CAST(least(50, n - k*40) AS INTEGER) AS n_chunk_tokens
         |FROM t3, unnest(range(0, nwin)) AS u(k)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_fingerprints" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS n_same_fp FROM f GROUP BY fp)
        |SELECT doc_id, f.fp, n_same_fp FROM f JOIN g USING (fp)
        |ORDER BY doc_id""".stripMargin,
    "q_rolling_fp" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tokens,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(ts, w -> CAST(length(w) * 256 + ord(w[1]) AS BIGINT))),
         |         (acc, t) -> (acc * 31 + t) % 1000000007) AS rolling_fp
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      s"""WITH $toksCte, scored AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    CAST(len(list_intersect(list_distinct(ts), ['the','a','and','of','is'])) AS INTEGER) AS score_en,
         |    CAST(len(list_intersect(list_distinct(ts), ['der','die','das','und'])) AS INTEGER) AS score_de,
         |    CAST(len(list_intersect(list_distinct(ts), ['le','la','et','les'])) AS INTEGER) AS score_fr,
         |    CAST(len(list_intersect(list_distinct(ts), ['el','la','los','que'])) AS INTEGER) AS score_es
         |  FROM toks)
         |SELECT doc_id, labeled_lang, score_en, score_de, score_fr, score_es,
         |  CASE WHEN score_es > greatest(score_en, score_de, score_fr) THEN 'es'
         |       WHEN score_fr > greatest(score_en, score_de) THEN 'fr'
         |       WHEN score_de > score_en THEN 'de'
         |       ELSE 'en' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin,
    "q_train_split" ->
      s"""WITH $toksCte, s AS (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |         CASE WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 100 < 98 THEN 'train'
         |              WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 100 < 99 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM toks)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // same 98/1/1 Knuth cut as q_train_split, but hashed on the dup-
    // cluster label (recursive-CTE components) with singleton fallback
    "q_leakage_safe_split" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |sp AS (
         |  SELECT d.doc_id, CAST(len(d.ts) AS BIGINT) AS n_tokens,
         |         lab.cluster_id,
         |         coalesce(lab.cluster_id, d.doc_id) AS split_key
         |  FROM toks d LEFT JOIN labels lab ON d.doc_id = lab.doc_id),
         |b AS (
         |  SELECT doc_id, n_tokens, cluster_id,
         |         CASE WHEN ((CAST(split_key AS HUGEINT) * 2654435761) % 4294967296) % 100 < 98 THEN 'train'
         |              WHEN ((CAST(split_key AS HUGEINT) * 2654435761) % 4294967296) % 100 < 99 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM sp)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY split ORDER BY split""".stripMargin,
    // rank and cumulative token count over (count desc, term); the cuts
    // table is the same literal handful the engine broadcasts
    "q_vocab_coverage" ->
      s"""WITH $toksCte, tk AS (SELECT t AS term FROM toks, unnest(ts) AS u(t)),
         |c AS (SELECT term, count(*) AS n FROM tk GROUP BY term),
         |r AS (SELECT term, n,
         |        row_number() OVER (ORDER BY n DESC, term) AS rank,
         |        sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM c),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM c),
         |cuts(top_n) AS (VALUES (100), (1000), (10000))
         |SELECT CAST(top_n AS BIGINT) AS top_n,
         |       CAST(max(rank) AS BIGINT) AS vocab_size,
         |       CAST(max(cum) AS BIGINT) AS covered_tokens,
         |       total_tokens,
         |       round(CAST(max(cum) AS DOUBLE) / total_tokens, 6) AS coverage
         |FROM r JOIN cuts ON rank <= top_n CROSS JOIN tot
         |GROUP BY top_n, total_tokens ORDER BY top_n""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH $toksCte, t AS (
         |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin,
    "q_bigram_counts" ->
      s"""WITH $toksCte, g AS (
         |  SELECT ts[i] || ' ' || ts[i+1] AS gram
         |  FROM toks, unnest(range(1, len(ts))) AS t(i))
         |SELECT gram, count(*) AS n FROM g
         |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    // length histogram: floor(n/16.0)*16 — double division + floor on
    // both engines (bare integer division differs between them)
    "q_length_histogram" ->
      s"""WITH $toksCte
         |SELECT CAST(floor(len(ts) / 16.0) * 16 AS BIGINT) AS bucket_lo,
         |       count(*) AS n_docs,
         |       CAST(sum(len(ts)) AS BIGINT) AS total_tokens
         |FROM toks GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    // source mixture: token shares and exact-dup rates per source; all
    // ratios divide identical longs-cast-doubles, rounded 6 dp
    "q_source_mixture" ->
      s"""WITH $toksCte, d AS (
         |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tokens,
         |         sha256(text) AS fp
         |  FROM toks
         |), fps AS (SELECT fp, count(*) AS fp_n FROM d GROUP BY fp),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM d),
         |g AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
         |  FROM d JOIN fps USING (fp) GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |       round(CAST(n_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE), 6) AS token_share,
         |       dup_docs,
         |       round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
         |FROM g CROSS JOIN tot ORDER BY source""".stripMargin,
    // OOV rate: df-floor vocabulary (tie-proof), integer sums, one edge
    // division rounded at 6 dp on both engines
    "q_oov_rate" ->
      s"""WITH $toksCte, flat AS (
         |  SELECT doc_id, lang, unnest(ts) AS term FROM toks
         |), tl AS (
         |  SELECT term, lang, count(*) AS occ FROM flat GROUP BY 1, 2
         |), docfreq AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1)
         |SELECT lang, CAST(sum(occ) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN df < 3 THEN occ ELSE 0 END) AS BIGINT) AS n_oov,
         |       round(CAST(sum(CASE WHEN df < 3 THEN occ ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(occ) AS DOUBLE), 6) AS oov_rate
         |FROM tl JOIN docfreq USING (term)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // duplicated-shingle coverage: integer sums per source, edge division
    "q_dup_ngram_coverage" ->
      s"""$shingleCte, dfh AS (
         |  SELECT sh, count(*) AS n_docs_with FROM sh GROUP BY sh
         |), per_doc AS (
         |  SELECT s.doc_id, count(*) AS n_sh,
         |         sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_shared
         |  FROM sh s JOIN dfh USING (sh) GROUP BY s.doc_id)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_sh) AS BIGINT) AS total_sh,
         |       CAST(sum(n_shared) AS BIGINT) AS shared_sh,
         |       round(CAST(sum(n_shared) AS DOUBLE) / CAST(sum(n_sh) AS DOUBLE), 6)
         |         AS dup_coverage,
         |       CAST(sum(CASE WHEN n_shared * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_heavy
         |FROM per_doc JOIN documents USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    // mixture resample: ratio-min bottleneck (ties by name), integer
    // keep-ppm, Knuth-hash keep rule — all engine-exact
    "q_mixture_resample" ->
      """WITH cnts AS (
        |  SELECT source, count(*) AS n_docs,
        |         CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3 ELSE 1 END AS target_w
        |  FROM documents GROUP BY source),
        |m AS (
        |  SELECT n_docs AS m_docs, target_w AS m_w FROM cnts
        |  ORDER BY CAST(n_docs AS DOUBLE) / target_w, source LIMIT 1),
        |rated AS (
        |  SELECT cnts.*, (1000000 * target_w * m_docs) // (m_w * n_docs) AS keep_ppm
        |  FROM cnts CROSS JOIN m)
        |SELECT r.source, r.n_docs, r.target_w, r.keep_ppm,
        |       CAST(sum(CASE WHEN ((CAST(d.doc_id AS HUGEINT) * 2654435761) % 4294967296) % 1000000
        |                          < r.keep_ppm
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN rated r ON d.source = r.source
        |GROUP BY 1, 2, 3, 4 ORDER BY r.source""".stripMargin,
    // DSIR weights: one combined count table for BOTH unigram LMs, each
    // per-term log-likelihood quantized to integer micro-nats by the NB
    // ln fragment, per-doc weight an exact BIGINT sum; zero-token docs
    // surface with w = 0 via the left join
    "q_dsir_weights" ->
      s"""$dsirCteSql
         |SELECT doc_id, lang, source, n_toks, w_llq
         |FROM w ORDER BY doc_id""".stripMargin,
    // importance SELECTION over the same weights: the fixed-k best docs
    // by (weight DESC, doc_id) — a TakeOrdered on the engine side, a
    // LIMIT over the identical CTEs here
    "q_dsir_select" ->
      s"""$dsirCteSql
         |SELECT doc_id, lang, source, w_llq
         |FROM w ORDER BY w_llq DESC, doc_id LIMIT 50""".stripMargin,
    // bigram LM: both engines divide the identical bigram/marginal longs
    // in double, so P(w2|w1) is bit-exact without rounding
    // PMI over positional marginals; integer min-count gate + (w1, w2)
    // order — no float-ordered cut anywhere
    "q_pmi_collocations" ->
      s"""WITH $toksCte, g AS (
         |  SELECT ts[i] AS w1, ts[i+1] AS w2
         |  FROM toks, unnest(range(1, len(ts))) AS t(i)
         |), c2 AS (SELECT w1, w2, count(*) AS n12 FROM g GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
         |cr AS (SELECT w2, CAST(sum(n12) AS BIGINT) AS n2 FROM c2 GROUP BY w2),
         |tot AS (SELECT CAST(sum(n12) AS BIGINT) AS nn FROM c2)
         |SELECT c2.w1, c2.w2, CAST(n12 AS BIGINT) AS n12, n1, n2,
         |       round(ln(CAST(n12 AS DOUBLE) * nn /
         |                (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) AS pmi
         |FROM c2 JOIN c1 USING (w1) JOIN cr USING (w2), tot
         |WHERE n12 >= 10
         |ORDER BY w1, w2""".stripMargin,
    "q_bigram_lm" ->
      s"""WITH $toksCte, g AS (
         |  SELECT ts[i] AS w1, ts[i+1] AS w2
         |  FROM toks, unnest(range(1, len(ts))) AS t(i)
         |), c2 AS (SELECT w1, w2, count(*) AS n FROM g GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(n) AS n1 FROM c2 GROUP BY w1)
         |SELECT c2.w1, c2.w2, CAST(c2.n AS BIGINT) AS n,
         |       CAST(c2.n AS DOUBLE) / CAST(c1.n1 AS DOUBLE) AS p
         |FROM c2 JOIN c1 USING (w1)
         |ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,
    // BPE pair counts: substr(term, i, 2) walks adjacent char pairs of
    // each distinct term, weighted by the term's corpus count
    "q_bpe_pairs" ->
      s"""WITH $toksCte, tok AS (
         |  SELECT t AS term, count(*) AS cnt
         |  FROM toks, unnest(ts) AS u(t) GROUP BY t
         |), pairs AS (
         |  SELECT substr(term, i, 2) AS pair, cnt
         |  FROM tok, unnest(range(1, len(term))) AS r(i)
         |  WHERE len(term) >= 2)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
         |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // boilerplate ratio: df threshold uses floor() on both engines (bare
    // integer division is double in both, and DuckDB's double→int cast
    // rounds while Spark's truncates)
    "q_boilerplate" ->
      s"""$shingleCte,
         |thr AS (SELECT greatest(3, CAST(floor(count(*) / 200.0) AS BIGINT)) AS min_df
         |        FROM documents),
         |common AS (
         |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh), thr
         |  WHERE df >= min_df),
         |nb AS (SELECT doc_id, count(*) AS n_boiler
         |       FROM sh JOIN common USING (sh) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(s.n_sh AS BIGINT) AS n_sh,
         |       CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
         |       round(CAST(coalesce(nb.n_boiler, 0) AS DOUBLE)
         |             / CAST(s.n_sh AS DOUBLE), 6) AS boiler_ratio
         |FROM sizes s LEFT JOIN nb USING (doc_id) ORDER BY doc_id""".stripMargin,
    // hashing-trick featurization: integer polynomial hash mod k — exact
    "q_hash_features" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |       list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(range(1, len(t)+1), i -> CAST(ord(substr(t,i,1)) AS BIGINT))),
         |         (acc,c) -> (acc*131+c) % 2147483647) % 16 AS bucket,
         |       count(*) AS n
         |FROM toks, unnest(ts) AS u(t)
         |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    // Misra–Gries with k=64 > |vocab| never decrements → provably exact →
    // the oracle is the plain wordcount (bound-only behavior at small k is
    // spec-asserted in MisraGriesSpec)
    "q_heavy_hitters" ->
      s"""WITH $toksCte
         |SELECT t AS term, count(*) AS est_count
         |FROM toks, unnest(ts) AS u(t)
         |GROUP BY t ORDER BY est_count DESC, term""".stripMargin,
    // KMV cardinality sketch: deterministic function of the data (unlike
    // HLL) because the hash is the engine-exact polynomial fold — the
    // whole sketch, k-th minimum and estimate included, is oracle-checked
    "q_shingle_kmv" ->
      s"""WITH $toksCte, g AS (
         |  SELECT DISTINCT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
         |  FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)),
         |hs AS (SELECT
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, len(sh)+1), i -> CAST(ord(substr(sh,i,1)) AS BIGINT))),
         |    (acc,c) -> (acc*131+c) % 2147483647) * 4294967296 +
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, len(sh)+1), i -> CAST(ord(substr(sh,i,1)) AS BIGINT))),
         |    (acc,c) -> (acc*257+c) % 4294967291) AS h
         |  FROM g),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS k, max(h) AS kth_min
         |      FROM (SELECT h FROM hs ORDER BY h LIMIT 64)),
         |e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hs)
         |SELECT k, kth_min,
         |       CAST(floor((k - 1) * (CAST(2147483647 AS DOUBLE) * CAST(4294967296 AS DOUBLE)) / kth_min + 0.5) AS BIGINT) AS estimate,
         |       n_exact
         |FROM m, e""".stripMargin,
    // CMS cells, probe buckets, and min-over-rows estimate all replayed
    // from the same embedded (a,b) rows and probe literals
    "q_cms_counts" ->
      s"""WITH $toksCte,
         |tc AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS n
         |       FROM toks, unnest(ts) AS u(t) GROUP BY 1),
         |hh AS (SELECT term, n, ${foldSql("term")} AS h FROM tc),
         |rws AS (SELECT * FROM $sketchRowsSql),
         |cells AS (SELECT d, ((a*(h%2147483647)+b)%2147483647)%512 AS bucket,
         |                 CAST(sum(n) AS BIGINT) AS cell
         |          FROM hh CROSS JOIN rws GROUP BY 1, 2),
         |pr AS (SELECT * FROM $sketchProbesSql),
         |ph AS (SELECT term, ${foldSql("term")} AS h FROM pr),
         |pc AS (SELECT term, d, ((a*(h%2147483647)+b)%2147483647)%512 AS bucket
         |       FROM ph CROSS JOIN rws),
         |est AS (SELECT pc.term,
         |          min(coalesce(cells.cell, CAST(0 AS BIGINT))) AS cms_estimate
         |        FROM pc LEFT JOIN cells USING (d, bucket) GROUP BY 1)
         |SELECT est.term, CAST(est.cms_estimate AS BIGINT) AS cms_estimate,
         |       CAST(coalesce(tc.n, 0) AS BIGINT) AS exact_count
         |FROM est LEFT JOIN tc ON est.term = tc.term
         |ORDER BY est.term""".stripMargin,
    // Bloom bit set, probe positions, and the all-bits-set membership
    // test; ground truth joined so false positives are visible
    "q_bloom_audit" ->
      s"""WITH $toksCte,
         |vv AS (SELECT DISTINCT t AS term FROM toks, unnest(ts) AS u(t)),
         |vh AS (SELECT term, ${foldSql("term")} AS h FROM vv),
         |rws AS (SELECT * FROM $sketchRowsSql),
         |bits AS (SELECT DISTINCT ((a*(h%2147483647)+b)%2147483647)%65536 AS pos
         |         FROM vh CROSS JOIN rws),
         |pr AS (SELECT * FROM $sketchProbesSql),
         |ph AS (SELECT term, ${foldSql("term")} AS h FROM pr),
         |pb AS (SELECT DISTINCT term,
         |         ((a*(h%2147483647)+b)%2147483647)%65536 AS pos
         |       FROM ph CROSS JOIN rws),
         |np AS (SELECT term, count(*) AS n_pos FROM pb GROUP BY 1),
         |ns AS (SELECT pb.term, count(*) AS n_set
         |       FROM pb JOIN bits USING (pos) GROUP BY 1)
         |SELECT np.term,
         |       CAST(CASE WHEN coalesce(ns.n_set, 0) = np.n_pos
         |            THEN 1 ELSE 0 END AS INTEGER) AS claimed_present,
         |       CAST(CASE WHEN vv2.term IS NOT NULL
         |            THEN 1 ELSE 0 END AS INTEGER) AS actually_present
         |FROM np LEFT JOIN ns ON np.term = ns.term
         |        LEFT JOIN vv vv2 ON np.term = vv2.term
         |ORDER BY np.term""".stripMargin,
    // histogram percentiles: identical bin geometry, cumulative
    // crossing, and interpolation arithmetic in both engines; exact
    // truth via percentile/quantile_cont (same type-7 interpolation)
    "q_hist_percentiles" ->
      """WITH s AS (SELECT min(value) AS vmin, max(value) AS vmax,
        |                  CAST(count(*) AS BIGINT) AS n,
        |                  quantile_cont(value, [0.5, 0.95, 0.99]) AS ex
        |           FROM events),
        |b AS (SELECT CASE WHEN vmax = vmin THEN 0
        |             ELSE CAST(least(floor((value - vmin) / ((vmax - vmin) / 1000)), 999) AS BIGINT)
        |             END AS bin,
        |             CAST(count(*) AS BIGINT) AS cnt
        |      FROM events, s GROUP BY 1),
        |c AS (SELECT bin, cnt,
        |             CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
        |      FROM b),
        |t AS (SELECT i, CAST(p AS DOUBLE) AS p
        |      FROM (VALUES (1, 0.5), (2, 0.95), (3, 0.99)) pp(i, p)),
        |x AS (SELECT t.p, t.p * s.n AS tgt, s.ex[t.i] AS exact_v,
        |             s.vmin, (s.vmax - s.vmin) / 1000 AS w
        |      FROM t, s)
        |SELECT x.p,
        |       round(x.vmin + x.w * (c.bin + (x.tgt - (c.cum - c.cnt)) / c.cnt), 4) AS est_value,
        |       round(x.exact_v, 4) AS exact_value,
        |       round(abs(x.vmin + x.w * (c.bin + (x.tgt - (c.cum - c.cnt)) / c.cnt) - x.exact_v), 4) AS abs_err
        |FROM x JOIN c ON (c.cum - c.cnt) < x.tgt AND x.tgt <= c.cum
        |ORDER BY x.p""".stripMargin,
    // streaming CMS state ≡ the batch sketch (sum aggregation is
    // arrival-order-proof); same embedded (a,b) rows as q_cms_counts
    "q_streaming_cms" ->
      s"""WITH rws AS (SELECT * FROM $sketchRowsSql)
         |SELECT d,
         |       ((a * (user_id % 2147483647) + b) % 2147483647) % 256 AS bucket,
         |       CAST(count(*) AS BIGINT) AS cell
         |FROM events CROSS JOIN rws
         |GROUP BY 1, 2 ORDER BY d, bucket""".stripMargin,
    // concat-and-chunk packing: plain cumulative sum in the oracle's
    // world; the engine's two-phase prefix sum must equal it exactly
    "q_seq_packing" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, CAST(len(ts) + 1 AS BIGINT) AS n FROM toks),
         |c AS (SELECT doc_id, n,
         |        coalesce(sum(n) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
         |      FROM d),
         |w AS (SELECT doc_id, n, CAST(st // 512 AS BIGINT) AS fw,
         |             CAST((st + n - 1) // 512 AS BIGINT) AS lw
         |      FROM c),
         |e AS (SELECT unnest(range(fw, lw + 1)) AS window_id FROM w),
         |g AS (SELECT window_id, CAST(count(*) AS BIGINT) AS docs_in_window
         |      FROM e GROUP BY 1)
         |SELECT docs_in_window, CAST(count(*) AS BIGINT) AS n_windows
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pack_summary" -> packSummarySql,
    // bucketed vs naive padding: exact integer arithmetic per bucket
    "q_padding_report" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens
         |      FROM toks WHERE len(ts) > 0),
         |g AS (SELECT max(n_tokens) AS g FROM t)
         |SELECT ((n_tokens + 15) // 16) * 16 AS bucket_len,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(((n_tokens + 15) // 16) * 16 - n_tokens) AS BIGINT)
         |         AS pad_bucketed,
         |       CAST(sum(g - n_tokens) AS BIGINT) AS pad_naive
         |FROM t, g GROUP BY 1 ORDER BY 1""".stripMargin,
    // the incremental (base + offset-shifted delta) packing must equal
    // the monolithic re-pack — the oracle IS the monolithic recompute
    "q_ivm_packing" -> packSummarySql,
    // FastSS candidates are an optimization only — the oracle is the
    // naive all-pairs edit-distance join over the (small) vocabulary
    "q_typo_pairs" ->
      s"""WITH $toksCte, v AS (
         |  SELECT DISTINCT t AS term FROM toks, unnest(ts) AS u(t))
         |SELECT a.term AS term_a, b.term AS term_b,
         |       CAST(levenshtein(a.term, b.term) AS INTEGER) AS dist
         |FROM v a JOIN v b
         |  ON a.term < b.term AND levenshtein(a.term, b.term) BETWEEN 1 AND 2
         |ORDER BY term_a, term_b""".stripMargin,
    // deterministic (Knuth-hash) stratified sampling: integer-only keep
    // rule — bit-identical across engines
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 100 <
        |      CASE WHEN lang = 'en' THEN 25 ELSE 60 END
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stats" ->
      """WITH k AS (
        |  SELECT lang, CASE WHEN lang = 'en' THEN 25 ELSE 60 END AS req_pct,
        |         CASE WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 100 <
        |              CASE WHEN lang = 'en' THEN 25 ELSE 60 END
        |              THEN 1 ELSE 0 END AS kept
        |  FROM documents)
        |SELECT lang, req_pct, count(*) AS n_total,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       round(CAST(sum(kept) AS BIGINT) * 100.0 / count(*), 4) AS got_pct
        |FROM k GROUP BY lang, req_pct ORDER BY lang""".stripMargin,
    // weight-proportional Bernoulli keep: P(keep) = min(n_chars,2000)/2000
    // under the shared Knuth hash; expected vs achieved per source
    "q_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, n_chars, least(n_chars, 2000) AS w,
        |         CASE WHEN ((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) % 2000
        |                   < least(n_chars, 2000)
        |              THEN 1 ELSE 0 END AS kept
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       round(CAST(sum(w) AS BIGINT) / 2000.0, 4) AS expected_kept,
        |       CAST(sum(kept * n_chars) AS BIGINT) AS chars_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    // — privacy: Knuth-hash pseudonyms + regex masking + integer
    // generalization, all engine-exact —
    "q_pii_mask" ->
      """SELECT c_custkey,
        |       CAST((CAST(c_custkey AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS pseudo_key,
        |       regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
        |       CAST(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 500) * 500 AS BIGINT) AS acctbal_bucket,
        |       c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_pseudonym_join" ->
      """WITH a AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        |  FROM orders GROUP BY o_custkey)
        |SELECT CAST((CAST(o_custkey AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS pseudo_key,
        |       n_orders, CAST(rev AS DOUBLE) AS revenue
        |FROM a ORDER BY pseudo_key""".stripMargin,
    // curation funnel: the dedup/cluster/length/PII gates as cumulative
    // conditional counts over one pass — flags mirror the corresponding
    // declared queries' rules exactly
    "q_curation_funnel" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |nl AS (SELECT v AS doc_id FROM labels WHERE cluster_id <> v),
         |ek AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, sha256(text) AS fp FROM documents)
         |       GROUP BY fp),
         |pii AS (SELECT doc_id,
         |               CAST(${Privacy.piiTotalSql("aug")} AS BIGINT) AS pii_total
         |        FROM (SELECT doc_id,
         |                     ${Privacy.piiAugSql(e => s"CAST($e AS VARCHAR)")} AS aug
         |              FROM documents)),
         |t AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks),
         |f AS (
         |  SELECT t.doc_id,
         |         EXISTS (SELECT 1 FROM ek WHERE ek.doc_id = t.doc_id) AS g1,
         |         NOT EXISTS (SELECT 1 FROM nl WHERE nl.doc_id = t.doc_id) AS g2,
         |         t.n_tokens BETWEEN 10 AND 5000 AS g3,
         |         p.pii_total <= 1 AS g4
         |  FROM t JOIN pii p USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |       CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_exact,
         |       CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_neardup,
         |       CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_length,
         |       CAST(sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_pii
         |FROM f""".stripMargin,
    // PII census/redaction: the same augmentation fragment and the same
    // RE2∩Java-safe patterns, DuckDB's 'g' flag matching Spark's
    // replace-all semantics
    "q_pii_scrub" -> Privacy.piiScrubOracleSql,
    // streaming census drain ≡ batch census: identical oracle
    "q_streaming_pii" -> Privacy.piiScrubOracleSql,
    // curation composed with the PII-density gate: the recursive dedup
    // core of q_curated_corpus + a per-doc PII count join
    "q_pii_curate" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |nl AS (SELECT v AS doc_id FROM labels WHERE cluster_id <> v),
         |ek AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, sha256(text) AS fp FROM documents)
         |       GROUP BY fp),
         |pii AS (SELECT doc_id,
         |               CAST(${Privacy.piiTotalSql("aug")} AS BIGINT) AS pii_total
         |        FROM (SELECT doc_id,
         |                     ${Privacy.piiAugSql(e => s"CAST($e AS VARCHAR)")} AS aug
         |              FROM documents)),
         |t AS (SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks)
         |SELECT t.doc_id, t.lang, t.n_tokens, pii.pii_total
         |FROM t JOIN ek USING (doc_id) JOIN pii USING (doc_id)
         |WHERE NOT EXISTS (SELECT 1 FROM nl WHERE nl.doc_id = t.doc_id)
         |  AND t.n_tokens BETWEEN 10 AND 5000
         |  AND pii.pii_total <= 1
         |ORDER BY doc_id""".stripMargin,
    // — dedup —
    "q_exact_dedup" ->
      """WITH f AS (SELECT doc_id, sha256(text) AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keeper FROM f GROUP BY fp)
        |SELECT keeper AS doc_id, fp, CAST(group_size AS BIGINT) AS group_size
        |FROM g ORDER BY doc_id""".stripMargin,
    // streaming drain of the same dedup reduction — identical oracle: the
    // final aggregation state must equal the batch keeper/group_size table
    "q_streaming_dedup" ->
      """WITH f AS (SELECT doc_id, sha256(text) AS fp FROM documents),
        |g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keeper FROM f GROUP BY fp)
        |SELECT keeper AS doc_id, fp, CAST(group_size AS BIGINT) AS group_size
        |FROM g ORDER BY doc_id""".stripMargin,
    // eval-set decontamination: directed containment with the fixed
    // benchmark slice as the contained side
    "q_decontaminate" ->
      s"""$shingleCte,
         |bench AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 97 = 3),
         |bs AS (SELECT bench_id, count(*) AS n_bench_sh FROM bench GROUP BY 1),
         |ov AS (
         |  SELECT t.doc_id, b.bench_id, count(*) AS n_shared
         |  FROM sh t JOIN bench b USING (sh)
         |  WHERE t.doc_id % 97 <> 3
         |  GROUP BY 1, 2)
         |SELECT ov.doc_id, ov.bench_id,
         |       CAST(n_shared AS BIGINT) AS n_shared,
         |       CAST(n_bench_sh AS BIGINT) AS n_bench_sh,
         |       round(CAST(n_shared AS DOUBLE) / n_bench_sh, 6) AS containment
         |FROM ov JOIN bs USING (bench_id)
         |WHERE round(CAST(n_shared AS DOUBLE) / n_bench_sh, 6) >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin,
    "q_neardup_jaccard" ->
      s"""$shingleCte, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q_minhash_lsh verifies every LSH candidate with EXACT Jaccard, so its
    // output is provably ⊆ the exact all-pairs result; the ScalaTest spec
    // (DedupSpec) asserts set-EQUALITY with ngramJaccardPairs at 0.8 on both
    // sf0.001 and sf0.01 — banding (16×4) misses a J≥0.8 pair with
    // P ≈ (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴. It therefore shares the exact-Jaccard oracle.
    "q_minhash_lsh" ->
      s"""$shingleCte, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Containment prefix-filters with exact verify (the prefix bound is a
    // theorem, not a probability), so the plain all-pairs SQL is the oracle.
    "q_containment_pairs" ->
      s"""$shingleCte, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id <> y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |       round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS containment
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |WHERE round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Like q_minhash_lsh, the incremental path exact-verifies every LSH
    // candidate, so its output is ⊆ the exact batch×corpus join (DedupSpec
    // asserts set-equality at test scale) and shares the exact oracle: all
    // (new, old) pairs sharing a shingle with J ≥ 0.8, reduced to each new
    // doc's best match (highest Jaccard, ties to the smallest old doc_id).
    "q_incremental_neardup" ->
      s"""$shingleCte, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh)
         |  WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT doc_a, doc_b,
         |         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |best AS (
         |  SELECT doc_a, doc_b, jaccard,
         |         count(*) OVER (PARTITION BY doc_a) AS n_matches,
         |         row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
         |  FROM j)
         |SELECT doc_a AS doc_id, doc_b AS dup_of, jaccard,
         |       CAST(n_matches AS BIGINT) AS n_matches
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // Connected components are expressible in ANSI SQL via a recursive
    // CTE: reach(v,l) enumerates every (vertex, reachable-label) pair over
    // the symmetric near-dup edge list, so MIN(l) per v is the component
    // minimum — exactly the iterative min-label-propagation fixpoint.
    "q_dup_clusters" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v)
         |SELECT v AS doc_id, cluster_id, CAST(cnt AS BIGINT) AS cluster_size
         |FROM labels
         |JOIN (SELECT cluster_id, count(*) AS cnt FROM labels GROUP BY 1) t
         |  USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // epoch shuffle: rank of the keyed hash IS the permutation; the
    // checksum is order-sensitive so engines must agree on every rank
    "q_epoch_shuffle" ->
      """WITH e AS (
        |  SELECT doc_id, epoch FROM documents, unnest([0, 1]) AS t(epoch)),
        |h AS (
        |  SELECT doc_id, epoch,
        |         CAST((((CAST(doc_id AS HUGEINT) * 2654435761 + epoch * 40503)
        |                % 4294967296) * 2654435761) % 4294967296 AS BIGINT) AS h
        |  FROM e),
        |r AS (
        |  SELECT doc_id, epoch,
        |         row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rk
        |  FROM h)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CAST(doc_id + 1 AS HUGEINT) * rk) % 1000000007
        |            AS BIGINT) AS perm_checksum,
        |       max(CASE WHEN rk = 1 THEN doc_id END) AS first_doc
        |FROM r GROUP BY epoch ORDER BY epoch""".stripMargin,
    // PSI per dimension with +1 smoothing; shares are integer-derived
    // doubles, ln is natural log on both engines (DuckDB ln, not log=log10)
    "q_distribution_drift" -> driftOracleSql,
    // streamed-state cells ≡ batch cells is exactly the claim under test,
    // so the streaming monitor answers to the identical oracle
    "q_streaming_drift" -> driftOracleSql,
    // constraint audit: one agg per table unpivoted, NOT EXISTS for the
    // FK legs (matches the anti joins; engine-identical on NULL-free keys)
    "q_constraint_audit" ->
      """WITH o AS (
        |  SELECT count(*) AS n,
        |         count(*) - count(DISTINCT o_orderkey) AS v_unique,
        |         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_complete,
        |         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_positive,
        |         sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v_domain
        |  FROM orders),
        |l AS (
        |  SELECT count(*) AS n,
        |         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v_pk,
        |         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_okey,
        |         sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS v_lnum,
        |         sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS v_qty,
        |         sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v_disc
        |  FROM lineitem),
        |fko AS (SELECT count(*) AS v FROM orders
        |        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
        |fkl AS (SELECT count(*) AS v FROM lineitem
        |        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
        |r AS (
        |  SELECT 'orders_orderkey_unique' AS rule, n, v_unique AS v FROM o
        |  UNION ALL SELECT 'orders_custkey_complete', n, v_complete FROM o
        |  UNION ALL SELECT 'orders_totalprice_positive', n, v_positive FROM o
        |  UNION ALL SELECT 'orders_status_domain', n, v_domain FROM o
        |  UNION ALL SELECT 'lineitem_pk_unique', n, v_pk FROM l
        |  UNION ALL SELECT 'lineitem_orderkey_complete', n, v_okey FROM l
        |  UNION ALL SELECT 'lineitem_linenumber_complete', n, v_lnum FROM l
        |  UNION ALL SELECT 'lineitem_quantity_positive', n, v_qty FROM l
        |  UNION ALL SELECT 'lineitem_discount_range', n, v_disc FROM l
        |  UNION ALL SELECT 'orders_custkey_fk', o.n, fko.v FROM o, fko
        |  UNION ALL SELECT 'lineitem_orderkey_fk', l.n, fkl.v FROM l, fkl)
        |SELECT rule, CAST(n AS BIGINT) AS n_checked,
        |       CAST(v AS BIGINT) AS violations, v = 0 AS passed
        |FROM r ORDER BY rule""".stripMargin,
    // retention: keep the longest doc of every cluster (ties → min id);
    // singletons keep themselves via coalesce(cluster, doc_id)
    "q_cluster_keep_longest" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |rk AS (
         |  SELECT d.doc_id, d.source, d.n_chars,
         |         row_number() OVER (
         |           PARTITION BY coalesce(labels.cluster_id, d.doc_id)
         |           ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d LEFT JOIN labels ON d.doc_id = labels.v)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM rk GROUP BY source ORDER BY source""".stripMargin,
    // V3 capstone: retention → scrub → gate → shard manifest, composed
    // from the individually-verified stage oracles
    // skyline by NOT EXISTS dominance — O(n²) is fine for the oracle;
    // the engine runs the two-phase bucketed skyline instead
    "q_pareto_frontier" ->
      s"""WITH $toksCte,
         |m AS (SELECT doc_id, n_chars,
         |             CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct
         |      FROM toks
         |      WHERE n_chars IS NOT NULL AND ts IS NOT NULL)
         |SELECT doc_id, n_chars, n_distinct FROM m a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM m b
         |  WHERE b.n_chars <= a.n_chars AND b.n_distinct >= a.n_distinct
         |    AND (b.n_chars < a.n_chars OR b.n_distinct > a.n_distinct))
         |ORDER BY doc_id""".stripMargin,
    // span corruption: the same deterministic hash seeds and covered
    // window on both engines; one rounded division for the share
    "q_span_corruption" ->
      s"""WITH $toksCte,
         |p AS (SELECT doc_id, i - 1 AS pos
         |      FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN CAST((CAST(doc_id * 1048576 + pos AS HUGEINT)
         |                        * 2654435761) % 4294967296 AS BIGINT) % 20 = 0
         |             THEN 1 ELSE 0 END AS s
         |      FROM p),
         |m AS (SELECT doc_id, s,
         |        max(s) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS masked
         |      FROM s)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(s) AS BIGINT) AS n_seeds,
         |       CAST(sum(masked) AS BIGINT) AS n_masked,
         |       round(CAST(sum(masked) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS mask_share
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // per-source scrub audit: the corpus-relative covered-window counts
    // of the scrub-counts artifact, rolled up by source; kept_share is
    // one double division rounded 6dp (NULL on a zero-token source)
    "q_scrub_report" ->
      s"""$shingleCte,
         |thr AS (SELECT greatest(3, count(*) // 200) AS t FROM documents),
         |shared AS (SELECT sh AS g FROM sh GROUP BY sh
         |           HAVING count(*) >= (SELECT t FROM thr)),
         |tg AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok,
         |         CASE WHEN i + 2 <= len(ts)
         |              THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS g
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
         |), cov AS (
         |  SELECT tg.doc_id, tg.pos,
         |         max(CASE WHEN shared.g IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY tg.doc_id ORDER BY tg.pos
         |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tg LEFT JOIN shared ON tg.g = shared.g),
         |kept AS (SELECT doc_id, count(*) AS n_tokens, sum(1 - covered) AS n_kept
         |         FROM cov GROUP BY doc_id)
         |SELECT d.source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(coalesce(sum(k.n_tokens), 0) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(sum(k.n_kept), 0) AS BIGINT) AS n_kept,
         |       CASE WHEN coalesce(sum(k.n_tokens), 0) = 0 THEN NULL
         |            ELSE round(CAST(sum(k.n_kept) AS DOUBLE)
         |                       / CAST(sum(k.n_tokens) AS DOUBLE), 6) END
         |         AS kept_share
         |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_curated_shards" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |rk AS (
         |  SELECT d.doc_id,
         |         row_number() OVER (
         |           PARTITION BY coalesce(labels.cluster_id, d.doc_id)
         |           ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d LEFT JOIN labels ON d.doc_id = labels.v),
         |keepers AS (SELECT doc_id FROM rk WHERE rk = 1),
         |thr AS (SELECT greatest(3, count(*) // 200) AS t FROM documents),
         |shared AS (SELECT sh AS g FROM sh GROUP BY sh
         |           HAVING count(*) >= (SELECT t FROM thr)),
         |tg AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok,
         |         CASE WHEN i + 2 <= len(ts)
         |              THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS g
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
         |), cov AS (
         |  SELECT tg.doc_id, tg.pos,
         |         max(CASE WHEN shared.g IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY tg.doc_id ORDER BY tg.pos
         |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tg LEFT JOIN shared ON tg.g = shared.g),
         |kept AS (SELECT doc_id, sum(1 - covered) AS n_kept
         |         FROM cov GROUP BY doc_id),
         |surv AS (
         |  SELECT doc_id, kept.n_kept + 1 AS n_tokens
         |  FROM keepers JOIN kept USING (doc_id) WHERE kept.n_kept >= 5),
         |cum AS (
         |  SELECT doc_id, n_tokens,
         |         sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - n_tokens AS start_off
         |  FROM surv)
         |SELECT CAST(start_off // 2048 AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_shard_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    // C4-style span scrub: token j is removed iff a shingle occurring in
    // ≥2 docs starts at a position in [j-2, j]; survivors reassemble in
    // position order (string_agg skips the covered rows' NULLs)
    "q_span_scrub" ->
      s"""$shingleCte, shared AS (
         |  SELECT sh AS g FROM sh GROUP BY sh HAVING count(*) >= 2
         |), tg AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok,
         |         CASE WHEN i + 2 <= len(ts)
         |              THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS g
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
         |), cov AS (
         |  SELECT tg.doc_id, tg.pos, tg.tok,
         |         max(CASE WHEN shared.g IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY tg.doc_id ORDER BY tg.pos
         |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tg LEFT JOIN shared ON tg.g = shared.g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(1 - covered) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN covered = 0 THEN tok END,
         |                           ' ' ORDER BY pos), '') AS scrubbed_text
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // intra-doc scrub: a repeated same-doc 3-gram's later tellings start
    // removals; row_number picks the first telling on both engines
    "q_self_scrub" ->
      s"""WITH $toksCte, tg AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok,
         |         CASE WHEN i + 2 <= len(ts)
         |              THEN ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS g
         |  FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
         |), r AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN g IS NOT NULL AND row_number() OVER (
         |                PARTITION BY doc_id, g ORDER BY pos) > 1
         |              THEN 1 ELSE 0 END AS h
         |  FROM tg
         |), cov AS (
         |  SELECT doc_id, pos, tok,
         |         max(h) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM r)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(sum(1 - covered) AS BIGINT) AS n_kept,
         |       coalesce(string_agg(CASE WHEN covered = 0 THEN tok END,
         |                           ' ' ORDER BY pos), '') AS scrubbed_text
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // doc-atomic token-budget shards over the EOS-padded token stream
    "q_shard_manifest" ->
      s"""WITH $toksCte, c AS (
         |  SELECT doc_id, len(ts) + 1 AS n_tokens FROM toks
         |), cum AS (
         |  SELECT doc_id, n_tokens,
         |         sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - n_tokens AS start_off
         |  FROM c)
         |SELECT CAST(start_off // 8192 AS BIGINT) AS shard_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_shard_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    // curation = exact-dedup keepers ∖ near-dup component losers, gated
    // on token count — composed from the already-verified stage oracles
    "q_curated_corpus" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |nl AS (SELECT v AS doc_id FROM labels WHERE cluster_id <> v),
         |ek AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, sha256(text) AS fp FROM documents)
         |       GROUP BY fp),
         |t AS (SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks)
         |SELECT t.doc_id, t.lang, t.n_tokens
         |FROM t JOIN ek USING (doc_id)
         |WHERE NOT EXISTS (SELECT 1 FROM nl WHERE nl.doc_id = t.doc_id)
         |  AND t.n_tokens BETWEEN 10 AND 5000
         |ORDER BY doc_id""".stripMargin,
    // v2 curation: the same recursive dedup core + the boilerplate and
    // repetition gates, every ratio rounded to 6 dp on both engines
    // before the threshold compare
    "q_curated_v2" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh x JOIN sh y USING (sh) WHERE x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v),
         |nl AS (SELECT v AS doc_id FROM labels WHERE cluster_id <> v),
         |ek AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, sha256(text) AS fp FROM documents)
         |       GROUP BY fp),
         |thr AS (SELECT greatest(3, CAST(floor(count(*) / 200.0) AS BIGINT)) AS min_df
         |        FROM documents),
         |common AS (
         |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh), thr
         |  WHERE df >= min_df),
         |nb AS (SELECT doc_id, count(*) AS n_boiler
         |       FROM sh JOIN common USING (sh) GROUP BY doc_id),
         |br AS (SELECT s.doc_id,
         |              round(CAST(coalesce(nb.n_boiler, 0) AS DOUBLE)
         |                    / CAST(s.n_sh AS DOUBLE), 6) AS boiler_ratio
         |       FROM sizes s LEFT JOIN nb USING (doc_id)),
         |rp AS (SELECT doc_id,
         |              round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
         |                AS dup_bigram_ratio
         |       FROM (SELECT doc_id,
         |                    list_transform(range(1, len(ts)),
         |                                   i -> ts[i] || ' ' || ts[i+1]) AS bg
         |             FROM toks WHERE len(ts) >= 2)),
         |t AS (SELECT doc_id, lang, CAST(len(ts) AS BIGINT) AS n_tokens FROM toks)
         |SELECT t.doc_id, t.lang, t.n_tokens,
         |       coalesce(br.boiler_ratio, 0.0) AS boiler_ratio,
         |       coalesce(rp.dup_bigram_ratio, 0.0) AS dup_bigram_ratio
         |FROM t JOIN ek USING (doc_id)
         |LEFT JOIN br USING (doc_id)
         |LEFT JOIN rp USING (doc_id)
         |WHERE NOT EXISTS (SELECT 1 FROM nl WHERE nl.doc_id = t.doc_id)
         |  AND t.n_tokens BETWEEN 10 AND 5000
         |  AND coalesce(br.boiler_ratio, 0.0) <= 0.5
         |  AND coalesce(rp.dup_bigram_ratio, 0.0) <= 0.08
         |ORDER BY doc_id""".stripMargin,
    // q_ann_topk IS oracle-checkable: the LSH hyperplanes are seeded,
    // data-independent constants, embedded below as literals; the sign-bit
    // bucketing uses the same double-exact dot products as the cosine
    // oracle, so the whole candidate set — and the exact re-rank — is
    // reproducible in portable SQL.
    "q_ann_topk" ->
      s"""WITH planes(tbl, pw, w) AS (VALUES
         |  $annPlanesValues),
         |b AS (
         |  SELECT e.vec_id, p.tbl,
         |         CAST(sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding)+1),
         |              i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])) >= 0
         |              THEN p.pw ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings e CROSS JOIN planes p
         |  GROUP BY e.vec_id, p.tbl),
         |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT qb.query_id, b.vec_id
         |  FROM b JOIN qb USING (tbl, bucket)
         |  WHERE b.vec_id <> qb.query_id),
         |scored AS (
         |  -- -2.0 zero-norm floor (Spark NULL vs DuckDB NaN divergence)
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT c.query_id, c.vec_id,
         |           round(${cosSql("qe.embedding", "e.embedding")}, 6) AS cosine
         |    FROM cand c
         |    JOIN embeddings e  ON e.vec_id  = c.vec_id
         |    JOIN embeddings qe ON qe.vec_id = c.query_id)),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
         |      FROM scored)
         |SELECT query_id, vec_id, cosine, rnk FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,
    // q_ivf_serve: the IVF SERVE half is fully checkable — centroids are
    // fixed constants (as in a production serving tier, where cells are
    // trained offline and shipped as an artifact), embedded as literals;
    // probe ranking, cell assignment and re-rank are bit-exact doubles.
    "q_ivf_serve" ->
      s"""WITH cents(cent_id, c) AS (VALUES
         |  $ivfCentroidValues),
         |sim AS (
         |  -- zero-norm guard: Spark pins a zero-norm cosine (NULL there,
         |  -- NaN here) to -2.0 before ranking — mirror it exactly
         |  SELECT vec_id, cent_id,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS s
         |  FROM (
         |    SELECT e.vec_id, c.cent_id,
         |           ${cosSql("e.embedding", "c.c")} AS s
         |    FROM embeddings e CROSS JOIN cents c)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim WHERE vec_id < 10) WHERE rn <= 3),
         |cand AS (
         |  SELECT p.query_id, a.vec_id
         |  FROM assign a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.query_id),
         |scored AS (
         |  -- -2.0 zero-norm floor (Spark NULL vs DuckDB NaN divergence)
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT c.query_id, c.vec_id,
         |           round(${cosSql("qe.embedding", "e.embedding")}, 6) AS cosine
         |    FROM cand c
         |    JOIN embeddings e  ON e.vec_id  = c.vec_id
         |    JOIN embeddings qe ON qe.vec_id = c.query_id)),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
         |      FROM scored)
         |SELECT query_id, vec_id, cosine, rnk FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,
    // q_ivfpq_topk: the composed IVF-PQ pipeline — the q_ivf_serve CTEs
    // (fixed centroids → assign/probes) bound the candidates, the
    // q_pq_topk CTEs (fixed codebooks → codes → ADC) rank them (asc, ties
    // lowest vec_id, 6dp-rounded before the rerank-30 cut), exact cosine
    // reranks the winners — every stage deterministic double arithmetic
    // per-cell index diagnostics: assignment + micro-quantized best
    // cosine replayed from the embedded centroid literals
    "q_ivf_cell_stats" ->
      s"""WITH cents(cent_id, c) AS (VALUES
         |  $ivfCentroidValues),
         |sim AS (
         |  SELECT vec_id, cent_id,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS s
         |  FROM (
         |    SELECT e.vec_id, c.cent_id,
         |           ${cosSql("e.embedding", "c.c")} AS s
         |    FROM embeddings e CROSS JOIN cents c)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim) WHERE rn = 1),
         |bm AS (SELECT vec_id, CAST(round(max(s) * 1000000) AS BIGINT) AS best_micro
         |       FROM sim GROUP BY vec_id)
         |SELECT a.cent_id,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(min(best_micro) AS DOUBLE) / 1000000.0 AS min_cos,
         |       CAST(max(best_micro) AS DOUBLE) / 1000000.0 AS max_cos,
         |       round(CAST(sum(best_micro) AS DOUBLE)
         |             / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_cos
         |FROM assign a JOIN bm USING (vec_id)
         |GROUP BY a.cent_id ORDER BY a.cent_id""".stripMargin,
    "q_ivfpq_topk" -> ivfPqOracleSql(""),
    // filtered ANN: identical pipeline, with the metadata predicate
    // applied to the candidate set BEFORE ADC ranking (mirroring the
    // engine-side pushed filter on the codes scan)
    "q_filtered_ann" -> ivfPqOracleSql(
      " AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label <= 4)"),
    // recall@10 of the composed IVF-PQ tier vs the exact reference: the
    // full serving pipeline (fixed centroids/codebooks → r) joined
    // against the brute-force top-10 — every stage deterministic, so the
    // whole EVALUATION is oracle-replayable, not just the tiers
    "q_ann_recall" ->
      s"""${ivfPqCtes("")},
         |${exactTopKCtes("x")},
         |ivc AS (SELECT query_id, vec_id FROM r WHERE rnk <= $RecallK)
         |${recallSelectSql("x", "ivc")}
         |ORDER BY x.query_id""".stripMargin,
    // the tuning curve off the same two ranked tables: hits@k = pairs
    // where BOTH ranks ≤ k, for k in (1, 5, 10)
    "q_recall_curve" ->
      s"""${ivfPqCtes("")},
         |${exactTopKCtes("x")}
         |SELECT k.k, e.query_id,
         |       CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN c.rnk <= k.k THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_hits,
         |       round(CAST(sum(CASE WHEN c.rnk <= k.k THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS recall
         |FROM (SELECT query_id, vec_id, rnk FROM xr WHERE rnk <= $RecallK) e
         |LEFT JOIN (SELECT query_id, vec_id, rnk FROM r WHERE rnk <= $RecallK) c
         |  ON c.query_id = e.query_id AND c.vec_id = e.vec_id
         |CROSS JOIN (SELECT unnest([$recallCurvePointsSql]) AS k) k
         |WHERE e.rnk <= k.k
         |GROUP BY k.k, e.query_id
         |ORDER BY k.k, e.query_id""".stripMargin,
    // Matryoshka ablation: top-10 from the FIRST 16/32 dims vs the
    // full-dim reference — list slicing keeps float elements on both
    // engines, so the truncated cosines are the same bits as Spark's
    // slice()+native kernel
    "q_dim_ablation" ->
      s"""WITH ${exactTopKCtes("f")},
         |${Seq(16, 32).map { d =>
             s"""t${d}e AS (SELECT vec_id, embedding[1:$d] AS t_emb FROM embeddings),
                |t${d}q AS (SELECT vec_id AS query_id, t_emb AS q_emb
                |           FROM t${d}e WHERE vec_id < $RecallNQueries),
                |t${d}j AS (
                |  SELECT query_id, vec_id,
                |         CASE WHEN cosine IS NULL OR isnan(cosine)
                |              THEN -2.0 ELSE cosine END AS cosine
                |  FROM (
                |    SELECT q.query_id, e.vec_id,
                |           round(${cosSql("q.q_emb", "e.t_emb")}, 6) AS cosine
                |    FROM t${d}e e CROSS JOIN t${d}q q
                |    WHERE e.vec_id <> q.query_id)),
                |t${d}r AS (SELECT query_id, vec_id,
                |                row_number() OVER (PARTITION BY query_id
                |                     ORDER BY cosine DESC, vec_id) AS rnk
                |         FROM t${d}j),
                |t${d}c AS (SELECT query_id, vec_id FROM t${d}r WHERE rnk <= $RecallK),
                |rec$d AS (
                |  SELECT CAST($d AS INT) AS dims, q.* FROM (
                |    ${recallSelectSql("f", s"t${d}c")}) q)""".stripMargin
           }.mkString(",\n")}
         |SELECT dims, query_id, n_exact, n_hits, recall FROM rec16
         |UNION ALL
         |SELECT dims, query_id, n_exact, n_hits, recall FROM rec32
         |ORDER BY dims, query_id""".stripMargin,
    // int8-quantization recall: cosine is scale-invariant, so the lossy
    // tier scores DIRECTLY on the ⌊x/scale+0.5⌋ code arrays (exact
    // integer sums in doubles) — the quantization CTEs are
    // q_quantize_embed's, already proven bit-identical to Spark's
    "q_quantize_recall" ->
      s"""WITH e0 AS (
         |  SELECT vec_id,
         |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
         |  FROM embeddings),
         |sc AS (
         |  SELECT vec_id, xd,
         |         list_reduce(list_prepend(0.0, xd),
         |                     (m, v) -> greatest(m, abs(v))) / 127 AS scale_raw
         |  FROM e0),
         |sc2 AS (
         |  SELECT vec_id, xd,
         |         CASE WHEN scale_raw = 0 THEN 1.0 ELSE scale_raw END AS scale
         |  FROM sc),
         |qv AS (
         |  SELECT vec_id,
         |         list_transform(xd, v -> floor(v / scale + 0.5)) AS q_vec
         |  FROM sc2),
         |qq AS (SELECT vec_id AS query_id, q_vec AS q_emb
         |       FROM qv WHERE vec_id < $RecallNQueries),
         |qj AS (
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT q.query_id, e.vec_id,
         |           round(${cosSql("q.q_emb", "e.q_vec")}, 6) AS cosine
         |    FROM qv e CROSS JOIN qq q WHERE e.vec_id <> q.query_id)),
         |qr AS (SELECT query_id, vec_id,
         |             row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS rnk
         |      FROM qj),
         |qc AS (SELECT query_id, vec_id FROM qr WHERE rnk <= $RecallK),
         |${exactTopKCtes("f")}
         |${recallSelectSql("f", "qc")}
         |ORDER BY x.query_id""".stripMargin,
    // incremental codes refresh: the oracle recomputes cells + codes over
    // base ∪ the appended batch directly from the embedded literals, so a
    // hash match proves the delta-encoded artifact equals a full rebuild
    "q_ivfpq_refresh" -> pqRefreshOracleSql,
    // streamed per-micro-batch maintenance answers to the SAME
    // oracle: drained codes ≡ batch-refreshed artifact ≡ full rebuild
    "q_streaming_ann" -> pqRefreshOracleSql,
    // q_pq_topk: codebooks are embedded literals, sub-distances are exact
    // products + sequential sums, the ADC fold runs in subspace order on
    // both engines (list(pd ORDER BY m)), and the argmin/top-k tie rules
    // (lowest code id / lowest vec_id) are mirrored — fully deterministic
    "q_pq_topk" ->
      s"""WITH cb(m, c, w) AS (VALUES
         |  $pqCodebookValues),
         |dists AS (
         |  SELECT e.vec_id, cb.m, cb.c,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i])
         |              * (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.w[i]))) AS d
         |  FROM embeddings e CROSS JOIN cb),
         |codes AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
         |    FROM dists) WHERE rn = 1),
         |sub AS (
         |  SELECT k.vec_id, k.m, cb.w
         |  FROM codes k JOIN cb ON cb.m = k.m AND cb.c = k.c),
         |pairsums AS (
         |  SELECT q.vec_id AS query_id, s.vec_id, s.m,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (CAST(q.embedding[s.m*8 + i] AS DOUBLE) - s.w[i])
         |              * (CAST(q.embedding[s.m*8 + i] AS DOUBLE) - s.w[i]))) AS pd
         |  FROM embeddings q CROSS JOIN sub s
         |  WHERE q.vec_id < 10 AND s.vec_id <> q.vec_id),
         |adc AS (
         |  SELECT query_id, vec_id,
         |         round(list_sum(list(pd ORDER BY m)), 6) AS adc_dist
         |  FROM pairsums GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, vec_id, adc_dist,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY adc_dist, vec_id) AS INTEGER) AS rnk
         |  FROM adc)
         |SELECT r.query_id, r.vec_id, r.adc_dist,
         |       CASE WHEN cosine IS NULL OR isnan(cosine) THEN -2.0
         |            ELSE cosine END AS cosine,
         |       r.rnk
         |FROM (
         |  SELECT r.*, round(${cosSql("qe.embedding", "e.embedding")}, 6) AS cosine
         |  FROM r
         |  JOIN embeddings e  ON e.vec_id  = r.vec_id
         |  JOIN embeddings qe ON qe.vec_id = r.query_id
         |  WHERE r.rnk <= 10) r
         |ORDER BY query_id, rnk""".stripMargin,
    // q_binary_topk: the sign-bit words, Hamming ranking (ties to lowest
    // vec_id), and rerank cut are all exact integer arithmetic; the final
    // cosine is the usual exact-double rerank — fully deterministic
    "q_binary_topk" ->
      s"""WITH bits AS (
         |  SELECT vec_id, embedding,
         |         -- bit 63 as the min-BIGINT literal: DuckDB range-checks
         |         -- 1<<63, but the sign-bit pattern is the same long Spark
         |         -- builds with shiftleft
         |         list_reduce(list_transform(range(1, 65),
         |           i -> CASE WHEN CAST(embedding[i] AS DOUBLE) < 0
         |                     THEN CAST(0 AS BIGINT)
         |                     WHEN i = 64
         |                     THEN CAST(-9223372036854775808 AS BIGINT)
         |                     ELSE (CAST(1 AS BIGINT) << (i - 1)) END),
         |           (a, b) -> a | b) AS w0
         |  FROM embeddings),
         |ham AS (
         |  SELECT q.vec_id AS query_id, v.vec_id,
         |         bit_count(xor(q.w0, v.w0)) AS hamming
         |  FROM bits q CROSS JOIN bits v
         |  WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY hamming, vec_id) AS rn
         |    FROM ham) WHERE rn <= 30),
         |scored AS (
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT c.query_id, c.vec_id,
         |           round(${cosSql("qe.embedding", "e.embedding")}, 6) AS cosine
         |    FROM cand c
         |    JOIN embeddings e  ON e.vec_id  = c.vec_id
         |    JOIN embeddings qe ON qe.vec_id = c.query_id)),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
         |      FROM scored)
         |SELECT query_id, vec_id, cosine, rnk FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,
    // q_semdedup: same fixed-centroid assignment as q_ivf_serve, then the
    // min-id-keeper dominance rule inside each cell; all doubles bit-exact
    // from embedded literals, zero-norm cosines pinned to -2.0 on both
    // engines (Spark NULL vs DuckDB NaN)
    "q_semdedup" ->
      s"""WITH cents(cent_id, c) AS (VALUES
         |  $ivfCentroidValues),
         |sim AS (
         |  SELECT vec_id, cent_id,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS s
         |  FROM (
         |    SELECT e.vec_id, c.cent_id,
         |           ${cosSql("e.embedding", "c.c")} AS s
         |    FROM embeddings e CROSS JOIN cents c)),
         |assign AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY s DESC, cent_id) AS rn
         |    FROM sim) WHERE rn = 1),
         |scored AS (
         |  SELECT b.vec_id AS vec_id,
         |         round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS cc
         |  FROM assign a JOIN assign b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |dom AS (
         |  SELECT DISTINCT vec_id FROM scored
         |  WHERE (CASE WHEN cc IS NULL OR isnan(cc) THEN -2.0 ELSE cc END) >= 0.3)
         |SELECT a.vec_id, a.cent_id
         |FROM assign a LEFT JOIN dom d ON a.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL
         |ORDER BY a.vec_id""".stripMargin,
    // q_simhash IS oracle-checkable since the token hash is a two-modulus
    // polynomial char-fold (Dedup.polyHash) — exact Int64 arithmetic both
    // engines reproduce bit-for-bit.
    "q_simhash" ->
      s"""WITH $simhashSigCte
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    // brute-force all-pairs Hamming over the engine-exact signatures (500
    // docs/SF in the oracle's world: trivially quadratic). The engine side
    // is the CHUNK-BANDED candidate join, whose pigeonhole recall at
    // maxDist=3 is total — so banding + verify must equal brute force.
    "q_simhash_pairs" ->
      s"""WITH $simhashSigCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // — multimodal —
    // perceptual blockhash over DECODED PIXELS: the engine round-trips
    // each fixture through a real PNG encode→javax.imageio decode→63×8
    // luma grid, the oracle replays the grid's integer formula; bit j =
    // 63·blocksum_j > totalsum, packed into bits 0..62 — DuckDB raises on
    // 1::BIGINT << 63, so the signature is 63-bit on both engines
    "q_image_phash" ->
      s"""WITH $imagePhashCte
         |SELECT asset_id, phash FROM sig ORDER BY asset_id""".stripMargin,
    // brute-force all-pairs Hamming over the engine-exact signatures — the
    // engine side is the 4-chunk banded candidate join, whose pigeonhole
    // recall at maxDist=3 is total, so banding + verify ≡ brute force
    "q_image_neardup" ->
      s"""WITH $imagePhashCte
         |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
         |       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.asset_id < b.asset_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY asset_a, asset_b""".stripMargin,
    // CC labels via recursive reachability closure (the q_dup_clusters
    // oracle construction) over the brute-force pair graph
    "q_image_dup_clusters" ->
      s"""WITH RECURSIVE $imagePhashCte,
         |pairs AS (
         |  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b
         |  FROM sig a JOIN sig b ON a.asset_id < b.asset_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |edges AS (
         |  SELECT asset_a AS src, asset_b AS dst FROM pairs
         |  UNION ALL SELECT asset_b, asset_a FROM pairs),
         |reach AS (
         |  SELECT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
         |labels AS (SELECT v, MIN(l) AS cluster_id FROM reach GROUP BY v)
         |SELECT v AS asset_id, cluster_id, CAST(cnt AS BIGINT) AS cluster_size,
         |       v = cluster_id AS is_keeper
         |FROM labels
         |JOIN (SELECT cluster_id, count(*) AS cnt FROM labels GROUP BY 1) t
         |  USING (cluster_id)
         |ORDER BY asset_id""".stripMargin,
    // audio dedup family: same construction over the WAV-decoded frame
    // energy profiles (oracle replays the fixture integers; the engine
    // result went through a real RIFF encode → javax.sound decode)
    "q_audio_sig" ->
      s"""WITH $audioSigCte
         |SELECT asset_id, ahash FROM asig ORDER BY asset_id""".stripMargin,
    "q_audio_neardup" ->
      s"""WITH $audioSigCte
         |SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
         |       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM asig a JOIN asig b ON a.asset_id < b.asset_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
         |ORDER BY asset_a, asset_b""".stripMargin,
    "q_audio_dup_clusters" ->
      s"""WITH RECURSIVE $audioSigCte,
         |apairs AS (
         |  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b
         |  FROM asig a JOIN asig b ON a.asset_id < b.asset_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
         |aedges AS (
         |  SELECT asset_a AS src, asset_b AS dst FROM apairs
         |  UNION ALL SELECT asset_b, asset_a FROM apairs),
         |areach AS (
         |  SELECT src AS v, src AS l FROM aedges
         |  UNION
         |  SELECT e.dst, r.l FROM areach r JOIN aedges e ON e.src = r.v),
         |alabels AS (SELECT v, MIN(l) AS cluster_id FROM areach GROUP BY v)
         |SELECT v AS asset_id, cluster_id, CAST(cnt AS BIGINT) AS cluster_size,
         |       v = cluster_id AS is_keeper
         |FROM alabels
         |JOIN (SELECT cluster_id, count(*) AS cnt FROM alabels GROUP BY 1) t
         |  USING (cluster_id)
         |ORDER BY asset_id""".stripMargin,
    // The payload is the utf-8 text bytes (ASCII corpus: byte == ord(char)),
    // and the stub decoder's feature[0] is an exact integer byte-fold over
    // positions ≡ 0 (mod 16), divided once — so the whole decode pipeline is
    // reproducible in portable SQL.
    "q_multimodal_stats" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         octet_length(encode(text)) AS n_bytes,
        |         CAST(CAST(coalesce(list_sum(list_transform(
        |              range(1, length(text) + 1, 16),
        |              i -> ord(substr(text, i, 1)))), 0) AS DOUBLE) / 255.0
        |           AS FLOAT) AS f0
        |  FROM documents)
        |SELECT kind, count(*) AS n, round(avg(n_bytes), 4) AS avg_bytes,
        |       round(avg(f0), 4) AS avg_f0
        |FROM a GROUP BY kind ORDER BY kind""".stripMargin,
    // The frame-sampling oracle recomputes the chunk/sample geometry purely
    // from payload lengths (frames of 256 bytes, every 4th sampled), while
    // the Spark side aggregates the ACTUAL emitted frame rows — an
    // independent check of the mapPartitions fan-out.
    "q_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT asset_id, nb,
        |         CAST(ceil(nb / 256.0) AS INTEGER) AS n_frames
        |  FROM v WHERE nb > 0)
        |SELECT asset_id, n_frames,
        |       CAST(len(range(0, n_frames, 4)) AS INTEGER) AS n_sampled,
        |       CAST(list_sum(list_transform(range(0, n_frames, 4),
        |            i -> least(256, nb - i * 256))) AS INTEGER) AS bytes_sampled
        |FROM f ORDER BY asset_id""".stripMargin,
    // — similarity —
    "q_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 10),
         |j AS (
         |  -- -2.0 zero-norm floor (Spark NULL vs DuckDB NaN divergence)
         |  SELECT query_id, vec_id,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT q.query_id, e.vec_id,
         |           round(${cosSql("q.q_emb", "e.embedding")}, 6) AS cosine
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)),
         |r AS (SELECT query_id, vec_id, cosine,
         |             CAST(row_number() OVER (PARTITION BY query_id
         |                  ORDER BY cosine DESC, vec_id) AS INTEGER) AS rnk
         |      FROM j)
         |SELECT query_id, vec_id, cosine, rnk FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH q AS (SELECT vec_id AS vec_a, embedding AS emb_a
         |           FROM embeddings WHERE vec_id < 100)
         |SELECT vec_a, e.vec_id AS vec_b,
         |       round(${cosSql("q.emb_a", "e.embedding")}, 6) AS cosine
         |FROM embeddings e CROSS JOIN q WHERE e.vec_id > q.vec_a
         |  AND round(${cosSql("q.emb_a", "e.embedding")}, 6) >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    // per-class prototype: same ⌊x·1e6+0.5⌋ micro-unit sums, one double
    // division per (label, dim) cell; scalar cell rows — never an array
    // column, which no result-frame sort can order
    "q_label_centroids" ->
      """WITH q AS (
        |  SELECT label, list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qs
        |  FROM embeddings),
        |e AS (
        |  SELECT label, CAST(i - 1 AS INTEGER) AS dim, qs[i] AS v
        |  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i)),
        |m AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2)
        |SELECT label, dim, n AS n_vecs,
        |       round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) + 0.0 AS c
        |FROM m ORDER BY label, dim""".stripMargin,
    // nearest-centroid classification: prototypes are the SAME closed-form
    // exact aggregate as q_label_centroids (so the oracle recomputes them),
    // per-vector argmax over 6dp-rounded prototype cosines with the NB tie
    // convention (score DESC, label ASC), −2.0 zero-norm floor mirrored
    "q_centroid_classify" ->
      s"""WITH q AS (
         |  SELECT label, list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qs
         |  FROM embeddings),
         |e AS (
         |  SELECT label, CAST(i - 1 AS INTEGER) AS dim, qs[i] AS v
         |  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i)),
         |m AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM e GROUP BY 1, 2),
         |cent AS (
         |  SELECT label AS clabel,
         |         list(round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) + 0.0
         |              ORDER BY dim) AS cvec
         |  FROM m GROUP BY label),
         |sc AS (
         |  SELECT vec_id, actual, clabel,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS score
         |  FROM (
         |    SELECT v.vec_id, v.label AS actual, c.clabel,
         |           round(${cosSql("v.embedding", "c.cvec")}, 6) AS s
         |    FROM embeddings v CROSS JOIN cent c)),
         |pred AS (
         |  SELECT actual, clabel AS predicted FROM (
         |    SELECT actual, clabel,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY score DESC, clabel) AS rn
         |    FROM sc) WHERE rn = 1)
         |SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // mislabel audit: same closed-form prototypes; per vector the own-label
    // score and the best impostor (ties lowest label), micro-quantized
    "q_label_noise" ->
      s"""WITH q AS (
         |  SELECT label, list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qs
         |  FROM embeddings),
         |e AS (
         |  SELECT label, CAST(i - 1 AS INTEGER) AS dim, qs[i] AS v
         |  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i)),
         |m AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS s,
         |             CAST(count(*) AS BIGINT) AS n
         |      FROM e GROUP BY 1, 2),
         |cent AS (
         |  SELECT label AS clabel,
         |         list(round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) + 0.0
         |              ORDER BY dim) AS cvec
         |  FROM m GROUP BY label),
         |sc AS (
         |  SELECT vec_id, actual, clabel,
         |         CASE WHEN s IS NULL OR isnan(s) THEN -2.0 ELSE s END AS score
         |  FROM (
         |    SELECT v.vec_id, v.label AS actual, c.clabel,
         |           round(${cosSql("v.embedding", "c.cvec")}, 6) AS s
         |    FROM embeddings v CROSS JOIN cent c)),
         |own AS (
         |  SELECT vec_id, actual AS label,
         |         CAST(round(score * 1000000) AS BIGINT) AS own_micro
         |  FROM sc WHERE clabel = actual),
         |alt AS (
         |  SELECT vec_id, clabel AS alt_label,
         |         CAST(round(score * 1000000) AS BIGINT) AS alt_micro
         |  FROM (
         |    SELECT vec_id, clabel, score,
         |           row_number() OVER (PARTITION BY vec_id
         |                ORDER BY score DESC, clabel) AS rn
         |    FROM sc WHERE clabel <> actual) WHERE rn = 1)
         |-- LEFT join + the Spark fold's seed values: with a single
         |-- distinct label there IS no impostor, and the engine emits
         |-- (alt_label=-1, alt_micro=-3000000, suspect=false)
         |SELECT o.vec_id, o.label, o.own_micro,
         |       coalesce(a.alt_label, -1) AS alt_label,
         |       CAST(coalesce(a.alt_micro, -3000000) AS BIGINT) AS alt_micro,
         |       coalesce(a.alt_micro > o.own_micro, false) AS suspect
         |FROM own o LEFT JOIN alt a USING (vec_id) ORDER BY o.vec_id""".stripMargin,
    "q_embed_stats" ->
      s"""WITH n AS (
         |  SELECT label,
         |         sqrt(list_sum(list_transform(range(1, len(embedding)+1),
         |              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |  FROM embeddings)
         |SELECT label, count(*) AS n, round(avg(nrm), 4) AS avg_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin,
    // naive windowed kNN vote — same rounded cosine, same tie rules;
    // fixed 50-query budget (vec_id < 50), corpus = the rest
    "q_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS actual
         |           FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 50),
         |j AS (
         |  SELECT query_id, actual, vec_id, label,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT q.query_id, q.actual, c.vec_id, c.label,
         |           round(${cosSql("q.q_emb", "c.embedding")}, 6) AS cosine
         |    FROM c CROSS JOIN q)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine DESC, vec_id) AS rnk FROM j),
         |v AS (SELECT query_id, actual, label, CAST(count(*) AS BIGINT) AS votes
         |      FROM r WHERE rnk <= 10 GROUP BY 1, 2, 3),
         |p AS (SELECT query_id, label AS predicted, votes, actual,
         |             row_number() OVER (PARTITION BY query_id
         |               ORDER BY votes DESC, label) AS rn FROM v)
         |SELECT query_id, predicted, votes, actual
         |FROM p WHERE rn = 1 ORDER BY query_id""".stripMargin,
    // contrastive mining: per query the nearest same-label and nearest
    // different-label vector (ties to lowest vec_id — the struct-max
    // convention), margin from the two 6dp-rounded cosines (never a
    // rounding tie), +0.0 canonicalizing an exact-zero margin's sign
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
         |           FROM embeddings WHERE vec_id < 50),
         |sc AS (
         |  SELECT query_id, q_label, vec_id, label,
         |         CASE WHEN cosine IS NULL OR isnan(cosine)
         |              THEN -2.0 ELSE cosine END AS cosine
         |  FROM (
         |    SELECT q.query_id, q.q_label, e.vec_id, e.label,
         |           round(${cosSql("q.q_emb", "e.embedding")}, 6) AS cosine
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)),
         |pos AS (
         |  SELECT query_id, vec_id AS pos_id, cosine AS pos_cos FROM (
         |    SELECT query_id, vec_id, cosine,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine DESC, vec_id) AS rn
         |    FROM sc WHERE label = q_label) WHERE rn = 1),
         |neg AS (
         |  SELECT query_id, vec_id AS neg_id, cosine AS neg_cos FROM (
         |    SELECT query_id, vec_id, cosine,
         |           row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine DESC, vec_id) AS rn
         |    FROM sc WHERE label <> q_label) WHERE rn = 1)
         |SELECT q.query_id, q.q_label AS label,
         |       pos_id, pos_cos, neg_id, neg_cos,
         |       round(pos_cos - neg_cos, 6) + 0.0 AS margin
         |FROM q LEFT JOIN pos USING (query_id) LEFT JOIN neg USING (query_id)
         |ORDER BY q.query_id""".stripMargin,
    // exact covariance moments: the same ⌊x·1e6+0.5⌋ micro-unit
    // quantization, naive lateral pair expansion (fine for the oracle;
    // the engine generates pairs row-locally with the native
    // pair_products expression), HUGEINT combine kept internal —
    // outputs are BIGINT moments + one rounded double
    "q_embed_covariance" ->
      s"""$covGridOracleCtes
        |SELECT dim_i, dim_j, n, s_i, s_j, s_ij, cov
        |FROM grid ORDER BY dim_i, dim_j""".stripMargin,
    // the drained streaming state must equal the batch grid bit-for-bit:
    // same oracle as q_embed_covariance
    "q_streaming_covariance" ->
      s"""$covGridOracleCtes
        |SELECT dim_i, dim_j, n, s_i, s_j, s_ij, cov
        |FROM grid ORDER BY dim_i, dim_j""".stripMargin,
    // Pearson r from the same exact moments: numerator and the two
    // diagonal variance numerators stay exact integers until ONE
    // double cast + sqrt, mirrored token-for-token by the engine;
    // zero-variance dims yield NULL identically on both sides
    "q_embed_correlation" ->
      s"""$covGridOracleCtes,
        |dv AS (SELECT dim_i AS dim,
        |              CAST(n AS HUGEINT) * s_ij - CAST(s_i AS HUGEINT) * s_i AS dvar
        |       FROM grid WHERE dim_i = dim_j)
        |SELECT g.dim_i, g.dim_j,
        |       CASE WHEN a.dvar = 0 OR b.dvar = 0 THEN NULL
        |            ELSE round(
        |              CAST(CAST(g.n AS HUGEINT) * g.s_ij
        |                   - CAST(g.s_i AS HUGEINT) * g.s_j AS DOUBLE)
        |              / sqrt(CAST(a.dvar AS DOUBLE) * CAST(b.dvar AS DOUBLE)),
        |              6) + 0.0 END AS corr
        |FROM grid g
        |JOIN dv a ON g.dim_i = a.dim
        |JOIN dv b ON g.dim_j = b.dim
        |ORDER BY g.dim_i, g.dim_j""".stripMargin,
    // per-dim two-sample drift: conditional HUGEINT moments per slice in
    // ONE pass, the z expression mirrored token-for-token (cur term
    // first in the sqrt sum), |z|>3 on the UNROUNDED z — both engines
    // compute identical doubles from identical exact integers
    "q_embed_drift" ->
      """WITH q AS (
        |  SELECT vec_id < 250 AS is_ref,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qs
        |  FROM embeddings),
        |e AS (
        |  SELECT is_ref, CAST(i - 1 AS INTEGER) AS dim, qs[i] AS v
        |  FROM q, LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i)),
        |m AS (SELECT dim,
        |        CAST(count(CASE WHEN is_ref THEN 1 END) AS BIGINT) AS n_ref,
        |        sum(CASE WHEN is_ref THEN CAST(v AS HUGEINT) END) AS s_ref,
        |        sum(CASE WHEN is_ref THEN CAST(v AS HUGEINT) * v END) AS s2_ref,
        |        CAST(count(CASE WHEN NOT is_ref THEN 1 END) AS BIGINT) AS n_cur,
        |        sum(CASE WHEN NOT is_ref THEN CAST(v AS HUGEINT) END) AS s_cur,
        |        sum(CASE WHEN NOT is_ref THEN CAST(v AS HUGEINT) * v END) AS s2_cur
        |      FROM e GROUP BY dim),
        |z0 AS (SELECT dim, n_ref, n_cur,
        |         (CAST(s_cur AS DOUBLE) / (CAST(n_cur AS DOUBLE) * 1e6)
        |          - CAST(s_ref AS DOUBLE) / (CAST(n_ref AS DOUBLE) * 1e6))
        |         / sqrt(
        |             CAST(n_cur * s2_cur - s_cur * s_cur AS DOUBLE)
        |               / (CAST(n_cur AS DOUBLE) * CAST(n_cur AS DOUBLE) * 1e12) / n_cur
        |           + CAST(n_ref * s2_ref - s_ref * s_ref AS DOUBLE)
        |               / (CAST(n_ref AS DOUBLE) * CAST(n_ref AS DOUBLE) * 1e12) / n_ref)
        |           AS zr,
        |         (n_ref = 0 OR n_cur = 0
        |          OR n_ref * s2_ref - s_ref * s_ref = 0
        |          OR n_cur * s2_cur - s_cur * s_cur = 0) AS degen
        |       FROM m)
        |SELECT dim, n_ref, n_cur,
        |       CASE WHEN degen THEN NULL ELSE round(zr, 6) + 0.0 END AS z,
        |       CASE WHEN degen THEN NULL ELSE abs(zr) > 3 END AS is_drift
        |FROM z0 ORDER BY dim""".stripMargin,
    // eigenpair invariants: trace / max-diagonal in the grid's 6dp
    // micro-units (engine-agreed integers) + TRUE for each invariant a
    // broken eigen-solve would flip — see Covariance.pcaTopQuery
    "q_pca_top" ->
      s"""$covGridOracleCtes,
        |dg AS (SELECT CAST(floor(cov * 1e6 + 0.5) AS BIGINT) AS c
        |       FROM grid WHERE dim_i = dim_j)
        |SELECT (SELECT CAST(max(dim_j) + 1 AS INTEGER) FROM grid) AS d,
        |       CAST(sum(c) AS BIGINT) AS trace_micro,
        |       CAST(max(c) AS BIGINT) AS max_diag_micro,
        |       TRUE AS unit_norm_ok, TRUE AS dominance_ok,
        |       TRUE AS bounded_ok, TRUE AS resid_ok, TRUE AS sign_ok
        |FROM dg
        |-- zero-row corpus: the engine degrades to an EMPTY report (no
        |-- eigenpair exists), so the ungrouped aggregate must not emit
        |-- its all-NULL row either
        |HAVING count(*) > 0""".stripMargin,
    // int8 quantization: float→double casts, greatest-fold max|x|, explicit
    // ⌊x+0.5⌋ rounding (engine round() tie-breaks differ), sequential
    // error fold — every step engine-exact
    "q_quantize_embed" ->
      """WITH e0 AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, label, xd,
        |         list_reduce(list_prepend(0.0, xd),
        |                     (m, v) -> greatest(m, abs(v))) / 127 AS scale_raw
        |  FROM e0),
        |s2 AS (
        |  SELECT vec_id, label, xd,
        |         CASE WHEN scale_raw = 0 THEN 1.0 ELSE scale_raw END AS scale
        |  FROM s),
        |q AS (
        |  SELECT vec_id, label, xd, scale,
        |         list_transform(xd, v -> floor(v / scale + 0.5)) AS qv
        |  FROM s2)
        |SELECT vec_id, label, round(scale, 8) AS scale,
        |       CAST(floor(sqrt(list_sum(list_transform(range(1, len(xd)+1),
        |             i -> (xd[i] - qv[i]*scale) * (xd[i] - qv[i]*scale)))) * 1e6 + 0.5) AS BIGINT) AS err_l2_micro
        |FROM q ORDER BY vec_id""".stripMargin,
    // — relational —
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($revenueSql) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum($revenueSql * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
         |  round(avg(l_quantity), 4) AS avg_qty,
         |  round(avg(l_extendedprice), 4) AS avg_price,
         |  round(avg(l_discount), 4) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_unshipped" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |       CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_parts_top_brand" ->
      s"""WITH rev AS (
         |  SELECT p_brand, p_partkey, CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY p_brand, p_partkey)
         |SELECT p_brand, p_partkey, revenue, rnk FROM (
         |  SELECT p_brand, p_partkey, revenue,
         |         CAST(row_number() OVER (PARTITION BY p_brand
         |              ORDER BY revenue DESC, p_partkey) AS INTEGER) AS rnk
         |  FROM rev)
         |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin,
    "q_orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_orders_rollup_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_cust_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_supp_with_ship" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        |ORDER BY s_suppkey""".stripMargin,
    // bucketing changes the physical layout only — the oracle is the plain
    // logical join (BucketingSpec asserts the bucketed plan is
    // exchange-free; this checks it is also lossless)
    "q_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,
    // correlated scalar subqueries, decorrelated by Catalyst on the Spark
    // side; DuckDB runs the identical correlated form. Exact-decimal
    // above-average test (price·n > sum — no inexact divide).
    "q_parts_above_avg" ->
      """SELECT p_partkey, p_brand, p_retailprice,
        |       (SELECT COUNT(*) FROM part p2
        |        WHERE p2.p_brand = p.p_brand) AS brand_n,
        |       (SELECT CAST(SUM(CAST(p3.p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
        |        FROM part p3
        |        WHERE p3.p_brand = p.p_brand) AS brand_sum
        |FROM part p
        |WHERE CAST(p_retailprice AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM part p4 WHERE p4.p_brand = p.p_brand)
        |      > (SELECT SUM(CAST(p5.p_retailprice AS DECIMAL(12,2)))
        |         FROM part p5 WHERE p5.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,
    "q_nation_trade" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
         |       CAST(sum($revenueSql) AS DOUBLE) AS revenue,
         |       count(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_11')
         |   OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_19')
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,
    // Q6: identical SQL text on both engines (the Spark side runs it
    // through spark.sql — the SQL front end is itself under the oracle)
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // Q14: bare CASE (no ELSE) drops non-promo rows from the sum on both
    // engines; the share divides the two exact-decimal-cast doubles
    "q14_promo_share" ->
      s"""SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueSql END) AS DOUBLE) AS promo_revenue,
         |       CAST(sum($revenueSql) AS DOUBLE) AS total_revenue,
         |       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueSql END) AS DOUBLE)
         |             / CAST(sum($revenueSql) AS DOUBLE), 6) AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate <  TIMESTAMP '1996-02-01'""".stripMargin,
    // Q19: the disjunction evaluated post-join, identical ranges
    "q19_brand_ranges" ->
      s"""SELECT CAST(sum($revenueSql) AS DOUBLE) AS revenue, count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 40)""".stripMargin,
    // Q4 shape: EXISTS correlated on both orderkey and the 90-day lateness
    // window against o_orderdate
    "q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Q8 shape: conditional-sum share of two exact-decimal sums
    "q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |       CAST(sum(CASE WHEN n2.n_name = 'NATION_5' THEN $revenueSql END) AS DOUBLE) AS nation_revenue,
         |       CAST(sum($revenueSql) AS DOUBLE) AS total_revenue,
         |       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_5' THEN $revenueSql END) AS DOUBLE)
         |             / CAST(sum($revenueSql) AS DOUBLE), 6) AS mkt_share
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate <  TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // Q9 shape: part-family revenue by supplier nation × order year
    "q9_profit_nation" ->
      s"""SELECT n_name AS nation,
         |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |       CAST(sum($revenueSql) AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    // Q10 shape: revenue-desc top 20 with the custkey tiebreak mirrored
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |       CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation   ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-07-01'
         |  AND o_orderdate <  TIMESTAMP '1996-10-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // Q13 shape: LEFT JOIN keeps order-less customers at count 0
    "q13_order_counts" ->
      """WITH per_cust AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q17 shape: 5·qty·n < Σqty — the below-fifth-of-average test with no
    // divide, exact on both engines
    "q17_small_qty" ->
      """WITH brand_lines AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |per_part AS (
        |  SELECT l_partkey AS ap_key, count(*) AS n_lines,
        |         sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum
        |  FROM brand_lines GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly,
        |       count(*) AS n_items
        |FROM brand_lines JOIN per_part ON l_partkey = ap_key
        |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * n_lines < qty_sum""".stripMargin,
    // GDPR purge: the oracle simply indexes the corpus without the purged
    // docs — the engine got there by rewriting only their letters
    "q_gdpr_delete" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(lower(text), ' '),
        |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
        |                     w -> w <> '') AS ts
        |  FROM documents WHERE doc_id NOT IN (0, 1)
        |), flat AS (
        |  SELECT doc_id, unnest(ts) AS term FROM toks
        |), postings AS (
        |  SELECT term, doc_id, count(*) AS tf FROM flat GROUP BY term, doc_id
        |)
        |SELECT count(*) AS n_postings, count(DISTINCT term) AS n_terms,
        |       CAST(sum(tf) AS BIGINT) AS total_tf,
        |       CAST(sum(CASE WHEN doc_id IN (0, 1) THEN 1 ELSE 0 END)
        |            AS BIGINT) AS deleted_postings
        |FROM postings""".stripMargin,
    // snapshot CDF: postings diff of the original vs amended corpus (doc 0
    // gains doc 1's text); set EXCEPT is safe — (term, doc_id) is a key
    "q_snapshot_changes" ->
      s"""$postingsCte, docs0 AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id = 0 THEN d.text || ' ' ||
         |              (SELECT text FROM documents WHERE doc_id = 1)
         |              ELSE d.text END AS text
         |  FROM documents d
         |), toks2 AS (
         |  SELECT doc_id,
         |         list_filter(list_transform(string_split(lower(text), ' '),
         |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
         |                     w -> w <> '') AS ts
         |  FROM docs0
         |), flat2 AS (
         |  SELECT doc_id, unnest(ts) AS term FROM toks2
         |), postings2 AS (
         |  SELECT term, doc_id, count(*) AS tf FROM flat2 GROUP BY term, doc_id
         |), added AS (
         |  SELECT term, doc_id, tf FROM postings2
         |  EXCEPT SELECT term, doc_id, tf FROM postings
         |), removed AS (
         |  SELECT term, doc_id, tf FROM postings
         |  EXCEPT SELECT term, doc_id, tf FROM postings2
         |)
         |SELECT * FROM (
         |  SELECT 'add' AS change, term, doc_id, tf FROM added
         |  UNION ALL
         |  SELECT 'remove', term, doc_id, tf FROM removed)
         |ORDER BY change, term, doc_id""".stripMargin,
    // incremental ≡ full: the oracle recomputes the whole rollup; the
    // engine merged a materialized base with a delta aggregation
    "q_ivm_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // incremental ≡ full for the join view too: the oracle joins the
    // complete tables; the engine merged four delta terms
    "q_ivm_join" ->
      """SELECT o_orderstatus, year(l_shipdate) AS ship_year,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(12,2)) -
        |                 CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // robust winnowing, k=4 w=5: identical gram hash (base-31 fold of the
    // rolling-fp token codes) and the same packed-key windowed min
    "q_winnowing" ->
      s"""$winnowCte
         |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
         |       count(*) AS n_fingerprints,
         |       CAST(sum(minkey // 4294967296) % 1000000007 AS BIGINT) AS fp_checksum
         |FROM sel GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // schema evolution: the NULL-backfilled old generation is the even
    // docs, so the oracle reconstructs the merge from the parity split
    "q_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_with_chars,
        |       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
        |            AS BIGINT) AS chars_sum
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    // BPE: the oracle replays the identical 3 merge rounds — weighted
    // pair argmax (count desc, pair asc) + sentinel-padded replace
    "q_bpe_train" ->
      s"""$bpeCte
         |SELECT * FROM (
         |  SELECT 1 AS round, pair AS merged_pair, n AS pair_count FROM t1
         |  UNION ALL SELECT 2, pair, n FROM t2
         |  UNION ALL SELECT 3, pair, n FROM t3)
         |ORDER BY round""".stripMargin,
    // tokenizer application: seq3 applies the third learned merge, then
    // word-type token counts re-weight per language — the identical
    // type-granularity encode the engine runs
    "q_bpe_encode" ->
      s"""$bpeCte, seq3 AS (
         |  SELECT trim(replace(replace(replace(' ' || s || ' ', ' ', '  '),
         |           ' ' || (SELECT replace(pair, ' ', '  ') FROM t3) || ' ',
         |           ' ' || (SELECT replace(pair, ' ', '') FROM t3) || ' '),
         |           '  ', ' ')) AS s,
         |         freq
         |  FROM seq2
         |), enc AS (
         |  SELECT replace(s, ' ', '') AS word,
         |         CAST(len(string_split(s, ' ')) AS BIGINT) AS n_bpe
         |  FROM seq3
         |), bl AS (
         |  SELECT lang, t AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM toks, unnest(ts) AS u(t) GROUP BY 1, 2
         |)
         |SELECT lang,
         |       CAST(sum(freq) AS BIGINT) AS n_ws_tokens,
         |       CAST(sum(freq * len(word)) AS BIGINT) AS n_chars,
         |       CAST(sum(freq * n_bpe) AS BIGINT) AS n_bpe_tokens,
         |       round(CAST(sum(freq * len(word)) AS DOUBLE)
         |             / sum(freq * n_bpe), 6) AS chars_per_bpe_token
         |FROM bl JOIN enc USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // fingerprint-sharing candidate pairs, df-cutoff 10, >= 2 shared
    "q_winnow_pairs" ->
      s"""$winnowCte, sel2 AS (
         |  SELECT DISTINCT doc_id, minkey // 4294967296 AS fp FROM sel
         |), rare AS (
         |  SELECT fp FROM (SELECT fp, count(*) AS df FROM sel2 GROUP BY 1)
         |  WHERE df <= 10
         |), sr AS (SELECT doc_id, fp FROM sel2 JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM sr a JOIN sr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin,
    // gap encoding: same lag windows, same bin()-based varint cost
    "q_postings_delta" ->
      s"""$postingsCte, gaps AS (
         |  SELECT term, doc_id,
         |         COALESCE(doc_id - lag(doc_id) OVER (
         |                    PARTITION BY term ORDER BY doc_id),
         |                  doc_id + 1) AS gap
         |  FROM postings)
         |SELECT term, count(*) AS n_docs,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |       CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT) AS vbyte_bytes,
         |       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
         |       round(CAST(count(*) * 8 AS DOUBLE) /
         |             sum((length(bin(gap)) + 6) // 7), 4) AS ratio
         |FROM gaps GROUP BY term
         |ORDER BY n_docs DESC, term LIMIT 100""".stripMargin,
    // per-letter integrity checksums: per-row polynomial hash mod 1e9+7,
    // summed order-independently — identical fold on both engines
    "q_partition_checksums" ->
      s"""$postingsCte
         |SELECT substr(term, 1, 1) AS first_letter, count(*) AS n_rows,
         |       CAST(sum((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                list_transform(range(1, length(term) + 1),
         |                               i -> CAST(ord(term[i]) AS BIGINT))),
         |              (acc, t) -> (acc * 31 + t) % 1000000007) * 1000003
         |              + doc_id * 31 + tf) % 1000000007)
         |            % 1000000007 AS BIGINT) AS checksum
         |FROM postings GROUP BY 1 ORDER BY 1""".stripMargin,
    // novelty: shingle's first teller = min doc_id over the same relation
    "q_novelty" ->
      s"""$shingleCte, first_seen AS (
         |  SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT s.doc_id, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel,
         |       round(CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
         |                  AS DOUBLE) / count(*), 6) AS novelty_ratio
         |FROM sh s JOIN first_seen f ON s.sh = f.sh
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // quota cap: identical row_number admission under a unique ordering
    "q_quota_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         count(*) OVER (PARTITION BY source) AS n_docs,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, n_docs, count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM ranked WHERE rn <= 20
        |GROUP BY 1, 2 ORDER BY source""".stripMargin,
    // the oracle sketches the FULL data directly — merging half-sketches
    // must land on the identical k-min set
    "q_ivm_sketch" ->
      """WITH hs AS (
        |  SELECT DISTINCT CAST((CAST(user_id AS HUGEINT) * 2654435761) % 4294967291 AS BIGINT) AS h
        |  FROM events),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, max(h) AS kth_min
        |      FROM (SELECT h FROM hs ORDER BY h LIMIT 64)),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM hs)
        |SELECT k, kth_min,
        |       CAST(floor((k - 1) * 4294967291.0 / kth_min + 0.5) AS BIGINT)
        |         AS estimate,
        |       n_exact
        |FROM m, e""".stripMargin,
    // schema-on-read twin: DuckDB's json_extract over the same payloads
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS k_sum,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // gap fill: DuckDB generates the same spine and carries the same
    // last-observed decimal forward (unique (type, hour) ordering)
    "q_gap_fill" ->
      """WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS hour_ts, event_type AS ct,
        |         count(*) AS n,
        |         sum(CAST(value AS DECIMAL(14,2))) AS hour_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo,
        |         date_trunc('hour', max(ts)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT t.hour_ts, e.event_type
        |  FROM bounds,
        |       unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(hour_ts),
        |       (SELECT DISTINCT event_type FROM events) e),
        |filled AS (
        |  SELECT s.hour_ts, s.event_type, c.n, c.hour_value
        |  FROM spine s LEFT JOIN counts c
        |    ON s.hour_ts = c.hour_ts AND s.event_type = c.ct)
        |SELECT strftime(hour_ts, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       COALESCE(n, 0) AS n,
        |       CAST(COALESCE(last_value(hour_value IGNORE NULLS) OVER (
        |              PARTITION BY event_type ORDER BY hour_ts
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |            0) AS DOUBLE) AS carried_value
        |FROM filled ORDER BY event_type, hour""".stripMargin,
    // one-scan exact column stats, one row per column
    "q_table_profile" ->
      """SELECT 'l_quantity' AS col_name,
        |       CAST(min(l_quantity) AS DOUBLE) AS min_v,
        |       CAST(max(l_quantity) AS DOUBLE) AS max_v,
        |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       count(DISTINCT l_quantity) AS n_distinct
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice',
        |       CAST(min(l_extendedprice) AS DOUBLE),
        |       CAST(max(l_extendedprice) AS DOUBLE),
        |       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT l_extendedprice)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount',
        |       CAST(min(l_discount) AS DOUBLE),
        |       CAST(max(l_discount) AS DOUBLE),
        |       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       count(DISTINCT l_discount)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin,
    // Q2 shape: per-part min cost aggregated once, equality-joined back;
    // (p_partkey, s_name) unique in offers so the ORDER BY is total
    "q2_min_cost_supp" ->
      """WITH region_supp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
        |         min(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
        |  FROM lineitem JOIN region_supp ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3, 4, 5),
        |best AS (
        |  SELECT l_partkey AS bc_key, min(cost) AS best_cost
        |  FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       CAST(cost AS DOUBLE) AS cost
        |FROM offers
        |JOIN best ON l_partkey = bc_key AND cost = best_cost
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type = 'STANDARD'
        |ORDER BY s_acctbal DESC, p_partkey, s_name LIMIT 100""".stripMargin,
    // Q11 shape: per-part value vs 2× the mean share of the same relation
    // — decimal × integer on both sides keeps the inequality exact
    "q11_important_parts" ->
      """WITH nat_value AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             CAST(l_quantity AS DECIMAL(12,2))) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_19'
        |  GROUP BY 1),
        |tot AS (
        |  SELECT sum(value) AS grand_total, count(*) AS n_parts
        |  FROM nat_value)
        |SELECT l_partkey AS p_key, CAST(value AS DOUBLE) AS value
        |FROM nat_value, tot
        |WHERE value * n_parts > grand_total * 2
        |ORDER BY value DESC, p_key""".stripMargin,
    // Q12 shape: late 1997 lines, critical vs other priorities per flag
    "q12_late_priority" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(l_shipdate) = 1997
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q16 shape: distinct suppliers per part class, NOT IN the
    // low-balance exclusion set
    "q16_supp_diversity" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20 shape: per-(part,supplier) 1996 PROMO quantity vs half the
    // part's total — qualifying suppliers via IN (semi join)
    "q20_dominant_supp" ->
      """WITH per_ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |per_part AS (
        |  SELECT l_partkey AS pp_key, sum(sq) AS total_q
        |  FROM per_ps GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM per_ps
        |  JOIN per_part ON l_partkey = pp_key
        |  WHERE sq * 2 > total_q)
        |ORDER BY s_suppkey""".stripMargin,
    // Q21 shape: lateness flags per (order, supplier), one per-order
    // rollup, exact integer sole-blame test — numwait ties broken by key
    "q21_blame_supplier" ->
      """WITH pos AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |                  THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |per_order AS (
        |  SELECT l_orderkey AS o_key, count(*) AS n_supps,
        |         sum(late) AS n_late
        |  FROM pos GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM pos
        |JOIN per_order ON l_orderkey = o_key
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE late = 1 AND n_supps >= 2 AND n_late = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    // Q22 shape: exact above-average test (bal·n > Σbal) + NOT-EXISTS
    // recency (lapsed since 2000 — "no orders ever" is vacuous here)
    "q22_untapped" ->
      """WITH pos AS (
        |  SELECT count(*) AS n_pos,
        |         sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT n_name, count(*) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |CROSS JOIN pos
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > bal_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // rank-based windows with a unique ordering are engine-exact
    "q_price_position" ->
      """SELECT p_partkey, p_brand, p_retailprice, pct_rank, cume FROM (
        |  SELECT p_partkey, p_brand, p_retailprice,
        |         round(percent_rank() OVER (PARTITION BY p_brand
        |               ORDER BY p_retailprice, p_partkey), 6) AS pct_rank,
        |         round(cume_dist() OVER (PARTITION BY p_brand
        |               ORDER BY p_retailprice, p_partkey), 6) AS cume
        |  FROM part)
        |WHERE p_partkey % 50 = 0 ORDER BY p_partkey""".stripMargin,
    // two unrolled doc→term→doc rounds in integer micro-units: floor
    // division makes rounding loss deterministic on both engines
    "q_rank_propagation" ->
      s"""$postingsCte, p AS (
         |  SELECT term, doc_id FROM postings
         |), dd AS (SELECT doc_id, count(*) AS d_deg FROM p GROUP BY 1),
         |td AS (SELECT term, count(*) AS t_deg FROM p GROUP BY 1),
         |t1 AS (SELECT term, sum(1000000 // d_deg) AS t_rank
         |       FROM p JOIN dd USING (doc_id) GROUP BY term),
         |d1 AS (SELECT doc_id, sum(t_rank // t_deg) AS d_rank
         |       FROM p JOIN td USING (term) JOIN t1 USING (term) GROUP BY doc_id),
         |t2 AS (SELECT term, sum(d_rank // d_deg) AS t_rank2
         |       FROM p JOIN dd USING (doc_id) JOIN d1 USING (doc_id) GROUP BY term),
         |d2 AS (SELECT doc_id, sum(t_rank2 // t_deg) AS rank_uu
         |       FROM p JOIN td USING (term) JOIN t2 USING (term) GROUP BY doc_id)
         |SELECT doc_id, CAST(rank_uu AS BIGINT) AS rank_uu
         |FROM d2 ORDER BY rank_uu DESC, doc_id LIMIT 25""".stripMargin,
    // naive canonical-edge triangle join (a<b<c) — fine for the oracle;
    // the engine runs the degree-oriented forward algorithm instead
    "q_copurchase_triangles" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |x AS (SELECT a AS p FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT p AS p_partkey, CAST(count(*) AS BIGINT) AS n_tri
        |FROM x GROUP BY 1 ORDER BY n_tri DESC, p_partkey LIMIT 50""".stripMargin,
    // exact-count association rules; one rounded division per measure
    "q_basket_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |item AS (SELECT pk, count(*) AS cnt FROM li GROUP BY 1),
        |pair AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
        |         FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |         GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, CAST(n_pair AS BIGINT) AS n_pair,
        |       CAST(ia.cnt AS BIGINT) AS n_a, CAST(ib.cnt AS BIGINT) AS n_b,
        |       CAST(n.n_orders AS BIGINT) AS n_orders,
        |       round(CAST(n_pair AS DOUBLE) / CAST(n.n_orders AS DOUBLE), 6) AS support,
        |       round(CAST(n_pair AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6) AS confidence,
        |       round(CAST(n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        |             / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)), 6) AS lift
        |FROM pair JOIN item ia ON part_a = ia.pk JOIN item ib ON part_b = ib.pk, n
        |ORDER BY lift DESC, part_a, part_b LIMIT 25""".stripMargin,
    // Q15 shape: exact decimal revenue; winner-by-equality against the
    // max over the same aggregation
    "q_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, sum($revenueSql) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    // Q18 shape: HAVING over exact decimal quantity totals
    "q_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    // Z-clustering changes the physical layout only — the oracle is the
    // same rectangle query over the plain table (ClusteringSpec asserts
    // the layout actually skips non-matching tiles; this checks the
    // clustered copy is lossless)
    "q_clustered_scan" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |       CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |                     AND TIMESTAMP '1996-06-30 23:59:59'
         |  AND l_partkey BETWEEN 1 AND 100
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // the compacted copy must aggregate identically to the source table
    "q_compacted_scan" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       count(DISTINCT doc_id) AS n_distinct
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // footer-stats profile: pushdown changes where the answer comes
    // from, not what it is
    "q_agg_pushdown" ->
      """SELECT CAST(min(l_quantity) AS DOUBLE) AS min_qty,
        |       CAST(max(l_quantity) AS DOUBLE) AS max_qty,
        |       count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    // nested round-trip: struct staging is lossless, so the rollup equals
    // the flat-source rollup
    "q_nested_prune" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // runtime-filtered join: the Bloom filter is a pure pre-shuffle
    // prune, so the oracle is the plain join
    "q_runtime_filter" ->
      """SELECT p_brand, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // DPP rollup: only langs whose mean length clears the integer-form
    // threshold (sum > count*300) appear; fact side is the partitioned copy
    "q_dpp_lookup" ->
      """WITH d AS (SELECT lang FROM documents
        |           GROUP BY lang HAVING sum(n_chars) > count(*) * 300)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN (SELECT lang FROM d)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // dynamic overwrite: en reflects the >=200-char re-curation gate,
    // every other lang the untouched original partition
    "q_partition_overwrite" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang <> 'en' OR n_chars >= 200
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the ORC interchange copy must aggregate identically to the source
    "q_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(sum(length(text)) AS BIGINT) AS total_text_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // same fingerprint for the CSV leg — text-format interchange must
    // restore types and values, not just bytes
    "q_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(sum(length(text)) AS BIGINT) AS total_text_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the JSON-lines leg aggregates to the same fingerprint
    "q_json_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(sum(length(text)) AS BIGINT) AS total_text_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // k-anonymity: the census join and the >= k suppression are pure
    // relational algebra — identical on both engines
    "q_kanon_release" ->
      """WITH qi AS (
        |  SELECT doc_id, lang, source,
        |         CAST(floor(n_chars / 500) * 500 AS BIGINT) AS size_bucket
        |  FROM documents),
        |census AS (
        |  SELECT lang AS g_lang, source AS g_source,
        |         size_bucket AS g_bucket, count(*) AS class_size
        |  FROM qi GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |       CASE WHEN class_size >= 5 THEN lang ELSE '*' END AS lang,
        |       CASE WHEN class_size >= 5 THEN source ELSE '*' END AS source,
        |       CASE WHEN class_size >= 5 THEN CAST(size_bucket AS VARCHAR)
        |            ELSE '*' END AS size_bucket,
        |       class_size >= 5 AS released
        |FROM qi JOIN census
        |  ON lang = g_lang AND source = g_source AND size_bucket = g_bucket
        |ORDER BY doc_id""".stripMargin,
    // identical rectangle, served through the file-stats manifest —
    // pruning is a physical concern; the answer must not move
    "q_pruned_scan" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |       CAST(sum($revenueSql) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
         |                     AND TIMESTAMP '1996-06-30 23:59:59'
         |  AND l_partkey BETWEEN 1 AND 100
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    // Bloom skipping changes which FILES are opened, never the rows —
    // no false negatives, so the plain point query is the oracle
    "q_bloom_skip_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey = 42
        |ORDER BY l_linenumber""".stripMargin,
    // salting changes shuffle routing only — the oracle is the plain join
    "q_skew_join" ->
      """SELECT l_suppkey AS suppkey, s_name, count(*) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY l_suppkey, s_name
        |ORDER BY suppkey""".stripMargin,
    // — events —
    "q_hourly_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // base-table formulations on purpose: the ENGINE side answers these
    // from the materialized hourly view via the optimizer rewrite
    "q_mv_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_mv_bytype" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // same base-table truth as q_mv_bytype: whichever registered view the
    // optimizer picks (the cheaper per-type one — asserted in spec), the
    // answer must hash-match the base recompute
    "q_mv_choose" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // base-corpus formulations: the engine serves both from the postings
    // index via the Generate-aware rewrite
    "q_index_rewrite" ->
      s"""$postingsCte
         |SELECT term, CAST(sum(tf) AS BIGINT) AS n
         |FROM postings GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin,
    "q_index_rewrite_doc" ->
      s"""$postingsCte
         |SELECT doc_id, CAST(tf AS BIGINT) AS n
         |FROM postings WHERE term = 'the' ORDER BY doc_id""".stripMargin,
    // base ∪ the deterministic appended batch: the engine answers from
    // the incrementally-refreshed postings generation (q_mv_refresh's
    // lifecycle, for the inverted-index view)
    "q_index_refresh" ->
      """WITH b AS (SELECT * FROM documents UNION ALL
        |           (SELECT * FROM documents ORDER BY doc_id LIMIT 300)),
        |toks AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(lower(text), ' '),
        |                     w -> regexp_replace(w, '[^a-z]', '', 'g')),
        |                     w -> w <> '') AS ts
        |  FROM b),
        |flat AS (SELECT doc_id, unnest(ts) AS term FROM toks)
        |SELECT term, CAST(count(*) AS BIGINT) AS n
        |FROM flat GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin,
    "q_mv_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // base ∪ the deterministic appended batch: the engine answers from
    // the incrementally-refreshed view generation
    "q_mv_refresh" ->
      """WITH b AS (SELECT * FROM events UNION ALL
        |           (SELECT * FROM events ORDER BY event_id LIMIT 500))
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM b GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_mv_avg" ->
      """SELECT event_type,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS avg_value,
        |       max(value) - min(value) AS value_range,
        |       count(*) AS n
        |FROM events GROUP BY 1 HAVING count(*) > 100 ORDER BY event_type""".stripMargin,
    // base-table formulation again: the engine side drains the streaming
    // view maintenance, registers the state, and the rewrite serves it
    "q_streaming_mv" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events WHERE date_trunc('hour', ts) >= TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // streaming drain of the same windows (no n_users: streaming
    // aggregations cannot countDistinct) — window state must converge to
    // the batch rollup
    "q_streaming_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // stream-static enrichment drain — batch join+rollup oracle: the
    // drained aggregation state must equal the static join's answer
    "q_streaming_enrich" ->
      """SELECT c.c_mktsegment AS segment, e.event_type, count(*) AS n,
        |       CAST(sum(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,
    "q_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_ms(ts), event_id) AS to_type
        |  FROM events
        |), t AS (
        |  SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |       round(CAST(n AS DOUBLE) /
        |             CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ms,
        |         CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM (SELECT user_id, event_id, ms,
        |               lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |        FROM e)
        |), numbered AS (
        |  SELECT user_id, ms,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no,
        |       min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |       count(*) AS n_events,
        |       CAST((max(ms) - min(ms)) // 1000 AS BIGINT) AS duration_s
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    // streaming session state drained through the sentinel flush must
    // converge to the identical batch sessionization
    "q_streaming_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ms,
        |         CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM (SELECT user_id, event_id, ms,
        |               lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |        FROM e)
        |), numbered AS (
        |  SELECT user_id, ms,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no,
        |       min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |       count(*) AS n_events,
        |       CAST((max(ms) - min(ms)) // 1000 AS BIGINT) AS duration_s
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    // the declarative session_window drain converges to the SAME batch
    // sessions (boundary-exact: no 1800000-ms gaps exist in the data)
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ms,
        |         CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new
        |  FROM (SELECT user_id, event_id, ms,
        |               lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |        FROM e)
        |), numbered AS (
        |  SELECT user_id, ms,
        |         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no,
        |       min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |       count(*) AS n_events,
        |       CAST((max(ms) - min(ms)) // 1000 AS BIGINT) AS duration_s
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    // event-time RANGE frame: both engines' RANGE BETWEEN includes ms
    // peers; the decimal sum makes frame addition order irrelevant
    "q_user_activity_window" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
        |                  CAST(value AS DECIMAL(14,2)) AS v
        |           FROM events WHERE user_id < 30)
        |SELECT event_id, user_id, event_type, ms,
        |       CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
        |       CAST(sum(v) OVER w AS DOUBLE) AS value_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ms
        |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // CUBE: same grouping-set bit order (first column = high bit)
    "q_mixture_cube" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(GROUPING(source, lang) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY gid, source, lang""".stripMargin,
    // interval join: the oracle is the naive range join; the Spark plan
    // bins time so candidates stay bounded (Events.viewsBeforePurchase)
    "q_views_before_purchase" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_ms(ts) AS v_ms
        |      FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ms AS purchase_ms,
        |       CAST(count(v.v_ms) AS BIGINT) AS n_views_1h
        |FROM p LEFT JOIN v
        |  ON v.user_id = p.user_id
        | AND v.v_ms > p.ms - 3600000 AND v.v_ms <= p.ms
        |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin,
    // keyless range join: the oracle is the naive inequality-only join
    // (DuckDB runs it as IEJoin); the Spark plan is the bin-bucketed
    // equi-join — same answer, shuffle-joinable at any scale
    "q_range_join" ->
      """WITH w AS (SELECT event_id AS win_id, epoch_ms(ts) AS lo_ms
        |           FROM events WHERE event_type = 'error'),
        |c AS (SELECT epoch_ms(ts) AS c_ms
        |      FROM events WHERE event_type = 'click')
        |SELECT w.win_id,
        |       CAST(count(c.c_ms) AS BIGINT) AS n_clicks
        |FROM w LEFT JOIN c
        |  ON c.c_ms >= w.lo_ms AND c.c_ms < w.lo_ms + 600000
        |GROUP BY 1 ORDER BY win_id""".stripMargin,
    // outer variant: same oracle — zero-view purchases come from the
    // stream's own null-padded rows, not a batch tail
    "q_streaming_outer_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_ms(ts) AS v_ms
        |      FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ms AS purchase_ms,
        |       CAST(count(v.v_ms) AS BIGINT) AS n_views_1h
        |FROM p LEFT JOIN v
        |  ON v.user_id = p.user_id
        | AND v.v_ms > p.ms - 3600000 AND v.v_ms <= p.ms
        |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin,
    // the stream-stream join must converge to the batch interval join
    "q_streaming_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_ms(ts) AS v_ms
        |      FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id, p.ms AS purchase_ms,
        |       CAST(count(v.v_ms) AS BIGINT) AS n_views_1h
        |FROM p LEFT JOIN v
        |  ON v.user_id = p.user_id
        | AND v.v_ms > p.ms - 3600000 AND v.v_ms <= p.ms
        |GROUP BY 1, 2, 3 ORDER BY event_id""".stripMargin,
    "q_retention" ->
      """WITH w AS (SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |       count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t1
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t2
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t1
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t3
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t2
        |      GROUP BY 1)
        |SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM v
        |UNION ALL
        |SELECT 2, 'click_after_view', count(*) FROM c
        |UNION ALL
        |SELECT 3, 'purchase_after_click', count(*) FROM p
        |ORDER BY stage_idx""".stripMargin,
    "q_asof_purchase_view" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ms(ts) AS p_ms
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, epoch_ms(ts) AS v_ms
        |      FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p_id, p_ms, v.v_ms AS last_view_ms,
        |       p_ms - v.v_ms AS gap_ms
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_user AND v.v_ms <= p.p_ms
        |ORDER BY user_id, p_id""".stripMargin,
    // identical semantics, executed by the native AsOfJoinExec — the
    // oracle is the same DuckDB ASOF LEFT JOIN
    "q_asof_native" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ms(ts) AS p_ms
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, epoch_ms(ts) AS v_ms
        |      FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p_id, p_ms, v.v_ms AS last_view_ms,
        |       p_ms - v.v_ms AS gap_ms
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.v_user AND v.v_ms <= p.p_ms
        |ORDER BY user_id, p_id""".stripMargin,
    // broadcast as-of: each event tagged with its type's count over the
    // most recent FULLY COMPLETED hour (cell keyed by completion instant)
    "q_asof_broadcast" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |h AS (SELECT event_type AS h_type, epoch_ms(ts) // 3600000 AS hour_id,
        |             count(*) AS prev_n
        |      FROM events GROUP BY 1, 2),
        |h2 AS (SELECT h_type, (hour_id + 1) * 3600000 AS h_ms, prev_n FROM h)
        |SELECT e.event_id, e.event_type, e.ms, h2.h_ms, h2.prev_n
        |FROM e ASOF LEFT JOIN h2
        |  ON e.event_type = h2.h_type AND h2.h_ms <= e.ms
        |ORDER BY event_id""".stripMargin,
    // the shuffled-merge A/B control answers to the identical oracle
    "q_asof_rate_merge" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |h AS (SELECT event_type AS h_type, epoch_ms(ts) // 3600000 AS hour_id,
        |             count(*) AS prev_n
        |      FROM events GROUP BY 1, 2),
        |h2 AS (SELECT h_type, (hour_id + 1) * 3600000 AS h_ms, prev_n FROM h)
        |SELECT e.event_id, e.event_type, e.ms, h2.h_ms, h2.prev_n
        |FROM e ASOF LEFT JOIN h2
        |  ON e.event_type = h2.h_type AND h2.h_ms <= e.ms
        |ORDER BY event_id""".stripMargin,
    // streamed micro-batch union ≡ batch enrichment is the claim under
    // test, so the streaming twin answers to the identical oracle
    "q_streaming_asof" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |h AS (SELECT event_type AS h_type, epoch_ms(ts) // 3600000 AS hour_id,
        |             count(*) AS prev_n
        |      FROM events GROUP BY 1, 2),
        |h2 AS (SELECT h_type, (hour_id + 1) * 3600000 AS h_ms, prev_n FROM h)
        |SELECT e.event_id, e.event_type, e.ms, h2.h_ms, h2.prev_n
        |FROM e ASOF LEFT JOIN h2
        |  ON e.event_type = h2.h_type AND h2.h_ms <= e.ms
        |ORDER BY event_id""".stripMargin,
    // fraction-free |z|>3 test: all comparisons in exact integer math
    "q_hourly_anomaly" -> anomalyOracleSql,
    // median/MAD robust twin: medians of 24 longs are halves, MADs
    // quarters — exact doubles both engines interpolate identically
    "q_robust_anomaly" ->
      """WITH h AS (SELECT epoch_ms(ts) // 3600000 AS hour_id, count(*) AS n
        |           FROM events GROUP BY 1),
        |p AS (SELECT a.hour_id, a.n, b.n AS bn
        |      FROM h a, range(1, 25) AS t(off)
        |      JOIN h b ON b.hour_id = a.hour_id - t.off),
        |meds AS (SELECT hour_id, n, count(*) AS k,
        |                quantile_cont(bn, 0.5) AS med
        |         FROM p GROUP BY hour_id, n),
        |mads AS (SELECT p.hour_id, quantile_cont(abs(p.bn - m.med), 0.5) AS mad
        |         FROM p JOIN meds m USING (hour_id) GROUP BY p.hour_id)
        |SELECT m.hour_id, CAST(m.n AS BIGINT) AS n, m.med, mads.mad,
        |       abs(m.n - m.med) > 3.0 * mads.mad AS robust_anomaly
        |FROM meds m JOIN mads USING (hour_id)
        |WHERE m.k = 24 ORDER BY m.hour_id""".stripMargin,
    // α=½ EWMA forecast over 16 row-lags: S = Σ n_{t-i}·2^(16-i) exact
    // BIGINT, W = 65535 constant; the 3σ Poisson gate clears denominators
    // to the integer comparison (n·W − S)² > 9·W·S (HUGEINT here,
    // DECIMAL(38) on the Spark side — both exact)
    "q_ewma_anomaly" ->
      s"""WITH hours AS (
         |  SELECT epoch_ms(ts) // 3600000 AS hour_id, count(*) AS n
         |  FROM events GROUP BY 1),
         |w AS (
         |  SELECT hour_id, n,
         |         count(*) OVER (ORDER BY hour_id
         |           ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS k,
         |         ${(1 to 16).map(i =>
               s"lag(n, $i) OVER (ORDER BY hour_id) * ${1L << (16 - i)}")
               .mkString("\n         | + ")} AS s
         |  FROM hours)
         |SELECT CAST(hour_id AS BIGINT) AS hour_id, CAST(n AS BIGINT) AS n,
         |       CAST(s AS BIGINT) AS ewma_scaled,
         |       round(CAST(s AS DOUBLE) / 65535.0, 6) AS forecast,
         |       (CAST(n AS HUGEINT) * 65535 - s) * (CAST(n AS HUGEINT) * 65535 - s)
         |         > 9 * CAST(65535 AS HUGEINT) * s AS is_anomaly
         |FROM w WHERE k = 16 ORDER BY hour_id""".stripMargin,
    // streamed hour cells ≡ batch hour cells is the claim under test, so
    // the streaming detector answers to the identical oracle
    "q_streaming_anomaly" -> anomalyOracleSql,
    "q_type_shares" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |       round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_top_users" ->
      """SELECT user_id, count(*) AS n_events,
        |       count(DISTINCT event_type) AS n_types,
        |       CAST(min(epoch_ms(ts)) AS BIGINT) AS first_ms,
        |       CAST(max(epoch_ms(ts)) AS BIGINT) AS last_ms
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 5""".stripMargin
  )
}
