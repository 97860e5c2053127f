package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import graft.operators._

/** Driver contract — see SURVEY.md §7.
  *
  * [[registry]] declares every query once: an operator from SURVEY.md §2
  * (or a BASELINE.json extension) and its DuckDB oracle. [[queries]] and
  * [[oracleSql]] are the public views of it.
  */
object SparkEntry {

  /** Session knobs the engine expects. ANSI off = the reference's lenient
    * `try: float(x) except: fallback` cast semantics (and DuckDB TRY_CAST
    * parity); AQE on for runtime re-planning at scale. Also binds `file:`
    * to [[LocalFs]] and sizes the JVM-wide codegen cache to
    * [[CodegenCacheEntries]], so a session that reruns its queries compiles
    * each generated class once; both are JVM-global and fixed at first
    * use, so `tune` must run before the session's first query.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Harmless for TIMESTAMP(MICROS) events.ts; required when the data
    // ships as TIMESTAMP(NANOS) — see Tables.events for the dispatch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    bindLocalFs(spark.sparkContext.hadoopConfiguration)
    sizeCodegenCache(spark.sessionState.conf)
    spark
  }

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100). One pass
    * of the 20 fact queries (perfbench `fact_queries`, sf0.001) generates
    * about 223 distinct classes and one pass of the analytics suite about
    * 440; a 100-entry LRU cycling through either misses on every lookup,
    * so each pass recompiled all of them (220–223 and 432–440 compiles
    * per steady pass). Both suites together need about 680, hence 1000. The cache is
    * keyed by the generated source, so its size changes which compiles are
    * reused, never a result. */
  private[graft] val CodegenCacheEntries = 1000

  /** Sizes the codegen cache to [[CodegenCacheEntries]] unless the key is
    * already set (ours from an earlier call, or the user's, which wins),
    * then initializes `CodeGenerator` at once so the size is read here and
    * not by whichever thread first generates code. The entry is static:
    * `spark.conf.set` rejects it, so it goes straight into the session's
    * `SQLConf`, and Spark reads it once per JVM, when `CodeGenerator` is
    * first used. It therefore takes effect only if `tune` runs before the
    * JVM's first generated class; every session entry point (`Harness`,
    * the specs' `SparkSuite`, `perfbench`) calls `tune` right after
    * `getOrCreate`, before any query. Once sized, the cost per call is one
    * conf lookup. */
  private def sizeCodegenCache(conf: SQLConf): Unit = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!conf.contains(key)) conf.setConfString(key, CodegenCacheEntries.toString)
    SQLConf.withExistingConf(conf)(CodeGenerator.getClass)
  }

  /** Binds `file:` to [[LocalFs]] unless a binding is already set (ours
    * from an earlier call, or the user's, which wins). Hadoop caches one
    * `FileSystem` per scheme for the JVM and `close()` is the only way to
    * drop an entry; a local filesystem holds no client state, so the stock
    * instance is closed and the cache refilled at once with the new binding,
    * which every later `FileSystem.get` (driver and local tasks) returns.
    * Once bound, the cost per call is one conf lookup. */
  private def bindLocalFs(conf: Configuration): Unit =
    if (conf.get("fs.file.impl") == null) {
      conf.set("fs.file.impl", classOf[LocalFs].getName)
      val root = java.net.URI.create("file:///")
      val cached = FileSystem.get(root, conf)
      if (!cached.isInstanceOf[LocalFs]) {
        cached.close()
        FileSystem.get(root, conf)
      }
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Facts.itensFact(tune(spark), "/root/testdata/sf0.001")

  /** One declared query: its build function (run on a [[tune]]d session)
    * and the ANSI SQL DuckDB runs on the same parquet tables as its oracle,
    * with IDENTICAL column names and row ordering. The oracle is a thunk so
    * building queries never renders oracle text. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
      oracle: () => String)

  private def q(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Query = Query(name, build, () => oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val registry: List[Query] = List(
    // F. analytical core (sales_to_bq)
    q("itens_fact", Facts.itensFact, Facts.itensFactSql),
    q("pedidos_fact", Facts.pedidosFact, Facts.pedidosFactSql),
    q("copurchase_topk", Facts.copurchaseTopk(_, _), Facts.copurchaseTopkSql),
    q("retention_cohorts", Analytics.retentionCohorts, Analytics.retentionCohortsSql),
    q("pagerank_parts", Graph.pagerankParts(_, _), Graph.pagerankPartsSql),
    q("triangle_parts", Graph.triangleParts(_, _), Graph.trianglePartsSql),
    // the production scale path: singleton co-purchase (noise) edges
    // pruned before the wedge phase — oracle-checked, not just documented
    q("triangle_parts_t2", Graph.triangleParts(_, _, minSupport = 2), Graph.trianglePartsThresholdSql(2)),
    q("kcore_parts", Graph.kcoreParts(_, _), Graph.kcorePartsSql()),
    q("ann_ivf_mp", Similarity.annIvfMultiprobe(_, _), Similarity.annIvfMultiprobeSql()),
    q("rfm_segments", Analytics.rfmSegments, Analytics.rfmSegmentsSql),
    // the 100 TB scoring path: broadcast approx-quantile cuts, no ranking
    q("rfm_segments_approx", Analytics.rfmSegmentsApprox, Analytics.rfmSegmentsApproxSql),
    q("abc_parts", Analytics.abcParts, Analytics.abcPartsSql),
    q("revenue_anomaly", Analytics.revenueAnomaly(_, _), Analytics.revenueAnomalySql),
    q("basket_rules", Analytics.basketRules(_, _), Analytics.basketRulesSql),
    q("item_neighbors", Analytics.itemNeighbors(_, _), Analytics.itemNeighborsSql),
    q("gap_fill", Analytics.gapFill, Analytics.gapFillSql),
    q("sales_rollup", Analytics.salesRollup, Analytics.salesRollupSql),
    q("sales_cube", Analytics.salesCube, Analytics.salesCubeSql),
    q("sales_pivot", Analytics.salesPivot, Analytics.salesPivotSql),
    q("rolling_revenue", Analytics.rollingRevenue, Analytics.rollingRevenueSql),
    q("brand_nation_margin", Analytics.brandNationMargin, Analytics.brandNationMarginSql),
    // E/G/C/F11. quality + reconciliation (data_validation, backfill)
    q("ids_distinct", Quality.idsDistinct, Quality.idsDistinctSql),
    q("recon_sets", Quality.reconSets, Quality.reconSetsSql),
    q("set_equality", Quality.setEquality, Quality.setEqualitySql),
    q("dup_resolution", Quality.dupResolution, Quality.dupResolutionSql),
    q("anti_join_dedupe", Quality.antiJoinDedupe, Quality.antiJoinDedupeSql),
    q("file_groups", Quality.fileGroups, Quality.fileGroupsSql),
    q("count_verify", Quality.countVerify, Quality.countVerifySql),
    // Declarative multi-rule DQ report: one conditional aggregate + one
    // referential anti-join for any number of column rules
    q("dq_expectations", Quality.dqExpectations, Quality.dqExpectationsSql),
    // quasi-identifier privacy gate: generalize-then-suppress ladder
    q("k_anonymity", Quality.kAnonymity(_, _), Quality.kAnonymitySql()),
    // ε-DP Laplace count release (deterministic inverse-CDF draw)
    q("dp_noisy_counts", Quality.dpNoisyCounts(_, _), Quality.dpNoisyCountsSql()),
    q("folder_completeness", Quality.folderCompleteness, Quality.folderCompletenessSql),
    q("table_profile", Quality.tableProfile, Quality.tableProfileSql),
    // B/D. raw-zone load transforms (gcs_to_bq, webhook_handler)
    q("raw_unwrap", RawLoad.rawUnwrap, RawLoad.rawUnwrapSql),
    q("raw_explode", RawLoad.rawExplode, RawLoad.rawExplodeSql),
    q("br_dates", RawLoad.brDates, RawLoad.brDatesSql),
    q("filename_keys", RawLoad.filenameKeys, RawLoad.filenameKeysSql),
    q("categoria", RawLoad.categoria, RawLoad.categoriaSql),
    q("validate_route", RawLoad.validateRoute, RawLoad.validateRouteSql),
    // A4/E1/J5 + C1-C3. dimension path + enrichment joins
    q("contatos_dim", Dimensions.contatosDim, Dimensions.contatosDimSql),
    q("enrich_join", Dimensions.enrichJoin, Dimensions.enrichJoinSql),
    q("first_match", Dimensions.firstMatch, Dimensions.firstMatchSql),
    // I. event-stream analytics (batch form of the streaming path)
    q("events_window", EventsOps.eventsWindow, EventsOps.eventsWindowSql),
    q("events_session", EventsOps.eventsSession, EventsOps.eventsSessionSql),
    q("events_dedupe", EventsOps.eventsDedupe, EventsOps.eventsDedupeSql),
    q("events_props", EventsOps.eventsProps, EventsOps.eventsPropsSql),
    q("events_funnel", EventsOps.eventsFunnel(_, _), EventsOps.eventsFunnelSql),
    // conversion-latency quantiles per funnel step pair (exact, 2-pass)
    q("funnel_latency", EventsOps.funnelLatency(_, _), EventsOps.funnelLatencySql()),
    // watermark tuning: drop fraction per candidate delay, ranged running max
    q("watermark_sweep", EventsOps.watermarkSweep(_, _), EventsOps.watermarkSweepSql()),
    q("events_hopping", EventsOps.eventsHopping, EventsOps.eventsHoppingSql),
    q("journey_topk", EventsOps.journeyTopk(_, _), EventsOps.journeyTopkSql()),
    // Extension: text analysis over documents
    q("text_stats", TextOps.textStats, TextOps.textStatsSql),
    q("lang_id", TextOps.langId, TextOps.langIdSql),
    q("token_count", TextOps.tokenCount, TextOps.tokenCountSql),
    q("token_fertility", TextOps.tokenFertility, TextOps.tokenFertilitySql),
    q("char_coverage", TextOps.charCoverage(_, _), TextOps.charCoverageSql()),
    q("lang_confusion", TextOps.langConfusion, TextOps.langConfusionSql),
    // trained multinomial NB classifier: train on even ids, held-out confusion
    q("nb_lang_confusion", TextOps.nbLangConfusion, TextOps.nbLangConfusionSql()),
    q("fingerprint", TextOps.fingerprint, TextOps.fingerprintSql),
    // Extension: deduplication
    q("dedup_exact", Dedup.dedupExact, Dedup.dedupExactSql),
    q("dedup_minhash", Dedup.dedupMinhash, Dedup.dedupMinhashSql),
    q("dedup_jaccard", Dedup.dedupJaccard, Dedup.dedupJaccardSql),
    q("dedup_minhash_eval", Dedup.dedupMinhashEval(_, _), Dedup.dedupMinhashEvalSql),
    q("dedup_simhash", Dedup.dedupSimhash, Dedup.dedupSimhashSql),
    q("dedup_embedding", Dedup.dedupEmbedding, Dedup.dedupEmbeddingSql),
    q("dedup_embedding_lsh", Dedup.dedupEmbeddingLsh(_, _), Dedup.dedupEmbeddingLshSql(8)),
    q("dedup_embedding_lsh12", Dedup.dedupEmbeddingLsh(_, _, nBits = 12), Dedup.dedupEmbeddingLshSql(12)),
    q("dedup_embedding_lsh_auto", Dedup.dedupEmbeddingLshAuto, Dedup.dedupEmbeddingLshAutoSql),
    q("image_dedup_incr", Multimodal.imageDedupIncremental(_, _), Multimodal.imageDedupIncrementalSql),
    q("audio_dedup_incr", Multimodal.audioDedupIncremental(_, _), Multimodal.audioDedupIncrementalSql),
    q("video_dedup_incr", Multimodal.videoDedupIncremental(_, _), Multimodal.videoDedupIncrementalSql),
    q("image_dedup_incr_eval", Multimodal.imageDedupIncrEval, Multimodal.imageDedupIncrEvalSql),
    q("audio_dedup_incr_eval", Multimodal.audioDedupIncrEval, Multimodal.audioDedupIncrEvalSql),
    q("video_dedup_incr_eval", Multimodal.videoDedupIncrEval, Multimodal.videoDedupIncrEvalSql),
    // SemDeDup: learned k-means cells as the blocking key, greedy keep-rule
    q("dedup_semantic", Dedup.dedupSemantic(_, _), Dedup.dedupSemanticSql()),
    // embedding-level benchmark decontamination: eval-vs-train LSH join
    q("semantic_decontaminate", Dedup.semanticDecontaminate(_, _), Dedup.semanticDecontaminateSql()),
    q("dedup_components", Dedup.dedupComponents(_, _), Dedup.dedupComponentsSql),
    // cluster-size distribution: the dedup-policy shape statistic
    q("dup_cluster_sizes", Dedup.dupClusterSizes, Dedup.dupClusterSizesSql),
    q("dedup_canonical", Dedup.dedupCanonical, Dedup.dedupCanonicalSql),
    q("substring_dup_spans", Dedup.substringDupSpans(_, _), Dedup.substringDupSpansSql),
    // the rewrite step: cut every duplicated-window position, reassemble
    q("substring_excise", Dedup.substringExcise(_, _), Dedup.substringExciseSql),
    q("dedup_incremental", Dedup.dedupIncremental(_, _), Dedup.dedupIncrementalSql),
    q("dedup_prefix_join", Dedup.dedupPrefixJoin(_, _), Dedup.dedupPrefixJoinSql),
    q("dup_score_hist", Dedup.dupScoreHist, Dedup.dupScoreHistSql),
    q("dup_cross_source", Dedup.dupCrossSource, Dedup.dupCrossSourceSql),
    q("source_overlap", Dedup.sourceOverlap, Dedup.sourceOverlapSql),
    q("doc_novelty", Dedup.docNovelty, Dedup.docNoveltySql),
    q("contamination_check", Dedup.contaminationCheck(_, _), Dedup.contaminationCheckSql),
    q("corpus_sample", Sampling.corpusSample(_, _), Sampling.corpusSampleSql),
    q("mix_temperature", Sampling.mixTemperature(_, _), Sampling.mixTemperatureSql),
    q("domain_mix", Sampling.domainMix(_, _), Sampling.domainMixSql()),
    q("corpus_remix", Sampling.corpusRemix(_, _), Sampling.corpusRemixSql()),
    q("vocab_topk", TextOps.vocabTopk, TextOps.vocabTopkSql),
    q("tfidf_topk", TextOps.tfidfTopk(_, _), TextOps.tfidfTopkSql),
    q("inverted_index", TextOps.invertedIndex(_, _), TextOps.invertedIndexSql()),
    q("bigram_lm", TextOps.bigramLm(_, _), TextOps.bigramLmSql()),
    // interpolated Kneser–Ney smoothing over the same bigram table
    q("bigram_kn", TextOps.bigramKn(_, _), TextOps.bigramKnSql()),
    q("doc_lm_score", TextOps.docLmScore, TextOps.docLmScoreSql),
    q("doc_lm_score_kn", TextOps.docLmScoreKn, TextOps.docLmScoreKnSql),
    q("vocab_drift", TextOps.vocabDrift(_, _), TextOps.vocabDriftSql()),
    // Moore–Lewis cross-entropy selection: in-domain vs general LM ratio
    q("moore_lewis", TextOps.mooreLewis(_, _), TextOps.mooreLewisSql()),
    q("bm25_topk", TextOps.bm25Topk(_, _), TextOps.bm25TopkSql()),
    q("bm25_topk_pruned", TextOps.bm25TopkPruned(_, _), TextOps.bm25TopkPrunedSql()),
    q("bm25_index_build", TextOps.bm25IndexBuild(_, _), TextOps.bm25IndexBuildSql()),
    // the indexed query path answers EXACTLY the pruned form's question —
    // one oracle text, two plans (recompute vs read-the-staged-prefix)
    q("bm25_topk_indexed", TextOps.bm25TopkIndexed(_, _), TextOps.bm25TopkPrunedSql()),
    q("bm25_index_merge", TextOps.bm25IndexMerge(_, _), TextOps.bm25IndexMergeSql()),
    q("bm25_index_apply", TextOps.bm25IndexApply(_, _), TextOps.bm25IndexApplySql()),
    q("bm25_index_drift", TextOps.bm25IndexDrift(_, _), TextOps.bm25IndexDriftSql()),
    // compaction ≡ rebuild over the same corpus — one oracle text checks
    // both plans (the bm25_topk_indexed precedent)
    q("bm25_index_compact", TextOps.bm25IndexCompact(_, _), TextOps.bm25IndexBuildSql()),
    // the policy query: drift mean, tau comparison, and BOTH serve
    // branches replayed — the DECISION is oracle-checked, not just content
    q("bm25_auto_compact", TextOps.bm25AutoCompactQuery(_, _), TextOps.bm25AutoCompactSql()),
    // PMI collocation extraction over the shared bigram table
    q("pmi_collocations", TextOps.pmiCollocations(_, _), TextOps.pmiCollocationsSql()),
    q("bpe_pairs", TextOps.bpePairs(_, _), TextOps.bpePairsSql()),
    // greedy merge training unrolled: vocab-sized rounds, 1-row picks
    q("bpe_merges", TextOps.bpeMerges(_, _), TextOps.bpeMergesSql()),
    // trained-tokenizer application: per-doc token budget + fertility
    q("bpe_encode", TextOps.bpeEncode(_, _), TextOps.bpeEncodeSql()),
    // the exactly-once incremental cube, replayed in batch with one epoch
    // deliberately re-delivered — must equal the direct aggregate
    q("rollup_replay", streaming.Streaming.rollupReplay(_, _), streaming.Streaming.rollupReplaySql),
    q("hh_replay", streaming.Streaming.hhReplay(_, _), streaming.Streaming.hhReplaySql()),
    q("bloom_replay", streaming.Streaming.bloomReplay(_, _), streaming.Streaming.bloomReplaySql),
    q("funnel_replay", streaming.Streaming.funnelReplay(_, _), EventsOps.eventsFunnelSql),
    // Extension: similarity search
    q("ann_topk", Similarity.annTopk, Similarity.annTopkSql),
    q("ann_topk_agg", Similarity.annTopkAgg, Similarity.annTopkSql), // same contract as ann_topk
    q("ann_ivf", Similarity.annIvf, Similarity.annIvfSql),
    q("ann_ivf_trained", Similarity.annIvfTrained, Similarity.annIvfTrainedSql),
    q("ann_quantized", Similarity.annQuantized, Similarity.annQuantizedSql),
    q("ann_pq", Similarity.annPq(_, _), Similarity.annPqSql()),
    // the production FAISS shape: coarse cell route × PQ code scan × rerank
    q("ann_ivfpq", Similarity.annIvfPq(_, _), Similarity.annIvfPqSql()),
    q("rrf_fusion", Similarity.hybridRrf(_, _), Similarity.hybridRrfSql()),
    q("ann_recall", Similarity.annRecall, Similarity.annRecallSql),
    // Extension: multimodal column plumbing (decode stubbed)
    q("multimodal_features", Multimodal.multimodalFeatures, Multimodal.multimodalFeaturesSql),
    q("media_frames", Multimodal.mediaFrames(_, _), Multimodal.mediaFramesSql),
    q("multimodal_decode", Multimodal.multimodalDecode, Multimodal.multimodalDecodeSql),
    q("multimodal_audio", Multimodal.multimodalAudio, Multimodal.multimodalAudioSql),
    q("image_dedup", Multimodal.imageDedup(_, _), Multimodal.imageDedupSql),
    q("audio_dedup", Multimodal.audioDedup(_, _), Multimodal.audioDedupSql),
    q("video_dedup", Multimodal.videoDedup(_, _), Multimodal.videoDedupSql),
    q("image_dedup_eval", Multimodal.imageDedupEval, Multimodal.imageDedupEvalSql),
    q("audio_dedup_eval", Multimodal.audioDedupEval, Multimodal.audioDedupEvalSql),
    q("video_dedup_eval", Multimodal.videoDedupEval, Multimodal.videoDedupEvalSql),
    q("sft_render", CorpusOps.sftRender, CorpusOps.sftRenderSql),
    q("dpo_pairs", CorpusOps.dpoPairs, CorpusOps.dpoPairsSql),
    q("sft_pack", CorpusOps.sftPack(_, _), CorpusOps.sftPackSql()),
    q("pack_stats", CorpusOps.packStats(_, _), CorpusOps.packStatsSql()),
    q("sft_pack_tokens", CorpusOps.sftPackTokens(_, _), CorpusOps.sftPackTokensSql()),
    q("sft_pipeline", CorpusOps.sftPipeline(_, _), CorpusOps.sftPipelineSql()),
    q("sft_pipeline_tokens", CorpusOps.sftPipelineTokens(_, _), CorpusOps.sftPipelineTokensSql()),
    q("token_pack", CorpusOps.tokenPack(_, _), CorpusOps.tokenPackSql()),
    q("lr_quality", CorpusOps.lrQuality, CorpusOps.lrQualitySql()),
    q("unigram_lm", TextOps.unigramLm(_, _), TextOps.unigramLmSql()),
    q("unigram_soft", TextOps.unigramSoft(_, _), TextOps.unigramSoftSql()),
    q("multimodal_video", Multimodal.multimodalVideo, Multimodal.multimodalVideoSql),
    q("unigram_encode", TextOps.unigramEncode, TextOps.unigramEncodeSql()),
    q("ann_ivfpq_res", Similarity.annIvfPqRes(_, _), Similarity.annIvfPqResSql()),
    q("ann_nndescent", Similarity.annNndescent(_, _), Similarity.annNndescentSql()),
    q("ann_graph_build", Similarity.annGraphBuild(_, _), Similarity.annGraphBuildSql()),
    q("ann_pq_build", Similarity.annPqBuild(_, _), Similarity.annPqBuildSql()),
    q("ann_graph_search", Similarity.annGraphSearch(_, _), Similarity.annGraphSearchSql()),
    q("ann_graph_oos", Similarity.annGraphSearchOos(_, _), Similarity.annGraphSearchOosSql()),
    q("ann_graph_recall", Similarity.annGraphRecall(_, _), Similarity.annGraphRecallSql()),
    q("ann_graph_anchor", Similarity.annGraphAnchor(_, _), Similarity.annGraphAnchorSql()),
    q("ann_graph_insert", Similarity.annGraphInsert(_, _), Similarity.annGraphInsertSql()),
    q("ann_graph_apply", Similarity.annGraphApply(_, _), Similarity.annGraphApplySql()),
    q("ann_graph_drift", Similarity.annGraphDrift(_, _), Similarity.annGraphDriftSql()),
    // compaction ≡ the full-corpus descent — one oracle text, two plans
    q("ann_graph_compact", Similarity.annGraphCompact(_, _), Similarity.annNndescentSql()),
    q("ann_graph_auto_compact", Similarity.annGraphAutoCompactQuery(_, _), Similarity.annGraphAutoCompactSql()),
    q("dsir_weights", TextOps.dsirWeights(_, _), TextOps.dsirWeightsSql()),
    q("ppl_buckets", TextOps.pplBuckets, TextOps.pplBucketsSql),
    q("wordpiece_encode", TextOps.wordpieceEncode(_, _), TextOps.wordpieceEncodeSql()),
    q("cms_counts", Sketches.cmsCounts(_, _), Sketches.cmsCountsSql()),
    // K/D12: custom Catalyst expression via SparkSessionExtensions
    q("checksum_sorted", Checksums.checksumSorted, Checksums.checksumSortedSql),
    // §1.1-2 typed-nested path: fixture-shaped JSON through RawTables + FactsFromRaw
    q("typed_itens_fact", Typed.typedItensFact, Typed.typedItensFactSql),
    q("typed_pedidos_fact", Typed.typedPedidosFact, Typed.typedPedidosFactSql),
    q("typed_pesquisa", Typed.typedPesquisa, Typed.typedPesquisaSql),
    // A6/D4/J7: composite Pub/Sub message channel, produce → decode → dispatch
    q("message_roundtrip", Messages.messageRoundtrip, Messages.messageRoundtripSql),
    q("message_pedidos_fact", Messages.messagePedidosFact, Messages.messagePedidosFactSql),
    q("message_itens_fact", Messages.messageItensFact, Messages.messageItensFactSql),
    // A2/D10: real staged blob zone scanned with input_file_name provenance
    q("zone_scan", Ingest.zoneScan, Ingest.zoneScanSql),
    // A4/E1/D6: paginated CSV export read with explicit schema + provenance
    q("csv_zone_scan", Ingest.csvZoneScan, Ingest.csvZoneScanSql),
    // Schema evolution: two-generation parquet zone through mergeSchema
    q("schema_drift_scan", Ingest.schemaDriftScan, Ingest.schemaDriftScanSql),
    // Scale pattern: salted two-stage aggregation for hot keys
    q("events_salted_agg", Skew.eventsSaltedAgg, Skew.eventsSaltedAggSql),
    // salt/replicate hot-key join — row-identical to the plain equi-join
    q("skew_join_agg", Skew.skewJoinAgg, Skew.skewJoinAggSql),
    // Temporal joins/state: as-of, bounded range join, SCD2 history
    q("events_asof", Temporal.eventsAsof, Temporal.eventsAsofSql),
    q("events_range_join", Temporal.eventsRangeJoin, Temporal.eventsRangeJoinSql),
    q("scd2_build", Temporal.scd2Build, Temporal.scd2BuildSql),
    q("scd2_lookup", Temporal.scd2Lookup, Temporal.scd2LookupSql),
    q("cdc_merge", Temporal.cdcMerge, Temporal.cdcMergeSql),
    // Sketch + exact-verify: bounded-memory heavy hitters
    q("heavy_hitters", Sketches.heavyHitters(_, _), Sketches.heavyHittersSql()),
    q("hll_distinct", Sketches.hllDistinct, Sketches.hllDistinctSql),
    // Exact selection without a global sort: histogram pass + bucket-local rank
    q("quantiles_2pass", Sketches.quantiles2pass(_, _), Sketches.quantiles2passSql()),
    // Bloom-pruned semi-join: probe rows filtered before their shuffle
    q("bloom_semi_join", Sketches.bloomSemiJoin(_, _), Sketches.bloomSemiJoinSql),
    // Per-group exact quantiles, zero driver involvement (unbounded G)
    q("group_quantiles", Sketches.groupQuantiles2pass(_, _), Sketches.groupQuantiles2passSql()),
    // Tukey-fence outliers composed on the relational group quantiles
    q("iqr_outliers", Sketches.iqrOutliers, Sketches.iqrOutliersSql),
    // robust per-group mean: exact p05/p95 cuts, clamp, grid-LONG means
    q("winsorized_stats", Sketches.winsorizedStats, Sketches.winsorizedStatsSql),
    // Corpus preparation: quality rules, PII redaction, sequence packing
    q("quality_filter", CorpusOps.qualityFilter, CorpusOps.qualityFilterSql),
    // classifier-cutoff calibration: survival curve over 101 score buckets
    q("quality_threshold_sweep", CorpusOps.qualityThresholdSweep, CorpusOps.qualityThresholdSweepSql),
    q("pii_scrub", CorpusOps.piiScrub, CorpusOps.piiScrubSql),
    q("html_extract", CorpusOps.htmlExtract, CorpusOps.htmlExtractSql),
    q("url_dedup", CorpusOps.urlDedup, CorpusOps.urlDedupSql),
    q("seq_pack", CorpusOps.seqPack(_, _), CorpusOps.seqPackSql()),
    q("rep_ngrams", CorpusOps.repNgrams, CorpusOps.repNgramsSql),
    q("bm25_score", CorpusOps.bm25Score(_, _), CorpusOps.bm25ScoreSql),
    q("boilerplate_ngrams", CorpusOps.boilerplateNgrams(_, _), CorpusOps.boilerplateNgramsSql),
    q("corpus_pipeline", CorpusOps.corpusPipeline(_, _), CorpusOps.corpusPipelineSql),
    // per-source survival through quality → dedup → decontamination gates
    q("curation_funnel", CorpusOps.curationFunnel, CorpusOps.curationFunnelSql),
    q("doc_chunks", CorpusOps.docChunks(_, _), CorpusOps.docChunksSql()),
    q("cdc_chunks", CorpusOps.cdcChunks(_, _), CorpusOps.cdcChunksSql()),
    q("cdc_dedup", CorpusOps.cdcDedup(_, _), CorpusOps.cdcDedupSql()),
    // Extension: IVF centroid training (Lloyd's) + split/profile utilities
    q("kmeans_train", Clustering.kmeansTrain(_, _), Clustering.kmeansTrainSql),
    // cluster-quality grade of the trained quantizer (simplified silhouette)
    q("kmeans_silhouette", Clustering.kmeansSilhouette, Clustering.kmeansSilhouetteSql()),
    q("cluster_sample", Clustering.clusterSample(_, _), Clustering.clusterSampleSql()),
    q("embedding_drift", Clustering.embeddingDrift, Clustering.embeddingDriftSql),
    // Single-pass mergeable outer-product accumulator (PCA building block)
    q("embedding_gram", Clustering.embeddingGram, Clustering.embeddingGramSql),
    // PC1 projection via driver power iteration on the collected Gram;
    // the oracle unrolls the same 50 iterations as ordered-SUM CTE pairs
    // over the 2,080-cell Gram (Clustering.pcaProjectSql), plus the
    // Rayleigh-quotient dominance spec (OperatorsSpec) as the semantic gate
    q("pca_project", Clustering.pcaProject(_, _), Clustering.pcaProjectSql()),
    q("embedding_outliers", Clustering.embeddingOutliers(_, _), Clustering.embeddingOutliersSql()),
    q("stratified_split", Sampling.stratifiedSplit(_, _), Sampling.stratifiedSplitSql),
    q("split_decontaminate", Sampling.splitDecontaminate(_, _), Sampling.splitDecontaminateSql),
    q("global_shuffle", Sampling.globalShuffle(_, _), Sampling.globalShuffleSql),
    q("curriculum_order", Sampling.curriculumOrder(_, _), Sampling.curriculumOrderSql()),
    q("shard_manifest", Sampling.shardManifest(_, _), Sampling.shardManifestSql),
    q("source_quota", Sampling.sourceQuota(_, _), Sampling.sourceQuotaSql),
    q("weighted_sample", Sampling.weightedSample(_, _), Sampling.weightedSampleSql()),
    q("numeric_profile", Quality.numericProfile, Quality.numericProfileSql),
    // single-pass exact-moment Pearson correlation matrix (d² broadcast stats)
    q("numeric_corr", Quality.numericCorr, Quality.numericCorrSql),
    // Record linkage: blocked fuzzy self-join on the part dimension
    q("fuzzy_match", Quality.fuzzyMatch(_, _), Quality.fuzzyMatchSql()),
    // Length-distribution quantiles per language stratum
    q("len_quantiles", TextOps.lenQuantiles, TextOps.lenQuantilesSql),
  )

  /** Name → build function on a tuned session. Renders no oracle text. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(e => e.name -> ((s: SparkSession, d: String) => e.build(tune(s), d))).toMap

  /** Name → oracle SQL; renders every oracle, so only the dump asks. */
  def oracleSql: Map[String, String] = registry.map(e => e.name -> e.oracle()).toMap
}
