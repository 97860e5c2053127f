package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is an operator from SURVEY.md §2 (or a
  * BASELINE.json extension); every SQL-expressible one has a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL column names and row ordering.
  */
object SparkEntry {

  /** Session knobs the engine expects. ANSI off = the reference's lenient
    * `try: float(x) except: fallback` cast semantics (and DuckDB TRY_CAST
    * parity); AQE on for runtime re-planning at scale.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Harmless for TIMESTAMP(MICROS) events.ts; required when the data
    // ships as TIMESTAMP(NANOS) — see Tables.events for the dispatch.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    bindLocalFs(spark.sparkContext.hadoopConfiguration)
    spark
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

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F. analytical core (sales_to_bq)
    "itens_fact" -> ((s, dir) => Facts.itensFact(tune(s), dir)),
    "pedidos_fact" -> ((s, dir) => Facts.pedidosFact(tune(s), dir)),
    "copurchase_topk" -> ((s, dir) => Facts.copurchaseTopk(tune(s), dir)),
    "retention_cohorts" -> ((s, dir) => Analytics.retentionCohorts(tune(s), dir)),
    "pagerank_parts" -> ((s, dir) => Graph.pagerankParts(tune(s), dir)),
    "triangle_parts" -> ((s, dir) => Graph.triangleParts(tune(s), dir)),
    // the production scale path: singleton co-purchase (noise) edges
    // pruned before the wedge phase — oracle-checked, not just documented
    "triangle_parts_t2" -> ((s, dir) => Graph.triangleParts(tune(s), dir, minSupport = 2)),
    "kcore_parts" -> ((s, dir) => Graph.kcoreParts(tune(s), dir)),
    "ann_ivf_mp" -> ((s, dir) => Similarity.annIvfMultiprobe(tune(s), dir)),
    "rfm_segments" -> ((s, dir) => Analytics.rfmSegments(tune(s), dir)),
    // the 100 TB scoring path: broadcast approx-quantile cuts, no ranking
    "rfm_segments_approx" -> ((s, dir) => Analytics.rfmSegmentsApprox(tune(s), dir)),
    "abc_parts" -> ((s, dir) => Analytics.abcParts(tune(s), dir)),
    "revenue_anomaly" -> ((s, dir) => Analytics.revenueAnomaly(tune(s), dir)),
    "basket_rules" -> ((s, dir) => Analytics.basketRules(tune(s), dir)),
    "item_neighbors" -> ((s, dir) => Analytics.itemNeighbors(tune(s), dir)),
    "gap_fill" -> ((s, dir) => Analytics.gapFill(tune(s), dir)),
    "sales_rollup" -> ((s, dir) => Analytics.salesRollup(tune(s), dir)),
    "sales_cube" -> ((s, dir) => Analytics.salesCube(tune(s), dir)),
    "sales_pivot" -> ((s, dir) => Analytics.salesPivot(tune(s), dir)),
    "rolling_revenue" -> ((s, dir) => Analytics.rollingRevenue(tune(s), dir)),
    "brand_nation_margin" -> ((s, dir) => Analytics.brandNationMargin(tune(s), dir)),
    // E/G/C/F11. quality + reconciliation (data_validation, backfill)
    "ids_distinct" -> ((s, dir) => Quality.idsDistinct(tune(s), dir)),
    "recon_sets" -> ((s, dir) => Quality.reconSets(tune(s), dir)),
    "set_equality" -> ((s, dir) => Quality.setEquality(tune(s), dir)),
    "dup_resolution" -> ((s, dir) => Quality.dupResolution(tune(s), dir)),
    "anti_join_dedupe" -> ((s, dir) => Quality.antiJoinDedupe(tune(s), dir)),
    "file_groups" -> ((s, dir) => Quality.fileGroups(tune(s), dir)),
    "count_verify" -> ((s, dir) => Quality.countVerify(tune(s), dir)),
    // Declarative multi-rule DQ report: one conditional aggregate + one
    // referential anti-join for any number of column rules
    "dq_expectations" -> ((s, dir) => Quality.dqExpectations(tune(s), dir)),
    // quasi-identifier privacy gate: generalize-then-suppress ladder
    "k_anonymity" -> ((s, dir) => Quality.kAnonymity(tune(s), dir)),
    // ε-DP Laplace count release (deterministic inverse-CDF draw)
    "dp_noisy_counts" -> ((s, dir) => Quality.dpNoisyCounts(tune(s), dir)),
    "folder_completeness" -> ((s, dir) => Quality.folderCompleteness(tune(s), dir)),
    "table_profile" -> ((s, dir) => Quality.tableProfile(tune(s), dir)),
    // B/D. raw-zone load transforms (gcs_to_bq, webhook_handler)
    "raw_unwrap" -> ((s, dir) => RawLoad.rawUnwrap(tune(s), dir)),
    "raw_explode" -> ((s, dir) => RawLoad.rawExplode(tune(s), dir)),
    "br_dates" -> ((s, dir) => RawLoad.brDates(tune(s), dir)),
    "filename_keys" -> ((s, dir) => RawLoad.filenameKeys(tune(s), dir)),
    "categoria" -> ((s, dir) => RawLoad.categoria(tune(s), dir)),
    "validate_route" -> ((s, dir) => RawLoad.validateRoute(tune(s), dir)),
    // A4/E1/J5 + C1-C3. dimension path + enrichment joins
    "contatos_dim" -> ((s, dir) => Dimensions.contatosDim(tune(s), dir)),
    "enrich_join" -> ((s, dir) => Dimensions.enrichJoin(tune(s), dir)),
    "first_match" -> ((s, dir) => Dimensions.firstMatch(tune(s), dir)),
    // I. event-stream analytics (batch form of the streaming path)
    "events_window" -> ((s, dir) => EventsOps.eventsWindow(tune(s), dir)),
    "events_session" -> ((s, dir) => EventsOps.eventsSession(tune(s), dir)),
    "events_dedupe" -> ((s, dir) => EventsOps.eventsDedupe(tune(s), dir)),
    "events_props" -> ((s, dir) => EventsOps.eventsProps(tune(s), dir)),
    "events_funnel" -> ((s, dir) => EventsOps.eventsFunnel(tune(s), dir)),
    // conversion-latency quantiles per funnel step pair (exact, 2-pass)
    "funnel_latency" -> ((s, dir) => EventsOps.funnelLatency(tune(s), dir)),
    // watermark tuning: drop fraction per candidate delay, ranged running max
    "watermark_sweep" -> ((s, dir) => EventsOps.watermarkSweep(tune(s), dir)),
    "events_hopping" -> ((s, dir) => EventsOps.eventsHopping(tune(s), dir)),
    "journey_topk" -> ((s, dir) => EventsOps.journeyTopk(tune(s), dir)),
    // Extension: text analysis over documents
    "text_stats" -> ((s, dir) => TextOps.textStats(tune(s), dir)),
    "lang_id" -> ((s, dir) => TextOps.langId(tune(s), dir)),
    "token_count" -> ((s, dir) => TextOps.tokenCount(tune(s), dir)),
    "token_fertility" -> ((s, dir) => TextOps.tokenFertility(tune(s), dir)),
    "char_coverage" -> ((s, dir) => TextOps.charCoverage(tune(s), dir)),
    "lang_confusion" -> ((s, dir) => TextOps.langConfusion(tune(s), dir)),
    // trained multinomial NB classifier: train on even ids, held-out confusion
    "nb_lang_confusion" -> ((s, dir) => TextOps.nbLangConfusion(tune(s), dir)),
    "fingerprint" -> ((s, dir) => TextOps.fingerprint(tune(s), dir)),
    // Extension: deduplication
    "dedup_exact" -> ((s, dir) => Dedup.dedupExact(tune(s), dir)),
    "dedup_minhash" -> ((s, dir) => Dedup.dedupMinhash(tune(s), dir)),
    "dedup_jaccard" -> ((s, dir) => Dedup.dedupJaccard(tune(s), dir)),
    "dedup_minhash_eval" -> ((s, dir) => Dedup.dedupMinhashEval(tune(s), dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.dedupSimhash(tune(s), dir)),
    "dedup_embedding" -> ((s, dir) => Dedup.dedupEmbedding(tune(s), dir)),
    "dedup_embedding_lsh" -> ((s, dir) => Dedup.dedupEmbeddingLsh(tune(s), dir)),
    "dedup_embedding_lsh12" -> ((s, dir) => Dedup.dedupEmbeddingLsh(tune(s), dir, nBits = 12)),
    "dedup_embedding_lsh_auto" -> ((s, dir) => Dedup.dedupEmbeddingLshAuto(tune(s), dir)),
    "image_dedup_incr" -> ((s, dir) => Multimodal.imageDedupIncremental(tune(s), dir)),
    "audio_dedup_incr" -> ((s, dir) => Multimodal.audioDedupIncremental(tune(s), dir)),
    "video_dedup_incr" -> ((s, dir) => Multimodal.videoDedupIncremental(tune(s), dir)),
    "image_dedup_incr_eval" -> ((s, dir) => Multimodal.imageDedupIncrEval(tune(s), dir)),
    "audio_dedup_incr_eval" -> ((s, dir) => Multimodal.audioDedupIncrEval(tune(s), dir)),
    "video_dedup_incr_eval" -> ((s, dir) => Multimodal.videoDedupIncrEval(tune(s), dir)),
    // SemDeDup: learned k-means cells as the blocking key, greedy keep-rule
    "dedup_semantic" -> ((s, dir) => Dedup.dedupSemantic(tune(s), dir)),
    // embedding-level benchmark decontamination: eval-vs-train LSH join
    "semantic_decontaminate" -> ((s, dir) => Dedup.semanticDecontaminate(tune(s), dir)),
    "dedup_components" -> ((s, dir) => Dedup.dedupComponents(tune(s), dir)),
    // cluster-size distribution: the dedup-policy shape statistic
    "dup_cluster_sizes" -> ((s, dir) => Dedup.dupClusterSizes(tune(s), dir)),
    "dedup_canonical" -> ((s, dir) => Dedup.dedupCanonical(tune(s), dir)),
    "substring_dup_spans" -> ((s, dir) => Dedup.substringDupSpans(tune(s), dir)),
    // the rewrite step: cut every duplicated-window position, reassemble
    "substring_excise" -> ((s, dir) => Dedup.substringExcise(tune(s), dir)),
    "dedup_incremental" -> ((s, dir) => Dedup.dedupIncremental(tune(s), dir)),
    "dedup_prefix_join" -> ((s, dir) => Dedup.dedupPrefixJoin(tune(s), dir)),
    "dup_score_hist" -> ((s, dir) => Dedup.dupScoreHist(tune(s), dir)),
    "dup_cross_source" -> ((s, dir) => Dedup.dupCrossSource(tune(s), dir)),
    "source_overlap" -> ((s, dir) => Dedup.sourceOverlap(tune(s), dir)),
    "doc_novelty" -> ((s, dir) => Dedup.docNovelty(tune(s), dir)),
    "contamination_check" -> ((s, dir) => Dedup.contaminationCheck(tune(s), dir)),
    "corpus_sample" -> ((s, dir) => Sampling.corpusSample(tune(s), dir)),
    "mix_temperature" -> ((s, dir) => Sampling.mixTemperature(tune(s), dir)),
    "domain_mix" -> ((s, dir) => Sampling.domainMix(tune(s), dir)),
    "corpus_remix" -> ((s, dir) => Sampling.corpusRemix(tune(s), dir)),
    "vocab_topk" -> ((s, dir) => TextOps.vocabTopk(tune(s), dir)),
    "tfidf_topk" -> ((s, dir) => TextOps.tfidfTopk(tune(s), dir)),
    "inverted_index" -> ((s, dir) => TextOps.invertedIndex(tune(s), dir)),
    "bigram_lm" -> ((s, dir) => TextOps.bigramLm(tune(s), dir)),
    // interpolated Kneser–Ney smoothing over the same bigram table
    "bigram_kn" -> ((s, dir) => TextOps.bigramKn(tune(s), dir)),
    "doc_lm_score" -> ((s, dir) => TextOps.docLmScore(tune(s), dir)),
    "doc_lm_score_kn" -> ((s, dir) => TextOps.docLmScoreKn(tune(s), dir)),
    "vocab_drift" -> ((s, dir) => TextOps.vocabDrift(tune(s), dir)),
    // Moore–Lewis cross-entropy selection: in-domain vs general LM ratio
    "moore_lewis" -> ((s, dir) => TextOps.mooreLewis(tune(s), dir)),
    "bm25_topk" -> ((s, dir) => TextOps.bm25Topk(tune(s), dir)),
    "bm25_topk_pruned" -> ((s, dir) => TextOps.bm25TopkPruned(tune(s), dir)),
    "bm25_index_build" -> ((s, dir) => TextOps.bm25IndexBuild(tune(s), dir)),
    "bm25_topk_indexed" -> ((s, dir) => TextOps.bm25TopkIndexed(tune(s), dir)),
    "bm25_index_merge" -> ((s, dir) => TextOps.bm25IndexMerge(tune(s), dir)),
    "bm25_index_apply" -> ((s, dir) => TextOps.bm25IndexApply(tune(s), dir)),
    "bm25_index_drift" -> ((s, dir) => TextOps.bm25IndexDrift(tune(s), dir)),
    "bm25_index_compact" -> ((s, dir) => TextOps.bm25IndexCompact(tune(s), dir)),
    "bm25_auto_compact" -> ((s, dir) => TextOps.bm25AutoCompactQuery(tune(s), dir)),
    // PMI collocation extraction over the shared bigram table
    "pmi_collocations" -> ((s, dir) => TextOps.pmiCollocations(tune(s), dir)),
    "bpe_pairs" -> ((s, dir) => TextOps.bpePairs(tune(s), dir)),
    // greedy merge training unrolled: vocab-sized rounds, 1-row picks
    "bpe_merges" -> ((s, dir) => TextOps.bpeMerges(tune(s), dir)),
    // trained-tokenizer application: per-doc token budget + fertility
    "bpe_encode" -> ((s, dir) => TextOps.bpeEncode(tune(s), dir)),
    // the exactly-once incremental cube, replayed in batch with one epoch
    // deliberately re-delivered — must equal the direct aggregate
    "rollup_replay" -> ((s, dir) => streaming.Streaming.rollupReplay(tune(s), dir)),
    "hh_replay" -> ((s, dir) => streaming.Streaming.hhReplay(tune(s), dir)),
    "bloom_replay" -> ((s, dir) => streaming.Streaming.bloomReplay(tune(s), dir)),
    "funnel_replay" -> ((s, dir) => streaming.Streaming.funnelReplay(tune(s), dir)),
    // Extension: similarity search
    "ann_topk" -> ((s, dir) => Similarity.annTopk(tune(s), dir)),
    "ann_topk_agg" -> ((s, dir) => Similarity.annTopkAgg(tune(s), dir)),
    "ann_ivf" -> ((s, dir) => Similarity.annIvf(tune(s), dir)),
    "ann_ivf_trained" -> ((s, dir) => Similarity.annIvfTrained(tune(s), dir)),
    "ann_quantized" -> ((s, dir) => Similarity.annQuantized(tune(s), dir)),
    "ann_pq" -> ((s, dir) => Similarity.annPq(tune(s), dir)),
    // the production FAISS shape: coarse cell route × PQ code scan × rerank
    "ann_ivfpq" -> ((s, dir) => Similarity.annIvfPq(tune(s), dir)),
    "rrf_fusion" -> ((s, dir) => Similarity.hybridRrf(tune(s), dir)),
    "ann_recall" -> ((s, dir) => Similarity.annRecall(tune(s), dir)),
    // Extension: multimodal column plumbing (decode stubbed)
    "multimodal_features" -> ((s, dir) => Multimodal.multimodalFeatures(tune(s), dir)),
    "media_frames" -> ((s, dir) => Multimodal.mediaFrames(tune(s), dir)),
    "multimodal_decode" -> ((s, dir) => Multimodal.multimodalDecode(tune(s), dir)),
    "multimodal_audio" -> ((s, dir) => Multimodal.multimodalAudio(tune(s), dir)),
    "image_dedup" -> ((s, dir) => Multimodal.imageDedup(tune(s), dir)),
    "audio_dedup" -> ((s, dir) => Multimodal.audioDedup(tune(s), dir)),
    "video_dedup" -> ((s, dir) => Multimodal.videoDedup(tune(s), dir)),
    "image_dedup_eval" -> ((s, dir) => Multimodal.imageDedupEval(tune(s), dir)),
    "audio_dedup_eval" -> ((s, dir) => Multimodal.audioDedupEval(tune(s), dir)),
    "video_dedup_eval" -> ((s, dir) => Multimodal.videoDedupEval(tune(s), dir)),
    "sft_render" -> ((s, dir) => CorpusOps.sftRender(tune(s), dir)),
    "dpo_pairs" -> ((s, dir) => CorpusOps.dpoPairs(tune(s), dir)),
    "sft_pack" -> ((s, dir) => CorpusOps.sftPack(tune(s), dir)),
    "pack_stats" -> ((s, dir) => CorpusOps.packStats(tune(s), dir)),
    "sft_pack_tokens" -> ((s, dir) => CorpusOps.sftPackTokens(tune(s), dir)),
    "sft_pipeline" -> ((s, dir) => CorpusOps.sftPipeline(tune(s), dir)),
    "sft_pipeline_tokens" -> ((s, dir) => CorpusOps.sftPipelineTokens(tune(s), dir)),
    "token_pack" -> ((s, dir) => CorpusOps.tokenPack(tune(s), dir)),
    "lr_quality" -> ((s, dir) => CorpusOps.lrQuality(tune(s), dir)),
    "unigram_lm" -> ((s, dir) => TextOps.unigramLm(tune(s), dir)),
    "unigram_soft" -> ((s, dir) => TextOps.unigramSoft(tune(s), dir)),
    "multimodal_video" -> ((s, dir) => Multimodal.multimodalVideo(tune(s), dir)),
    "unigram_encode" -> ((s, dir) => TextOps.unigramEncode(tune(s), dir)),
    "ann_ivfpq_res" -> ((s, dir) => Similarity.annIvfPqRes(tune(s), dir)),
    "ann_nndescent" -> ((s, dir) => Similarity.annNndescent(tune(s), dir)),
    "ann_graph_build" -> ((s, dir) => Similarity.annGraphBuild(tune(s), dir)),
    "ann_pq_build" -> ((s, dir) => Similarity.annPqBuild(tune(s), dir)),
    "ann_graph_search" -> ((s, dir) => Similarity.annGraphSearch(tune(s), dir)),
    "ann_graph_oos" -> ((s, dir) => Similarity.annGraphSearchOos(tune(s), dir)),
    "ann_graph_recall" -> ((s, dir) => Similarity.annGraphRecall(tune(s), dir)),
    "ann_graph_anchor" -> ((s, dir) => Similarity.annGraphAnchor(tune(s), dir)),
    "ann_graph_insert" -> ((s, dir) => Similarity.annGraphInsert(tune(s), dir)),
    "ann_graph_apply" -> ((s, dir) => Similarity.annGraphApply(tune(s), dir)),
    "ann_graph_drift" -> ((s, dir) => Similarity.annGraphDrift(tune(s), dir)),
    "ann_graph_compact" -> ((s, dir) => Similarity.annGraphCompact(tune(s), dir)),
    "ann_graph_auto_compact" -> ((s, dir) => Similarity.annGraphAutoCompactQuery(tune(s), dir)),
    "dsir_weights" -> ((s, dir) => TextOps.dsirWeights(tune(s), dir)),
    "ppl_buckets" -> ((s, dir) => TextOps.pplBuckets(tune(s), dir)),
    "wordpiece_encode" -> ((s, dir) => TextOps.wordpieceEncode(tune(s), dir)),
    "cms_counts" -> ((s, dir) => Sketches.cmsCounts(tune(s), dir)),
    // K/D12: custom Catalyst expression via SparkSessionExtensions
    "checksum_sorted" -> ((s, dir) => Checksums.checksumSorted(tune(s), dir)),
    // §1.1-2 typed-nested path: fixture-shaped JSON through RawTables + FactsFromRaw
    "typed_itens_fact" -> ((s, dir) => Typed.typedItensFact(tune(s), dir)),
    "typed_pedidos_fact" -> ((s, dir) => Typed.typedPedidosFact(tune(s), dir)),
    "typed_pesquisa" -> ((s, dir) => Typed.typedPesquisa(tune(s), dir)),
    // A6/D4/J7: composite Pub/Sub message channel, produce → decode → dispatch
    "message_roundtrip" -> ((s, dir) => Messages.messageRoundtrip(tune(s), dir)),
    "message_pedidos_fact" -> ((s, dir) => Messages.messagePedidosFact(tune(s), dir)),
    "message_itens_fact" -> ((s, dir) => Messages.messageItensFact(tune(s), dir)),
    // A2/D10: real staged blob zone scanned with input_file_name provenance
    "zone_scan" -> ((s, dir) => Ingest.zoneScan(tune(s), dir)),
    // A4/E1/D6: paginated CSV export read with explicit schema + provenance
    "csv_zone_scan" -> ((s, dir) => Ingest.csvZoneScan(tune(s), dir)),
    // Schema evolution: two-generation parquet zone through mergeSchema
    "schema_drift_scan" -> ((s, dir) => Ingest.schemaDriftScan(tune(s), dir)),
    // Scale pattern: salted two-stage aggregation for hot keys
    "events_salted_agg" -> ((s, dir) => Skew.eventsSaltedAgg(tune(s), dir)),
    // salt/replicate hot-key join — row-identical to the plain equi-join
    "skew_join_agg" -> ((s, dir) => Skew.skewJoinAgg(tune(s), dir)),
    // Temporal joins/state: as-of, bounded range join, SCD2 history
    "events_asof" -> ((s, dir) => Temporal.eventsAsof(tune(s), dir)),
    "events_range_join" -> ((s, dir) => Temporal.eventsRangeJoin(tune(s), dir)),
    "scd2_build" -> ((s, dir) => Temporal.scd2Build(tune(s), dir)),
    "scd2_lookup" -> ((s, dir) => Temporal.scd2Lookup(tune(s), dir)),
    "cdc_merge" -> ((s, dir) => Temporal.cdcMerge(tune(s), dir)),
    // Sketch + exact-verify: bounded-memory heavy hitters
    "heavy_hitters" -> ((s, dir) => Sketches.heavyHitters(tune(s), dir)),
    "hll_distinct" -> ((s, dir) => Sketches.hllDistinct(tune(s), dir)),
    // Exact selection without a global sort: histogram pass + bucket-local rank
    "quantiles_2pass" -> ((s, dir) => Sketches.quantiles2pass(tune(s), dir)),
    // Bloom-pruned semi-join: probe rows filtered before their shuffle
    "bloom_semi_join" -> ((s, dir) => Sketches.bloomSemiJoin(tune(s), dir)),
    // Per-group exact quantiles, zero driver involvement (unbounded G)
    "group_quantiles" -> ((s, dir) => Sketches.groupQuantiles2pass(tune(s), dir)),
    // Tukey-fence outliers composed on the relational group quantiles
    "iqr_outliers" -> ((s, dir) => Sketches.iqrOutliers(tune(s), dir)),
    // robust per-group mean: exact p05/p95 cuts, clamp, grid-LONG means
    "winsorized_stats" -> ((s, dir) => Sketches.winsorizedStats(tune(s), dir)),
    // Corpus preparation: quality rules, PII redaction, sequence packing
    "quality_filter" -> ((s, dir) => CorpusOps.qualityFilter(tune(s), dir)),
    // classifier-cutoff calibration: survival curve over 101 score buckets
    "quality_threshold_sweep" -> ((s, dir) => CorpusOps.qualityThresholdSweep(tune(s), dir)),
    "pii_scrub" -> ((s, dir) => CorpusOps.piiScrub(tune(s), dir)),
    "html_extract" -> ((s, dir) => CorpusOps.htmlExtract(tune(s), dir)),
    "url_dedup" -> ((s, dir) => CorpusOps.urlDedup(tune(s), dir)),
    "seq_pack" -> ((s, dir) => CorpusOps.seqPack(tune(s), dir)),
    "rep_ngrams" -> ((s, dir) => CorpusOps.repNgrams(tune(s), dir)),
    "bm25_score" -> ((s, dir) => CorpusOps.bm25Score(tune(s), dir)),
    "boilerplate_ngrams" -> ((s, dir) => CorpusOps.boilerplateNgrams(tune(s), dir)),
    "corpus_pipeline" -> ((s, dir) => CorpusOps.corpusPipeline(tune(s), dir)),
    // per-source survival through quality → dedup → decontamination gates
    "curation_funnel" -> ((s, dir) => CorpusOps.curationFunnel(tune(s), dir)),
    "doc_chunks" -> ((s, dir) => CorpusOps.docChunks(tune(s), dir)),
    "cdc_chunks" -> ((s, dir) => CorpusOps.cdcChunks(tune(s), dir)),
    "cdc_dedup" -> ((s, dir) => CorpusOps.cdcDedup(tune(s), dir)),
    // Extension: IVF centroid training (Lloyd's) + split/profile utilities
    "kmeans_train" -> ((s, dir) => Clustering.kmeansTrain(tune(s), dir)),
    // cluster-quality grade of the trained quantizer (simplified silhouette)
    "kmeans_silhouette" -> ((s, dir) => Clustering.kmeansSilhouette(tune(s), dir)),
    "cluster_sample" -> ((s, dir) => Clustering.clusterSample(tune(s), dir)),
    "embedding_drift" -> ((s, dir) => Clustering.embeddingDrift(tune(s), dir)),
    // Single-pass mergeable outer-product accumulator (PCA building block)
    "embedding_gram" -> ((s, dir) => Clustering.embeddingGram(tune(s), dir)),
    // PC1 projection via driver power iteration on the collected Gram;
    // the oracle unrolls the same 50 iterations as ordered-SUM CTE pairs
    // over the 2,080-cell Gram (Clustering.pcaProjectSql), plus the
    // Rayleigh-quotient dominance spec (OperatorsSpec) as the semantic gate
    "pca_project" -> ((s, dir) => Clustering.pcaProject(tune(s), dir)),
    "embedding_outliers" -> ((s, dir) => Clustering.embeddingOutliers(tune(s), dir)),
    "stratified_split" -> ((s, dir) => Sampling.stratifiedSplit(tune(s), dir)),
    "split_decontaminate" -> ((s, dir) => Sampling.splitDecontaminate(tune(s), dir)),
    "global_shuffle" -> ((s, dir) => Sampling.globalShuffle(tune(s), dir)),
    "curriculum_order" -> ((s, dir) => Sampling.curriculumOrder(tune(s), dir)),
    "shard_manifest" -> ((s, dir) => Sampling.shardManifest(tune(s), dir)),
    "source_quota" -> ((s, dir) => Sampling.sourceQuota(tune(s), dir)),
    "weighted_sample" -> ((s, dir) => Sampling.weightedSample(tune(s), dir)),
    "numeric_profile" -> ((s, dir) => Quality.numericProfile(tune(s), dir)),
    // single-pass exact-moment Pearson correlation matrix (d² broadcast stats)
    "numeric_corr" -> ((s, dir) => Quality.numericCorr(tune(s), dir)),
    // Record linkage: blocked fuzzy self-join on the part dimension
    "fuzzy_match" -> ((s, dir) => Quality.fuzzyMatch(tune(s), dir)),
    // Length-distribution quantiles per language stratum
    "len_quantiles" -> ((s, dir) => TextOps.lenQuantiles(tune(s), dir)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "itens_fact" -> Facts.itensFactSql,
    "pedidos_fact" -> Facts.pedidosFactSql,
    "copurchase_topk" -> Facts.copurchaseTopkSql,
    "retention_cohorts" -> Analytics.retentionCohortsSql,
    "pagerank_parts" -> Graph.pagerankPartsSql,
    "triangle_parts" -> Graph.trianglePartsSql,
    "triangle_parts_t2" -> Graph.trianglePartsThresholdSql(2),
    "kcore_parts" -> Graph.kcorePartsSql(),
    "ann_ivf_mp" -> Similarity.annIvfMultiprobeSql(),
    "rfm_segments" -> Analytics.rfmSegmentsSql,
    "rfm_segments_approx" -> Analytics.rfmSegmentsApproxSql,
    "abc_parts" -> Analytics.abcPartsSql,
    "revenue_anomaly" -> Analytics.revenueAnomalySql,
    "basket_rules" -> Analytics.basketRulesSql,
    "item_neighbors" -> Analytics.itemNeighborsSql,
    "gap_fill" -> Analytics.gapFillSql,
    "sales_rollup" -> Analytics.salesRollupSql,
    "sales_cube" -> Analytics.salesCubeSql,
    "sales_pivot" -> Analytics.salesPivotSql,
    "rolling_revenue" -> Analytics.rollingRevenueSql,
    "brand_nation_margin" -> Analytics.brandNationMarginSql,
    "ids_distinct" -> Quality.idsDistinctSql,
    "recon_sets" -> Quality.reconSetsSql,
    "set_equality" -> Quality.setEqualitySql,
    "dup_resolution" -> Quality.dupResolutionSql,
    "anti_join_dedupe" -> Quality.antiJoinDedupeSql,
    "file_groups" -> Quality.fileGroupsSql,
    "count_verify" -> Quality.countVerifySql,
    "dq_expectations" -> Quality.dqExpectationsSql,
    "k_anonymity" -> Quality.kAnonymitySql(),
    "dp_noisy_counts" -> Quality.dpNoisyCountsSql(),
    "folder_completeness" -> Quality.folderCompletenessSql,
    "table_profile" -> Quality.tableProfileSql,
    "raw_unwrap" -> RawLoad.rawUnwrapSql,
    "raw_explode" -> RawLoad.rawExplodeSql,
    "br_dates" -> RawLoad.brDatesSql,
    "filename_keys" -> RawLoad.filenameKeysSql,
    "categoria" -> RawLoad.categoriaSql,
    "validate_route" -> RawLoad.validateRouteSql,
    "contatos_dim" -> Dimensions.contatosDimSql,
    "enrich_join" -> Dimensions.enrichJoinSql,
    "first_match" -> Dimensions.firstMatchSql,
    "events_window" -> EventsOps.eventsWindowSql,
    "events_session" -> EventsOps.eventsSessionSql,
    "events_dedupe" -> EventsOps.eventsDedupeSql,
    "events_props" -> EventsOps.eventsPropsSql,
    "events_funnel" -> EventsOps.eventsFunnelSql,
    "funnel_latency" -> EventsOps.funnelLatencySql(),
    "watermark_sweep" -> EventsOps.watermarkSweepSql(),
    "events_hopping" -> EventsOps.eventsHoppingSql,
    "journey_topk" -> EventsOps.journeyTopkSql(),
    "text_stats" -> TextOps.textStatsSql,
    "lang_id" -> TextOps.langIdSql,
    "token_count" -> TextOps.tokenCountSql,
    "token_fertility" -> TextOps.tokenFertilitySql,
    "char_coverage" -> TextOps.charCoverageSql(),
    "lang_confusion" -> TextOps.langConfusionSql,
    "nb_lang_confusion" -> TextOps.nbLangConfusionSql(),
    "fingerprint" -> TextOps.fingerprintSql,
    "dedup_exact" -> Dedup.dedupExactSql,
    "dedup_minhash" -> Dedup.dedupMinhashSql,
    "dedup_jaccard" -> Dedup.dedupJaccardSql,
    "dedup_minhash_eval" -> Dedup.dedupMinhashEvalSql,
    "dedup_simhash" -> Dedup.dedupSimhashSql,
    "dedup_embedding" -> Dedup.dedupEmbeddingSql,
    "dedup_embedding_lsh" -> Dedup.dedupEmbeddingLshSql(8),
    "dedup_embedding_lsh12" -> Dedup.dedupEmbeddingLshSql(12),
    "dedup_embedding_lsh_auto" -> Dedup.dedupEmbeddingLshAutoSql,
    "image_dedup_incr" -> Multimodal.imageDedupIncrementalSql,
    "audio_dedup_incr" -> Multimodal.audioDedupIncrementalSql,
    "video_dedup_incr" -> Multimodal.videoDedupIncrementalSql,
    "image_dedup_incr_eval" -> Multimodal.imageDedupIncrEvalSql,
    "audio_dedup_incr_eval" -> Multimodal.audioDedupIncrEvalSql,
    "video_dedup_incr_eval" -> Multimodal.videoDedupIncrEvalSql,
    "dedup_semantic" -> Dedup.dedupSemanticSql(),
    "semantic_decontaminate" -> Dedup.semanticDecontaminateSql(),
    "dedup_components" -> Dedup.dedupComponentsSql,
    "dup_cluster_sizes" -> Dedup.dupClusterSizesSql,
    "dedup_canonical" -> Dedup.dedupCanonicalSql,
    "substring_dup_spans" -> Dedup.substringDupSpansSql,
    "substring_excise" -> Dedup.substringExciseSql,
    "dedup_incremental" -> Dedup.dedupIncrementalSql,
    "dedup_prefix_join" -> Dedup.dedupPrefixJoinSql,
    "dup_score_hist" -> Dedup.dupScoreHistSql,
    "dup_cross_source" -> Dedup.dupCrossSourceSql,
    "source_overlap" -> Dedup.sourceOverlapSql,
    "doc_novelty" -> Dedup.docNoveltySql,
    "contamination_check" -> Dedup.contaminationCheckSql,
    "corpus_sample" -> Sampling.corpusSampleSql,
    "mix_temperature" -> Sampling.mixTemperatureSql,
    "domain_mix" -> Sampling.domainMixSql(),
    "corpus_remix" -> Sampling.corpusRemixSql(),
    "vocab_topk" -> TextOps.vocabTopkSql,
    "tfidf_topk" -> TextOps.tfidfTopkSql,
    "inverted_index" -> TextOps.invertedIndexSql(),
    "bigram_lm" -> TextOps.bigramLmSql(),
    "bigram_kn" -> TextOps.bigramKnSql(),
    "doc_lm_score" -> TextOps.docLmScoreSql,
    "doc_lm_score_kn" -> TextOps.docLmScoreKnSql,
    "vocab_drift" -> TextOps.vocabDriftSql(),
    "moore_lewis" -> TextOps.mooreLewisSql(),
    "bm25_topk" -> TextOps.bm25TopkSql(),
    "bm25_topk_pruned" -> TextOps.bm25TopkPrunedSql(),
    "bm25_index_build" -> TextOps.bm25IndexBuildSql(),
    // the indexed query path answers EXACTLY the pruned form's question —
    // one oracle text, two plans (recompute vs read-the-staged-prefix)
    "bm25_topk_indexed" -> TextOps.bm25TopkPrunedSql(),
    "bm25_index_merge" -> TextOps.bm25IndexMergeSql(),
    "bm25_index_apply" -> TextOps.bm25IndexApplySql(),
    "bm25_index_drift" -> TextOps.bm25IndexDriftSql(),
    // compaction ≡ rebuild over the same corpus — one oracle text checks
    // both plans (the bm25_topk_indexed precedent)
    "bm25_index_compact" -> TextOps.bm25IndexBuildSql(),
    // the policy query: drift mean, tau comparison, and BOTH serve
    // branches replayed — the DECISION is oracle-checked, not just content
    "bm25_auto_compact" -> TextOps.bm25AutoCompactSql(),
    "pmi_collocations" -> TextOps.pmiCollocationsSql(),
    "bpe_pairs" -> TextOps.bpePairsSql(),
    "bpe_merges" -> TextOps.bpeMergesSql(),
    "bpe_encode" -> TextOps.bpeEncodeSql(),
    "rollup_replay" -> streaming.Streaming.rollupReplaySql,
    "hh_replay" -> streaming.Streaming.hhReplaySql(),
    "bloom_replay" -> streaming.Streaming.bloomReplaySql,
    "funnel_replay" -> EventsOps.eventsFunnelSql,
    "ann_topk" -> Similarity.annTopkSql,
    "ann_topk_agg" -> Similarity.annTopkSql, // same contract as ann_topk
    "ann_ivf" -> Similarity.annIvfSql,
    "ann_ivf_trained" -> Similarity.annIvfTrainedSql,
    "ann_quantized" -> Similarity.annQuantizedSql,
    "ann_pq" -> Similarity.annPqSql(),
    "ann_ivfpq" -> Similarity.annIvfPqSql(),
    "rrf_fusion" -> Similarity.hybridRrfSql(),
    "ann_recall" -> Similarity.annRecallSql,
    "multimodal_features" -> Multimodal.multimodalFeaturesSql,
    "media_frames" -> Multimodal.mediaFramesSql,
    "multimodal_decode" -> Multimodal.multimodalDecodeSql,
    "multimodal_audio" -> Multimodal.multimodalAudioSql,
    "image_dedup" -> Multimodal.imageDedupSql,
    "audio_dedup" -> Multimodal.audioDedupSql,
    "video_dedup" -> Multimodal.videoDedupSql,
    "image_dedup_eval" -> Multimodal.imageDedupEvalSql,
    "audio_dedup_eval" -> Multimodal.audioDedupEvalSql,
    "video_dedup_eval" -> Multimodal.videoDedupEvalSql,
    "sft_render" -> CorpusOps.sftRenderSql,
    "dpo_pairs" -> CorpusOps.dpoPairsSql,
    "sft_pack" -> CorpusOps.sftPackSql(),
    "pack_stats" -> CorpusOps.packStatsSql(),
    "sft_pack_tokens" -> CorpusOps.sftPackTokensSql(),
    "sft_pipeline" -> CorpusOps.sftPipelineSql(),
    "sft_pipeline_tokens" -> CorpusOps.sftPipelineTokensSql(),
    "token_pack" -> CorpusOps.tokenPackSql(),
    "lr_quality" -> CorpusOps.lrQualitySql(),
    "unigram_lm" -> TextOps.unigramLmSql(),
    "unigram_soft" -> TextOps.unigramSoftSql(),
    "multimodal_video" -> Multimodal.multimodalVideoSql,
    "unigram_encode" -> TextOps.unigramEncodeSql(),
    "ann_ivfpq_res" -> Similarity.annIvfPqResSql(),
    "ann_nndescent" -> Similarity.annNndescentSql(),
    "ann_graph_build" -> Similarity.annGraphBuildSql(),
    "ann_pq_build" -> Similarity.annPqBuildSql(),
    "ann_graph_search" -> Similarity.annGraphSearchSql(),
    "ann_graph_oos" -> Similarity.annGraphSearchOosSql(),
    "ann_graph_recall" -> Similarity.annGraphRecallSql(),
    "ann_graph_anchor" -> Similarity.annGraphAnchorSql(),
    "ann_graph_insert" -> Similarity.annGraphInsertSql(),
    "ann_graph_apply" -> Similarity.annGraphApplySql(),
    "ann_graph_drift" -> Similarity.annGraphDriftSql(),
    // compaction ≡ the full-corpus descent — one oracle text, two plans
    "ann_graph_compact" -> Similarity.annNndescentSql(),
    "ann_graph_auto_compact" -> Similarity.annGraphAutoCompactSql(),
    "dsir_weights" -> TextOps.dsirWeightsSql(),
    "ppl_buckets" -> TextOps.pplBucketsSql,
    "wordpiece_encode" -> TextOps.wordpieceEncodeSql(),
    "cms_counts" -> Sketches.cmsCountsSql(),
    "checksum_sorted" -> Checksums.checksumSortedSql,
    "typed_itens_fact" -> Typed.typedItensFactSql,
    "typed_pedidos_fact" -> Typed.typedPedidosFactSql,
    "typed_pesquisa" -> Typed.typedPesquisaSql,
    "message_roundtrip" -> Messages.messageRoundtripSql,
    "message_pedidos_fact" -> Messages.messagePedidosFactSql,
    "message_itens_fact" -> Messages.messageItensFactSql,
    "zone_scan" -> Ingest.zoneScanSql,
    "csv_zone_scan" -> Ingest.csvZoneScanSql,
    "schema_drift_scan" -> Ingest.schemaDriftScanSql,
    "events_salted_agg" -> Skew.eventsSaltedAggSql,
    "skew_join_agg" -> Skew.skewJoinAggSql,
    "events_asof" -> Temporal.eventsAsofSql,
    "events_range_join" -> Temporal.eventsRangeJoinSql,
    "scd2_build" -> Temporal.scd2BuildSql,
    "scd2_lookup" -> Temporal.scd2LookupSql,
    "cdc_merge" -> Temporal.cdcMergeSql,
    "heavy_hitters" -> Sketches.heavyHittersSql(),
    "hll_distinct" -> Sketches.hllDistinctSql,
    "quantiles_2pass" -> Sketches.quantiles2passSql(),
    "bloom_semi_join" -> Sketches.bloomSemiJoinSql,
    "group_quantiles" -> Sketches.groupQuantiles2passSql(),
    "iqr_outliers" -> Sketches.iqrOutliersSql,
    "winsorized_stats" -> Sketches.winsorizedStatsSql,
    "quality_filter" -> CorpusOps.qualityFilterSql,
    "quality_threshold_sweep" -> CorpusOps.qualityThresholdSweepSql,
    "pii_scrub" -> CorpusOps.piiScrubSql,
    "html_extract" -> CorpusOps.htmlExtractSql,
    "url_dedup" -> CorpusOps.urlDedupSql,
    "seq_pack" -> CorpusOps.seqPackSql(),
    "rep_ngrams" -> CorpusOps.repNgramsSql,
    "bm25_score" -> CorpusOps.bm25ScoreSql,
    "boilerplate_ngrams" -> CorpusOps.boilerplateNgramsSql,
    "corpus_pipeline" -> CorpusOps.corpusPipelineSql,
    "curation_funnel" -> CorpusOps.curationFunnelSql,
    "doc_chunks" -> CorpusOps.docChunksSql(),
    "cdc_chunks" -> CorpusOps.cdcChunksSql(),
    "cdc_dedup" -> CorpusOps.cdcDedupSql(),
    "kmeans_train" -> Clustering.kmeansTrainSql,
    "kmeans_silhouette" -> Clustering.kmeansSilhouetteSql(),
    "cluster_sample" -> Clustering.clusterSampleSql(),
    "embedding_drift" -> Clustering.embeddingDriftSql,
    "embedding_gram" -> Clustering.embeddingGramSql,
    "pca_project" -> Clustering.pcaProjectSql(),
    "embedding_outliers" -> Clustering.embeddingOutliersSql(),
    "stratified_split" -> Sampling.stratifiedSplitSql,
    "split_decontaminate" -> Sampling.splitDecontaminateSql,
    "global_shuffle" -> Sampling.globalShuffleSql,
    "curriculum_order" -> Sampling.curriculumOrderSql(),
    "shard_manifest" -> Sampling.shardManifestSql,
    "source_quota" -> Sampling.sourceQuotaSql,
    "weighted_sample" -> Sampling.weightedSampleSql(),
    "numeric_profile" -> Quality.numericProfileSql,
    "numeric_corr" -> Quality.numericCorrSql,
    "fuzzy_match" -> Quality.fuzzyMatchSql(),
    "len_quantiles" -> TextOps.lenQuantilesSql,
  )
}
