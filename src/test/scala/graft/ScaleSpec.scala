package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scale-pattern specs: salting preserves semantics; bucketed co-located
  * joins eliminate the shuffle entirely (the 100 TB join strategy for
  * repeatedly-joined fact/dim pairs). */
class ScaleSpec extends SparkSuite {

  test("salted aggregation equals the direct aggregate on a skewed key") {
    val ev = Tables.events(spark, sfDir)
    val salted = Skew.saltedCountSum(ev, col("event_type"), col("event_id"),
      col("value"), nSalts = 16)
    val direct = ev.groupBy(col("event_type").as("k"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
    val joined = salted.as("s").join(direct.as("d"), "k")
      .filter(col("s.n") =!= col("d.n")
        || abs(col("s.sum_value") - col("d.sum_value")) > 1e-6)
    assert(joined.count() == 0)
  }

  test("approximate aggregates land within tolerance of exact (HLL / t-digest)") {
    val li = Tables.lineitem(spark, sfDir)
    val r = li.agg(
      approx_count_distinct("l_partkey", 0.02).as("approx_d"),
      countDistinct("l_partkey").as("exact_d"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50"),
      expr("percentile(l_extendedprice, 0.5)").as("p50_exact")).collect()(0)
    val (ad, ed) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(ad - ed) / ed < 0.05, s"approx distinct $ad vs exact $ed")
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) / r.getDouble(3) < 0.05)
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("warehouse").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    s2.conf.set("spark.sql.sources.bucketing.enabled", "true")
    val db = s"b${System.nanoTime()}"
    s2.sql(s"CREATE DATABASE $db LOCATION '$wh/$db'")
    s2.sql(s"USE $db")
    Tables.orders(s2, sfDir).write.format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.lineitem(s2, sfDir).write.format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    val joined = s2.table("lineitem_b")
      .join(s2.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketed join: no Exchange on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed join, got:\n$plan")
    assert(joined.count() == Tables.lineitem(s2, sfDir).count())
  }

  test("z-ordered layout bounds BOTH columns' per-file spans; linear sort only one") {
    val li = Tables.lineitem(spark, sfDir).select(col("l_partkey"), col("l_suppkey"))
    val base = Files.createTempDirectory("zorder").toString
    operators.Writers.writeZOrdered(li, "l_partkey", "l_suppkey", s"$base/z", files = 8)
    li.repartitionByRange(8, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    // average per-file span of a column as a fraction of its global range —
    // the proxy for parquet min/max row-group skipping effectiveness
    def avgSpan(dir: String, c: String): Double = {
      val g = li.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(((max(col(c)) - min(col(c))).cast("double") / g).as("s"))
        .agg(avg("s")).head().getDouble(0)
      spans
    }
    val (zx, zy) = (avgSpan(s"$base/z", "l_partkey"), avgSpan(s"$base/z", "l_suppkey"))
    val (lx, ly) = (avgSpan(s"$base/linear", "l_partkey"), avgSpan(s"$base/linear", "l_suppkey"))
    // linear: the sort column is tightly bounded, the other spans ~everything
    assert(lx < 0.3, s"linear sort should bound l_partkey, got $lx")
    assert(ly > 0.8, s"linear sort leaves l_suppkey unbounded, got $ly")
    // z-order: BOTH columns bounded well below the unclustered ~1.0
    assert(zx < 0.7 && zy < 0.7, s"z-order spans: partkey=$zx suppkey=$zy")
    // and the layout is lossless
    assert(spark.read.parquet(s"$base/z").count() == li.count())
  }

  test("date filter prunes day partitions at the scan, not post-read") {
    val out = Files.createTempDirectory("prune").toString + "/t"
    operators.Writers.writeDayPartitioned(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
      "o_orderdate", out)
    val nParts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("p_date="))
    assert(nParts > 1, "fixture must span multiple days")
    val someDate = spark.read.parquet(out)
      .select(col("p_date").cast("string")).distinct()
      .orderBy("p_date").limit(1).collect()(0).getString(0)
    val q = spark.read.parquet(out).filter(col("p_date") === someDate)
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    // the filter must reach the scan's PARTITION filters (directory-level
    // skip — at 100 TB the difference between listing one day and reading
    // the table), and the scan must actually select a single partition
    assert(scan.partitionFilters.nonEmpty,
      "date predicate must prune partitions, not filter rows post-read")
    // execute, then read the scan's own metric: files actually opened must
    // be the selected day's, not the table's
    q.collect()
    val filesInDay = new java.io.File(s"$out/p_date=$someDate").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value == filesInDay,
      s"scan read ${scan.metrics("numFiles").value} files, " +
        s"partition holds $filesInDay")
  }

  test("results are invariant to the shuffle partition count (cluster-size independence)") {
    // The determinism contract (integer-grid sums, hash draws, pinned
    // tiebreaks) means a query's RESULT may never depend on how the data
    // was partitioned — the difference between 32 local threads and 1000
    // executors. Spot-check the shapes that would break first: grid-sum
    // aggregation (fact build), float fold + argmin (k-means), window
    // ranking (quota), and the multi-stage pipeline.
    // heavy_hitters is the sharpest case: its INTERMEDIATE (the sketch's
    // candidate set) legitimately varies with partitioning — the exact
    // recount must erase that variance from the result. triangle_parts
    // re-checks join-heavy plans; bigram_lm the per-row assembly path.
    // abc_parts / rfm_segments are the sharpest of all: rangedRunningSum
    // RANGE-partitions on the shuffle-partition count, so its intermediates
    // (rid labels, per-range offsets) change with every partition count —
    // the boundary-invariance the doc claims must erase that from the
    // result. cdc_merge/global_shuffle re-check window ranks; rrf_fusion
    // the two-probe fusion; split_decontaminate the broadcast containment.
    // embedding_drift re-checks grid-LONG cell means (the per-cell sums
    // split differently across partitions); dup_score_hist the
    // candidate-pair max + LONG-grid bucketing; dedup_incremental the
    // asymmetric band probe; char_coverage the rank-k cut under a
    // re-partitioned vocabulary.
    val names = Seq("pedidos_fact", "kmeans_train", "source_quota",
      "corpus_pipeline", "heavy_hitters", "triangle_parts", "bigram_lm",
      "abc_parts", "rfm_segments", "cdc_merge", "global_shuffle",
      "rrf_fusion", "split_decontaminate",
      "embedding_drift", "dup_score_hist", "dedup_incremental",
      "char_coverage",
      // prefix join: candidate distinct + verify rejoins under re-split
      // prefixes; outliers: broadcast centroids + rank window; novelty:
      // the two post-distinct shuffles; cross-source: chain + rollup
      "dedup_prefix_join", "embedding_outliers", "doc_novelty",
      "dup_cross_source",
      // kcore: per-round degree counts + semi-joins under re-partitioned
      // eager checkpoints — the peel's fixed point must not shift
      "kcore_parts",
      // hll: register maxima merge through a different partial-agg tree;
      // weighted_sample: per-partition top-k merge of the bottom-k;
      // bpe_pairs: two-stage agg + tie-broken limit; dedup_canonical:
      // the survivor window over re-partitioned component labels
      "hll_distinct", "weighted_sample", "bpe_pairs", "dedup_canonical",
      // len_quantiles: the percentile counts-map merges through a
      // different partial-agg tree at every partition count
      "len_quantiles",
      // quantiles_2pass: histogram cells + bucket-local ranks re-split;
      // bloom: bitset OR-merge tree reshapes; gram: integer buffer merge
      // order changes; rfm approx: GK cut summaries merge differently
      // (uncompressed at this n, so exact either way)
      "quantiles_2pass", "bloom_semi_join", "embedding_gram",
      "rfm_segments_approx",
      // group_quantiles: per-(group,bucket) histogram cells, the grouped
      // cumulative window, and bucket-local ranks all re-split
      "group_quantiles",
      // schema_drift_scan: the merged-footer schema and null-filled
      // aggregate must not depend on read parallelism
      "schema_drift_scan",
      // iqr_outliers: the group-quantile composition end to end
      "iqr_outliers",
      // pca_project: the power-iterated direction is a pure function of
      // the (invariant) integer Gram, so projections must not move either
      "pca_project",
      // bigram_kn: four aggregates of one bigram table merge through
      // different partial trees; the single double expression must not care
      "bigram_kn",
      // dq_expectations: the conditional-agg row + anti-join count re-split
      "dq_expectations",
      // doc_lm_score_kn: the KN table + hash-keyed doc join re-partition
      "doc_lm_score_kn",
      // vocab_drift: (token, half) counts + the tie-broken top-k cut
      "vocab_drift",
      // bpe family: tie-broken per-round picks, literal-replace encode —
      // the picked merges and per-doc budgets must not move with shuffle
      // parallelism; rollup_replay: exact LONG epoch merges; excise: the
      // ordered struct-sort reassembly must pin text byte-for-byte
      "bpe_merges", "bpe_encode", "rollup_replay", "substring_excise",
      // skew_join_agg: deterministic hash salt; the (key, salt) join and
      // both aggregate stages must re-merge identically at any parallelism
      "skew_join_agg",
      // sweep: bucket fold + cumulative window over ≤101 rows; cluster
      // sizes: two aggregates over the component labels
      "quality_threshold_sweep", "dup_cluster_sizes",
      // round-8 close wave: semdedup's centroid-blocked pair scan +
      // min-witness; NB's vocab×L term join and struct-max argmax; the
      // curation funnel's stage flags through a re-partitioned dedup
      // window; funnel latency's chained user-grain mins + histogram
      // selection; winsorize's cut broadcast + grid means; the DP draw
      // (pure per-group hash math — must be partition-blind by
      // construction); PMI/Moore-Lewis single-ln grid terms
      "dedup_semantic", "nb_lang_confusion", "curation_funnel",
      "funnel_latency", "winsorized_stats", "dp_noisy_counts",
      "pmi_collocations", "moore_lewis")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val at4 = names.map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        n -> SparkEntry.queries(n)(spark, sfDir).collect()
      }.toMap
      names.foreach { n =>
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        val at17 = SparkEntry.queries(n)(spark, sfDir).collect()
        assert(at17.sameElements(at4(n)), s"$n drifted with partition count")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("dedup_semantic caps a degenerate mega-cell's pair cost via LSH sub-split") {
    // SemDeDup's pair cost is Σ cell² — fine when k tracks the corpus, but
    // every web corpus has one degenerate cluster (boilerplate, near-empty
    // embeddings) that lands in a single cell regardless of k. subSplit
    // must refine that cell's blocking key so the self-join stays bounded.
    import spark.implicits._
    val nVec = 4000
    val cap = 256
    // deterministic diverse vectors (md5-derived, no RNG), all forced into
    // one cell — the worst case subSplit exists for
    def coords(id: Int): Seq[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 64).map { d =>
        val h = md.digest(s"mega_${id}_$d".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(h, 16) % 2001 - 1000).toDouble / 1000.0
      }
    }
    val mega = (0 until nVec).map(i => (i.toLong, coords(i), 0L))
      .toDF("vec_id", "v", "cid")
    val (split, splits) = operators.Dedup.subSplit(mega, cap)
    // ceil(log2(4000/256)) = 4 secondary bits → 16 expected sub-cells
    assert(splits == Map(0L -> 4), s"split decisions: $splits")
    val sizes = split.groupBy("cid", "sub").count()
      .select("count").as[Long].collect()
    assert(sizes.sum == nVec, "sub-split must not drop or duplicate rows")
    assert(sizes.length > 8, s"only ${sizes.length} sub-cells materialized")
    // bounded per-cell pair count: Σ sub² must sit far below the unsplit
    // cell² (16-way balanced would be cell²/16; allow generous slack for
    // hyperplane imbalance on the deterministic fixture)
    val pairCost = sizes.map(n => n * (n - 1) / 2).sum
    val unsplitCost = nVec.toLong * (nVec - 1) / 2
    assert(pairCost * 4 < unsplitCost,
      s"pair cost $pairCost not bounded vs unsplit $unsplitCost")
    assert(sizes.max < nVec / 2, s"largest sub-cell ${sizes.max} barely split")

    // below the cap: no split, sub pinned to 0, decisions empty — this is
    // the oracle-fixture path (≤2000 vectors, k=8, cap 4096), so the
    // CORRECTNESS hash contract is untouched by the cap machinery
    val (noSplit, none) = operators.Dedup.subSplit(mega, nVec + 1)
    assert(none.isEmpty)
    assert(noSplit.select(countDistinct("sub")).as[Long].head() == 1L)
    val fixtureSizes = operators.Dedup.subSplit(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          lit(0L).as("cid")), 4096)._2
    assert(fixtureSizes.isEmpty,
      "oracle fixture must never engage the cap (hash contract)")
  }

  test("a session chaining checkpointing queries holds no blocks after release") {
    // The 100 TB session-lifetime contract: localCheckpoint-heavy operators
    // must not pin block-manager memory monotonically — the measured failure
    // was a 10× slowdown (103.9 s vs 8.5 s triangle_parts) after ~130
    // queries leaked their lineage-cut blocks in one JVM. Operators release
    // per-round internally (the Hygiene.rounds loops);
    // the session owner resets between queries (Hygiene.releaseAll). Both
    // layers are asserted here on the heaviest checkpoint users.
    val sc = spark.sparkContext
    // counted in the block manager's storage status, not in
    // sc.getPersistentRDDs: that map holds its RDDs weakly, so a leaked
    // round the JVM has collected drops out of it while its blocks stay
    // until the ContextCleaner gets to them
    def holding = org.apache.spark.StorageProbe.rddsHoldingBlocks(sc)
    Hygiene.releaseAll(spark, blocking = true)
    assert(holding.isEmpty, "dirty session at test entry")
    val chain = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kcore_parts" -> (() => operators.Graph.kcoreParts(spark, sfDir)),
      "triangle_parts" -> (() => operators.Graph.triangleParts(spark, sfDir)),
      "dedup_components" -> (() => operators.Dedup.dedupComponents(spark, sfDir)),
      "dedup_semantic" -> (() => operators.Dedup.dedupSemantic(spark, sfDir)),
      "ann_ivfpq_res" -> (() => operators.Similarity.annIvfPqRes(spark, sfDir)),
      "bpe_merges" -> (() => operators.TextOps.bpeMerges(spark, sfDir)),
      "lr_quality" -> (() => operators.CorpusOps.lrQuality(spark, sfDir)),
      // pins its final round only: round 1's weight rides along as a column
      "domain_mix" -> (() => operators.Sampling.domainMix(spark, sfDir)),
      // the beam walks pin the shared undirected graph plus the frontier
      // the lazy last hop reads — every earlier hop is released in the loop
      "ann_graph_search" -> (() => operators.Similarity.annGraphSearch(spark, sfDir)),
      "ann_graph_oos" -> (() => operators.Similarity.annGraphSearchOos(spark, sfDir)))
    chain.foreach { case (name, q) =>
      q().queryExecution.toRdd.count()
      // operator-owned round release: only terminal checkpoints (the ones
      // the returned plan still references) may remain — kcore without the
      // in-loop release would leave rounds+1 = 7 here, a walk that kept
      // every hop 1 + hops = 4, less the rounds the JVM has collected and
      // the ContextCleaner has already freed
      val pinned = holding
      assert(pinned.size <= 2,
        s"$name left RDDs $pinned holding blocks — per-round release regressed")
      Hygiene.releaseAll(spark, blocking = true)
      assert(holding.isEmpty,
        s"$name: checkpoint blocks survive Hygiene.releaseAll: $holding")
    }
  }

  test("Hygiene.rounds releases each earlier round, never a shared checkpoint") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.storage.StorageLevel
    // storage levels are read off the RDD objects the test holds, so the
    // JVM collecting an unreachable round cannot make a leak look released
    def levels(df: DataFrame): Seq[StorageLevel] =
      df.queryExecution.analyzed.collectLeaves().collect {
        case l: LogicalRDD => l.rdd.getStorageLevel
      }
    val shared = spark.range(8).toDF("id").localCheckpoint()
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Hygiene.rounds(spark.range(6).toDF("id"), 3) { df =>
      seen += df
      df.join(shared, "id")
    }
    assert(seen.size == 3, "3 rounds run the step 3 times")
    seen.foreach(df => assert(levels(df) == Seq(StorageLevel.NONE),
      "an earlier round's checkpoint is still pinned"))
    assert(levels(last).size == 1 && levels(last).head != StorageLevel.NONE)
    assert(levels(shared).head != StorageLevel.NONE,
      "the runner released a checkpoint that its step only reads")
    assert(last.count() == 6)
    Hygiene.releaseAll(spark, blocking = true)
  }

  test("Staged rebuilds when the source dir is regenerated in place") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    // the ScaleUp hazard in miniature: same PATH, new content — the key
    // must miss (fingerprinted dirKey) and the stage must rebuild, never
    // silently serve the previous corpus's derived table
    val srcDir = Files.createTempDirectory("staged_src").toString
    def regen(mark: Long): Unit =
      spark.range(10).select(col("id"), (col("id") * mark).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      // NO clock workaround (the r15 spec bumped mtimes by hand): the
      // fingerprint now folds every file's NAME into the hash, and a
      // parquet rewrite stamps a fresh UUID into each part-file name, so
      // even a same-millisecond equal-byte regeneration moves the key
    def staged(): Long = operators.Staged.parquet(spark,
        s"spec_regen/${operators.Staged.dirKey(srcDir)}") {
        spark.read.parquet(s"$srcDir/t.parquet")
          .agg(sum("v").as("s"))
      }.collect()(0).getLong(0)
    regen(1)
    assert(staged() == 45L)
    assert(staged() == 45L) // second read hits the stage (no rebuild crash)
    regen(100) // same path, new content
    assert(staged() == 4500L,
      "stale stage served after in-place source regeneration")
    // distinct paths that flatten identically must not share a key
    val a = operators.Staged.dirKey(srcDir)
    val b = operators.Staged.dirKey(srcDir.replaceFirst("/", "_"))
    assert(a != b, s"dirKey collision: $a")
  }

  test("GenerationChain: short-circuit, latestBelow, retention never drops the head") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("chain").toString
    val chain = new operators.GenerationChain(root, Seq("t"))
    def pub(id: Long, v: Long): Boolean =
      chain.getOrPublish(id)(Seq(spark.range(3).select((col("id") + v).as("x"))))
    assert(pub(0, 0) && pub(1, 10) && pub(3, 30)) // gaps allowed (batch ids)
    assert(!pub(1, 999), "re-publish of a complete generation must short-circuit")
    assert(chain.read(spark, 1, "t").agg(org.apache.spark.sql.functions.sum("x"))
      .collect()(0).getLong(0) == 33, "short-circuit must keep the original content")
    assert(chain.list() == Seq(0L, 1L, 3L))
    assert(chain.latest().contains(3L))
    assert(chain.latestBelow(3).contains(1L)) // own id excluded
    assert(chain.latestBelow(9).contains(3L))
    assert(chain.retire(keepLast = 2) == Seq(0L))
    assert(chain.list() == Seq(1L, 3L), "retention must keep the newest N")
    assert(chain.latestBelow(4).contains(3L),
      "a redelivered/future batch still finds its predecessor after retire")
    // a failed build publishes nothing — the generation stays absent
    import org.apache.spark.sql.functions.{lit, when, raise_error, concat}
    intercept[Exception] {
      chain.getOrPublish(7)(Seq(spark.range(10).select(
        when(col("id") < 5, col("id"))
          .otherwise(raise_error(concat(lit("boom "),
            col("id").cast("string")))).as("x"))))
    }
    assert(!new java.io.File(s"$root/gen=7").exists(),
      "failed build left a reader-visible generation dir")
  }

  test("auto-sized graph serving restores recall on a clustered corpus; the measured serving law holds") {
    import org.apache.spark.sql.functions.avg
    import graft.operators.Similarity
    // the jittered mini-fixture: 10 copies of sf0.001 with copy>0
    // embeddings perturbed ±2.5% (ScaleUp's jitter — md5-derived, so every
    // measured value below is exact and repeatable) — 5,000 vectors in
    // 10-member near-dup families, the clustered shape where the r15
    // verdict measured the shipped k=5 default at recall@5 0.43 (sf1j)
    val fx = Files.createTempDirectory("sf001j").toString
    ScaleUp.replicate(spark, sfDir, fx, 10, jitter = true)
    def rec(k: Int, beam: Int, tables: Int): Double =
      Similarity.annGraphRecall(spark, fx, k = k, beam = beam,
          nTables = tables)
        .agg(avg("recall")).collect()(0).getDouble(0)
    // 1. the derivation itself: cluster tightness ≈ the 10-member family
    //    (measured 9.32 here) → the measured-law sizing, nothing hand-tuned
    val (k, beam, tables) = Similarity.autoGraphParams(spark, fx)
    assert((k, beam, tables) == (32, 224, 16),
      s"auto derivation moved: ($k, $beam, $tables)")
    // 2. restoration floor: auto params measure 1.0000 here (and 1.0000 on
    //    tmpdata/sf1j, 0.9624 on sf5j — SCALE.md r16); the shipped default
    //    measures 0.7960 — the foot-gun the auto rule closes
    val rAuto = rec(k, beam, tables)
    val rDefault = rec(5, 64, 8)
    assert(rAuto >= 0.99, s"auto-sized recall regressed: $rAuto")
    assert(rAuto >= rDefault + 0.15,
      s"auto ($rAuto) no longer materially beats the fixed default ($rDefault)")
    // 3. the tables half of the law: tables buy ENTRY (8 → 16 moves
    //    0.7960 → 1.0000 at fixed k=12 × beam 96) and SATURATE at 16
    //    (32 tables measured identical)
    val (t8, t16, t32) = (rec(12, 96, 8), rec(12, 96, 16), rec(12, 96, 32))
    assert(t16 >= t8 + 0.15, s"tables 8→16 no longer buys entry: $t8 -> $t16")
    assert(math.abs(t32 - t16) <= 0.005,
      s"tables stopped saturating at 16: $t16 vs $t32")
    // 4. the beam half: past entry, recall is bought by beam — the
    //    entry-constrained regime (8 tables, k=32) measures a monotone
    //    unsaturated ladder 0.5960 / 0.8680 / 1.0000 at beam 8/32/96
    //    (the sf5j receipt's shape: 16 tables × beam 768 = 0.912, beam
    //    linear past table saturation)
    val (b8, b32, b96) = (rec(32, 8, 8), rec(32, 32, 8), rec(32, 96, 8))
    assert(b8 >= 0.55 && b32 >= b8 + 0.2 && b96 >= b32 + 0.1 && b96 >= 0.99,
      s"beam law regressed: beam 8/32/96 -> $b8 / $b32 / $b96")
  }

  test("drift→compaction policy: fires on a constructed breach, serving switches to the compact generation") {
    import graft.operators.{TextOps, Similarity}
    // the fixtures are md5-deterministic, so the measured drift is exact —
    // construct the breach (tau just above it) and the quiet case (just
    // below) around the measured value instead of hard-coding either
    val m = TextOps.bm25DriftMeanOverlap(spark, sfDir)
    val (quietFired, head) = TextOps.bm25AutoCompact(spark, sfDir, tau = m - 1e-4)
    assert(!quietFired, s"policy fired below the measured drift $m")
    val headExp = TextOps.bm25IndexApply(spark, sfDir)
    assert(head.exceptAll(headExp).isEmpty && head.count() == headExp.count(),
      "quiet policy must serve the chain's current head (gen 2) untouched")
    val (fired, served) = TextOps.bm25AutoCompact(spark, sfDir, tau = m + 1e-4)
    assert(fired, s"policy did not fire above the measured drift $m")
    val compactExp = TextOps.bm25IndexCompact(spark, sfDir)
    assert(served.exceptAll(compactExp).isEmpty
        && served.count() == compactExp.count(),
      "breached policy must serve the compaction generation")
    // the switch is ATOMIC by the chain contract: the compact generation
    // is complete (every table has _SUCCESS — published by one rename),
    // and no scratch leaked into the reader-visible namespace
    val ic = TextOps.impactChain(sfDir, 1.2, 0.75, 64)
    assert(ic.complete(TextOps.CompactGen))
    assert(Option(new java.io.File(s"${ic.root}/_tmp").list())
      .forall(_.isEmpty), "publish leaked scratch dirs")
    // the graph twin: same policy, same machinery
    val mg = Similarity.annGraphDriftMeanOverlap(spark, sfDir)
    val (gFired, gServed) = Similarity.annGraphAutoCompact(spark, sfDir, tau = mg + 1e-4)
    assert(gFired)
    val gExp = Similarity.annGraphCompact(spark, sfDir)
    assert(gServed.exceptAll(gExp).isEmpty && gServed.count() == gExp.count())
    val (gQuiet, _) = Similarity.annGraphAutoCompact(spark, sfDir, tau = mg - 1e-4)
    assert(!gQuiet)
  }

  test("Staged publish is atomic: no reader-visible dir without _SUCCESS") {
    // a build that dies mid-write must leave the target ABSENT (scratch
    // garbage only), so the next caller rebuilds instead of reading a
    // half-written table
    import org.apache.spark.sql.functions.{col, lit, when, raise_error, concat}
    val key = s"spec_atomic/${java.util.UUID.randomUUID()}"
    intercept[Exception] {
      operators.Staged.parquet(spark, key) {
        spark.range(10).select(
          when(col("id") < 5, col("id"))
            .otherwise(raise_error(concat(lit("boom "),
              col("id").cast("string")))).as("x"))
      }
    }
    val target = new java.io.File(
      sys.env.getOrElse("GRAFT_STAGED_ROOT", "tmpdata/graft_staged"), key)
    assert(!target.exists(), "failed build left a reader-visible target dir")
  }

  test("Staged: a failed build removes its scratch and rethrows") {
    import org.apache.spark.sql.functions.{col, lit, when, raise_error, concat}
    val scratch = new java.io.File(
      sys.env.getOrElse("GRAFT_STAGED_ROOT", "tmpdata/graft_staged"), "_tmp")
    def entries = Option(scratch.list()).map(_.toSet).getOrElse(Set.empty[String])
    val before = entries
    val key = s"spec_scratch/${java.util.UUID.randomUUID()}"
    val e = intercept[Exception] {
      operators.Staged.parquet(spark, key) {
        spark.range(10).select(
          when(col("id") < 5, col("id"))
            .otherwise(raise_error(concat(lit("scratch boom "),
              col("id").cast("string")))).as("x"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("scratch boom")))
    assert(entries -- before == Set.empty, "failed build left its scratch under _tmp")
  }

  private def stagedDir(key: String) = new java.io.File(
    sys.env.getOrElse("GRAFT_STAGED_ROOT", "tmpdata/graft_staged"), key)

  test("Staged pair: a failed build publishes nothing; a retry publishes both tables") {
    import org.apache.spark.sql.functions.{col, lit, when, raise_error, concat}
    val key = s"spec_pair/${java.util.UUID.randomUUID()}"
    intercept[Exception] {
      operators.Staged.parquetPair(spark, key, "a", "b") {
        (spark.range(3).toDF("x"), spark.range(10).select(
          when(col("id") < 5, col("id"))
            .otherwise(raise_error(concat(lit("boom "),
              col("id").cast("string")))).as("x")))
      }
    }
    assert(!stagedDir(key).exists(), "failed pair build left a reader-visible dir")
    val (a, b) = operators.Staged.parquetPair(spark, key, "a", "b") {
      (spark.range(3).toDF("x"), spark.range(5).toDF("x"))
    }
    assert(a.count() == 3 && b.count() == 5)
    assert(Seq("a", "b").forall(t => new java.io.File(stagedDir(key), s"$t/_SUCCESS").exists()))
  }

  test("Staged pair: a half-pair left on disk is rebuilt as a matched pair") {
    // `$key/a` complete, `$key/b` absent: what a crash between two
    // per-table renames used to leave behind
    val key = s"spec_pair/${java.util.UUID.randomUUID()}"
    spark.range(99).toDF("x").write.parquet(s"${stagedDir(key)}/a")
    var builds = 0
    val (a, b) = operators.Staged.parquetPair(spark, key, "a", "b") {
      builds += 1
      (spark.range(3).toDF("x"), spark.range(5).toDF("x"))
    }
    assert(builds == 1, "a half-pair must rebuild")
    assert(a.count() == 3 && b.count() == 5, "the stale half survived the rebuild")
  }

  test("Staged: a pair and a single table in the on-disk layout are hits") {
    val key = s"spec_layout/${java.util.UUID.randomUUID()}"
    spark.range(3).toDF("x").write.parquet(s"${stagedDir(key)}/pair/a")
    spark.range(5).toDF("x").write.parquet(s"${stagedDir(key)}/pair/b")
    spark.range(7).toDF("x").write.parquet(s"${stagedDir(key)}/single")
    val (a, b) = operators.Staged.parquetPair(spark, s"$key/pair", "a", "b") {
      fail("pair build ran on a complete stage")
    }
    val single = operators.Staged.parquet(spark, s"$key/single") {
      fail("build ran on a complete stage")
    }
    assert(a.count() == 3 && b.count() == 5 && single.count() == 7)
  }
}
