package graft.operators

import graft.{Exprs, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stratified corpus sampling — the corpus-mixing primitive of
  * a training-data pipeline (BASELINE.json extension surface): per-stratum
  * keep-rates (by language here; any column works) applied via a salted
  * content-hash threshold instead of an RNG.
  *
  * Why hash-threshold and not `df.sample()`: reproducibility. `sample()`
  * draws from per-partition RNG streams, so the selected set changes with
  * partitioning, cluster size, and row order; a training corpus must be
  * re-derivable bit-for-bit from (corpus, seed, rates) alone. Here each doc
  * gets a uniform draw u = first-8-hex-digits of md5(seed ‖ doc_id) ∈
  * [0, 2³²) and survives iff u < rate·2³² — a pure per-row map: no
  * shuffle, no state, same result on 1 core or 1000 executors, and the
  * DuckDB oracle replays it exactly. Changing the seed re-rolls the sample;
  * raising a rate strictly grows the kept set (nested samples — useful for
  * scaling-law corpus ladders).
  */
object Sampling {

  /** Per-language keep-rates; languages outside the map fall back to
    * `defaultRate` (the long-tail bucket of a corpus mix). */
  val rates: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.75)
  val defaultRate = 0.1

  private def draw(seed: String): Column =
    Exprs.md5num(concat(lit(seed), lit("_"),
      col("doc_id").cast("string"))).cast("double")

  def corpusSample(spark: SparkSession, sfDir: String,
    seed: String = "g1"): DataFrame = {
    val rate = coalesce(element_at(typedlit(rates), col("lang")),
      lit(defaultRate))
    Tables.documents(spark, sfDir)
      .filter(draw(seed) < rate * lit(4294967296.0))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val corpusSampleSql: String =
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE CAST(('0x' || substr(md5('g1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'es' THEN 0.25
      |              WHEN 'fr' THEN 0.75 ELSE 0.1 END * 4294967296.0
      |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test assignment (80/10/10) — the same
    * hash-threshold draw as [[corpusSample]] under a different salt, so the
    * split is (a) reproducible bit-for-bit from doc_id alone, (b)
    * independent of the sampling decision (different salt ⇒ independent
    * draws), and (c) stable under corpus growth — adding documents never
    * reassigns an existing one, unlike any rank- or partition-based split.
    * Pure per-row map: no shuffle, no state, identical on 1 or 1000
    * executors. Eval-set leakage control composes downstream:
    * [[graft.operators.Dedup.contaminationCheck]] runs val/test against
    * train exactly like an external benchmark. */
  def stratifiedSplit(spark: SparkSession, sfDir: String,
    seed: String = "split1"): DataFrame = {
    val u = draw(seed) / lit(4294967296.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  val stratifiedSplitSql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('split1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      / 4294967296.0 AS u
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Per-source document quota — domain balancing (cap any one
    * source/domain's share of the corpus, C4-style): within each source,
    * rank documents by the same deterministic hash draw (salted, so quota
    * survival is independent of the sample/split draws) and keep the first
    * `quota`. Rank-by-hash rather than rank-by-id keeps the kept set an
    * unbiased sample of the source; the (draw, doc_id) tiebreak makes it
    * total. One shuffle (the per-source window). A source that outgrows a
    * partition at 100 TB goes two-stage like every top-k here
    * ([[Similarity.annTopkAgg]]): rank within (source, shard) and keep ≤
    * quota per shard — sound because a doc's shard rank lower-bounds its
    * global rank, so nothing kept globally is dropped — then re-rank the
    * ≤ shards×quota survivors in one tiny pass. */
  def sourceQuota(spark: SparkSession, sfDir: String,
    quota: Int = 15, seed: String = "quota1"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("u"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), draw(seed).as("u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= quota)
      .select(col("doc_id"), col("source"), col("rank"))
      .orderBy("doc_id")
  }

  val sourceQuotaSql: String =
    """SELECT doc_id, source, rank FROM (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY
      |      CAST(('0x' || substr(md5('quota1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |      doc_id) AS BIGINT) AS rank
      |  FROM documents)
      |WHERE rank <= 15 ORDER BY doc_id""".stripMargin

  /** Temperature-reweighted corpus mixing — the multilingual-corpus
    * balancing rule (sampling share ∝ nₛ^α, α < 1, as in multilingual
    * BERT/XLM-R and most LLM data mixes): big strata are down-weighted,
    * small ones up-weighted, with α = 0.5 here. Each stratum (language)
    * gets keep-rate rₛ = min(1, wₛ·T/nₛ) where wₛ = √nₛ / Σ√nₛ and T is
    * the target corpus size; documents survive by the same deterministic
    * salted-hash draw as [[corpusSample]] — reproducible bit-for-bit,
    * shuffle-free on the corpus side (the per-stratum rates broadcast).
    *
    * Determinism across engines: α is FIXED at 1/2 because `sqrt` is
    * IEEE-754 correctly rounded in both JVMs and DuckDB, while `pow(x,
    * 0.7)` is libm — last-ulp divergent. Each √nₛ is grid-rounded to a
    * LONG (1e-6) so the Σ over strata is exact integer addition
    * (order-free); every remaining double op (two divisions, one
    * multiply, the 2³² threshold floor) runs on identical operands in a
    * pinned evaluation order on both sides. */
  def mixTemperature(spark: SparkSession, sfDir: String,
    targetFrac: Double = 0.5, seed: String = "mix1"): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_s"))
      .withColumn("sq_grid", floor(sqrt(col("n_s")) * lit(1e6) + lit(0.5d)).cast("long"))
    val tot = counts.agg(sum("sq_grid").as("s_grid"), sum("n_s").as("n_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("lang"),
        floor(least(lit(1.0d),
          col("sq_grid").cast("double") / col("s_grid")
            * floor(col("n_total") * lit(targetFrac)) / col("n_s"))
          * lit(4294967296.0)).cast("long").as("thresh"))
    d.join(broadcast(rates), "lang")
      .filter(draw(seed) < col("thresh"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Split decontamination — the leakage gate a training pipeline runs AFTER
    * [[stratifiedSplit]]: a train document sharing any 3-word shingle with
    * the held-out (val/test) side is flagged, because evaluating on text the
    * model saw verbatim in training overstates quality. Composes the split's
    * deterministic hash-draw with [[Dedup.contaminationCheck]]'s shingle
    * containment — but BETWEEN the two sides of one corpus rather than
    * against an external benchmark, so the whole check is derivable from
    * (corpus, seed) alone.
    *
    * Scale shape: shingles cross the join as 32-bit [[Exprs.md5num]] hashes,
    * never strings, and only the EVAL side is collected into the build
    * relation — a held-out set is benchmark-sized by design (per-mille of
    * the corpus), so it broadcasts; if an unusually fat eval split outgrows
    * the threshold the equi-join on `h` degrades to a hash shuffle of
    * 8-byte keys, never a corpus self-join. Hash collisions only ever FLAG
    * extra train docs (conservative for a decontamination gate); widening
    * the hash to two md5 words removes even that at the same plan shape. */
  def splitDecontaminate(spark: SparkSession, sfDir: String,
    seed: String = "split1"): DataFrame = {
    val u = draw(seed) / lit(4294967296.0)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(Dedup.shinglesExpr)))
      .withColumn("split",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
    val evalHashes = docs.filter(col("split") =!= "train")
      .select(explode(col("shingles")).as("s"))
      .select(Exprs.md5num(col("s")).as("h")).distinct()
      .withColumn("hit", lit(1L))
    // every doc has ≥1 shingle, so the explode→group round-trip keeps all
    // train docs (zero-hit docs keep their group via the LEFT join)
    docs.filter(col("split") === "train")
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), Exprs.md5num(col("s")).as("h"))
      .join(broadcast(evalHashes), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_eval_shared"))
      .withColumn("kept", col("n_eval_shared") === 0)
      .orderBy("doc_id")
  }

  val splitDecontaminateSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words,
      |    CAST(('0x' || substr(md5('split1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      / 4294967296.0 AS u
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, u, list_distinct(list_transform(
      |    generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS shingles
      |  FROM w),
      |ev AS (SELECT DISTINCT CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
      |       FROM (SELECT unnest(shingles) AS s FROM sh WHERE u >= 0.8)),
      |tr AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h
      |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE u < 0.8)),
      |hits AS (SELECT doc_id, count(*) AS n_eval_shared
      |         FROM tr JOIN ev USING (h) GROUP BY 1)
      |SELECT s.doc_id, coalesce(h.n_eval_shared, 0) AS n_eval_shared,
      |  coalesce(h.n_eval_shared, 0) = 0 AS kept
      |FROM (SELECT doc_id FROM sh WHERE u < 0.8) s
      |LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic global shuffle + sharding — the training-export step
    * that turns a curated corpus into N shard files in pseudorandom order
    * (sequential readers then see an i.i.d.-looking stream; any residual
    * corpus ordering — by source, by crawl date — would otherwise become
    * curriculum bias). The permutation is the same salted hash-draw as
    * [[corpusSample]], NOT an RNG: shard and position are re-derivable
    * bit-for-bit from (doc_id, seed) on any cluster shape.
    *
    * Scale shape: shard assignment is a pure per-row map; the within-shard
    * position is one row_number window partitioned BY SHARD, so the window
    * partitioning IS the output file partitioning (`partitionBy(shard)`
    * write) — one shuffle total, and shard count scales with the corpus
    * (fixed target rows/shard), bounding every window partition. */
  def globalShuffle(spark: SparkSession, sfDir: String,
    nShards: Int = 8, seed: String = "shuf1"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("u"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), Exprs.md5num(concat(lit(seed), lit("_"),
        col("doc_id").cast("string"))).as("u"))
      .withColumn("shard", pmod(col("u"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  val globalShuffleSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('shuf1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
      |  FROM documents)
      |SELECT doc_id, u % 8 AS shard,
      |  CAST(row_number() OVER (PARTITION BY u % 8 ORDER BY u, doc_id) AS BIGINT) AS pos
      |FROM d ORDER BY doc_id""".stripMargin

  /** Shard manifest — the per-shard accounting a training job reads
    * INSTEAD of scanning the shards: docs and character volume per
    * (shard, language) under [[globalShuffle]]'s deterministic assignment.
    * Doubles as the shard-balance / mixture audit: a healthy hash
    * permutation gives near-equal shard sizes and per-shard language
    * mixes that mirror the corpus (uniformity is what makes sequential
    * shard reads i.i.d.-like). One map-side-combined aggregate — the
    * manifest is shards×languages rows from any corpus size. */
  def shardManifest(spark: SparkSession, sfDir: String,
    nShards: Int = 8, seed: String = "shuf1"): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        pmod(Exprs.md5num(concat(lit(seed), lit("_"),
          col("doc_id").cast("string"))), lit(nShards.toLong)).as("shard"))
      .groupBy("shard", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("shard", "lang")

  val shardManifestSql: String =
    """SELECT
      |  CAST(('0x' || substr(md5('shuf1_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |    % 8 AS shard,
      |  lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents
      |GROUP BY 1, 2 ORDER BY shard, lang""".stripMargin

  /** Weighted sampling WITHOUT replacement, k = `topK` — deterministic and
    * integer-only. Each document gets `w` independent hash draws (its
    * integer weight, here a per-language priority; a quality tier works the
    * same) and keeps the MINIMUM as its sampling key; the global bottom-k
    * of those keys is exactly successive weighted sampling without
    * replacement, P(next pick = d) = w_d / Σ_remaining w (the min of w iid
    * uniforms is the one-shot form of Efraimidis–Espirakis's u^(1/w) keys —
    * but needs no `pow`/`ln`, so there is no libm last-ulp divergence
    * between engines and the DuckDB oracle replays it bit-for-bit).
    *
    * Scale: the explode factor is the bounded integer weight (≤ 4 here) —
    * a narrow map; the per-doc min is map-side combined; the bottom-k is
    * `TakeOrderedAndProject` (per-partition top-k, then a k-row driver
    * merge), never a global sort. Same result on 1 core or 1000 executors. */
  def weightedSample(spark: SparkSession, sfDir: String,
    topK: Int = 200, seed: String = "ws1"): DataFrame = {
    val weights = Map("en" -> 4, "de" -> 3, "es" -> 2, "fr" -> 2)
    val w = coalesce(element_at(typedlit(weights), col("lang")), lit(1))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), w.as("w"))
      .withColumn("j", explode(sequence(lit(1), col("w"))))
      .withColumn("key", Exprs.md5num(concat(lit(seed), lit("_"),
        col("doc_id").cast("string"), lit("_"), col("j").cast("string"))))
      .groupBy("doc_id", "lang", "w")
      .agg(min(col("key")).as("k"))
      .orderBy(col("k"), col("doc_id"))
      .limit(topK)
  }

  def weightedSampleSql(topK: Int = 200, seed: String = "ws1"): String =
    s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 3 WHEN 'es' THEN 2
      |              WHEN 'fr' THEN 2 ELSE 1 END AS w
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, w,
      |    min(CAST(('0x' || substr(md5('${seed}_' || CAST(doc_id AS VARCHAR)
      |      || '_' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)) AS k
      |  FROM d, LATERAL (SELECT unnest(generate_series(1, w)) AS j)
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id, lang, w, k FROM c
      |ORDER BY k, doc_id LIMIT $topK""".stripMargin

  val mixTemperatureSql: String =
    """WITH c AS (
      |  SELECT lang, count(*) AS n_s,
      |    CAST(floor(sqrt(count(*)) * 1000000 + 0.5) AS BIGINT) AS sq_grid
      |  FROM documents GROUP BY 1),
      |t AS (SELECT SUM(sq_grid) AS s_grid, SUM(n_s) AS n_total FROM c),
      |r AS (
      |  SELECT lang,
      |    CAST(floor(least(1.0,
      |      CAST(sq_grid AS DOUBLE) / s_grid
      |        * floor(n_total * 0.5) / n_s) * 4294967296.0) AS BIGINT) AS thresh
      |  FROM c, t)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r USING (lang)
      |WHERE CAST(('0x' || substr(md5('mix1_' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |  < r.thresh
      |ORDER BY d.doc_id""".stripMargin

  /** DoReMi-style TRAINED domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining") — the
    * learned upgrade of [[mixTemperature]]'s static nₛ^α rule: domain
    * weights are OPTIMIZED by multiplicative-weights ascent toward the
    * domains with the highest excess loss, which is how production mixes
    * (The Pile replication in the paper) are actually tuned. One model
    * snapshot stands in for the proxy run: each domain's loss is its
    * per-token cross-entropy under the corpus unigram LM with add-one
    * smoothing, and K rounds of w_d ← normalize(w_d · ê(η·(L_d − Σ w·L)))
    * with uniform smoothing ε follow the paper's Group-DRO update (the
    * excess-loss reference is the current weighted mean, so the dynamics
    * genuinely depend on w and the K rounds do not collapse into one).
    *
    * Cross-engine determinism (the [[graft.operators.CorpusOps]]
    * `lr_quality` trainer contract): each vocabulary term is ONE ln over
    * an exact integer rational ln((N+V)/(c_t+1)) grid-rounded to a 1e-6
    * LONG at VOCAB grain; domain sums are exact integer arithmetic
    * (DECIMAL(38,0)/HUGEINT for the occurrence-weighted numerator, so the
    * sum stays exact past the 2⁶³ token-count scale); weights live on the
    * 1e-6 LONG grid between rounds; and the only transcendental inside
    * the loop is ê(u) = (1 + u/1024)¹⁰²⁴ as ten MATERIALIZED squarings —
    * libm-free, elementary IEEE ops on identical operands in pinned
    * order, so the oracle's unrolled-CTE replay is bit-exact.
    *
    * Scale: the corpus is touched by ONE token explode feeding two hash
    * aggregates (map-side combined); the (domain, token) table joins the
    * vocab-grain term table shuffle-hash (occurrences never carry text);
    * everything after `dom` is k-row (k = #domains) — the training loop
    * is corpus-size-free, exactly like the paper's 30-domain setup. */
  /** The corpus-grain half of [[domainMix]]: per-domain token volume and
    * 1e-6-grid unigram cross-entropy. Split out so the plan audit can see
    * the pre-checkpoint corpus plan (the trainer cuts lineage). */
  private[graft] def domainLoss(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("source"),
      explode(split(col("text"), " ")).as("token"))
    val cdt = toks.groupBy("source", "token").agg(count(lit(1)).as("c"))
    val ct = cdt.groupBy("token").agg(sum("c").as("ct"))
    val tot = ct.agg(sum("ct").as("n"), count(lit(1)).as("v"))
    val lt = ct.crossJoin(broadcast(tot))
      .select(col("token"),
        floor(log((col("n") + col("v")).cast("double")
            / (col("ct") + lit(1L)).cast("double"))
          * lit(1e6) + lit(0.5d)).cast("long").as("lt"))
    val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    cdt.join(lt.hint("shuffle_hash"), "token")
      .groupBy("source")
      .agg(sum(col("c").cast("decimal(38,0)") * col("lt")).as("num"),
        sum("c").as("n_tokens"))
      .join(broadcast(nd), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(col("num").cast("double") / col("n_tokens").cast("double")
          + lit(0.5d)).cast("long").as("ld"))
  }

  def domainMix(spark: SparkSession, sfDir: String,
    rounds: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dom = domainLoss(spark, sfDir)
    // k rows from here down — the corpus pipeline materializes ONCE
    // (round 0's checkpoint; without it every round's two scalar aggregates
    // re-ran the whole corpus chain — measured 48 s), and each ROUND
    // checkpoints too (graft.Hygiene.rounds): round t's plan contains round
    // t−1 twice (main branch + the excess-loss reference aggregate), so an
    // uncut lineage doubles per round and re-executes every inner broadcast
    // job (measured ~6 s of pure k-row plan churn). Round 1's weight rides
    // along as column w1 for the output's weight_r1.
    val last = graft.Hygiene.rounds(dom.withColumn("w", lit(50000L))
        .withColumn("w1", lit(null).cast("long")), rounds) { cur =>
      val r = cur.agg(sum(col("w") * col("ld")).as("r"))
      val u = least(greatest(lit(0.5) * ((col("ld").cast("double")
          - col("r").cast("double") / lit(1000000.0)) / lit(1000000.0)),
        lit(-8.0)), lit(8.0))
      var e = cur.crossJoin(broadcast(r))
        .withColumn("_t", lit(1.0) + u / lit(1024.0))
      for (_ <- 1 to 10) e = e.withColumn("_t", col("_t") * col("_t"))
      val bw = e
        .withColumn("bw", floor(col("w").cast("double") * col("_t")
          * lit(1000.0) + lit(0.5d)).cast("long"))
        .drop("_t", "w", "r")
      val s = bw.agg(sum("bw").as("s"))
      bw.crossJoin(broadcast(s))
        .withColumn("w", floor(col("bw").cast("double")
            / col("s").cast("double") * lit(990000.0) + lit(500.0)
          + lit(0.5d)).cast("long"))
        .drop("bw", "s")
        .withColumn("w1", coalesce(col("w1"), col("w")))
    }
    val totDocs = docs.agg(count(lit(1)).as("tot_docs"))
    last.crossJoin(broadcast(totDocs))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Exprs.r4(col("ld").cast("double") / lit(1e6)).as("ce"),
        Exprs.r4(col("w1").cast("double") / lit(1e6)).as("weight_r1"),
        Exprs.r4(col("w").cast("double") / lit(1e6)).as("weight"),
        expr("(tot_docs * w) div 1000000").as("planned_docs"))
      .orderBy("source")
  }

  /** The K Group-DRO rounds unrolled as a CTE chain (the `lr_quality`
    * oracle pattern; each ê squaring is its OWN CTE because DuckDB
    * lateral aliases expand by substitution). Requires rounds ≥ 2. */
  /** corpus_remix — APPLY the DoReMi-trained domain weights: emit the
    * resampled corpus [[domainMix]] only plans. Each domain's
    * `planned_docs` budget is realized EXACTLY by the deterministic
    * hash-draw rank ([[sourceQuota]]'s rule — md5 draw, doc_id
    * tie-break): every doc gets `planned div n_docs` full repetitions
    * (epoch-style oversampling when a domain is upweighted past its
    * size) and the first `planned mod n_docs` ranked docs get one more;
    * docs beyond an undersampled domain's budget drop out (n_rep = 0).
    * Σ n_rep per domain == planned_docs by construction — the spec and
    * oracle pin it.
    *
    * Scale: one corpus scan; the rank window shuffles only slim
    * (doc_id, source, u) rows — text never moves — and the k-row plan
    * table broadcasts. Output is the manifest (doc_id, rank, n_rep), the
    * [[shardManifest]] shape a 100 TB remix materializes from. */
  def corpusRemix(spark: SparkSession, sfDir: String,
      seed: String = "remix1"): DataFrame = {
    val mixPlan = domainMix(spark, sfDir)
      .select(col("source"), col("planned_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("u"), col("doc_id"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), draw(seed).as("u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(cw))
      .join(broadcast(mixPlan), "source")
      .withColumn("n_rep", expr("planned_docs div n_docs") +
        when(col("rank") <= pmod(col("planned_docs"), col("n_docs")), lit(1L))
          .otherwise(lit(0L)))
      .filter(col("n_rep") > 0)
      .select(col("doc_id"), col("source"), col("rank"), col("n_rep"))
      .orderBy("doc_id")
  }

  def corpusRemixSql(seed: String = "remix1"): String =
    s"""WITH mix AS (
       |${domainMixSql()}
       |),
       |ranked AS (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY
       |      CAST(('0x' || substr(md5('${seed}_' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
       |      doc_id) AS BIGINT) AS rank,
       |    count(*) OVER (PARTITION BY source) AS n_docs
       |  FROM documents),
       |rep AS (
       |  SELECT r.doc_id, r.source, r.rank,
       |    CAST(m.planned_docs // r.n_docs
       |      + CASE WHEN r.rank <= m.planned_docs % r.n_docs
       |             THEN 1 ELSE 0 END AS BIGINT) AS n_rep
       |  FROM ranked r JOIN mix m USING (source))
       |SELECT doc_id, source, rank, n_rep FROM rep
       |WHERE n_rep > 0 ORDER BY doc_id""".stripMargin

  def domainMixSql(rounds: Int = 4): String = {
    def expChain(t: Int): String = {
      val t0 = s"e${t}0 AS (SELECT source, ld, w, 1.0 + u / 1024.0 AS t FROM u$t)"
      val sq = (1 to 10).map(i =>
        s"e$t$i AS (SELECT source, ld, w, t * t AS t FROM e$t${i - 1})")
      (t0 +: sq).mkString(",\n")
    }
    val roundsSql = (1 to rounds).map { t =>
      s"""r$t AS (SELECT SUM(w * ld) AS r FROM w${t - 1}),
         |u$t AS (SELECT source, ld, w,
         |  least(greatest(0.5 * ((CAST(ld AS DOUBLE)
         |      - CAST((SELECT r FROM r$t) AS DOUBLE) / 1000000.0) / 1000000.0),
         |    -8.0), 8.0) AS u
         |  FROM w${t - 1}),
         |${expChain(t)},
         |b$t AS (SELECT source, ld,
         |  CAST(floor(CAST(w AS DOUBLE) * t * 1000.0 + 0.5) AS BIGINT) AS bw
         |  FROM e${t}10),
         |s$t AS (SELECT SUM(bw) AS s FROM b$t),
         |w$t AS (SELECT source, ld,
         |  CAST(floor(CAST(bw AS DOUBLE) / CAST((SELECT s FROM s$t) AS DOUBLE)
         |    * 990000.0 + 500.0 + 0.5) AS BIGINT) AS w
         |  FROM b$t)""".stripMargin
    }.map(_ + ",").mkString("\n")
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
       |cdt AS (SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2),
       |ct AS (SELECT token, CAST(SUM(c) AS BIGINT) AS ct FROM cdt GROUP BY 1),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n, count(*) AS v FROM ct),
       |lt AS (SELECT token,
       |  CAST(floor(ln(CAST((SELECT n FROM tot) + (SELECT v FROM tot) AS DOUBLE)
       |    / CAST(ct + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lt
       |  FROM ct),
       |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |dom AS (SELECT c.source, SUM(CAST(c.c AS HUGEINT) * l.lt) AS num,
       |  CAST(SUM(c.c) AS BIGINT) AS n_tokens
       |  FROM cdt c JOIN lt l USING (token) GROUP BY 1),
       |w0 AS (SELECT d.source, n.n_docs, d.n_tokens,
       |  CAST(floor(CAST(d.num AS DOUBLE) / CAST(d.n_tokens AS DOUBLE) + 0.5) AS BIGINT) AS ld,
       |  CAST(50000 AS BIGINT) AS w
       |  FROM dom d JOIN nd n USING (source)),
       |$roundsSql
       |td AS (SELECT count(*) AS tot_docs FROM documents)
       |SELECT w0.source, w0.n_docs, w0.n_tokens,
       |  floor(CAST(w0.ld AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS ce,
       |  floor(CAST(w1.w AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS weight_r1,
       |  floor(CAST(w$rounds.w AS DOUBLE) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS weight,
       |  ((SELECT tot_docs FROM td) * w$rounds.w) // 1000000 AS planned_docs
       |FROM w0 JOIN w1 USING (source) JOIN w$rounds USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Curriculum manifest — the pacing schedule between scoring and
    * training (Bengio et al. 2009's curriculum learning, as production
    * pipelines run it: order the corpus easy→hard across epochs, shuffle
    * WITHIN the admitted pool). Difficulty is the [[TextOps.docLmScore]]
    * bigram-LM predictability (the CCNet signal [[TextOps.pplBuckets]]
    * buckets by): global terciles cut the corpus into easy (most
    * predictable, bucket 1) / medium (2) / hard (3); unscored docs
    * (< 2 tokens) count as easy. Epoch e admits buckets ≤ e — epoch 1
    * trains on easy only, epoch 3 sees everything — and each epoch gets
    * its OWN deterministic [[globalShuffle]] (seed `ep<e>`), because a
    * curriculum that replays one fixed order every epoch overfits
    * sequence position.
    *
    * Scale shape: one score pass (the shared bigram machinery), one
    * 2-pass exact tercile cut broadcast as a 1-row frame, then 3 gated
    * projections unioned — each a pure per-row map until the per-(epoch,
    * shard) rank, which is [[globalShuffle]]'s accepted window shape
    * (nShards scales with the corpus; a shard's rows sort in one task).
    * Emits (epoch, doc_id, bucket, shard, pos) — the manifest a trainer
    * consumes shard-sequentially per epoch. */
  def curriculumOrder(spark: SparkSession, sfDir: String,
      nShards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("epoch", "shard").orderBy(col("u"), col("doc_id"))
    val scores = TextOps.docLmScore(spark, sfDir)
      .select(col("doc_id"), col("lm_score"))
    // the "group" is the whole corpus — but a LITERAL group key would
    // constant-fold out of the quantile machinery's equi-joins and
    // degenerate them to cartesians; pmod(doc_id, 1) is 0 on every row
    // yet stays an attribute, keeping every join keyed
    val cuts = Sketches.groupQuantilesOf(
        scores.withColumn("g", pmod(col("doc_id"), lit(1L))), "g", "lm_score",
        Seq(1.0 / 3, 2.0 / 3))
      .groupBy("g")
      .agg(min(when(col("q") < 0.5, col("value"))).as("c33"),
        min(when(col("q") > 0.5, col("value"))).as("c67"))
      .select("c33", "c67")
    val bucketed = scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        when(col("lm_score").isNull, lit(1L))
          .when(col("lm_score") >= col("c67"), lit(1L))
          .when(col("lm_score") >= col("c33"), lit(2L))
          .otherwise(lit(3L)).as("bucket"))
    (1 to 3).map { e =>
      bucketed.filter(col("bucket") <= e)
        .select(lit(e.toLong).as("epoch"), col("doc_id"), col("bucket"),
          Exprs.md5num(concat(lit(s"ep${e}_"),
            col("doc_id").cast("string"))).as("u"))
    }.reduce(_ unionByName _)
      .withColumn("shard", pmod(col("u"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("doc_id"), col("bucket"),
        col("shard"), col("pos"))
      .orderBy("epoch", "doc_id")
  }

  /** Oracle: the docLmScore CTE chain, global quantile_disc tercile cuts
    * (the [[Sketches.groupQuantilesOf]] contract), the bucket CASE, an
    * epoch series cross join gated on bucket ≤ epoch, and the per-(epoch,
    * shard) rank over (u, doc_id). */
  def curriculumOrderSql(nShards: Int = 8): String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i + 1])) AS bg
      |  FROM w WHERE len(ws) >= 2),
      |c AS (SELECT bg, count(*) AS n12 FROM b GROUP BY 1),
      |pr AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(n12) AS n1
      |       FROM c GROUP BY 1),
      |lm AS (
      |  SELECT CAST(('0x' || substr(md5(c.bg), 1, 8)) AS BIGINT) AS h,
      |    CAST(floor(CAST(c.n12 AS DOUBLE) / pr.n1 * 1000000 + 0.5) AS BIGINT)
      |      AS p_grid
      |  FROM c JOIN pr ON string_split(c.bg, ' ')[1] = pr.w1),
      |db AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(bg), 1, 8)) AS BIGINT) AS h FROM b),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_bigrams, SUM(p_grid) AS s
      |  FROM db JOIN lm USING (h) GROUP BY 1),
      |scores AS (
      |  SELECT d.doc_id,
      |    floor(CAST(sc.s AS DOUBLE) / sc.n_bigrams / 1000000 * 10000 + 0.5)
      |      / 10000 AS lm_score
      |  FROM documents d LEFT JOIN sc USING (doc_id)),
      |cuts AS (
      |  SELECT quantile_disc(lm_score, 0.3333333333333333) AS c33,
      |    quantile_disc(lm_score, 0.6666666666666666) AS c67
      |  FROM scores WHERE lm_score IS NOT NULL),
      |bk AS (
      |  SELECT s.doc_id,
      |    CASE WHEN s.lm_score IS NULL THEN 1
      |         WHEN s.lm_score >= c.c67 THEN 1
      |         WHEN s.lm_score >= c.c33 THEN 2
      |         ELSE 3 END AS bucket
      |  FROM scores s CROSS JOIN cuts c),
      |ep AS (
      |  SELECT e.epoch, bk.doc_id, CAST(bk.bucket AS BIGINT) AS bucket,
      |    CAST(('0x' || substr(md5('ep' || e.epoch || '_'
      |      || CAST(bk.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
      |  FROM bk JOIN (SELECT unnest(generate_series(1, 3)) AS epoch) e
      |    ON bk.bucket <= e.epoch)
      |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, bucket,
      |  u % $nShards AS shard,
      |  CAST(row_number() OVER (PARTITION BY epoch, u % $nShards
      |    ORDER BY u, doc_id) AS BIGINT) AS pos
      |FROM ep ORDER BY epoch, doc_id""".stripMargin
}
