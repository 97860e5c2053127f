package graft.operators

import graft.{Exprs, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup (BASELINE.json
  * extension surface).
  *
  * Scale notes — these are the operators where naive designs die at 100 TB:
  *  - exact dedupe is a hash aggregate on `md5(text)` — one shuffle of
  *    (hash, id), never of the text payload.
  *  - MinHash candidates come from an equi-join on LSH band signatures —
  *    cost ∝ Σ bucket², never the all-pairs O(n²) cross join.
  *  - Jaccard verification runs ONLY on LSH candidates (the classic
  *    generate-then-verify shape).
  *  - the embedding near-dup self-join is blocked on the cluster label
  *    (IVF-style coarse quantization) so each partition compares ~n/k rows.
  *  - all hashes are md5-derived integer arithmetic — portable, so the
  *    DuckDB oracle replays bit-identical signatures.
  */
object Dedup {

  /** Exact dedupe: group by content hash, keep the lowest id as canonical. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("h", md5(col("text")))
      .groupBy("h")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "h", "n_copies")
      .orderBy("canonical_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS canonical_id, md5(text) AS h, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin

  /** 3-word shingles of the text (whole text if shorter than 3 words). */
  /** 3-gram shingles over a materialized `words` column, via the native
    * [[graft.plans.AdjacentGrams]] kernel (identical clamped-trailing-gram
    * semantics to the `transform(sequence, slice)` HOF it replaced — every
    * oracle unchanged; the HOF form ran interpreted with per-position
    * element_at dereferences). */
  private[operators] val shinglesExpr = "adjacent_grams(words, 3)"

  /** 16 minhash signatures, computed relationally: shingles exploded to
    * rows, ONE md5 per shingle row, then all 16 affine hashes
    * h_k(s) = (a_k·m(s) + b_k) mod 2^31-1 (a_k = 12582917k+1,
    * b_k = 4256249k) as map-side-combinable `min` aggregates in a single
    * groupBy. A nested-lambda formulation (transform over k × transform
    * over shingles) recomputes the md5 16× per shingle after Catalyst
    * inlines the hash array into the lambda — measured 20× slower. One
    * shuffle of (doc_id, 16 longs); at 100 TB this is the standard
    * distributed minhash shape. */
  private def minhashSignatures(docs: DataFrame): DataFrame = {
    val shingleRows = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), Exprs.md5num(col("s")).as("h"))
    val minAggs = (0 until 16).map { k =>
      min(pmod(col("h") * lit(12582917L * k + 1) + lit(4256249L * k),
        lit(2147483647L))).as(s"mh$k")
    }
    shingleRows.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(k => col(s"mh$k")): _*).as("mh"))
  }

  /** 4 LSH bands of 4 minhash rows each, md5-compressed to a band signature. */
  private val bandsExpr =
    """transform(sequence(0, 3), j -> md5(concat_ws(',',
      |  transform(slice(mh, j * 4 + 1, 4), x -> cast(x as string)))))""".stripMargin

  /** MinHash + LSH banding → candidate near-dup pairs. The join key is
    * (band index, band signature): only documents colliding in some band are
    * ever paired. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = minhashSignatures(Tables.documents(spark, sfDir))
      .select(col("doc_id"), posexplode(expr(bandsExpr)).as(Seq("band", "sig")))
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  private val minhashOracleCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |         i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles FROM w),
      |sg AS (SELECT doc_id, list_transform(generate_series(0, 15),
      |         k -> list_min(list_transform(shingles,
      |           s -> (CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)
      |                 * (12582917 * k + 1) + 4256249 * k) % 2147483647))) AS mh FROM sh),
      |bands AS (SELECT doc_id, j.j AS band,
      |            md5(array_to_string(list_transform(list_slice(mh, j.j * 4 + 1, j.j * 4 + 4),
      |              x -> CAST(x AS VARCHAR)), ',')) AS sig
      |          FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j)""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH $minhashOracleCte
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact n-gram Jaccard verification over the MinHash candidate pairs
    * (generate-then-verify): J = |A∩B| / |A∪B| on distinct-shingle sets. */
  def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(shinglesExpr))
      .select(col("doc_id"), array_distinct(col("shingles")).as("sset"))
    val jac = Exprs.r4(
      size(array_intersect(col("a.sset"), col("b.sset"))).cast("double")
        / size(array_union(col("a.sset"), col("b.sset"))))
    dedupMinhash(spark, sfDir)
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** Text-dedup quality evaluation — verify-the-verifier for the MinHash
    * LSH family ([[graft.operators.Multimodal.imageDedupEval]]'s shape on
    * the text modality): precision/recall of the banded-candidate →
    * exact-Jaccard pipeline against a planted-family fixture whose ground
    * truth is analytic. The dashboard row a production curation run keeps
    * next to its dedup stage — the text dedupers are what a 100 TB run
    * leans on hardest, so their measured recall (the band OR-ing
    * probability at the family's true Jaccard) belongs on a report, not
    * in a comment.
    *
    * Fixture (the media-fixture discipline, text-shaped): fam = doc_id/4,
    * v = doc_id%4; each doc is 24 words `t<fam>_<(7i+13·fam) mod 31>`
    * (distinct within a doc: 7 ⊥ 31, 24 < 31), variants v > 0 replace the
    * single word at position 5+v with `x<fam>_<v>`. The fam embedded in
    * every token makes cross-family shingle sets DISJOINT — so every
    * false positive is a real md5/band accident (none at these sizes) and
    * precision checks the verifier itself. Intra-family true Jaccard is
    * analytic: ≤ 2 differing positions touch ≤ 5 of 22 shingle windows →
    * J ≥ 17/27 ≈ 0.63 ≥ the 0.5 threshold, so TRUE pairs = Σ C(k,2) over
    * families and recall measures exactly the LSH banding loss (a pair at
    * J ≈ 0.7 collides in some band with probability ≈ 1−(1−J⁴)⁴ ≈ 0.8 —
    * the trade [[dedupMinhash]]'s band count sets; md5-deterministic, so
    * the oracle replays it bit-exactly).
    *
    * Scale: the same shapes as the pipeline under test — signature
    * groupBy, band equi-join, slim verify join; the metric aggregation
    * collapses the candidate set to ONE row before the single-row
    * broadcast truth attach. */
  def dedupMinhashEval(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val fam = expr("doc_id div 4")
    val v = col("doc_id") % 4
    val fixture = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      array_join(transform(sequence(lit(0), lit(23)), i =>
        when(v > 0 && i.cast("long") === lit(5L) + v,
          concat(lit("x"), fam.cast("string"), lit("_"), v.cast("string")))
          .otherwise(concat(lit("t"), fam.cast("string"), lit("_"),
            pmod(i.cast("long") * 7 + fam * 13, lit(31L)).cast("string")))),
        " ").as("text"))
    val bands = minhashSignatures(fixture)
      .select(col("doc_id"), posexplode(expr(bandsExpr)).as(Seq("band", "sig")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = fixture
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(shinglesExpr)).as("sset"))
    val jac = Exprs.r4(
      size(array_intersect(col("a.sset"), col("b.sset"))).cast("double")
        / size(array_union(col("a.sset"), col("b.sset"))))
    // one aggregate over the candidate rows: candidate count, verified
    // count, and verified-true count all collapse to a single row
    val found = cand
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (jac >= threshold).cast("long").as("ver"),
        (jac >= threshold &&
          expr("doc_a div 4") === expr("doc_b div 4")).cast("long").as("tp"))
      // coalesce: SUM over ZERO candidate rows is NULL, not 0, and the
      // n_found === 0 guard below never fires on NULL — the empty-corpus
      // dashboard row must carry the documented 0/10000 convention
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("ver")), lit(0L)).as("n_found"),
        coalesce(sum(col("tp")), lit(0L)).as("true_positives"))
    val truth = Tables.documents(spark, sfDir)
      .select(expr("doc_id div 4").as("fam"))
      .groupBy("fam").agg(count(lit(1)).as("k"))
      .agg(sum(expr("k * (k - 1) div 2")).as("n_true_pairs"))
    found.crossJoin(broadcast(truth))
      .select(col("n_true_pairs"), col("n_candidates"), col("n_found"),
        col("true_positives"),
        (col("n_found") - col("true_positives")).as("false_positives"),
        when(col("n_found") === 0, lit(10000L)).otherwise(
          floor(lit(10000.0) * col("true_positives") / col("n_found")))
          .cast("long").as("precision_e4"),
        when(col("n_true_pairs") === 0, lit(10000L)).otherwise(
          floor(lit(10000.0) * col("true_positives") / col("n_true_pairs")))
          .cast("long").as("recall_e4"))
  }

  /** The metric replayed over the SAME fixture → minhash → band →
    * Jaccard-verify pipeline plus the analytic truth count. */
  val dedupMinhashEvalSql: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id // 4 AS fam, doc_id % 4 AS v FROM documents),
      |w AS (
      |  SELECT doc_id, fam, list_transform(generate_series(0, 23), i ->
      |    CASE WHEN v > 0 AND i = 5 + v
      |      THEN 'x' || fam || '_' || v
      |      ELSE 't' || fam || '_' || ((i * 7 + fam * 13) % 31) END) AS words
      |  FROM d),
      |sh AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |         i -> array_to_string(list_slice(words, i, i + 2), ' ')) AS shingles FROM w),
      |sg AS (SELECT doc_id, list_transform(generate_series(0, 15),
      |         k -> list_min(list_transform(shingles,
      |           s -> (CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)
      |                 * (12582917 * k + 1) + 4256249 * k) % 2147483647))) AS mh FROM sh),
      |bands AS (SELECT doc_id, j.j AS band,
      |            md5(array_to_string(list_transform(list_slice(mh, j.j * 4 + 1, j.j * 4 + 4),
      |              x -> CAST(x AS VARCHAR)), ',')) AS sig
      |          FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) j),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
      |ver AS (
      |  SELECT doc_a, doc_b,
      |    CASE WHEN floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
      |      / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5)
      |      / 10000 >= 0.5 THEN 1 ELSE 0 END AS ver
      |  FROM cand JOIN sets sa ON doc_a = sa.doc_id
      |    JOIN sets sb ON doc_b = sb.doc_id),
      |found AS (
      |  SELECT COUNT(*) AS n_candidates,
      |    coalesce(SUM(ver), 0) AS n_found,
      |    coalesce(SUM(CASE WHEN ver = 1 AND doc_a // 4 = doc_b // 4
      |        THEN 1 ELSE 0 END), 0) AS true_positives
      |  FROM ver),
      |truth AS (
      |  SELECT SUM(k * (k - 1) // 2) AS n_true_pairs
      |  FROM (SELECT doc_id // 4 AS fam, COUNT(*) AS k
      |        FROM documents GROUP BY 1))
      |SELECT CAST(t.n_true_pairs AS BIGINT) AS n_true_pairs,
      |  CAST(f.n_candidates AS BIGINT) AS n_candidates,
      |  CAST(f.n_found AS BIGINT) AS n_found,
      |  CAST(f.true_positives AS BIGINT) AS true_positives,
      |  CAST(f.n_found - f.true_positives AS BIGINT) AS false_positives,
      |  CAST(CASE WHEN f.n_found = 0 THEN 10000
      |    ELSE floor(10000.0 * f.true_positives / f.n_found) END AS BIGINT)
      |    AS precision_e4,
      |  CAST(CASE WHEN t.n_true_pairs = 0 THEN 10000
      |    ELSE floor(10000.0 * f.true_positives / t.n_true_pairs) END
      |    AS BIGINT) AS recall_e4
      |FROM found f, truth t""".stripMargin

  /** Incremental ingestion dedup — a NEW batch checked against the existing
    * base corpus, NOT self-dedup: exact duplicates by content hash, then
    * near-duplicates by the same band-collision + true-Jaccard chain as
    * [[dedupMinhash]]/[[dedupJaccard]], but run ASYMMETRICALLY (batch probes
    * base). This is the shape a production pipeline runs on every ingest
    * increment — the base never self-joins, and at 100 TB the base's band
    * table and content-hash set are precomputed indexes the (small) batch
    * probes, so cost scales with the increment, not the corpus. Batch
    * membership is deterministic (doc_id ≡ 9 mod 10) so the fixture is
    * re-derivable. Output: one verdict per flagged new doc — 'exact' wins
    * over 'near'; the matched base doc is the smallest qualifying id
    * (first-match, SURVEY §2 G3). */
  def dedupIncremental(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isBatch = pmod(col("doc_id"), lit(10L)) === 9
    val exact = docs.filter(isBatch)
      .select(col("doc_id").as("new_id"), md5(col("text")).as("sig"))
      .join(docs.filter(!isBatch)
        .select(md5(col("text")).as("sig"), col("doc_id").as("base_id")), "sig")
      .groupBy("new_id").agg(min("base_id").as("dup_of"))
      .withColumn("kind", lit("exact"))
    val bands = minhashSignatures(docs)
      .select(col("doc_id"), posexplode(expr(bandsExpr)).as(Seq("band", "sig")))
    val cand = bands.filter(pmod(col("doc_id"), lit(10L)) === 9)
      .select(col("doc_id").as("new_id"), col("band"), col("sig"))
      .join(bands.filter(pmod(col("doc_id"), lit(10L)) =!= 9)
        .select(col("doc_id").as("base_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("new_id", "base_id").distinct()
    val sets = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(shinglesExpr)).as("sset"))
    val jac = Exprs.r4(
      size(array_intersect(col("a.sset"), col("b.sset"))).cast("double")
        / size(array_union(col("a.sset"), col("b.sset"))))
    val near = cand
      .join(sets.as("a"), col("new_id") === col("a.doc_id"))
      .join(sets.as("b"), col("base_id") === col("b.doc_id"))
      .select(col("new_id"), col("base_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy("new_id").agg(min("base_id").as("dup_of"))
      .withColumn("kind", lit("near"))
    exact.select("new_id", "kind", "dup_of")
      .unionByName(near
        .join(exact.select("new_id"), Seq("new_id"), "left_anti")
        .select("new_id", "kind", "dup_of"))
      .orderBy("new_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH $minhashOracleCte,
       |exact AS (
       |  SELECT b.doc_id AS new_id, min(a.doc_id) AS dup_of
       |  FROM documents b JOIN documents a ON md5(b.text) = md5(a.text)
       |  WHERE b.doc_id % 10 = 9 AND a.doc_id % 10 <> 9
       |  GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT nb.doc_id AS new_id, ab.doc_id AS base_id
       |  FROM bands nb JOIN bands ab ON nb.band = ab.band AND nb.sig = ab.sig
       |  WHERE nb.doc_id % 10 = 9 AND ab.doc_id % 10 <> 9),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
       |near AS (
       |  SELECT new_id, min(base_id) AS dup_of
       |  FROM (
       |    SELECT c.new_id, c.base_id,
       |      floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       |        / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5)
       |        / 10000 AS jaccard
       |    FROM cand c JOIN sets sa ON c.new_id = sa.doc_id
       |      JOIN sets sb ON c.base_id = sb.doc_id)
       |  WHERE jaccard >= 0.5 GROUP BY 1)
       |SELECT new_id, 'exact' AS kind, dup_of FROM exact
       |UNION ALL
       |SELECT new_id, 'near' AS kind, dup_of FROM near
       |WHERE new_id NOT IN (SELECT new_id FROM exact)
       |ORDER BY new_id""".stripMargin

  val dedupJaccardSql: String =
    s"""WITH $minhashOracleCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5) / 10000 AS jaccard
       |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact threshold-Jaccard self-join by PREFIX FILTERING (the
    * PPJoin-family algorithm): the exact-answer counterpart of the
    * MinHash/LSH chain — zero false negatives by construction, so it is
    * the verification standard the sketch path is measured against.
    *
    * Principle: sort each doc's distinct shingle hashes; two sets with
    * Jaccard ≥ t MUST share at least one element among each one's first
    * `|s| - ceil(t·|s|) + 1` sorted elements (if all prefix elements
    * differ, too few common elements remain to reach t). So only docs
    * sharing a PREFIX hash ever pair — the candidate join is on single
    * hash values, never all-pairs — and candidates verify with the same
    * exact-Jaccard formula as [[dedupJaccard]].
    *
    * Scale: prefix length is ≈ (1−t)·|s| + 1, so at t=0.5 roughly half of
    * each doc's shingles enter the join — a corpus-linear explode whose
    * join key (the hash) is selective; hot hashes (boilerplate shingles)
    * are exactly the ones [[CorpusOps.boilerplateNgrams]] strips upstream.
    * Output matches `dedupJaccard`'s schema on the SAME threshold, which
    * makes the sketch path's recall directly measurable (a spec asserts
    * the LSH chain found a subset of these pairs). */
  def dedupPrefixJoin(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    // materialized once (localCheckpoint): the hashed-sorted sets feed the
    // prefix explode AND both verify rejoins — without it the per-shingle
    // md5 work runs three times (measured ~35% of the query)
    val sets = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("sh", array_distinct(expr(shinglesExpr)))
      .select(col("doc_id"),
        array_sort(transform(col("sh"), s => Exprs.md5num(s))).as("hs"))
      .localCheckpoint(eager = false)
    // prefix length: n - ceil(t*n) + 1 (ceil on the LONG grid — t*n is
    // exact for t=0.5; the general form floor-negates to avoid libm)
    val n = size(col("hs"))
    val pref = (n - floor(n * lit(threshold) * lit(-1d)) * lit(-1) + lit(1))
      .cast("int")
    val tokens = sets
      .select(col("doc_id"), size(col("hs")).as("n"),
        explode(slice(col("hs"), lit(1), pref)).as("p"))
    // length filter (exactness-preserving prune): J(A,B) ≤ min(|A|,|B|) /
    // max(|A|,|B|), so a pair with |B| < t·|A| can never verify — drop it
    // before the distinct. The oracle omits the filter and still agrees:
    // every pruned pair fails its jaccard >= t cut anyway.
    val cand = tokens.as("a").join(tokens.as("b"),
        col("a.p") === col("b.p") && col("a.doc_id") < col("b.doc_id")
          && col("b.n").cast("double") >= col("a.n") * lit(threshold)
          && col("a.n").cast("double") >= col("b.n") * lit(threshold))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id"), col("hs").as("ha")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sets.select(col("doc_id"), col("hs").as("hb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        Exprs.r4(size(array_intersect(col("ha"), col("hb"))).cast("double")
          / size(array_union(col("ha"), col("hb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  val dedupPrefixJoinSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
      |    list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |      i -> array_to_string(list_slice(words, i, i + 2), ' ')),
      |    s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)))) AS hs FROM w),
      |tok AS (SELECT doc_id, hs,
      |  unnest(list_slice(hs, 1,
      |    CAST(len(hs) - ceil(len(hs) * 0.5) + 1 AS BIGINT))) AS p FROM sh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM tok a JOIN tok b ON a.p = b.p AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT c.doc_a, c.doc_b,
      |    floor(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
      |      / len(list_distinct(list_concat(sa.hs, sb.hs))) * 10000 + 0.5)
      |      / 10000 AS jaccard
      |  FROM cand c JOIN sh sa ON c.doc_a = sa.doc_id
      |    JOIN sh sb ON c.doc_b = sb.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup pair provenance — [[dedupJaccard]]'s verified pairs broken
    * down by the SOURCES they connect: within-source duplication is
    * re-posts/templates a source-local dedup already catches; CROSS-source
    * pairs are mirrors and syndication — the count that, read with
    * [[sourceOverlap]]'s corpus-level estimate, decides whether a source
    * pair needs full cross-dedup or one of them gets dropped entirely.
    * Pair-provenance is candidates-sized work on top of the minhash
    * chain; the output is a sources² table. */
  def dupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    dedupJaccard(spark, sfDir)
      .join(src.select(col("doc_id"), col("source").as("sa")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(src.select(col("doc_id"), col("source").as("sb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        (col("sa") === col("sb")).cast("long").as("within"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("within").as("n_within"))
      .orderBy("source_a", "source_b")
  }

  val dupCrossSourceSql: String =
    s"""WITH $minhashOracleCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5) / 10000 AS jaccard
       |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id),
       |p AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS within
       |  FROM j JOIN documents da ON j.doc_a = da.doc_id
       |    JOIN documents db ON j.doc_b = db.doc_id
       |  WHERE jaccard >= 0.5)
       |SELECT source_a, source_b, count(*) AS n_pairs,
       |  CAST(SUM(within) AS BIGINT) AS n_within
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-document novelty — the fraction of a document's distinct shingles
    * that appear NOWHERE else in the corpus: the inverse of boilerplate
    * (a doc of df=1 shingles is original content; one whose shingles all
    * recur is template/mirror material). Curation uses this as the
    * upweighting signal for rare content and the tiebreaker when a dedup
    * cluster keeps one copy.
    *
    * Shape (guide §1.1 — decide on small rows, never join the heavy set
    * back to itself): `n_shingles` is per-row array algebra on the scan
    * (`size(array_distinct(…))` — no explode, no shuffle), and the
    * unique-shingle credit rides the df aggregate itself: a df=1 hash has
    * exactly ONE (doc, h) row, so `min(doc_id)` inside the same aggregate
    * names its owner and a second doc-grain aggregate counts df=1 hashes
    * per owner. That replaces the old shape's h-grain join of the FULL
    * (doc, h) row set back to the df table (the corpus-sized shuffle) with
    * two map-side-combined aggregates and one doc-grain broadcast join.
    * Shingles cross the wire as 64-bit md5-derived hashes, never strings.
    * Every non-null doc yields ≥1 shingle (the shingle generator floors at
    * one window), so the left join's null-fill only covers docs whose
    * shingles all recur elsewhere. */
  def docNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(expr(shinglesExpr))).as("s"))
      .select(col("doc_id"), Exprs.md5num(col("s")).as("h"))
    // a null-text doc has no shingles, so no row (the oracle's inner join)
    val perDoc = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        size(array_distinct(expr(shinglesExpr))).cast("long").as("n_shingles"))
    val uniq = rows.groupBy("h")
      .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        Exprs.r4(coalesce(col("n_unique"), lit(0L)).cast("double")
          / col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  val docNoveltySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id,
      |  unnest(list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(list_slice(words, i, i + 2), ' ')))) AS s FROM w),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      |f AS (SELECT h, count(*) AS df FROM h GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  floor(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) * 10000 + 0.5) / 10000 AS novelty
      |FROM h JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cross-source overlap estimation — a corpus-governance table: for each
    * pair of sources, the Jaccard similarity of their SHINGLE SETS,
    * estimated from source-level minhash signatures (the fraction of the
    * 16 hash slots where the two sources' minima agree — the classic
    * mergeable-sketch estimate). High overlap between two sources means
    * one is a mirror/re-crawl of the other and the mix double-counts it —
    * the signal that decides which source to drop BEFORE paying for
    * doc-level dedup between them.
    *
    * Scale shape: a source signature is 16 `min` aggregates — fully
    * map-side combinable, so the corpus scan reduces to (sources × 16)
    * longs per partition and the shuffle is governance-table-sized no
    * matter how many documents each source has. The pair comparison then
    * runs on exploded (source, slot, value) rows equi-joined by slot —
    * sources²×16 rows, never a document pair anywhere. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .select(col("source"), explode(expr(shinglesExpr)).as("s"))
      .select(col("source"), Exprs.md5num(col("s")).as("h"))
    val minAggs = (0 until 16).map { k =>
      min(pmod(col("h") * lit(12582917L * k + 1) + lit(4256249L * k),
        lit(2147483647L))).as(s"mh$k")
    }
    val slots = h.groupBy("source").agg(minAggs.head, minAggs.tail: _*)
      .select(col("source"),
        posexplode(array((0 until 16).map(k => col(s"mh$k")): _*))
          .as(Seq("slot", "mh")))
    slots.as("a").join(slots.as("b"),
        col("a.slot") === col("b.slot") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L)).as("n_match"))
      .select(col("source_a"), col("source_b"), col("n_match"),
        Exprs.r4(col("n_match").cast("double") / lit(16d)).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT source,
      |  unnest(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |    i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS s FROM w),
      |h AS (SELECT source, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh),
      |sig AS (SELECT source, k.k AS slot,
      |  min((h * (12582917 * k.k + 1) + 4256249 * k.k) % 2147483647) AS mh
      |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS k) k
      |  GROUP BY 1, 2),
      |p AS (SELECT a.source AS source_a, b.source AS source_b,
      |  CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END AS m
      |  FROM sig a JOIN sig b ON a.slot = b.slot AND a.source < b.source)
      |SELECT source_a, source_b, CAST(SUM(m) AS BIGINT) AS n_match,
      |  floor(CAST(SUM(m) AS DOUBLE) / 16 * 10000 + 0.5) / 10000 AS est_jaccard
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Duplicate-score histogram — per-document max Jaccard over its LSH
    * candidate neighbors (UNthresholded, both orientations of each pair),
    * bucketed to 0.1 bins: the distribution a curation run reads to PICK
    * the near-dup threshold, instead of inheriting 0.5 blind — a bimodal
    * histogram separates template families from organic text; mass piling
    * at the cut means the threshold is doing real work.
    *
    * Reuses the [[dedupMinhash]] candidate chain (still never all-pairs;
    * docs with no band collision simply don't appear). Bucket ids are cut
    * on the LONG grid (`floor(j·1e4+0.5) div 1000`), so a grid value like
    * 0.3 can never straddle the bin edge in one engine and not the other.
    * Scale: candidates-sized work on top of the signature chain; the
    * histogram itself is ≤ 11 rows. */
  def dupScoreHist(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), array_distinct(expr(shinglesExpr)).as("sset"))
    val jac = Exprs.r4(
      size(array_intersect(col("a.sset"), col("b.sset"))).cast("double")
        / size(array_union(col("a.sset"), col("b.sset"))))
    val pairs = dedupMinhash(spark, sfDir)
      .join(sets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sets.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
    pairs.select(col("doc_a").as("doc_id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("jaccard")))
      .groupBy("doc_id").agg(max("jaccard").as("mj"))
      .select(expr("CAST(floor(mj * 10000 + 0.5) AS BIGINT) div 1000").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }

  val dupScoreHistSql: String =
    s"""WITH $minhashOracleCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
       |pj AS (
       |  SELECT doc_a, doc_b,
       |    floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5) / 10000 AS jaccard
       |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id),
       |per AS (
       |  SELECT doc_id, max(jaccard) AS mj FROM (
       |    SELECT doc_a AS doc_id, jaccard FROM pj
       |    UNION ALL SELECT doc_b AS doc_id, jaccard FROM pj)
       |  GROUP BY 1)
       |SELECT CAST(floor(mj * 10000 + 0.5) AS BIGINT) // 1000 AS bucket,
       |  count(*) AS n_docs
       |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Connected-component canonicalization over the VERIFIED near-dup pairs —
    * the step a dedup pipeline needs AFTER generate-then-verify: pair lists
    * become duplicate CLUSTERS (a≈b, b≈c ⇒ {a,b,c}), and each cluster keeps
    * its lowest doc_id as the canonical document.
    *
    * Two regimes, picked by edge count. The edge list is OUTPUT-sized (the
    * verified duplicates), not corpus-sized, so it usually fits in driver
    * memory even for a 100 TB corpus — then a driver union-find (min-root,
    * path-compressed) is exact and avoids paying a distributed round per
    * cluster-diameter step. Above `distributedThreshold` edges,
    * [[starContract]] runs on the cluster: alternating large-star /
    * small-star contraction, which converges in O(log n) rounds on ANY
    * topology — including the chain-shaped clusters that cost plain
    * min-label propagation a round per hop of diameter. Both paths
    * converge to component = min reachable doc_id. */
  def dedupComponents(spark: SparkSession, sfDir: String,
    distributedThreshold: Long = 1L << 20): DataFrame = {
    val pairs = dedupJaccard(spark, sfDir).select("doc_a", "doc_b")
      .localCheckpoint() // one materialization of the minhash+verify chain
    val labels: DataFrame =
      if (pairs.count() <= distributedThreshold) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        // iterative find + path compression: chain-shaped clusters can be
        // deeper than the JVM stack within the driver-regime edge budget
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val next = parent(c); parent(c) = r; c = next }
          r
        }
        pairs.collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { val lo = math.min(ra, rb)
            parent(math.max(ra, rb)) = lo }
        }
        import spark.implicits._
        parent.keys.toSeq.map(d => (d, find(d))).toDF("doc_id", "label")
      } else starContract(pairs)._1
    // both regimes have fully consumed the pair checkpoint by here (the
    // collect, or star contraction's own eager round-0 checkpoint) — the
    // returned plan references only `labels`, so drop the pinned blocks
    graft.Hygiene.release(pairs)
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("component"))
      .withColumn("is_canonical", col("component") === col("doc_id"))
      .orderBy("doc_id")
  }

  /** Exact substring-duplication signal (the relational form of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better":
    * find verbatim token runs shared ACROSS documents and measure how
    * much of each document they cover). Every length-`win` token window
    * is hashed; a window position is duplicated iff its hash occurs in
    * ≥ 2 distinct documents; per document the operator reports the
    * window count, the duplicated-window count, and the fraction of
    * TOKEN POSITIONS covered by at least one duplicated window — the
    * span-coverage number an excision pass would cut.
    *
    * Contrast with [[graft.operators.CorpusOps.boilerplateNgrams]]:
    * that scores DISTINCT gram membership (is this 5-gram common?);
    * this one is positional (how much of THIS text is verbatim
    * elsewhere?) — a doc repeating a common gram 50 times scores very
    * differently in the two.
    *
    * Scale shape: windows leave the row as (doc_id, position, 64-bit
    * hash) — never strings; the df count is one map-side-combined
    * aggregate over hashes; duplicated hashes join back hash-to-hash;
    * coverage is the union length of the [pos, pos+win) intervals,
    * computed as a lag-sweep (sorted by pos, each window contributes
    * min(win, gap to its predecessor)) — one window + one aggregate
    * SHARING the per-doc partitioning, never an explode of win×
    * positions. Collisions inflate df identically in both engines
    * (shared [[Exprs.md5num]]). At 100 TB the df table is the big
    * intermediate; the standard mitigation is min-df sharding or a
    * Bloom pre-filter on singleton hashes — the aggregate itself is
    * already partial+final. */
  def substringDupSpans(spark: SparkSession, sfDir: String,
    win: Int = 8): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val stats = toks.select(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"),
      greatest(size(col("w")) - lit(win - 1), lit(0)).cast("long").as("n_windows"))
    // CASE guard, not greatest(_, 0): Spark's sequence(1, 0) DESCENDS
    // ([1, 0]) where DuckDB's generate_series(1, 0) is empty — a short
    // doc must produce zero windows on both sides
    val wins = toks
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(w) >= $win THEN adjacent_grams(w, $win) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(col("doc_id"), col("pos"), Exprs.md5num(col("col")).as("h"))
    val dupHashes = wins.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 2)
      .select(col("h"))
    val dup = wins.join(dupHashes.hint("shuffle_hash"), "h")
    // union-of-intervals by lag-sweep: windows sorted by pos; the first
    // contributes win tokens, each later one min(win, pos - prev_pos).
    // The window and the aggregate share the doc_id partitioning (one
    // exchange), and the whole dup branch is consumed exactly once.
    val sweep = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val perDoc = dup
      .withColumn("contrib", least(lit(win.toLong),
        coalesce(col("pos") - lag("pos", 1).over(sweep), lit(win.toLong))
          .cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"), sum("contrib").as("cov"))
    stats
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        Exprs.r4(coalesce(col("cov"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_token_frac"))
      .orderBy("doc_id")
  }

  /** Oracle: replays the window hashing positionally. `generate_series`
    * in the SELECT list unrolls per-row ranges; an empty range (doc
    * shorter than the window) drops the doc from `wins`, restored by the
    * LEFT joins exactly like the Spark side. */
  val substringDupSpansSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |wins AS (
      |  SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i,
      |    toks FROM w),
      |wh AS (
      |  SELECT doc_id, i,
      |    CAST(('0x' || substr(md5(array_to_string(
      |      list_slice(toks, i, i + 7), ' ')), 1, 8)) AS BIGINT) AS h
      |  FROM wins),
      |dups AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |dup AS (SELECT doc_id, i FROM wh JOIN dups USING (h)),
      |dc AS (SELECT doc_id, count(*) AS n_dup_windows FROM dup GROUP BY 1),
      |cov AS (
      |  SELECT doc_id, count(DISTINCT p) AS cov FROM (
      |    SELECT doc_id, unnest(generate_series(i, i + 7)) AS p FROM dup)
      |  GROUP BY 1),
      |stats AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_windows FROM w)
      |SELECT s.doc_id, s.n_tokens, s.n_windows,
      |  coalesce(dc.n_dup_windows, 0) AS n_dup_windows,
      |  floor(CAST(coalesce(cov.cov, 0) AS DOUBLE) / s.n_tokens * 10000 + 0.5)
      |    / 10000 AS dup_token_frac
      |FROM stats s
      |LEFT JOIN dc USING (doc_id) LEFT JOIN cov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Substring-duplication EXCISION — the rewrite step
    * [[substringDupSpans]] only measures (Lee et al.'s actual
    * intervention): every token position covered by a cross-document
    * duplicated window is CUT, and the surviving tokens are reassembled
    * into the cleaned text a training run would consume. Output per doc:
    * original and kept token counts, the kept fraction, and the cleaned
    * text.
    *
    * Scale shape: the detection branch is [[substringDupSpans]]'s —
    * windows cross as 64-bit hashes, dup hashes join back hash-to-hash.
    * The rewrite branch is inherently TOKEN-grain (the output is new
    * text): duplicated windows explode to their `win` covered positions
    * (win × dup-window rows, bounded by total duplication), tokens
    * anti-join the covered set on (doc, position), and each doc
    * reassembles with one ordered fold — `collect_list` of (pos, token)
    * structs sorted by the unique position, so the nondeterministic
    * aggregation order can't reorder text. Three linear token-grain
    * shuffles total; nothing is ever quadratic in document length (the
    * per-doc HOF alternative — `exists()` over the window list per token
    * — is O(n·dups) on exactly the pathological docs excision exists
    * for). */
  def substringExcise(spark: SparkSession, sfDir: String,
      win: Int = 8): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    // identical window hashing to substringDupSpans, with the window
    // start normalized to 1-based token position (posexplode is 0-based)
    val wins = toks
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(w) >= $win THEN adjacent_grams(w, $win) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(col("doc_id"), (col("pos") + 1).as("start"),
        Exprs.md5num(col("col")).as("h"))
    val dupHashes = wins.groupBy("h")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= 2)
      .select(col("h"))
    val covered = wins.join(dupHashes.hint("shuffle_hash"), "h")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(win - 1))).as("i"))
      .distinct()
    val tokens = toks
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "tok")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("tok"))
    val kept = tokens.join(covered, Seq("doc_id", "i"), "left_anti")
    val clean = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(clean.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        Exprs.r4(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_tokens"))
          .as("keep_frac"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Oracle for [[substringExcise]] — same positional window replay as
    * the spans oracle, then the anti-join + ordered `string_agg`
    * reassembly. */
  val substringExciseSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |wins AS (
      |  SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i,
      |    toks FROM w),
      |wh AS (
      |  SELECT doc_id, i,
      |    CAST(('0x' || substr(md5(array_to_string(
      |      list_slice(toks, i, i + 7), ' ')), 1, 8)) AS BIGINT) AS h
      |  FROM wins),
      |dups AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, unnest(generate_series(i, i + 7)) AS p
      |  FROM (SELECT doc_id, i FROM wh JOIN dups USING (h))),
      |tok AS (
      |  SELECT doc_id, i, toks[i] AS tok
      |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
      |kept AS (
      |  SELECT t.doc_id, t.i, t.tok FROM tok t
      |  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.p),
      |cl AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY i) AS clean_text
      |  FROM kept GROUP BY 1)
      |SELECT w.doc_id, CAST(len(w.toks) AS BIGINT) AS n_tokens,
      |  coalesce(cl.n_kept, 0) AS n_kept,
      |  floor(CAST(coalesce(cl.n_kept, 0) AS DOUBLE) / len(w.toks)
      |    * 10000 + 0.5) / 10000 AS keep_frac,
      |  coalesce(cl.clean_text, '') AS clean_text
      |FROM w LEFT JOIN cl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Distributed connected components by alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond" — the relational form, no graph library):
    *
    *  - large-star: every node u re-points its LARGER neighbors at
    *    m = min(N(u) ∪ {u});
    *  - small-star: every node u re-points its smaller neighbors and
    *    itself at the min of that set.
    *
    * Both steps preserve connectivity and only ever lower endpoints, so
    * the edge set monotonically contracts toward one star per component
    * (center = component min) — in O(log n) rounds on ANY topology,
    * where plain min-label propagation pays one round per hop of
    * diameter (a 1M-long chain: ~20 rounds vs 1M). Each round is two
    * hash-join + aggregate passes over the CURRENT edge set (∝ surviving
    * edges, shrinking fast), `localCheckpoint`ed so lineage stays flat;
    * the deterministic edge set is compared via (count, hash-sum)
    * checksum for the fixpoint test.
    *
    * Input: undirected pairs (doc_a, doc_b). Returns (labels, rounds):
    * one (doc_id, label) row per non-isolated vertex, label = component
    * min; rounds = contraction iterations to fixpoint (exposed so the
    * spec can assert the logarithmic bound). */
  private[graft] def starContract(pairs: DataFrame): (DataFrame, Int) = {
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // canonical (hi, lo) edge form, hi > lo — self-loops dropped; each
    // round is checkpointed and the previous one released (graft.Hygiene)
    val gens = graft.Hygiene.generations(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()) { e =>
      // large-star over the symmetrized neighborhoods
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = sym.join(mins.hint("shuffle_hash"), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star on the (hi, lo) orientation: group u's smaller
      // neighborhood S under u; emit (x, min(S)) for x ∈ S ∪ {u} \ {min}
      val sMins = ls.groupBy("hi").agg(min("lo").as("m"))
      val withM = ls.join(sMins.hint("shuffle_hash"), "hi")
      withM.select(col("lo").as("h2"), col("m").as("l2"))
        .filter(col("h2") =!= col("l2"))
        .unionByName(withM.select(col("hi").as("h2"), col("m").as("l2")))
        .distinct()
        .select(col("h2").as("hi"), col("l2").as("lo"))
    }
    var e = gens.next()
    var prev = (-1L, 0L)
    var cur = checksum(e)
    var rounds = 0
    while (cur != prev) {
      rounds += 1
      e = gens.next()
      prev = cur
      cur = checksum(e)
    }
    // fixpoint = stars: every non-center appears once as hi, centers as lo
    val labels = e.select(col("hi").as("doc_id"), col("lo").as("label"))
      .unionByName(
        e.select(col("lo").as("doc_id"), col("lo").as("label")).distinct())
    (labels, rounds)
  }

  /** Shared oracle CTE chain: verified near-dup edges → reachability via a
    * recursive CTE → `comp(doc_id, component)` with component = min
    * reachable vertex — exactly what min-label propagation converges to. */
  private val componentsOracleCte: String =
    s"""$minhashOracleCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh),
       |v AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id
       |  WHERE floor(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.sset, sb.sset))) * 10000 + 0.5) / 10000 >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM v
       |          UNION ALL SELECT doc_b, doc_a FROM v),
       |reach(vx, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, rr.r FROM edges e JOIN reach rr ON rr.vx = e.b),
       |comp AS (SELECT vx AS doc_id, min(r) AS component FROM reach GROUP BY vx)""".stripMargin

  val dedupComponentsSql: String =
    s"""WITH RECURSIVE $componentsOracleCte
       |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
       |  coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents d LEFT JOIN comp c USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Duplicate-cluster SIZE distribution — the shape statistic curation
    * reads before deciding the dedup policy: a corpus whose duplication
    * lives in a few huge clusters (template spam, mirrored sites) wants
    * canonical election + drop; one with many pairs wants near-dup
    * weighting. Size 1 rows are the non-duplicated baseline mass.
    *
    * Two cluster-grain aggregates on top of [[dedupComponents]]'s id-only
    * label table; output is max-cluster-size rows. */
  def dupClusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    dedupComponents(spark, sfDir)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .orderBy("cluster_size")

  val dupClusterSizesSql: String =
    s"""WITH RECURSIVE $componentsOracleCte,
       |lab AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |cl AS (
       |  SELECT component, count(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs
       |FROM cl GROUP BY 1 ORDER BY cluster_size""".stripMargin

  /** The end-to-end dedup DECISION: near-dup components → one content-aware
    * canonical survivor per group → a keep/drop list with a redirect to the
    * survivor. [[dedupComponents]] crowns the min-id doc; a curation pass
    * wants the BEST copy, so the canonical here is the longest text
    * (`n_chars`), tie-broken by min `doc_id` for determinism — the usual
    * "keep the most complete near-duplicate" rule.
    *
    * Scale: the label table is (doc_id, component, n_chars) — ids and ints,
    * never text. The survivor election is one `row_number` window
    * partitioned by component (dup groups are output-sized and small); the
    * redirect is a component-keyed self-join of the same id-only table. Both
    * shuffles move O(corpus rows × 24 bytes) regardless of document size. */
  def dedupCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val lab = dedupComponents(spark, sfDir).select("doc_id", "component")
      .join(Tables.documents(spark, sfDir).select("doc_id", "n_chars"), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("n_chars").desc, col("doc_id"))
    val can = lab.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("canonical_id"))
    lab.join(can, Seq("component"))
      .select(col("doc_id"), col("component"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
      .orderBy("doc_id")
  }

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $componentsOracleCte,
       |lab AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |can AS (
       |  SELECT component, doc_id AS canonical_id FROM (
       |    SELECT component, doc_id, row_number() OVER (
       |      PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT l.doc_id, l.component, c.canonical_id,
       |  l.doc_id = c.canonical_id AS keep
       |FROM lab l JOIN can c USING (component)
       |ORDER BY l.doc_id""".stripMargin

  /** Benchmark-contamination check — training-corpus hygiene: flag corpus
    * documents sharing n-gram overlap with a held-out benchmark/eval set
    * (here the `doc_id % 50 == 0` slice stands in for the benchmark; in
    * production it is a separate table). The standard decontamination
    * shape: the BENCHMARK's distinct shingle set is small and bounded (eval
    * suites are, by construction), so it broadcasts — the 100 TB corpus
    * side only explodes narrowly and aggregates per doc: one shuffle of
    * (doc_id, count), no corpus self-join, no benchmark shuffle. */
  def contaminationCheck(spark: SparkSession, sfDir: String,
    threshold: Double = 0.2): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(shinglesExpr)))
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(explode(col("shingles")).as("s")).distinct()
      .withColumn("hit", lit(1L))
    // one-pass corpus side: n_shingles rides the explode, the broadcast
    // LEFT join marks hits, and a single per-doc aggregate recovers both —
    // a sibling n_shingles branch would scan + shingle the corpus twice
    // (every doc has ≥1 shingle, so zero-hit docs keep their group)
    sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"),
        explode(col("shingles")).as("s"))
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(first(col("n_shingles")).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_shared"))
      .withColumn("contamination",
        Exprs.r4(col("n_shared").cast("double") / col("n_shingles")))
      .withColumn("is_contaminated", col("contamination") >= threshold)
      .orderBy("doc_id")
  }

  val contaminationCheckSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(words) - 2, 1)),
      |         i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS shingles
      |       FROM w),
      |bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0),
      |corpus AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles, shingles
      |           FROM sh WHERE doc_id % 50 <> 0),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM corpus),
      |hits AS (SELECT doc_id, count(*) AS n_shared
      |         FROM ex JOIN bench USING (s) GROUP BY doc_id)
      |SELECT c.doc_id, c.n_shingles, coalesce(h.n_shared, 0) AS n_shared,
      |  floor(CAST(coalesce(h.n_shared, 0) AS DOUBLE) / c.n_shingles * 10000 + 0.5) / 10000
      |    AS contamination,
      |  floor(CAST(coalesce(h.n_shared, 0) AS DOUBLE) / c.n_shingles * 10000 + 0.5) / 10000
      |    >= 0.2 AS is_contaminated
      |FROM corpus c LEFT JOIN hits h USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  /** Per-ROW SimHash fold — identical signature arithmetic to
    * [[dedupSimhash]] (same word hashes, same `vote_j > 0` sign rule;
    * equivalence pinned in OperatorsSpec) as one nested higher-order fold.
    * This is the STREAMING form: a stateful pipeline needs the signature as
    * a column before its keyed grouping, where the batch query's
    * explode+groupBy shape would interpose a second shuffle. The fold runs
    * interpreted (HOFs don't codegen), which is the right trade at
    * micro-batch row counts and the wrong one for a full corpus scan — the
    * batch query keeps the explode+bit-sum plan (see its scaladoc for
    * measurements). */
  def simhashFold(text: Column): Column = {
    val hs = transform(split(text, " "), w => Exprs.md5num(w))
    aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) =>
      acc + when(
        aggregate(hs, lit(0L), (a, h) =>
          a + when(call_function("shiftright", h, j)
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))) > 0,
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
  }

  /** 32-bit SimHash: per-word md5-derived hash, signed bit votes, sign →
    * signature bit. Near-dups then differ in few bits (hamming).
    *
    * Shape: explode words → 32 integer bit-sums in ONE map-side-combinable
    * groupBy (the same distributed shape as [[minhashSignatures]]). The
    * obvious per-row form — a nested `aggregate(sequence(0,31),
    * aggregate(hs, ...))` higher-order fold — computes the identical result
    * with no shuffle, but HOF lambdas run interpreted (no codegen) and it
    * re-walks the word list once per bit: measured 16.6 s vs ~2 s for this
    * plan at sf0.1, and the explode+agg's shuffle is just (doc_id, 32 longs
    * + count) per doc after partial aggregation. Sign rule: vote_j > 0 ⟺
    * 2·Σbit_j > n_words — integer compare, no float order sensitivity. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val bitSums = (0 until 32).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"b$j"))
    val docs = Tables.documents(spark, sfDir)
    val sigs = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), Exprs.md5num(col("w")).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), bitSums: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"b$j") * 2 > col("n_words"), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"),
        col("n_words"))
    // totality: explode drops null-text docs (no rows to group), but the
    // operator's contract — like the oracle's `FROM documents` — is one row
    // per document, with NULL simhash/n_words for null text (what the
    // per-row fold form and DuckDB's NULL-propagating list functions both
    // produce). The left join restores those rows.
    docs.select(col("doc_id"))
      .join(sigs, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  val dedupSimhashSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS words,
      |    list_transform(string_split(text, ' '),
      |      w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS hs
      |  FROM documents)
      |SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(0, 31), j ->
      |      CASE WHEN list_sum(list_transform(hs,
      |             h -> CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
      |                       THEN 1 ELSE -1 END)) > 0
      |           THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)),
      |    (acc, x) -> acc + x) AS simhash,
      |  CAST(len(words) AS BIGINT) AS n_words
      |FROM t ORDER BY doc_id""".stripMargin

  /** Embedding-cosine near-dup: self-join blocked on the cluster label
    * (coarse IVF cell), exact cosine inside each block. */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    // norm precomputed per vector BEFORE the pair join — it crosses the
    // shuffle materialized, so each ||v|| is one fold total, not one per pair
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
    // per-pair dot via the native `array_dot` codegen loop — stays inside
    // whole-stage codegen (no encoder round-trip to Array[Double], which a
    // typed mapPartitions paid); fold order is the left-to-right sum the
    // oracle replays
    e.as("a").join(e.as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Exprs.r4(Similarity.dot(col("a.v"), col("b.v"))
          / (col("a.n") * col("b.n"))).as("cos"))
      .filter(col("cos") >= 0.35)
      .orderBy("vec_a", "vec_b")
  }

  /** Deterministic hyperplane matrix for cosine LSH: plane(j,i) =
    * (md5num(s"${j}_${i}") % 2001 − 1000)/1000 — reproducible in SQL with
    * the same md5 arithmetic, so the oracle derives identical buckets.
    * `offset` shifts the global plane index: independent bucket TABLES
    * (the multi-probe / band-OR recall trick) draw planes offset, …,
    * offset+nBits−1, so table t of width w is `lshPlanes(w, t*w)` and no
    * two tables share a hyperplane. offset 0 is the historical single
    * table — every existing bucket is unchanged. */
  private[operators] def lshPlanes(nBits: Int, offset: Int = 0): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    (offset until offset + nBits).map(j => (1 to 64).map(i => (h(s"${j}_$i") % 2001 - 1000).toDouble / 1000.0))
  }

  /** The sign-LSH bucket of a `array<double>` column `v` as a Column —
    * bit j set iff dot(v, plane(offset+j)) > 0. The ONE Spark-side copy of
    * the bucket arithmetic ([[lshBucketSqlExpr]] is the oracle-side twin),
    * shared by [[dedupEmbeddingLsh]] and the graph-ANN serving anchor
    * ([[Similarity.annGraphSearchOos]]'s multi-probe tables). */
  private[operators] def lshBucketCol(nBits: Int, offset: Int = 0): Column = {
    val planes = lshPlanes(nBits, offset)
    (0 until nBits).map { j =>
      when(call_function("array_dot", col("v"), typedlit(planes(j))) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Corpus-derived LSH width — the AUTO-SIZING rule the fixed-bits docs
    * prescribed by hand ("bits must GROW with the corpus") turned into
    * code: the smallest width in [minBits, maxBits] whose expected bucket
    * n/2^width is ≤ `target`, as a CASE chain over the count column
    * (exact integer comparisons — no log2, whose last-ulp rounding could
    * diverge between engines at a power-of-two boundary). The count comes
    * from one cheap corpus agg that BROADCASTS (the
    * [[dedupSemantic]] cellCap precedent); [[autoBitsSqlExpr]] is the
    * oracle-side twin. Callers pass nBits = 0 to request auto mode. */
  private[operators] def autoBitsCol(n: Column, target: Int,
      minBits: Int, maxBits: Int): Column =
    (minBits until maxBits).reverse.foldLeft(lit(maxBits): Column) {
      (acc, b) => when(n <= lit(target.toLong << b), lit(b)).otherwise(acc)
    }

  /** [[autoBitsCol]] as a DuckDB scalar expression over a BIGINT count
    * expression — the same integer CASE chain, term for term. */
  private[operators] def autoBitsSqlExpr(nExpr: String, target: Int,
      minBits: Int, maxBits: Int): String =
    "CASE " + (minBits until maxBits)
      .map(b => s"WHEN $nExpr <= ${target.toLong << b} THEN $b")
      .mkString(" ") + s" ELSE $maxBits END"

  /** [[lshBucketCol]] with a RUNTIME width: bit j (plane offset+j, j <
    * maxBits) contributes iff j < `nb` — so a dynamically sized bucket
    * equals `lshBucketCol(nb, offset)` exactly (low bits = first planes),
    * while the plane SET stays static (plan-buildable). The `j < nb`
    * guard short-circuits codegen's And, so planes past the sized width
    * cost nothing per row. `nb` is [[autoBitsCol]]'s broadcast column. */
  private[operators] def lshBucketColDyn(maxBits: Int, offset: Int,
      nb: Column): Column = {
    val planes = lshPlanes(maxBits, offset)
    (0 until maxBits).map { j =>
      when(lit(j) < nb &&
          call_function("array_dot", col("v"), typedlit(planes(j))) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Embedding near-dup WITHOUT labels — the unlabeled-corpus scale path:
    * `nBits`-bit random-hyperplane LSH bucket per vector (sign of dot with
    * each plane), candidates from an equi-join on the bucket, exact cosine
    * verify. Bucket join cost ∝ Σ bucket², never all-pairs.
    *
    * Sizing `nBits` at scale: expected bucket size is n / 2^nBits, and the
    * verify join costs Σ bucket² ≈ n² / 2^nBits, so bits must GROW with the
    * corpus — keep n / 2^nBits roughly constant (e.g. targeting ~10k-row
    * buckets: 20 bits at 10¹⁰ vectors). Recall drops as bits grow; recover
    * it the MinHash way, with multiple independent bucket tables (band
    * OR-ing), each a repartition by its own bucket column. */
  def dedupEmbeddingLsh(spark: SparkSession, sfDir: String, nBits: Int = 8): DataFrame = {
    // one native array_dot per plane against a literal coefficient vector
    // (the HOF form re-evaluated the vector cast per plane and ran
    // interpreted; an unrolled element_at chain broke the 64 KB codegen
    // method limit — see graft.plans.ArrayDot)
    val bucket = lshBucketCol(nBits)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("bucket", bucket)
      .repartition(col("bucket"))
    e.as("a").join(e.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        Exprs.r4(Similarity.dot(col("a.v"), col("b.v"))
          / (col("a.n") * col("b.n"))).as("cos"))
      .filter(col("cos") >= 0.2)
      .orderBy("vec_a", "vec_b")
  }

  /** The sign-LSH bucket as a standalone SQL expression over a DOUBLE list
    * column `v` — [[lshPlanes]]'s hyperplane matrix re-derived from the
    * same md5 arithmetic. Shared by [[dedupEmbeddingLshSql]] and the
    * out-of-sample graph-ANN anchor oracle
    * ([[Similarity.annGraphSearchOosSql]]), so the bucket arithmetic can
    * never diverge between the dedup and ANN families. `offset` selects
    * the plane range — [[lshPlanes]]' table-t contract. */
  private[operators] def lshBucketSqlExpr(nBits: Int, offset: Int = 0): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series($offset, ${offset + nBits - 1}), j ->
      |        CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
      |          list_transform(generate_series(1, 64), i ->
      |            v[i] * ((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0))),
      |          (s, x) -> s + x) > 0
      |        THEN CAST(pow(2, j - $offset) AS BIGINT) ELSE 0 END)),
      |      (acc, x) -> acc + x)""".stripMargin

  /** [[lshBucketColDyn]]'s oracle-side twin: the static-plane bucket sum
    * with each term gated on `j - offset < widthExpr` — `widthExpr` is a
    * column reference to [[autoBitsSqlExpr]]'s derived width (cross-joined
    * in by the caller's CTE). */
  private[operators] def lshBucketSqlExprDyn(maxBits: Int, offset: Int,
      widthExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series($offset, ${offset + maxBits - 1}), j ->
      |        CASE WHEN j - $offset < $widthExpr AND list_reduce(list_prepend(0.0::DOUBLE,
      |          list_transform(generate_series(1, 64), i ->
      |            v[i] * ((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0))),
      |          (s, x) -> s + x) > 0
      |        THEN CAST(pow(2, j - $offset) AS BIGINT) ELSE 0 END)),
      |      (acc, x) -> acc + x)""".stripMargin

  /** [[dedupEmbeddingLsh]] with the bucket width derived from the corpus
    * count instead of hand-picked — [[autoBitsCol]]'s rule with the dedup
    * family's tighter target ([[DedupTargetBucket]]: the verify join costs
    * Σ bucket², so dedup buckets stay an order smaller than the ANN
    * anchor's). One cheap count agg broadcasts; the bucket column is the
    * dynamic-width form over a static plane set, so the plan shape is
    * IDENTICAL at every corpus size — only the derived width changes. A
    * user at 10× the corpus no longer silently runs under-sized bits (the
    * r13 soak's exp-blowup foot-gun, now sized away by construction). */
  def dedupEmbeddingLshAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val e0 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val nb = broadcast(e0.agg(autoBitsCol(count(lit(1)),
      DedupTargetBucket, DedupMinBits, DedupMaxBits).as("auto_w")))
    val e = e0.crossJoin(nb)
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("bucket", lshBucketColDyn(DedupMaxBits, 0, col("auto_w")))
      .repartition(col("bucket"))
    e.as("a").join(e.as("b"),
      col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        Exprs.r4(Similarity.dot(col("a.v"), col("b.v"))
          / (col("a.n") * col("b.n"))).as("cos"))
      .filter(col("cos") >= 0.2)
      .orderBy("vec_a", "vec_b")
  }

  /** [[dedupEmbeddingLshAuto]]'s sizing constants: expected bucket ≤ 32
    * rows (Σ bucket² stays ~32·n), width ∈ [4, 20] — 20 bits covers a
    * ~3·10⁷-row bucket table at the target; past that, raise the cap. */
  val DedupTargetBucket = 32
  val DedupMinBits = 4
  val DedupMaxBits = 20

  /** Oracle for [[dedupEmbeddingLshAuto]] — the auto-width CASE chain over
    * the corpus count, cross-joined, gating the same static plane sum. */
  def dedupEmbeddingLshAutoSql: String =
    s"""WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |wdt AS (
      |  SELECT ${autoBitsSqlExpr("count(*)", DedupTargetBucket,
            DedupMinBits, DedupMaxBits)} AS auto_w FROM e0),
      |e AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS n,
      |    ${lshBucketSqlExprDyn(DedupMaxBits, 0, "auto_w")} AS bucket
      |  FROM e0, wdt),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
      |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),
      |      i -> a.v[i] * b.v[i])), (acc, x) -> acc + x) / (a.n * b.n) AS c
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, bucket, floor(c * 10000 + 0.5) / 10000 AS cos
      |FROM p WHERE floor(c * 10000 + 0.5) / 10000 >= 0.2
      |ORDER BY vec_a, vec_b""".stripMargin

  def dedupEmbeddingLshSql(nBits: Int): String =
    s"""WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS n,
      |    ${lshBucketSqlExpr(nBits)} AS bucket
      |  FROM e0),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
      |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),
      |      i -> a.v[i] * b.v[i])), (acc, x) -> acc + x) / (a.n * b.n) AS c
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, bucket, floor(c * 10000 + 0.5) / 10000 AS cos
      |FROM p WHERE floor(c * 10000 + 0.5) / 10000 >= 0.2
      |ORDER BY vec_a, vec_b""".stripMargin

  val dedupEmbeddingSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),
      |      i -> a.v[i] * b.v[i])), (acc, x) -> acc + x) AS dot,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(a.v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS na,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(b.v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS nb
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, floor(dot / (na * nb) * 10000 + 0.5) / 10000 AS cos
      |FROM p WHERE floor(dot / (na * nb) * 10000 + 0.5) / 10000 >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): block
    * the corpus by LEARNED k-means cells instead of labels
    * ([[dedupEmbedding]]) or random hyperplanes ([[dedupEmbeddingLsh]]) —
    * the production recipe for web-scale corpora, where near-dups
    * concentrate inside semantic clusters and a trained coarse quantizer
    * gives far better recall-per-pair than data-independent hashing.
    * Chain: [[Clustering.trainedCentroids]] (Lloyd's, deterministic seed) →
    * nearest-cell assignment (broadcast k×d centroids, grid-distance
    * argmin) → exact pairwise cosine INSIDE each cell → greedy keep-rule:
    * a vector is removed iff it cos-matches (≥ τ) any LOWER-id vector in
    * its cell; output is the removal list with the minimal witness. The
    * one-pass "any lower-id match" rule (vs the sequential
    * compare-against-kept-only scan) is order-free and embarrassingly
    * parallel — each pair decides independently.
    *
    * Scale: pair cost is Σ cell², controlled by growing k with the corpus
    * (SemDeDup uses k ≈ √n·const; the paper's 50k clusters on LAION) AND
    * hard-bounded per cell by [[subSplit]] — a single degenerate mega-cell
    * (the all-boilerplate cluster every web corpus has) gets its blocking
    * key refined with secondary sign-LSH bits until the expected sub-cell
    * is back under `cellCap`, so no cell goes quadratic no matter how k
    * was chosen. Cells repartition once, payload vectors cross the shuffle
    * exactly once, cosines run in the codegen'd `array_dot` kernel. At
    * 100 TB the centroid table stays broadcast-sized (k×d doubles) and the
    * removal list is output-sized. */
  def dedupSemantic(spark: SparkSession, sfDir: String,
      tau: Double = 0.3, cellCap: Int = 4096): DataFrame = {
    // checkpoint the k-row centroid table (k×d doubles — trivial blocks,
    // released by the session owner's Hygiene.releaseAll): the assignment
    // feeds BOTH sides of the pair self-join, and without the lineage cut
    // each side replays the full Lloyd chain
    val cents = Clustering.trainedCentroids(spark, sfDir).localCheckpoint()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cs"))
    // checkpoint the ASSIGNMENT too: three actions read it — subSplit's
    // cell census (a driver collect) and both sides of the pair self-join
    // — and without a lineage cut each re-runs the Lloyd chain + broadcast
    // assignment. One materialization, three readers (released with the
    // centroids by Hygiene.releaseAll).
    val assigned0 = Clustering.embDouble(spark, sfDir)
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), Similarity.norm(col("v")).as("n"),
        Clustering.nearest(col("v"), col("cs")).as("cid"))
      .localCheckpoint()
    // Per-cell pair-cost cap (see [[subSplit]]): cells above `cellCap`
    // rows get their blocking key refined with secondary sign-LSH bits so
    // one degenerate mega-cell can't take Σ cell² quadratic. The fixture
    // corpora never breach the cap (≤2000 vectors, k=8), so the oracle
    // SQL below stays bit-identical; a breach is LOUDLY logged, never
    // silent, and ScaleSpec drives the split path with a synthetic
    // mega-cell.
    val (split, _) = subSplit(assigned0, cellCap)
    val assigned = split.repartition(col("cid"), col("sub"))
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("b.cid").as("cid"),
        col("a.vec_id").as("dup_of"),
        Exprs.r4(Similarity.dot(col("a.v"), col("b.v"))
          / (col("a.n") * col("b.n"))).as("cos"))
      .filter(col("cos") >= tau)
    pairs.groupBy("vec_id", "cid")
      .agg(min(struct(col("dup_of"), col("cos"))).as("w"))
      .select(col("vec_id"), col("cid"),
        col("w.dup_of").as("dup_of"), col("w.cos").as("cos"))
      .orderBy("vec_id")
  }

  /** Hard per-cell size cap for cell-blocked pair joins ([[dedupSemantic]]).
    *
    * Takes an assignment frame carrying (`vec_id`, `v`, `cid`, ...) and
    * returns it with a `sub` refinement column plus the split decisions.
    * A k-row cell census (`groupBy(cid).count`) is collected to the
    * driver — it is coarse-quantizer-sized (k ≈ √n per SemDeDup, ~50k
    * rows at 100 TB), the same table the assignment already broadcasts —
    * and each cell above `cellCap` rows is assigned
    * ceil(log2(size/cellCap)) secondary sign-LSH bits (capped at 10 →
    * ≤1024 sub-cells) drawn from [[lshPlanes]]'s deterministic hyperplane
    * contract, so the EXPECTED sub-cell size is back under `cellCap` and
    * Σ cell² can't go quadratic on one degenerate mega-cell. Un-split
    * cells get `sub = 0`.
    *
    * Honesty rules: every split is logged (cell id, size, bits) — the cap
    * is never silent — and the log names the residual risk the math
    * can't remove: a cell of BIT-IDENTICAL vectors shares every
    * hyperplane sign, so LSH cannot subdivide it (exact dedup upstream is
    * the cure for that shape). Splitting narrows the pair scan — pairs
    * straddling sub-cells are skipped, the standard SemDeDup
    * recall-for-boundedness trade — which is why the cap only engages
    * above `cellCap` and never on the oracle fixtures. */
  private[graft] def subSplit(assigned: DataFrame, cellCap: Int)
      : (DataFrame, Map[Long, Int]) = {
    val splits = assigned.groupBy("cid").count().collect().iterator.map { r =>
      val cid = r.get(0) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
      }
      val n = r.getLong(1)
      val bits = if (n <= cellCap) 0
        else math.min(10, 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / cellCap))
      (cid, n, bits)
    }.filter(_._3 > 0).map { case (cid, n, bits) =>
      System.err.println(s"[graft] dedup_semantic: cell $cid has $n rows " +
        s"(cap $cellCap) — refining with $bits sign-LSH bits (${1 << bits} " +
        "sub-cells); cross-sub pairs are skipped. NOTE: bit-identical " +
        "vectors share all hyperplane signs and cannot be subdivided — " +
        "run exact dedup upstream for that shape.")
      cid -> bits
    }.toMap
    if (splits.isEmpty) (assigned.withColumn("sub", lit(0L)), splits)
    else {
      val planes = lshPlanes(10)
      val sig = (0 until 10).map { j =>
        when(call_function("array_dot", col("v"), typedlit(planes(j))) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      // mask the signature to the cell's bit budget via mod-by-2^bits
      // (sig ≥ 0, so mod == bitmask; Spark's shiftleft needs a literal
      // shift, a when-chain of 2^bits literals does not)
      val pow2 = splits.foldLeft(lit(1L)) { case (acc, (cid, b)) =>
        when(col("cid").cast("long") === cid, lit(1L << b)).otherwise(acc)
      }
      (assigned.withColumn("sub", sig % pow2), splits)
    }
  }

  /** Oracle: the kmeansTrain CTE chain (same two Lloyd iterations) + a
    * third assignment pass against the trained centroids, then the
    * cell-blocked pair scan. */
  def dedupSemanticSql(tau: Double = 0.3): String =
    s"""WITH emb AS (
      |  SELECT vec_id, unnest(range(1, len(embedding)+1)) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, pos, x AS c FROM emb WHERE vec_id < 8),
      |d1 AS (SELECT e.vec_id, c.cid,
      |         SUM(CAST(floor((e.x-c.c)*(e.x-c.c)*1000000 + 0.5) AS BIGINT)) AS d
      |       FROM emb e JOIN c0 c ON e.pos = c.pos GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, min({'d': d, 'c': cid}).c AS cid FROM d1 GROUP BY 1),
      |m1 AS (SELECT a.cid, e.pos,
      |         CAST(SUM(CAST(floor(e.x*1000000+0.5) AS BIGINT)) AS DOUBLE)
      |           / count(*) / 1000000.0 AS c
      |       FROM emb e JOIN a1 a ON e.vec_id = a.vec_id GROUP BY 1, 2),
      |d2 AS (SELECT e.vec_id, c.cid,
      |         SUM(CAST(floor((e.x-c.c)*(e.x-c.c)*1000000 + 0.5) AS BIGINT)) AS d
      |       FROM emb e JOIN m1 c ON e.pos = c.pos GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, min({'d': d, 'c': cid}).c AS cid FROM d2 GROUP BY 1),
      |m2 AS (SELECT a.cid, e.pos,
      |         CAST(SUM(CAST(floor(e.x*1000000+0.5) AS BIGINT)) AS DOUBLE)
      |           / count(*) / 1000000.0 AS c
      |       FROM emb e JOIN a2 a ON e.vec_id = a.vec_id GROUP BY 1, 2),
      |d3 AS (SELECT e.vec_id, c.cid,
      |         SUM(CAST(floor((e.x-c.c)*(e.x-c.c)*1000000 + 0.5) AS BIGINT)) AS d
      |       FROM emb e JOIN m2 c ON e.pos = c.pos GROUP BY 1, 2),
      |a3 AS (SELECT vec_id, min({'d': d, 'c': cid}).c AS cid FROM d3 GROUP BY 1),
      |el AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |       FROM embeddings),
      |mm AS (SELECT el.vec_id, a3.cid, el.v,
      |         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |           list_transform(el.v, x -> x * x)), (acc, x) -> acc + x)) AS n
      |       FROM el JOIN a3 ON el.vec_id = a3.vec_id),
      |p AS (SELECT b.vec_id AS vec_id, b.cid AS cid, a.vec_id AS dup_of,
      |        list_reduce(list_prepend(0.0::DOUBLE,
      |          list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i])),
      |          (acc, x) -> acc + x) / (a.n * b.n) AS c
      |      FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      |f AS (SELECT vec_id, cid, dup_of, floor(c * 10000 + 0.5) / 10000 AS cos
      |      FROM p WHERE floor(c * 10000 + 0.5) / 10000 >= $tau)
      |SELECT vec_id, cid, min({'o': dup_of, 'k': cos}).o AS dup_of,
      |  min({'o': dup_of, 'k': cos}).k AS cos
      |FROM f GROUP BY vec_id, cid ORDER BY vec_id""".stripMargin

  /** Semantic (embedding-level) decontamination — the companion to the
    * n-gram [[contaminationCheck]] / [[Sampling.splitDecontaminate]]:
    * paraphrased or translated benchmark leakage carries NO n-gram overlap,
    * so modern pipelines ALSO check each held-out example's nearest TRAIN
    * neighbor in embedding space and quarantine anything above a cosine
    * threshold. Split: deterministic md5 draw on vec_id (~10% eval).
    * Candidates: sign-LSH bucket equi-join between the two sides
    * ([[dedupEmbeddingLsh]]'s hyperplane contract) — cross-set, so the
    * train corpus NEVER self-joins; cost ∝ Σ bucket_train × bucket_eval.
    * Per eval vector: the single best train match (max cos, ties to the
    * lower train id) and the `contaminated` verdict.
    *
    * Eval vectors whose bucket holds no train row are absent — at scale
    * recall is recovered the MinHash way (multiple independent plane sets,
    * OR-ed), the same knob [[dedupEmbeddingLsh]] documents. */
  def semanticDecontaminate(spark: SparkSession, sfDir: String,
      nBits: Int = 6, tau: Double = 0.3): DataFrame = {
    val planes = lshPlanes(nBits)
    val bucket = (0 until nBits).map { j =>
      when(call_function("array_dot", col("v"), typedlit(planes(j))) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("bucket", bucket)
      .withColumn("is_eval",
        Exprs.md5num(concat(lit("vsplit_"), col("vec_id").cast("string")))
          % 10 === 0)
    val train = e.filter(!col("is_eval"))
    val eval_ = e.filter(col("is_eval"))
    val cand = train.as("t")
      .join(eval_.as("q"), col("t.bucket") === col("q.bucket"))
      .select(col("q.vec_id").as("eval_id"), col("t.vec_id").as("tid"),
        Exprs.r4(Similarity.dot(col("t.v"), col("q.v"))
          / (col("t.n") * col("q.n"))).as("cos"))
    cand.groupBy("eval_id")
      .agg(max(struct(col("cos"), (-col("tid")).as("nti"))).as("w"))
      .select(col("eval_id"), (-col("w.nti")).as("train_id"),
        col("w.cos").as("cos"), (col("w.cos") >= tau).as("contaminated"))
      .orderBy("eval_id")
  }

  def semanticDecontaminateSql(nBits: Int = 6, tau: Double = 0.3): String =
    s"""WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)),
      |      (acc, x) -> acc + x)) AS n,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(0, ${nBits - 1}), j ->
      |        CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
      |          list_transform(generate_series(1, 64), i ->
      |            v[i] * ((CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0))),
      |          (s, x) -> s + x) > 0
      |        THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)),
      |      (acc, x) -> acc + x) AS bucket,
      |    CAST(('0x' || substr(md5('vsplit_' || CAST(vec_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 10 = 0 AS is_eval
      |  FROM e0),
      |cand AS (
      |  SELECT q.vec_id AS eval_id, t.vec_id AS tid,
      |    floor(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(generate_series(1, 64), i -> t.v[i] * q.v[i])),
      |      (acc, x) -> acc + x) / (t.n * q.n) * 10000 + 0.5) / 10000 AS cos
      |  FROM e t JOIN e q ON t.bucket = q.bucket
      |  WHERE NOT t.is_eval AND q.is_eval)
      |SELECT eval_id, -(max({'k': cos, 'i': -tid}).i) AS train_id,
      |  max({'k': cos, 'i': -tid}).k AS cos,
      |  max({'k': cos, 'i': -tid}).k >= $tau AS contaminated
      |FROM cand GROUP BY eval_id ORDER BY eval_id""".stripMargin
}
