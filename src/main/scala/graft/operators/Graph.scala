package graft.operators

import graft.{Exprs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics expressed relationally — PageRank over the
  * co-purchase graph (parts are nodes, "bought in the same order" the
  * edges; the importance ranking a recommender seeds from). Complements
  * the label-propagation connected components in [[Dedup.dedupComponents]].
  *
  * Spark-first shape, per iteration: contributions = edges ⋈ ranks on the
  * source (both sides hash-partitioned on the join key; the edge table
  * re-uses its partitioning across iterations), then one
  * map-side-combined aggregate per destination. Unrolled a fixed number of
  * iterations in ONE plan — no driver loop, no collect; at 100 TB each
  * iteration is the standard edge-partitioned power-iteration step
  * (shuffle ∝ |E|), and a converging run would `localCheckpoint` per
  * round like the components operator to keep lineage flat.
  *
  * Oracle determinism: per-edge contributions are rounded onto a 1e-12
  * grid and summed as LONGs (order-independent, exact in both engines —
  * ranks are ~1/N ≈ 1e-3, so scaled terms are ~1e9, far under 2⁶³ even
  * summed over millions of edges), and the damping arithmetic uses the
  * same literal constants on both sides in the same evaluation order.
  * Undirected edges mean every node has in-degree ≥ 1 — no dangling-mass
  * term is needed. */
object Graph {
  private val ContribScale = 1e12

  /** One power-iteration step over ranks (node, deg, r, n) → same shape.
    * The damping expression is `0.15 / n + 0.85 * (s / scale)` — the same
    * literals in the same evaluation order as the oracle (NOT algebraic
    * variants like `0.15 * (1/n)`, which differ in the last ulp). */
  private def step(edges: DataFrame, ranks: DataFrame): DataFrame = {
    // hash-build the node-grain ranks side (|V|/partitions per task) so the
    // edge table streams unsorted — sort-merge re-sorts |E| every iteration
    val contrib = edges
      .join(ranks.select(col("node"), col("deg"), col("r")).hint("shuffle_hash"),
        col("src") === col("node"))
      .select(col("dst"),
        floor(col("r") / col("deg") * lit(ContribScale) + lit(0.5d))
          .cast("long").as("t"))
      .groupBy("dst").agg(sum("t").as("s"))
    ranks.select(col("node").as("nd"), col("deg").as("dg"), col("n").as("nn"))
      .join(contrib, col("nd") === col("dst"))
      .select(col("nd").as("node"), col("dg").as("deg"),
        (lit(0.15d) / col("nn")
          + lit(0.85d) * (col("s").cast("double") / lit(ContribScale))).as("r"),
        col("nn").as("n"))
  }

  /** PageRank over co-purchased parts, `iters` unrolled iterations from a
    * uniform start. Output grain: one row per part with its degree and
    * rank in parts-per-million (the 1e-4 output grid is too coarse for raw
    * ~1/N ranks). */
  def pagerankParts(spark: SparkSession, sfDir: String, iters: Int = 2): DataFrame = {
    require(iters >= 1)
    val it = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    val pairs = it.select(col("okey"), col("l_partkey").as("a"))
      .join(it.select(col("okey"), col("l_partkey").as("b")), "okey")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // every iteration probes the SAME edge table (plus the degree branch):
    // materialize it once — the standard iterative-graph trade — instead
    // of replaying the item self-join per consumer
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(false)
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val n1 = deg.agg(count(lit(1)).as("n"))
    val r0 = deg.crossJoin(broadcast(n1)).select(col("node"), col("deg"),
      (lit(1.0d) / col("n")).as("r"), col("n"))
    val ranks = (1 to iters).foldLeft(r0)((r, _) => step(edges, r))
    ranks.select(col("node").as("part"), col("deg"),
      Exprs.r4(col("r") * lit(1e6)).as("rank_ppm"))
      .orderBy("part")
  }

  /** Per-part triangle participation over the co-purchase graph — how many
    * closed part-triples each part sits in (the clustering signal behind
    * "customers who bought these two also bought…").
    *
    * Scale shape (Suri–Vassilvitskii MapReduce triangle counting): orient
    * every undirected edge from its lower-(degree, id) endpoint to the
    * higher one, enumerate wedges by self-joining the oriented edges on
    * their source, and close each wedge with one more equi-join back to the
    * oriented edge set. Under degree orientation the out-degree of every
    * node is O(√m), so the wedge count — the only intermediate — is
    * O(m^1.5) instead of Σ deg² (which a hub node makes quadratic). All
    * three steps are hash equi-joins; nothing is ever collected.
    *
    * `minSupport` prunes edges to pairs co-purchased at least that many
    * times BEFORE the wedge phase. The default (1) is the exact count on
    * the full graph — the checked contract. At corpus scale the threshold
    * is not optional: singleton co-occurrences are noise edges that
    * dominate m (and hence m^1.5) while contributing no stable structure,
    * so a 100 TB run raises `minSupport` with corpus size exactly like
    * the LSH band schedule — same counts on the edges that matter, wedge
    * volume collapses by orders of magnitude.
    *
    * The oracle enumerates triangles in id order (a<b<c) — a different
    * orientation of the SAME triangle set, so the per-node counts agree
    * exactly. */
  def triangleParts(spark: SparkSession, sfDir: String, minSupport: Long = 1): DataFrame = {
    val it = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    // the co-occurrence edge set feeds degree counting, orientation and
    // the closing join — materialize it once (lazy checkpoint) instead of
    // re-running the item self-join + count per consumer
    val pairs = it.select(col("okey"), col("l_partkey").as("a"))
      .join(it.select(col("okey"), col("l_partkey").as("b")), "okey")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minSupport)
      .select(col("a"), col("b"))
      .localCheckpoint(false)
    val deg = pairs.select(col("a").as("node"))
      .unionAll(pairs.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // every join below hints SHUFFLE_HASH with the edge/degree side as the
    // build: sort-merge would sort the O(m^1.5) wedge table just to probe
    // it against the m-row edge set (measured 2× the query). The build side
    // is |E|/partitions rows per task — the standard distributed-triangle
    // memory bound, which holds at any scale the edge set itself does.
    val withDeg = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("da")).hint("shuffle_hash"), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")).hint("shuffle_hash"), "b")
    // orient low→high in (deg, id) order; carry the destination's rank so
    // wedge canonicalization needs no further join
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddeg")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddeg")))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))
      // consumed three times (both wedge legs + the closing probe): pin it
      .localCheckpoint(false)
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
        .hint("shuffle_hash"), "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")).hint("shuffle_hash"),
      Seq("v", "w"))
    tri.select(col("src").as("part"))
      .unionAll(tri.select(col("v").as("part")))
      .unionAll(tri.select(col("w").as("part")))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))
      .orderBy("part")
  }

  val trianglePartsSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |      FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1 JOIN e e2 ON e1.b = e2.a
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (SELECT x AS part FROM t UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |SELECT part, count(*) AS n_tri FROM n GROUP BY 1 ORDER BY part""".stripMargin

  /** K-core decomposition (peel to the `k`-core) — the densest-backbone
    * extraction that completes the graph family next to PageRank
    * (importance), triangles (local clustering) and connected components
    * (reachability): the k-core is the maximal subgraph where every node
    * keeps ≥ k neighbors, the standard pre-filter before community
    * detection and the robustness measure of a co-purchase graph (a
    * recommender built on 3-core edges never recommends through a node
    * held in by one sale).
    *
    * Algorithm: simultaneous peeling — each round recounts degrees on the
    * surviving subgraph and drops every node under `k` AT ONCE (the
    * deterministic batch form of the sequential min-degree peel; both
    * reach the same fixed point, and batch rounds are the
    * shuffle-friendly version). `rounds` is a FIXED unroll — pure
    * relational rounds, no driver-side convergence loop, each round's
    * edge set `localCheckpoint`ed so lineage stays flat while the graph
    * shrinks monotonically. The spec asserts the fixture reaches the
    * fixed point (round `rounds`+1 changes nothing); at 100 TB each round
    * is one degree aggregate + two hash semi-joins on an edge set that
    * only ever shrinks, and peel depth grows slowly (real co-occurrence
    * graphs flatten in a handful of rounds; a pathological chain needs
    * more — raise `rounds`, the cost is per-round, not per-node).
    *
    * All-integer arithmetic — degrees and ids — so cross-engine parity is
    * exact by construction. Output: surviving parts with their in-core
    * degree. */
  def kcoreParts(spark: SparkSession, sfDir: String,
      k: Int = 60, rounds: Int = 6): DataFrame = {
    val it = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    val pairs = it.select(col("okey"), col("l_partkey").as("a"))
      .join(it.select(col("okey"), col("l_partkey").as("b")), "okey")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // EAGER checkpoints: each round's pair set is consumed three times by
    // the NEXT round (degree count + both semi-join sides) — a lazy
    // checkpoint would let those references race and recompute the whole
    // upstream peel per reference (lazy form measured 8.8 s at sf0.01 and >10 min at sf0.1; eager: 2.8 s / 7 s).
    // The peel runs on the HALF-EDGE pair list (a < b), not the symmetric
    // edge set: degrees come from exploding both endpoints (same shuffled
    // row count as a symmetric degree count), but the two semi-filter
    // joins and the per-round checkpoint each carry HALF the rows — the
    // symmetric view is only ever materialized implicitly, in the final
    // degree aggregate's union.
    val peeled = graft.Hygiene.rounds(pairs, rounds) { p =>
      val keep = p.select(col("a").as("n")).unionByName(p.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n").as("kn"))
      p.join(keep.hint("shuffle_hash"), col("a") === col("kn")).drop("kn")
        .join(keep.select(col("kn").as("kn2")).hint("shuffle_hash"),
          col("b") === col("kn2")).drop("kn2")
    }
    peeled.select(col("a").as("part")).unionByName(peeled.select(col("b").as("part")))
      .groupBy("part").agg(count(lit(1)).as("core_deg"))
      .orderBy("part")
  }

  /** Every peel CTE is `AS MATERIALIZED`: each round references the
    * previous round's edge set THREE times (degree count + both endpoint
    * semi-joins), and an inlined CTE chain would re-expand the base
    * self-join 3^rounds times (the un-materialized form exhausted 80 GB
    * of DuckDB temp space at sf0.1) — the exact oracle-side mirror of why
    * the Spark side eager-checkpoints per round. */
  def kcorePartsSql(k: Int = 60, rounds: Int = 6): String = {
    val head =
      """WITH it AS MATERIALIZED (SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem),
        |pr AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
        |       FROM it a JOIN it b ON a.okey = b.okey AND a.p < b.p),
        |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr
        |       UNION ALL SELECT b AS src, a AS dst FROM pr)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s""",
         |k${i - 1} AS MATERIALIZED (
         |  SELECT src FROM (SELECT src, count(*) AS d FROM e${i - 1} GROUP BY 1)
         |  WHERE d >= $k),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k${i - 1} x ON e.src = x.src JOIN k${i - 1} y ON e.dst = y.src)""".stripMargin
    }.mkString
    s"""$head$peels
       |SELECT src AS part, count(*) AS core_deg FROM e$rounds
       |GROUP BY 1 ORDER BY part""".stripMargin
  }

  /** Oracle for the thresholded form ([[triangleParts]] with
    * `minSupport > 1`) — the production scale path: the co-purchase pair
    * count gates edges BEFORE any wedge enumeration, so both engines
    * count triangles over the identical pruned edge set. */
  def trianglePartsThresholdSql(minSupport: Long): String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS a, b.l_partkey AS b
      |      FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= $minSupport),
      |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |      FROM e e1 JOIN e e2 ON e1.b = e2.a
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |n AS (SELECT x AS part FROM t UNION ALL SELECT y FROM t
      |      UNION ALL SELECT z FROM t)
      |SELECT part, count(*) AS n_tri FROM n GROUP BY 1 ORDER BY part""".stripMargin

  val pagerankPartsSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pr AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey < b.l_partkey),
      |e AS (SELECT a AS src, b AS dst FROM pr
      |      UNION ALL SELECT b, a FROM pr),
      |d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM d),
      |r0 AS (SELECT node, deg, 1.0 / nn.n AS r FROM d, nn),
      |c1 AS (SELECT e.dst, SUM(CAST(floor(r.r / r.deg * 1000000000000 + 0.5)
      |         AS BIGINT)) AS s
      |       FROM e JOIN r0 r ON e.src = r.node GROUP BY 1),
      |r1 AS (SELECT d.node, d.deg,
      |         0.15 / nn.n + 0.85 * (CAST(c1.s AS DOUBLE) / 1000000000000) AS r
      |       FROM d JOIN c1 ON d.node = c1.dst, nn),
      |c2 AS (SELECT e.dst, SUM(CAST(floor(r.r / r.deg * 1000000000000 + 0.5)
      |         AS BIGINT)) AS s
      |       FROM e JOIN r1 r ON e.src = r.node GROUP BY 1),
      |r2 AS (SELECT d.node, d.deg,
      |         0.15 / nn.n + 0.85 * (CAST(c2.s AS DOUBLE) / 1000000000000) AS r
      |       FROM d JOIN c2 ON d.node = c2.dst, nn)
      |SELECT node AS part, deg, floor(r * 1000000 * 10000 + 0.5) / 10000 AS rank_ppm
      |FROM r2 ORDER BY part""".stripMargin
}
