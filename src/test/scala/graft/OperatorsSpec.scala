package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Invariant tests over the operator outputs on sf0.001 (SURVEY.md §5
  * layer 2 — the reference's `data_validation/` semantics as assertions). */
class OperatorsSpec extends SparkSuite {

  test("F7: per-order allocated discounts sum to the header discount") {
    val itens = Facts.itensFact(spark, sfDir)
    val hdr = Tables.orders(spark, sfDir).select(
      col("o_orderkey"),
      Exprs.parseDesconto(Facts.descontoPedidoStr, col("o_totalprice")).as("dp"))
    val sums = itens.groupBy("l_orderkey")
      .agg(sum("desconto_alocado").as("alloc"))
      .join(hdr, col("l_orderkey") === col("o_orderkey"))
      // r4 rounds each item to 1e-4, so a 7-item order can drift ~4e-4
    val bad = sums.filter(abs(col("alloc") - col("dp")) > 0.01).count()
    assert(bad == 0)
  }

  test("itens fact preserves lineitem grain (C2 inner join, full part coverage)") {
    val n = Facts.itensFact(spark, sfDir).count()
    assert(n == Tables.lineitem(spark, sfDir).count())
  }

  test("F10: valor_lucro == valor_faturado - custo_total rowwise") {
    val bad = Facts.pedidosFact(spark, sfDir)
      .filter(abs(col("valor_lucro") - (col("valor_faturado") - col("custo_total"))) > 1e-3)
      .count()
    assert(bad == 0)
  }

  test("G1: exactly one survivor per dados_id, live beats synthetic") {
    val res = Quality.dupResolution(spark, sfDir)
    assert(res.groupBy("dados_id").count().filter(col("count") > 1).count() == 0)
    // every group that contains a live capture must elect a live survivor
    val folders = Tables.orders(spark, sfDir).select(
      (col("o_orderkey") % 2000).as("dados_id"),
      (col("o_orderkey") % 4 === 0).as("synth"))
    val liveGroups = folders.filter(!col("synth")).select("dados_id").distinct()
    val syntheticSurvivors = res.filter(Exprs.isSyntheticTs(col("ts")))
      .join(liveGroups, "dados_id")
    assert(syntheticSurvivors.count() == 0)
  }

  test("C4: anti-join removes every processed key") {
    assert(Quality.antiJoinDedupe(spark, sfDir)
      .filter(col("dados_id") % 7 === 0).count() == 0)
  }

  test("E4: set-equality verdict matches except-based recount") {
    val row = Quality.setEquality(spark, sfDir).collect()(0)
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey").as("id"))
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey").as("id"))
    assert(row.getAs[Long]("only_orders") == o.except(l).count())
    assert(row.getAs[Long]("only_lineitem") == l.except(o).count())
  }

  test("dedup_exact partitions the corpus: copies sum to doc count") {
    val res = Dedup.dedupExact(spark, sfDir)
    val total = res.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("dedup_jaccard pairs are ordered, thresholded minhash candidates") {
    val jac = Dedup.dedupJaccard(spark, sfDir)
    assert(jac.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(jac.filter(col("jaccard") < 0.5 || col("jaccard") > 1.0).count() == 0)
    val cand = Dedup.dedupMinhash(spark, sfDir)
    assert(jac.join(cand, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
  }

  test("simhash is deterministic across plans") {
    val a = Dedup.dedupSimhash(spark, sfDir).collect()
    val b = Dedup.dedupSimhash(spark, sfDir).collect()
    assert(a.sameElements(b))
  }

  test("ann_topk: 5 ranked neighbors per query, cosine within [-1,1], no self") {
    val res = Similarity.annTopk(spark, sfDir)
    val perQuery = res.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 5))
    assert(res.filter(col("cos") > 1.0 || col("cos") < -1.0).count() == 0)
    assert(res.filter(col("query_id") === col("target_id")).count() == 0)
  }

  test("typed Aggregator top-k equals the window-ranked top-k exactly") {
    val a = Similarity.annTopk(spark, sfDir).collect()
    val b = Similarity.annTopkAgg(spark, sfDir).collect()
    assert(a.sameElements(b))
  }

  test("nn-descent: each round's neighborhoods dominate the previous round's") {
    def byNode(rounds: Int): Map[Long, Seq[(Long, Double)]] =
      Similarity.annNndescent(spark, sfDir, rounds = rounds).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (u, rs) =>
          u -> rs.sortBy(_._2).map(t => (t._2, t._3)).toSeq
        }
    val g = (0 to 2).map(byNode)
    // shape: every node keeps ≤ 5 distinct non-self neighbors
    g(2).foreach { case (u, ns) =>
      assert(ns.size <= 5 && ns.map(_._1).distinct.size == ns.size)
      assert(!ns.exists(_._1 == u), s"node $u is its own neighbor")
    }
    // the candidate set of round r contains round r-1's edges, so every
    // node's sorted similarity profile is pointwise non-decreasing
    var improved = 0
    (1 to 2).foreach { r =>
      g(r).keySet.intersect(g(r - 1).keySet).foreach { u =>
        val prev = g(r - 1)(u).map(_._2).sorted.reverse
        val cur = g(r)(u).map(_._2).sorted.reverse
        prev.zip(cur).zipWithIndex.foreach { case ((p, c), i) =>
          assert(c >= p, s"node $u rank ${i + 1} regressed $p -> $c (round $r)")
        }
        if (cur.sum > prev.sum + 1e-9) improved += 1
      }
    }
    assert(improved > 0, "two descent rounds improved no neighborhood at all")
  }

  test("graph search: more hops never worsen the beam; overlap with exact top-k") {
    def byQuery(hops: Int): Map[Long, Seq[(Long, Double)]] =
      Similarity.annGraphSearch(spark, sfDir, hops = hops).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(-_._3).map(t => (t._2, t._3)).toSeq
        }
    val walks = (1 to 3).map(byQuery)
    // each hop's candidate set contains the previous beam, so the sorted
    // similarity profile of the answer is pointwise non-decreasing
    (1 until 3).foreach { i =>
      walks(i).keySet.intersect(walks(i - 1).keySet).foreach { q =>
        walks(i - 1)(q).map(_._2).zip(walks(i)(q).map(_._2))
          .foreach { case (p, c) =>
            assert(c >= p, s"query $q: hop ${i + 1} regressed $p -> $c")
          }
      }
    }
    // the walk must find genuinely near neighbors: non-trivial overlap with
    // the exact brute-force top-5, and never a self-hit
    val exact = Similarity.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    var hit = 0; var tot = 0
    walks(2).foreach { case (q, ns) =>
      assert(!ns.exists(_._1 == q), s"query $q returned itself")
      exact.get(q).foreach { ex =>
        hit += ns.map(_._1).count(ex); tot += ex.size
      }
    }
    assert(tot > 0 && hit.toDouble / tot >= 0.3,
      s"graph-search recall vs exact collapsed: $hit/$tot")
  }

  test("graph search oos: held-out queries enter via the LSH anchor with recall above the member floor") {
    val got = Similarity.annGraphSearchOos(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(got.nonEmpty, "no held-out query produced results")
    // targets must come from the CORPUS — a query id appearing as a target
    // would mean the graph saw a held-out vector
    got.foreach { case (q, ns) =>
      assert(q % 100 == 7, s"non-held-out query $q in the result")
      assert(ns.forall(_ % 100 != 7), s"query $q hit a held-out target")
      assert(ns.size <= 5)
    }
    // exact brute-force top-5 over the corpus for each held-out query
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val corpus = vecs.keys.filter(_ % 100 != 7).toSeq
    var hit = 0; var tot = 0
    vecs.keys.filter(_ % 100 == 7).foreach { q =>
      val exact = corpus.map(c => (cos(vecs(q), vecs(c)), c))
        .sortBy(t => (-t._1, t._2)).take(5).map(_._2).toSet
      hit += exact.intersect(got.getOrElse(q, Set())).size
      tot += exact.size
    }
    // the r14 defaults (auto width × 8 OR'd tables × beam 64) measured
    // 0.96 on this fixture (grid receipts in the annGraphSearchOos doc);
    // the floor sits just under it and at the HNSW-class serving bar —
    // the production path must stay ≥ 0.9, not merely non-collapsed
    assert(tot > 0 && hit.toDouble / tot >= 0.9,
      s"out-of-sample recall vs exact below the serving floor: $hit/$tot")
  }

  test("graph anchor dashboard: every query enters (seed), anchor cost stays bucket-shaped") {
    val corpus = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 100 =!= 7).count()
    val rows = Similarity.annGraphAnchor(spark, sfDir).collect()
    val nQueries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 100 === 7).count()
    assert(rows.length == nQueries,
      "a query with empty buckets must still appear — the seed guarantees it")
    // the auto width ([[Similarity.AnchorTargetBucket]] rule): smallest
    // b in [4, 16] with corpus ≤ 128·2^b — then nTables·n/2^b + seed
    val w = (4 to 16).find(b => corpus <= (128L << b)).getOrElse(16)
    val expected = 8.0 * corpus / (1L << w) + 1 // nTables·n/2^w + seed
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n >= 1, s"query ${r.getLong(0)} anchored nothing")
      assert(n <= 4 * expected,
        s"query ${r.getLong(0)} anchor cost $n blew past the bucket model ($expected)")
    }
  }

  test("graph recall dashboard: one row per held-out query, bounded hits, mean above the member floor") {
    val rows = Similarity.annGraphRecall(spark, sfDir).collect()
    val nQueries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 100 === 7).count()
    assert(rows.length == nQueries, "one recall row per held-out query")
    rows.foreach { r =>
      assert(r.getLong(0) % 100 == 7)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 5)
      assert(r.getDouble(2) == math.floor(r.getLong(1) / 5.0 * 10000 + 0.5) / 10000)
    }
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    // measured 0.96 here at the r14 defaults (auto width × 8 tables ×
    // beam 64); 1.00 at sf0.01, 0.91 at sf0.1 — floor at the 0.9
    // HNSW-class serving bar everywhere
    assert(mean >= 0.9, s"mean graph recall below the serving floor: $mean")
  }

  test("graph insert: inserted adjacency within epsilon of a from-scratch rebuild, batch rows only") {
    val inserted = Similarity.annGraphInsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(inserted.nonEmpty, "no batch vector produced an adjacency")
    val byNode = inserted.groupBy(_._1)
    byNode.foreach { case (v, rows) =>
      assert(v % 100 == 3, s"non-batch vector $v in the insert output")
      assert(rows.length <= 5)
      assert(rows.forall(_._2 % 100 != 3),
        s"inserted node $v linked to another batch vector — the base graph must not see the batch")
    }
    // quality vs a FROM-SCRATCH rebuild over base ∪ batch (the full-corpus
    // descent). Identity of the neighbor SETS is the wrong metric — the
    // rebuild's adjacency is itself descent-approximate, so a walk that
    // finds BETTER neighbors overlaps little (measured: overlap 0.2 while
    // mean cos beat the rebuild 0.32 vs 0.25). Assert quality instead:
    // the inserted adjacency's mean similarity must be within ε of the
    // rebuild's base-corpus adjacency (batch-member neighbors excluded —
    // the insert path cannot see those by design).
    val rebuilt = Similarity.annNndescent(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(_._1 % 100 == 3).groupBy(_._1)
    var insCos = 0.0; var rebCos = 0.0; var n = 0
    byNode.foreach { case (v, rows) =>
      rebuilt.get(v).foreach { reb =>
        val rebBase = reb.filter(_._2 % 100 != 3)
        insCos += rows.map(_._3).sum / rows.length
        rebCos += rebBase.map(_._3).sum / math.max(1, rebBase.length)
        n += 1
      }
    }
    assert(n > 0 && (rebCos - insCos) / n <= 0.02,
      s"inserted neighbor quality dropped vs rebuild: ${insCos / n} vs ${rebCos / n}")
    // absolute floor: recall vs EXACT brute-force base top-5 (measured
    // 0.84 here / 0.88 at sf0.01 — the serving-walk quality carries over)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val base = vecs.keys.filter(_ % 100 != 3).toSeq
    var hit = 0; var tot = 0
    byNode.foreach { case (v, rows) =>
      val exact = base.map(c => (cos(vecs(v), vecs(c)), c))
        .sortBy(t => (-t._1, t._2)).take(5).map(_._2).toSet
      hit += exact.intersect(rows.map(_._2).toSet).size
      tot += exact.size
    }
    assert(tot > 0 && hit.toDouble / tot >= 0.75,
      s"inserted adjacency recall vs exact below the serving floor: $hit/$tot")
  }

  test("ann_ivf returns a subset of cells consistent with routing") {
    val res = Similarity.annIvf(spark, sfDir).collect()
    assert(res.nonEmpty)
    // each query searches exactly one cell
    assert(res.groupBy(_.getAs[Long]("query_id"))
      .forall { case (_, rows) => rows.map(_.getAs[Long]("cell")).distinct.size == 1 })
  }

  test("media frames: sampling geometry covers the payload without overrun") {
    val n = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Multimodal.mediaFrames(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == n.keySet)
    byDoc.foreach { case (d, rs) =>
      val (thumbs, frames) = rs.partition(_.getString(1) == "thumb")
      assert(thumbs.length == 1 && thumbs.head.getLong(4) <= 64,
        "one thumbnail of at most 64 sampled bytes")
      assert(frames.nonEmpty && frames.length <= 3)
      frames.foreach { f =>
        val (off, len) = (f.getLong(3), f.getLong(4))
        assert(len > 0 && off + len <= n(d), s"frame overruns payload: $f")
        assert(len <= 256)
      }
      // first and last frames are always sampled
      assert(frames.exists(_.getLong(3) == 0))
      val lastOff = ((n(d) + 255) / 256 - 1) * 256
      assert(frames.exists(_.getLong(3) == lastOff))
    }
  }

  test("media frames: empty payload yields a zero thumb and NO frames") {
    import spark.implicits._
    val media = Seq(
      graft.operators.MediaRow(1L, Array.emptyByteArray, "video/mp4"),
      graft.operators.MediaRow(2L, Array.fill[Byte](300)(65), "video/mp4"))
      .toDS()
    val rows = Multimodal.mediaFramesOf(media).collect()
    val d1 = rows.filter(_.getLong(0) == 1L)
    assert(d1.length == 1 && d1.head.getString(1) == "thumb",
      s"empty payload must emit only its thumb, got ${d1.mkString(";")}")
    assert(d1.head.getLong(4) == 0 && d1.head.getLong(5) == 0)
    // the non-empty sibling still gets first+last frames (2 frames of 300B)
    val d2f = rows.filter(r => r.getLong(0) == 2L && r.getString(1) == "frame")
    assert(d2f.map(_.getLong(2)).sorted.toSeq == Seq(0L, 1L))
  }

  test("multimodal decode: payloads are genuine PNG and the codec roundtrip is lossless") {
    import spark.implicits._
    // the encoded column must be REAL PNG bytes (magic signature), not a
    // deterministic fake — this is the r9 'real codec in the loop' contract
    val payloads = Multimodal.encodePng(Seq(1L, 7L, 42L).toDS()).collect()
    val pngMagic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    payloads.foreach { m =>
      assert(m.payload.take(8).sameElements(pngMagic),
        s"doc ${m.doc_id}: payload is not PNG")
      assert(m.payload.length > 8)
    }
    // decode-side stats equal the generating formula (bit-exact roundtrip)
    val stats = Multimodal.decodePixelStats(Seq(
      graft.operators.MediaRow(42L, payloads.find(_.doc_id == 42L).get.payload,
        "image/png")).toDS()).collect().head
    val (w, h) = (4 + 42 % 5, 3 + 42 % 4)
    assert(stats.getLong(1) == w && stats.getLong(2) == h)
    val expected = (0 until w * h).map(p => (42L * 7 + p * 3) % 256).sum
    assert(stats.getLong(3) == expected,
      s"sum_r ${stats.getLong(3)} != formula $expected — codec not lossless")
  }

  test("sft render: loss-mask spans slice the rendered conversation back to the raw turn text") {
    val rows = CorpusOps.sftRender(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (conv, turn) = (r.getLong(0), r.getLong(1))
      assert(turn % 2 == 1, s"non-assistant turn $turn emitted a span")
      val raw = docs(conv * 4 + turn)
      // the span substring of the RENDERED string must recover the raw
      // text exactly — offsets consistent with the actual rendering
      assert(r.getString(6) == raw, s"conv $conv turn $turn: span slice drifted")
      assert(r.getLong(3) - r.getLong(2) == raw.length)
      assert(r.getLong(2) >= 1 && r.getLong(3) - 1 <= r.getLong(5),
        s"span outside the rendered string")
    }
    // every conversation with an assistant turn is represented
    val convs = rows.map(_.getLong(0)).distinct
    assert(convs.length == docs.keys.map(_ / 4).toSeq.distinct.length)
  }

  test("sft pack: spans re-base into pack coordinates consistently with the shard stream") {
    val rendered = CorpusOps.sftRender(spark, sfDir).collect()
    val packed = CorpusOps.sftPack(spark, sfDir).collect()
    assert(packed.length == rendered.length, "one packed row per loss span")
    // recompute the shard streams directly: conversations in id order per
    // shard, each starting where the previous one ended
    val convChars = rendered.map(r => r.getLong(0) -> r.getLong(5)).toMap
    val bases = convChars.keys.toSeq.sorted.groupBy(_ % 8).values.flatMap {
      convs =>
        convs.sorted.foldLeft((0L, List.empty[(Long, Long)])) {
          case ((acc, out), c) => (acc + convChars(c), (c, acc) :: out)
        }._2
    }.toMap
    val spans = rendered.map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    packed.foreach { r =>
      val (conv, turn) = (r.getLong(0), r.getLong(1))
      val (ss, se) = spans((conv, turn))
      val g = bases(conv) + ss - 1
      assert(r.getLong(2) == conv % 8)
      assert(r.getLong(3) == g / 2048, s"conv $conv turn $turn: pack drifted")
      assert(r.getLong(4) == g % 2048 + 1 &&
        r.getLong(4) >= 1 && r.getLong(4) <= 2048)
      assert(r.getLong(5) == se - ss)
      assert(r.getBoolean(6) == (g % 2048 + (se - ss) > 2048),
        s"conv $conv turn $turn: straddle flag wrong")
    }
    assert(packed.exists(!_.getBoolean(6)), "some span must fit inside a pack")
  }

  test("pack stats: fill and loss accounting reconcile with the stream and span totals") {
    val stats = CorpusOps.packStats(spark, sfDir).collect()
    val rendered = CorpusOps.sftRender(spark, sfDir).collect()
    val convChars = rendered.map(r => r.getLong(0) -> r.getLong(5)).toMap
    // splitting straddlers must CONSERVE loss chars globally
    val totalSpanChars = rendered.map(r => r.getLong(3) - r.getLong(2)).sum
    assert(stats.map(_.getLong(4)).sum == totalSpanChars)
    // pack fill tiles each shard stream exactly
    val fillByShard = stats.groupBy(_.getLong(0))
      .map { case (s, rows) => s -> rows.map(_.getLong(2)).sum }
    val streamByShard = convChars.toSeq.groupBy(_._1 % 8)
      .map { case (s, cs) => s -> cs.map(_._2).sum }
    assert(fillByShard == streamByShard)
    stats.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 2048)
      assert(r.getLong(4) <= r.getLong(2), "loss chars exceed the filled chars")
      assert(r.getLong(5) ==
        math.floor(10000.0 * r.getLong(4) / 2048).toLong)
    }
    // the stream is gapless: only the LAST pack of a shard may be partial
    stats.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.sortBy(_.getLong(1)).dropRight(1)
        .foreach(r => assert(r.getLong(2) == 2048, "mid-stream pack not full"))
    }
  }

  test("sft pack tokens: token-budget packing matches a word-grain recompute under the trained tokenizer") {
    val budget = 512L
    val packed = CorpusOps.sftPackTokens(spark, sfDir).collect()
    assert(packed.nonEmpty)
    // independent recompute: the trained model's per-word piece counts
    // (unigramLm output, the composition's other end) driven through the
    // packing arithmetic in plain Scala
    val nPieces = TextOps.unigramLm(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      .filter { case (_, t) => t != null && t.nonEmpty }
    def textToks(t: String): Long =
      t.split(" ").filter(_.nonEmpty).map(nPieces).sum
    // per conversation: surviving turns in order, running token offset,
    // assistant spans at off+2 (1-based, after the role special)
    case class Span(turn: Long, start: Long, toks: Long, chars: Long)
    val convSpans = docs.toSeq.map { case (id, t) => (id / 4, id % 4, t) }
      .groupBy(_._1).map { case (conv, ts) =>
        var off = 0L
        val spans = ts.sortBy(_._2).flatMap { case (_, turn, t) =>
          val tt = textToks(t)
          val s = if (turn % 2 == 1) Some(Span(turn, off + 2, tt, t.length.toLong))
                  else None
          off += tt + 2
          s
        }
        conv -> (off, spans)
      }.filter(_._2._2.nonEmpty)
    val bases = convSpans.keys.toSeq.sorted.groupBy(_ % 8).values.flatMap {
      convs => convs.sorted.foldLeft((0L, List.empty[(Long, Long)])) {
        case ((acc, out), c) => (acc + convSpans(c)._1, (c, acc) :: out)
      }._2
    }.toMap
    val expected = convSpans.toSeq.flatMap { case (conv, (_, spans)) =>
      spans.map { sp =>
        val g = bases(conv) + sp.start - 1
        (conv, sp.turn) -> ((conv % 8, g / budget, g % budget + 1, sp.toks,
          sp.chars, g % budget + sp.toks > budget))
      }
    }.toMap
    assert(packed.length == expected.size, "one packed row per loss span")
    packed.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (shard, pack, start, toks, chars, straddle) = expected(key)
      assert(r.getLong(2) == shard && r.getLong(3) == pack &&
        r.getLong(4) == start, s"$key: pack coordinates drifted")
      assert(r.getLong(5) == toks && r.getLong(6) == chars)
      assert(r.getBoolean(7) == straddle, s"$key: straddle flag wrong")
      // unit sanity: a ≥1-char-per-piece model can never cost more tokens
      // than characters, and coordinates stay inside the window
      assert(r.getLong(5) <= r.getLong(6), s"$key: tokens exceed chars")
      assert(r.getLong(4) >= 1 && r.getLong(4) <= budget)
    }
    // Σ in-pack tokens ≤ budget: clip straddlers at the pack boundary
    packed.groupBy(r => (r.getLong(2), r.getLong(3))).values.foreach { rows =>
      val filled = rows.map(r =>
        math.min(r.getLong(5), budget - r.getLong(4) + 1)).sum
      assert(filled <= budget, "a pack holds more tokens than its budget")
    }
    assert(packed.exists(!_.getBoolean(7)), "some span must fit inside a pack")
    assert(packed.exists(_.getBoolean(7)) ||
      packed.map(_.getLong(5)).max <= budget, "straddle fixture vacuous")
  }

  test("token pack: trained-tokenizer doc costs drive seqPack's exact greedy stream arithmetic") {
    val budget = 512L
    val rows = CorpusOps.tokenPack(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // composition check: per-doc token cost IS unigramEncode's n_pieces
    val enc = TextOps.unigramEncode(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == enc(r.getLong(0)),
        s"doc ${r.getLong(0)}: token cost diverged from unigram_encode")
    }
    // packing check: replay the greedy per-source stream in plain Scala
    rows.groupBy(_.getString(1)).values.foreach { docs =>
      var cum = 0L
      docs.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == cum / budget, s"doc ${r.getLong(0)}: pack_id")
        assert(r.getLong(4) == cum % budget, s"doc ${r.getLong(0)}: offset")
        cum += r.getLong(2)
      }
    }
  }

  test("sft pipeline: the composed plan agrees with each standalone stage operator") {
    val budget = 2048L
    val rows = CorpusOps.sftPipeline(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // packing coordinates must equal sftPack's per (conv, turn) — the
    // first-span running total replays the conv-grain distinct exactly
    val packed = CorpusOps.sftPack(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6))).toMap
    assert(rows.length == packed.size, "one row per packed loss span")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (shard, pack, start, straddle) = packed(key)
      assert(r.getLong(2) == shard && r.getLong(3) == pack &&
        r.getLong(4) == start && r.getBoolean(6) == straddle,
        s"$key: pipeline pack coords diverge from sftPack")
    }
    // DPO verdicts must equal dpoPairs' per conversation (= prompt group)
    val pairs = CorpusOps.dpoPairs(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5)))
      .toMap
    rows.foreach { r =>
      val conv = r.getLong(0)
      if (r.getLong(7) >= 2) {
        val (ct, rt, m) = pairs(conv)
        assert(r.getLong(8) == ct && r.getLong(9) == rt && r.getLong(10) == m,
          s"conv $conv: pipeline DPO verdict diverges from dpoPairs")
      } else {
        assert(r.isNullAt(8) && r.isNullAt(9) && r.isNullAt(10),
          s"conv $conv: < 2 candidates must null the verdict")
      }
    }
    // home-pack stats reconcile with the rows themselves
    rows.groupBy(r => (r.getLong(2), r.getLong(3))).foreach {
      case ((s, p), group) =>
        val inPack = group.map(r =>
          math.min(r.getLong(5), budget - r.getLong(4) + 1)).sum
        group.foreach { r =>
          assert(r.getLong(11) == group.length && r.getLong(12) == inPack,
            s"pack ($s,$p): window stats drifted")
          assert(r.getLong(13) ==
            math.floor(10000.0 * inPack / budget).toLong)
        }
        assert(inPack <= budget, s"pack ($s,$p) overfilled")
    }
  }

  test("sft pipeline tokens: the token-budget composition agrees with each standalone operator") {
    val budget = 512L
    val rows = CorpusOps.sftPipelineTokens(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // token pack coordinates must equal sftPackTokens' per (conv, turn) —
    // the one-scan wrn=1 collapse replays the aggregate-and-join-back
    val packed = CorpusOps.sftPackTokens(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7))).toMap
    assert(rows.length == packed.size, "one row per packed token loss span")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (shard, pack, start, toks, chars, straddle) = packed(key)
      assert(r.getLong(2) == shard && r.getLong(3) == pack &&
        r.getLong(4) == start && r.getLong(5) == toks &&
        r.getLong(6) == chars && r.getBoolean(7) == straddle,
        s"$key: pipeline token coords diverge from sftPackTokens")
      assert(r.getLong(5) <= r.getLong(6),
        s"$key: a span cannot cost more tokens than characters")
    }
    // DPO verdicts must equal dpoPairs' per conversation
    val pairs = CorpusOps.dpoPairs(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5)))
      .toMap
    rows.foreach { r =>
      val conv = r.getLong(0)
      if (r.getLong(8) >= 2) {
        val (ct, rt, m) = pairs(conv)
        assert(r.getLong(9) == ct && r.getLong(10) == rt && r.getLong(11) == m,
          s"conv $conv: pipeline DPO verdict diverges from dpoPairs")
      } else {
        assert(r.isNullAt(9) && r.isNullAt(10) && r.isNullAt(11),
          s"conv $conv: < 2 candidates must null the verdict")
      }
    }
    // home-pack token stats reconcile with the rows themselves
    rows.groupBy(r => (r.getLong(2), r.getLong(3))).foreach {
      case ((s, p), group) =>
        val inPack = group.map(r =>
          math.min(r.getLong(5), budget - r.getLong(4) + 1)).sum
        group.foreach { r =>
          assert(r.getLong(12) == group.length && r.getLong(13) == inPack,
            s"pack ($s,$p): token window stats drifted")
          assert(r.getLong(14) ==
            math.floor(10000.0 * inPack / budget).toLong)
        }
        assert(inPack <= budget, s"pack ($s,$p) overfilled")
    }
  }

  test("dpo pairs: deterministic chosen/rejected selection matches a direct recompute") {
    val rows = CorpusOps.dpoPairs(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def score(t: String): Long = {
      val letters = t.count(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
      math.floor(10000.0 * letters / t.length).toLong
    }
    val groups = docs.toSeq
      .filter { case (id, t) => id % 4 != 0 && t != null && t.nonEmpty }
      .groupBy(_._1 / 4)
    // exactly the >=2-candidate groups are emitted
    assert(rows.map(_.getLong(0)).toSet ==
      groups.filter(_._2.size >= 2).keySet)
    rows.foreach { r =>
      val pid = r.getLong(0)
      val cands = groups(pid).map { case (id, t) => (id % 4, score(t)) }
      assert(cands.size.toLong == r.getLong(6))
      val chosen = cands.minBy { case (t, s) => (-s, t) }
      val rejected = cands.minBy { case (t, s) => (s, -t) }
      assert((r.getLong(1), r.getLong(3)) == chosen,
        s"prompt $pid: chosen drifted from the tie-broken argmax")
      assert((r.getLong(2), r.getLong(4)) == rejected,
        s"prompt $pid: rejected drifted from the tie-broken argmin")
      assert(r.getLong(5) == chosen._2 - rejected._2 && r.getLong(5) >= 0)
      assert(r.getLong(1) != r.getLong(2), "chosen must never equal rejected")
    }
  }

  test("image dedup: real PNG in the loop; every single-pixel-edit family found, no cross-family pairs") {
    // fixture payloads must be REAL PNG (the codec-in-the-loop contract)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val pngMagic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    assert(Multimodal.dhashPayload(writer, 5L).take(8).sameElements(pngMagic))
    val pairs = Multimodal.imageDedup(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // dHash invariance to the +115 single-pixel edit: each variant moves
    // at most one 2x2 block, i.e. <= 2 bits, all inside ONE 16-bit band —
    // the other three bands match exactly, so banded LSH finds every one
    // of the C(4,2)=6 pairs per family (recall is total by construction)
    assert(pairs.length == (nDocs / 4) * 6, s"got ${pairs.length} pairs")
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a / 4 == b / 4, s"cross-family pair ($a,$b) survived hamming<=6")
      assert(h <= 4, s"intra-family pair ($a,$b) at hamming $h > 2 bits/edit * 2")
    }
    // distinct families produce genuinely distinct signatures: a shifted
    // pattern (dHash is brightness-invariant) would collapse them
    assert(pairs.map(_.getLong(0) / 4).distinct.length == (nDocs / 4).toInt)
  }

  test("audio dedup: real WAV in the loop; every single-sample-edit family found, no cross-family pairs") {
    import scala.jdk.CollectionConverters._
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val writer = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.find(_.isFileTypeSupported(wave)).get
    // fixture payloads must be REAL RIFF/WAVE containers
    val hdr = Multimodal.envelopePayload(writer, 9L)
    assert(new String(hdr.slice(0, 4), "US-ASCII") == "RIFF" &&
      new String(hdr.slice(8, 12), "US-ASCII") == "WAVE")
    // and the real javax.sound reader agrees with the chunk-walk decode
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(hdr))
    assert(ais.readAllBytes().toSeq == Multimodal.parseWav(hdr).data.toSeq)
    val pairs = Multimodal.audioDedup(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    // the +9999 single-sample edits all land in window 25 → ≤ 2 flipped
    // bits per variant, all inside band 1 → total family recall
    assert(pairs.length == (nDocs / 4) * 6, s"got ${pairs.length} pairs")
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a / 4 == b / 4, s"cross-family pair ($a,$b) survived hamming<=6")
      assert(h <= 4, s"intra-family pair ($a,$b) at hamming $h")
    }
    assert(pairs.map(_.getLong(0) / 4).distinct.length == (nDocs / 4).toInt)
  }

  test("image dedup eval: the dashboard row is internally consistent, total recall by construction") {
    val r = Multimodal.imageDedupEval(spark, sfDir).collect().head
    val (truth, found, tp, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (prec, rec) = (r.getLong(4), r.getLong(5))
    assert(rec == 10000, "every intra-family pair shares 3 bands — recall is total")
    assert(tp == truth && tp + fp == found)
    assert(prec == math.floor(10000.0 * tp / found).toLong && prec <= 10000)
  }

  test("minhash dedup eval: perfect precision by fixture disjointness, recall measures the banding loss") {
    val r = Dedup.dedupMinhashEval(spark, sfDir).collect().head
    val (truth, cand, found, tp, fp) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    val (prec, rec) = (r.getLong(5), r.getLong(6))
    // fam is embedded in every token, so cross-family shingle sets are
    // disjoint: every candidate passes the Jaccard verify and none is false
    assert(prec == 10000 && fp == 0,
      "cross-family tokens are disjoint — a false positive is an md5 accident")
    assert(cand == found && tp == found)
    // recall is the banding probability at J ≈ 0.63-0.76 (≈ 1-(1-J⁴)⁴):
    // strictly lossy (the LSH trade the eval exists to measure) but far
    // above a coin flip — both bounds would catch a broken band join
    assert(rec < 10000, "banded minhash recall cannot be total at J < 1")
    assert(rec >= 5000, s"recall $rec collapsed — band join broken?")
    assert(tp <= truth && rec == math.floor(10000.0 * tp / truth).toLong)
  }

  test("video dedup: real animated GIF in the loop; middle-frame-edit families found with total recall") {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val payload = Multimodal.clipPayload(writer, 13L)
    // fixture payloads must be REAL GIF containers with all 5 frames
    assert(new String(payload.take(4), "US-ASCII") == "GIF8")
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload)))
    assert(reader.getNumImages(true) == 5)
    val pairs = Multimodal.videoDedup(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(pairs.length == (nDocs / 4) * 6, s"got ${pairs.length} pairs")
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a / 4 == b / 4, s"cross-family pair ($a,$b) survived hamming<=6")
      assert(h <= 4, s"intra-family pair ($a,$b) at hamming $h")
    }
    assert(pairs.map(_.getLong(0) / 4).distinct.length == (nDocs / 4).toInt)
  }

  test("multimodal audio: payloads are genuine RIFF/WAVE and the codec roundtrip is lossless") {
    import spark.implicits._
    // encoded column must be a REAL WAV container (RIFF....WAVE magic),
    // mono and stereo both exercised
    val payloads = Multimodal.encodeWav(Seq(2L, 7L).toDS()).collect()
    payloads.foreach { m =>
      val hdr = m.payload
      assert(new String(hdr.slice(0, 4), "US-ASCII") == "RIFF" &&
        new String(hdr.slice(8, 12), "US-ASCII") == "WAVE",
        s"doc ${m.doc_id}: payload is not a WAV container")
    }
    // decode-side stats equal the generating formula (bit-exact roundtrip)
    // for the stereo clip (id=7: 2 channels, 57 frames)
    val stats = Multimodal.decodeAudioStats(Seq(
      payloads.find(_.doc_id == 7L).get).toDS()).collect().head
    assert(stats.getLong(1) == 8000L && stats.getLong(2) == 2L &&
      stats.getLong(3) == 57L && stats.getLong(4) == 57L * 125)
    // the REAL javax.sound reader stays in the verification loop: it must
    // agree with the RIFF chunk-walk the hot path uses (AudioSystem is
    // kept out of the per-row path only because its provider discovery is
    // a measured lock convoy, not because the parse differs)
    payloads.foreach { m =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val wav = Multimodal.parseWav(m.payload)
      assert(ais.getFormat.getChannels == wav.channels &&
        ais.getFormat.getSampleRate.toLong == wav.sampleRate)
      assert(ais.readAllBytes().toSeq == wav.data.toSeq,
        s"doc ${m.doc_id}: RIFF parse disagrees with the javax.sound codec")
    }
    val expected = (for { f <- 0 until 57; c <- 0 until 2 }
      yield (7L * 31 + f * 7 + c * 13) % 65536 - 32768).sum
    assert(stats.getLong(5) == expected,
      s"sum_amp ${stats.getLong(5)} != formula $expected — codec not lossless")
    // negative samples must survive the signed round-trip: the formula
    // spans both signs over 57×2 samples
    assert(expected < 0 || stats.getLong(6) > stats.getLong(5),
      "energy must dominate a signed amplitude sum")
  }

  test("lr quality: trained weights separate a planted low-quality stratum held out from training") {
    import spark.implicits._
    // plant two strata by construction (labels GIVEN, not rule-derived):
    // good docs share a common-word vocabulary, junk docs are one token
    // repeated — the classifier must generalize from the train half to
    // ids it never saw
    def good(i: Int) = (Seq.fill(5)("the data of table and value is row")
      .mkString(" ") + s" u$i v$i", 1L)
    def junk(i: Int) = (Seq.fill(40)("spam").mkString(" ") + s" j$i", 0L)
    val docs = (0 until 200).map { i =>
      val (t, y) = if (i % 2 == 0) good(i) else junk(i)
      (i.toLong, t, y)
    }.toDF("doc_id", "text", "y")
    val w = CorpusOps.lrTrain(docs.filter(col("doc_id") < 100))
    val held = CorpusOps.lrScore(docs.filter(col("doc_id") >= 100), w)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val hi = held.filter(_._1 == 1L).map(_._2)
    val lo = held.filter(_._1 == 0L).map(_._2)
    assert(hi.length == 50 && lo.length == 50)
    assert(hi.min > lo.max,
      s"strata overlap on held-out docs: good>=${hi.min}, junk<=${lo.max}")
    assert(hi.sum / hi.length - lo.sum / lo.length > 0.5,
      "mean separation under 0.5 — training barely moved the weights")
    val acc = held.count { case (y, _, p) => p == (y == 1L) } / 200.0 * 2
    assert(acc >= 0.9, s"held-out accuracy $acc")
    // the model is corpus-size-free: exactly buckets+1 weights
    assert(w.size == 4097)
  }

  test("unigram lm: pieces reconstruct the word, nll is the trained optimal score, EM moves the model") {
    val wt = TextOps.unigramWordTable(spark, sfDir)
      .filter(length(col("word")) <= 16)
    val trained = TextOps.unigramTrain(wt)
    val seed = TextOps.unigramTrain(wt, rounds = 0)
    val rows = TextOps.unigramLm(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var multi = 0
    rows.foreach { r =>
      val (word, pieces, n, nll) =
        (r.getString(0), r.getString(2), r.getLong(3), r.getLong(4))
      if (pieces == "[UNK]") assert(word.length > 16 && n == 1L)
      else {
        val ps = pieces.split(" ")
        assert(ps.mkString("") == word,
          s"segmentation lost characters: '$word' -> '$pieces'")
        assert(n == ps.length.toLong)
        // nll is exactly the negated sum of trained piece scores...
        assert(nll == -ps.map(trained).sum,
          s"'$word': nll $nll != recomputed ${-ps.map(trained).sum}")
        // ...and Viterbi-optimal: no segmentation beats it, in particular
        // not the always-available all-single-char one
        val single = -word.map(c => trained(c.toString)).sum
        assert(nll <= single, s"'$word': $nll worse than single-char $single")
        if (ps.length > 1) multi += 1
      }
    }
    assert(multi > 0, "no word needed more than one piece — degenerate vocab")
    // hard-EM re-estimation must actually move the model off the seed
    assert(trained != seed, "EM rounds left every score unchanged")
    // character coverage survives every prune round
    val chars = rows.filter(_.getString(2) != "[UNK]")
      .flatMap(_.getString(0).toCharArray.map(_.toString)).toSet
    assert(chars.forall(trained.contains), "a corpus char fell out of the vocab")
  }

  test("html extract: boilerplate drops, main content survives tag-stripping intact") {
    val res = CorpusOps.htmlExtract(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    res.collect().foreach { r =>
      val (id, nBlocks, nGood, extracted) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      // the page always has 5 non-empty blocks: nav, promo, 2 paragraphs,
      // footer (a paragraph can be empty only for degenerate short text)
      assert(nBlocks >= 3 && nBlocks <= 5, s"doc $id: $nBlocks blocks")
      assert(nGood <= 2, s"doc $id: boilerplate leaked into good blocks")
      // no boilerplate strings in the extraction, ever
      Seq("Home", "Subscribe now", "Copyright", "<").foreach(t =>
        assert(!extracted.contains(t), s"doc $id: '$t' leaked"))
      // good blocks are the two text halves: their concatenation (modulo
      // the mid-split whitespace seam) reconstructs the original text
      if (nGood == 2) {
        val txt = docs(id)
        val half = txt.length / 2
        val expected = (txt.substring(0, half).trim + " " +
          txt.substring(half).trim).trim
        assert(extracted == expected,
          s"doc $id: extraction mangled the content")
      }
      assert(r.getLong(4) == extracted.length.toLong)
      assert(r.getLong(5) > 0L, s"doc $id: no boilerplate measured")
    }
    res.unpersist()
    ()
  }

  test("url dedup: every canonical form is normalized and keeper-consistent") {
    val res = CorpusOps.urlDedup(spark, sfDir).cache()
    val nDocs = Tables.documents(spark, sfDir).count()
    val rows = res.collect()
    // fixture variants collapse: the canonical URL is a function of
    // doc_id % 100 (source = doc_id % 20, path item = % 50, query id =
    // % 25, scheme = parity, port class = % 4), so 500 docs → ≤ 100 urls
    assert(rows.map(_.getLong(1)).sum == nDocs, "dedup lost or grew rows")
    assert(rows.length < nDocs && rows.length <= 100,
      s"${rows.length} canonicals — normalization failed to collapse variants")
    val shape =
      "^(https?)://src[0-9]+\\.example\\.com(:8080)?/Articles/item-([0-9]+)\\?id=([0-9]+)&page=2$".r
    rows.foreach { r =>
      val (canon, keeper) = (r.getString(0), r.getLong(2))
      canon match {
        case shape(scheme, port, item, id) =>
          // scheme/port/path/query all recoverable from the keeper id —
          // normalization preserved exactly the identity-bearing parts
          assert(scheme == (if (keeper % 2 == 0) "https" else "http"), canon)
          assert((port == ":8080") == (keeper % 4 == 1), canon)
          assert(item.toLong == keeper % 50, canon)
          assert(id.toLong == keeper % 25, canon)
        case _ => fail(s"canonical '$canon' is not in normal form")
      }
      // nothing a normalizer must strip survives
      Seq("WWW", "www.", "#", "utm_", ":443", ":80/", "//A").foreach(t =>
        assert(!canon.contains(t), s"'$t' survived in '$canon'"))
      // keeper is the min doc_id of its group: its raw sample must parse
      // back to the same canonical class
      assert(r.getString(3).toLowerCase.contains("src" + (keeper % 20)), canon)
    }
    res.unpersist()
    ()
  }

  test("corpus remix: realized per-domain repetitions equal planned_docs exactly") {
    val planned = Sampling.domainMix(spark, sfDir)
      .select("source", "planned_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val remix = Sampling.corpusRemix(spark, sfDir).cache()
    val realized = remix.groupBy("source").agg(sum("n_rep").as("got"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    planned.foreach { case (src, p) =>
      assert(realized.getOrElse(src, 0L) == p,
        s"domain $src: realized ${realized.getOrElse(src, 0L)} != planned $p")
    }
    // the draw is a permutation rank within each domain: ranks are dense
    // from 1, and every emitted doc repeats at least once
    assert(remix.filter(col("n_rep") < 1).count() == 0)
    val headRanks = remix.filter(col("rank") === 1)
      .select("source").distinct().count()
    assert(headRanks == realized.size, "a domain lost its rank-1 doc")
    // DoReMi upweights at least one domain past its size at this fixture:
    // epoch-style oversampling must appear (n_rep >= 2 somewhere) whenever
    // some planned budget exceeds the domain's doc count
    val nDocs = Tables.documents(spark, sfDir).groupBy("source")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (planned.exists { case (s, p) => p > nDocs(s) })
      assert(remix.filter(col("n_rep") >= 2).count() > 0,
        "an oversampled domain emitted no repeated docs")
    remix.unpersist()
    ()
  }

  test("unigram soft: expected counts are the exact forward-backward posteriors, fractional where hard-EM is all-or-nothing") {
    import graft.plans.LatticeCounts
    import spark.implicits._
    // ambiguous word: 'ab' segments as [ab] or [a b]; the model scores
    // make [ab] the Viterbi winner (2.5 < 1.0 + 2.0)
    val scores = Map("a" -> -1000000L, "b" -> -2000000L, "ab" -> -2500000L)
    val wt = Seq(("ab", 10L)).toDF("word", "freq")
    val soft = TextOps.unigramSoftCounts(wt, scores).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand forward-backward in the kernel's exact op order
    val (pa, pb, pab) = (LatticeCounts.ehat(-1000000L),
      LatticeCounts.ehat(-2000000L), LatticeCounts.ehat(-2500000L))
    val a1 = 1.0 * pa
    val z = 1.0 * pab + a1 * pb // fwd(2): ascending i — "ab" then "b"
    def grid(e: Double) = math.floor(e * 1e6 + 0.5).toLong
    assert(soft("ab") == 10L * grid(((1.0 * pab) * 1.0) / z))
    assert(soft("a") == 10L * grid(((1.0 * pa) * (pb * 1.0)) / z))
    assert(soft("b") == 10L * grid(((a1 * pb) * 1.0) / z))
    // fractional posteriors: every piece used SOMEWHERE but nowhere fully
    Seq("a", "b", "ab").foreach { p =>
      assert(soft(p) > 0L && soft(p) < 10L * 1000000L,
        s"'$p' expected count ${soft(p)} not fractional")
    }
    // hard-EM on the same word is all-or-nothing: Viterbi picks [ab], so
    // 'a'/'b' get zero usage — the contrast soft EM exists to fix
    val best = TextOps.unigramViterbi(wt, scores, 16, 4)
      .collect().head.getString(2)
    assert(best.endsWith("|ab"), s"expected [ab] Viterbi path, got $best")
    // corpus-level: soft training converges to a model that differs from
    // the hard-EM one (the E-steps count differently), yet still
    // segments every word losslessly with full character coverage
    val cwt = TextOps.unigramWordTable(spark, sfDir)
      .filter(length(col("word")) <= 16)
    val softModel = TextOps.unigramSoftTrain(cwt)
    val hardModel = TextOps.unigramTrain(cwt)
    assert(softModel != hardModel,
      "soft and hard EM trained identical models — E-step not soft")
    val rows = TextOps.unigramSoft(spark, sfDir).collect()
    rows.filter(_.getString(2) != "[UNK]").foreach { r =>
      assert(r.getString(2).split(" ").mkString("") == r.getString(0),
        s"segmentation lost characters: '${r.getString(0)}'")
    }
  }

  test("lr rowwise scoring: the streaming shape equals the grouped path bit-for-bit") {
    val labeled = CorpusOps.lrLabeled(spark, sfDir)
    val w = CorpusOps.lrTrain(labeled)
    val grouped = CorpusOps.lrScore(labeled, w).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    val rowwise = CorpusOps.lrScoreRowwise(labeled, w).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(rowwise.keySet == grouped.keySet)
    // per-row token fold == grouped bucket-count dot product, exactly
    // (both are integer sums into the identical sigmoid)
    rowwise.foreach { case (id, s) =>
      assert(s == grouped(id), s"doc $id: rowwise $s != grouped ${grouped(id)}")
    }
  }

  test("unigram encode: per-doc budgets agree with the trained word-grain segmentation") {
    val seg = TextOps.unigramLm(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextOps.unigramEncode(spark, sfDir).collect()
    assert(rows.length == docs.size)
    rows.take(50).foreach { r =>
      val toks = docs(r.getLong(0)).split(" ").filter(_.nonEmpty)
      assert(r.getLong(1) == toks.length.toLong, s"doc ${r.getLong(0)} n_words")
      assert(r.getLong(2) == toks.map(seg).sum,
        s"doc ${r.getLong(0)}: budget disagrees with word-grain segmentation")
      if (toks.nonEmpty) assert(r.getDouble(3) >= 1.0,
        "fertility under 1 — a word segmented into zero pieces")
    }
  }

  test("multimodal video: payloads are genuine animated GIFs, frame sampling decodes losslessly") {
    import spark.implicits._
    val payloads = Multimodal.encodeGif(Seq(4L, 11L).toDS()).collect()
    payloads.foreach { m =>
      assert(new String(m.payload.take(6), "US-ASCII") == "GIF89a",
        s"doc ${m.doc_id}: payload is not an animated GIF")
    }
    // id=11: 8 frames, 9x9 — sampled frames are 0, 4, 7; stats must equal
    // the generating formula (bit-exact multi-frame roundtrip)
    val rows = Multimodal.decodeFrameStats(Seq(
      payloads.find(_.doc_id == 11L).get).toDS())
      .orderBy("frame_idx").collect()
    assert(rows.map(_.getLong(4)).toSeq == Seq(0L, 4L, 7L))
    rows.foreach { r =>
      assert(r.getLong(1) == 8L && r.getLong(2) == 9L && r.getLong(3) == 9L)
      val f = r.getLong(4)
      val expect = (0 until 81).map(p => (11L * 13 + f * 17 + p * 5) % 256).sum
      assert(r.getLong(5) == expect,
        s"frame $f: pix_sum ${r.getLong(5)} != formula $expect — codec not lossless")
    }
    // the sampled set collapses correctly on a short clip (id=4: 7 frames
    // -> 0,3,6; and a hypothetical 1-frame clip would emit one row via
    // distinct — the geometry mediaFrames pins)
    val short = Multimodal.decodeFrameStats(Seq(
      payloads.find(_.doc_id == 4L).get).toDS()).collect()
    assert(short.map(_.getLong(4)).sorted.toSeq == Seq(0L, 3L, 6L))
  }

  test("multimodal: mime dispatcher routes every row through its real codec") {
    val res = Multimodal.multimodalFeatures(spark, sfDir).cache()
    assert(res.count() == Tables.documents(spark, sfDir).count())
    // each doc_id%3 slice must agree with the DEDICATED codec operator —
    // the dispatcher is the same decode, routed by mime
    val png = res.filter(col("mime") === "image/png")
      .join(Multimodal.multimodalDecode(spark, sfDir)
        .withColumnRenamed("width", "p_w").withColumnRenamed("height", "p_h"),
        "doc_id")
    assert(png.filter(col("content_sum") =!=
      col("sum_r") + col("sum_g") + col("sum_b") ||
      col("width") =!= col("p_w") || col("height") =!= col("p_h"))
      .count() == 0)
    val wav = res.filter(col("mime") === "audio/wav")
      .join(Multimodal.multimodalAudio(spark, sfDir)
        .select(col("doc_id"), col("n_frames").as("a_frames"),
          col("sample_rate").as("a_rate"), col("sum_amp")), "doc_id")
    assert(wav.filter(col("content_sum") =!= col("sum_amp") ||
      col("n_frames") =!= col("a_frames") ||
      col("sample_rate") =!= col("a_rate")).count() == 0)
    val gifSums = Multimodal.multimodalVideo(spark, sfDir)
      .groupBy("doc_id").agg(sum("pix_sum").as("v_sum"),
        max(col("n_frames")).as("v_frames"))
      .select(col("doc_id"), col("v_sum"), col("v_frames"))
    val gif = res.filter(col("mime") === "video/gif").join(gifSums, "doc_id")
    assert(gif.filter(col("content_sum") =!= col("v_sum") ||
      col("n_frames") =!= col("v_frames")).count() == 0)
    assert(Seq("image/png", "audio/wav", "video/gif").forall(m =>
      res.filter(col("mime") === m).count() > 0))
    res.unpersist()
    ()
  }

  test("bm25 retrieval: scores rank monotonically and the query doc self-retrieves") {
    val res = TextOps.bm25Topk(spark, sfDir).collect()
    assert(res.nonEmpty)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(2))
      // ranks are 1..n and scores never increase down the list
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $qid not rank-ordered: ${scores.mkString(",")}")
      // the query doc contains every query term with maximal tf — it must
      // appear in its own result list
      assert(rows.exists(_.getLong(1) == qid),
        s"query doc $qid missing from its own top-k")
    }
  }

  test("doc lm score: probabilities bounded, repeated transitions score higher") {
    val res = TextOps.docLmScore(spark, sfDir).collect()
    assert(res.length == Tables.documents(spark, sfDir).count())
    res.foreach { r =>
      val n = r.getLong(1)
      if (n > 0) {
        val s = r.getDouble(2)
        // each bigram's P(w2|w1) ∈ (0, 1] ⇒ so is the mean (grid-rounded)
        assert(s > 0.0 && s <= 1.0 + 1e-9, s"score out of range: $r")
      } else assert(r.isNullAt(2), s"bigram-less doc must have NULL score: $r")
    }
    // identical texts see identical transitions → identical scores
    val dupTexts = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) >= 2).collect()
    val byId = res.map(r => r.getLong(0) -> r).toMap
    dupTexts.foreach { g =>
      val scores = g.getSeq[Long](1).map(id => byId(id).get(2)).distinct
      assert(scores.size == 1, s"exact-dup docs scored differently: $g")
    }
  }

  test("contatos autodetect: inferred-schema landing equals the declared dim") {
    val stage = java.nio.file.Files.createTempDirectory("contatos").toString + "/stage"
    val inferred = Dimensions.contatosDimInferred(spark, sfDir, stage)
    val declared = Dimensions.contatosDim(spark, sfDir)
    assert(inferred.schema == declared.schema,
      s"autodetect drifted: ${inferred.schema} vs ${declared.schema}")
    assert(inferred.exceptAll(declared).count() == 0
      && declared.exceptAll(inferred).count() == 0)
  }

  test("substring dup spans: exact-dup docs are fully covered; counts bounded") {
    val res = Dedup.substringDupSpans(spark, sfDir).collect()
    res.foreach { r =>
      val (nt, nw, nd, frac) = (r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]).getOrElse(0.0))
      assert(nd <= nw, s"more dup windows than windows: $r")
      assert(frac >= 0.0 && frac <= 1.0, s"coverage out of range: $r")
      if (nd == nw && nw > 0) assert(frac >= 0.9, // all windows dup ⇒ near-full cover
        s"all-dup doc barely covered: $r")
    }
    // docs with byte-identical text must cover each other completely
    val texts = Tables.documents(spark, sfDir)
      .groupBy("text").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("n"))
      .filter(col("n") >= 2).collect()
    if (texts.nonEmpty) {
      val dupIds = texts.flatMap(_.getSeq[Long](1)).toSet
      val byId = res.map(r => r.getLong(0) -> r).toMap
      dupIds.foreach { id =>
        val r = byId(id)
        if (r.getLong(2) > 0) // doc long enough to have windows
          assert(r.getDouble(4) == 1.0, s"exact-dup doc $id not fully covered: $r")
      }
    }
  }

  test("domain mix: Group-DRO rounds move mass toward high-CE domains") {
    val rows = Sampling.domainMix(spark, sfDir).collect()
    assert(rows.length > 1, "fixture must have several sources")
    val byCe = rows.sortBy(_.getDouble(3))
    // same uniform start + update factor monotone in CE ⇒ final weights
    // must be ordered like the losses (multiplicative weights preserve it)
    val w = byCe.map(_.getDouble(5))
    assert(w.zip(w.tail).forall { case (a, b) => a <= b + 1e-9 },
      s"weights not CE-ordered: ${byCe.map(r => (r.getString(0), r.getDouble(3), r.getDouble(5))).mkString(", ")}")
    // normalized + ε-smoothed: mass stays ~1 after both recorded rounds
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 0.01)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 0.01)
    val uniform = 1.0 / rows.length
    assert(byCe.last.getDouble(5) >= uniform - 1e-4, "max-CE domain must not fall below uniform")
    assert(byCe.head.getDouble(5) <= uniform + 1e-4, "min-CE domain must not rise above uniform")
    // the later rounds keep tilting (real dynamics, not a collapsed update)
    assert(byCe.last.getDouble(5) >= byCe.last.getDouble(4) - 1e-9)
    // planned docs follow the final weights against the corpus total
    val tot = rows.map(_.getLong(1)).sum
    val planned = rows.map(_.getLong(6)).sum
    assert(planned <= (tot * 1.02).toLong && planned >= (tot * 0.9).toLong,
      s"planned $planned vs corpus $tot")
  }

  test("temperature mix: small strata keep a larger share than big ones") {
    val kept = Sampling.mixTemperature(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    val totals = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_s"))
    val fr = kept.join(totals, "lang")
      .select(col("lang"), col("n_s"),
        col("n_kept").cast("double") / col("n_s").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(fr.nonEmpty)
    // α=0.5 flattening: keep-fraction must not grow with stratum size
    // (hash-draw noise is ~±5% at fixture counts — compare extremes)
    val biggest = fr.maxBy(_._2)
    val smallest = fr.minBy(_._2)
    assert(biggest._2 > smallest._2, "fixture should have skewed strata")
    assert(smallest._3 >= biggest._3,
      s"temperature must favor small strata: $smallest vs $biggest")
    fr.foreach { case (_, n, f) => assert(f <= 1.0 + 1e-9 && n > 0) }
  }

  test("star contraction: 256-hop chain converges in logarithmic rounds") {
    import spark.implicits._
    // a long chain is the adversarial case for plain min-label propagation
    // (one round per hop); star contraction must finish in ~log2 rounds.
    // A disjoint triangle guards against cross-component label bleed.
    val chain = (1L until 257L).map(i => (i, i + 1))
    val tri = Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L))
    val (labels, rounds) = Dedup.starContract((chain ++ tri).toDF("doc_a", "doc_b"))
    val lab = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.size == 260, s"expected every vertex labeled once, got ${lab.size}")
    assert((1L to 257L).forall(lab(_) == 1L), "chain must collapse to min=1")
    assert((1000L to 1002L).forall(lab(_) == 1000L))
    assert(rounds <= 12, s"256-hop chain took $rounds rounds — not logarithmic")
  }

  test("star contraction agrees with the driver union-find on real pairs") {
    val pairs = Dedup.dedupJaccard(spark, sfDir).select("doc_a", "doc_b")
    val (distLab, _) = Dedup.starContract(pairs)
    val comp = Dedup.dedupComponents(spark, sfDir)
      .select(col("doc_id"), col("component"))
    val diff = distLab.join(comp, "doc_id")
      .filter(col("label") =!= col("component")).count()
    assert(diff == 0, "distributed labels diverge from union-find components")
  }

  test("components: paired docs share a component; canonical is the cluster min") {
    val comp = Dedup.dedupComponents(spark, sfDir)
    val pairs = Dedup.dedupJaccard(spark, sfDir)
    // every verified near-dup pair ends in the same component
    val split = pairs
      .join(comp.select(col("doc_id").as("doc_a"), col("component").as("ca")), "doc_a")
      .join(comp.select(col("doc_id").as("doc_b"), col("component").as("cb")), "doc_b")
      .filter(col("ca") =!= col("cb")).count()
    assert(split == 0, "a verified pair was split across components")
    // each component's id IS its minimum member, and that member is canonical
    val badMin = comp.groupBy("component").agg(min("doc_id").as("lo"))
      .filter(col("component") =!= col("lo")).count()
    assert(badMin == 0)
    val canon = comp.filter(col("is_canonical"))
    assert(canon.count() == comp.select("component").distinct().count())
    // every document gets exactly one row (isolated docs are their own component)
    assert(comp.count() == Tables.documents(spark, sfDir).count())
    // the distributed label-propagation path (forced) agrees with union-find
    val dist = Dedup.dedupComponents(spark, sfDir, distributedThreshold = 0)
    assert(dist.collect().sameElements(comp.collect()))
  }

  test("corpus sample: deterministic, nested in the corpus, rate-1 stratum fully kept") {
    val s1 = Sampling.corpusSample(spark, sfDir).collect()
    val s2 = Sampling.corpusSample(spark, sfDir).collect()
    assert(s1.sameElements(s2), "same (corpus, seed, rates) must reproduce the sample")
    val docs = Tables.documents(spark, sfDir)
    // de has keep-rate 1.0 → every de doc survives; sample is a corpus subset
    val nDe = docs.filter(col("lang") === "de").count()
    assert(s1.count(_.getString(1) == "de") == nDe)
    assert(Sampling.corpusSample(spark, sfDir)
      .join(docs, Seq("doc_id"), "left_anti").count() == 0)
    // a different seed re-rolls the selection
    val other = Sampling.corpusSample(spark, sfDir, seed = "g2").collect()
    assert(!other.sameElements(s1))
  }

  test("simhashFold (streaming form) equals the batch explode+bit-sum signatures") {
    val batch = Dedup.dedupSimhash(spark, sfDir)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fold = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.simhashFold(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == batch)
  }

  test("quantized ANN: high recall vs exact top-k, approx within the int8 bound") {
    val exact = Similarity.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rows = Similarity.annQuantized(spark, sfDir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    // 15-candidate rerank over int8 dots recovers the exact top-5 almost
    // always (measured 100% on the fixtures at sf0.001 and sf0.01)
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 degraded to $recall")
    // per-vector symmetric int8: quantization error ≤ ~1/127 per dot term
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) <= 0.01,
        s"approx_cos drifted beyond the int8 bound: $r")
    }
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
  }

  test("kmeans: clusters partition the corpus and means are within data range") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val rows = Clustering.kmeansTrain(spark, sfDir).collect()
    val dims = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(dims.forall(_ == 64), "every cluster carries all 64 dims")
    val sizes = rows.groupBy(_.getLong(0)).map(_._2.head.getLong(3))
    assert(sizes.sum == n, s"cluster sizes ${sizes.sum} must partition the $n vectors")
    assert(sizes.forall(_ > 0))
    // a mean can never leave the convex hull of the data (per dimension)
    val Array(lo, hi) = emb.select(explode(col("embedding")).as("x"))
      .agg(min(col("x")).cast("double"), max(col("x")).cast("double"))
      .collect().flatMap(r => Array(r.getDouble(0), r.getDouble(1)))
    rows.foreach(r => assert(r.getDouble(2) >= lo - 1e-4 && r.getDouble(2) <= hi + 1e-4))
  }

  test("kmeans: assignment is deterministic — same centroids from a reshuffled corpus") {
    val a = Clustering.kmeansTrain(spark, sfDir).collect()
    val b = Clustering.kmeansTrain(spark, sfDir, k = 8, iters = 2).collect()
    assert(a.sameElements(b))
  }

  test("boilerplate: fraction is consistent and near-dup docs share grams") {
    val rows = CorpusOps.boilerplateNgrams(spark, sfDir).collect()
    rows.foreach { r =>
      val (grams, common, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(common <= grams)
      assert(frac >= 0d && frac <= 1d)
      assert(math.abs(frac - math.floor(common.toDouble / grams * 10000 + 0.5) / 10000) < 1e-12)
    }
    // docs that dedup_jaccard flags as near-identical (≥0.8 shingle overlap)
    // must show cross-document gram sharing here too
    val byDoc = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nearDup = Dedup.dedupJaccard(spark, sfDir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    nearDup.foreach(d => assert(byDoc(d) > 0, s"near-dup doc $d has no common grams"))
  }

  test("numeric profile: quantiles are monotone and bounded by min/max") {
    Quality.numericProfile(spark, sfDir).collect().foreach { r =>
      val Seq(vmin, vmax, _, p25, p50, p90, p99) = (2 to 8).map(r.getDouble)
      assert(vmin <= p25 && p25 <= p50 && p50 <= p90 && p90 <= p99 && p99 <= vmax,
        s"non-monotone quantiles: $r")
    }
  }

  test("stratified split: total partition of the corpus, stable under seed, ~80/10/10") {
    val rows = Sampling.stratifiedSplit(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    val bySplit = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // 500 docs: binomial(500, 0.8) stays within ±10pp of the target with
    // overwhelming probability — a band check, not an exact count
    assert(bySplit("train") > rows.length * 0.7 && bySplit("train") < rows.length * 0.9)
    // same seed → identical assignment; different seed → different draw
    assert(Sampling.stratifiedSplit(spark, sfDir).collect().sameElements(rows))
    assert(!Sampling.stratifiedSplit(spark, sfDir, seed = "other").collect()
      .sameElements(rows))
  }

  test("pagerank: probability mass conserved, positive ranks, degree correlates") {
    val rows = Graph.pagerankParts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, d, r) => assert(r > 0 && d > 0) }
    // undirected graph, no dangling mass: Σ rank stays 1 up to grid error
    val total = rows.map(_._3).sum / 1e6
    assert(math.abs(total - 1.0) < 1e-3, s"rank mass drifted to $total")
    // rank must track degree on average: the top-degree decile outranks
    // the bottom decile in the mean
    val sorted = rows.sortBy(-_._2)
    val k = math.max(1, rows.length / 10)
    val topMean = sorted.take(k).map(_._3).sum / k
    val botMean = sorted.takeRight(k).map(_._3).sum / k
    assert(topMean > botMean, s"top-degree mean $topMean ≤ bottom $botMean")
  }

  test("cohorts: week 0 covers every user exactly once, cells never exceed cohort size") {
    val rows = Analytics.retentionCohorts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._2 >= 0), "a user cannot be active before their cohort week")
    val week0 = rows.filter(_._2 == 0).map(r => r._1 -> r._3).toMap
    assert(week0.keySet == rows.map(_._1).toSet, "every cohort has a week-0 cell")
    // week-0 cells partition the user base
    val nUsers = Tables.events(spark, sfDir).select("user_id").distinct.count()
    assert(week0.values.sum == nUsers)
    rows.foreach { case (c, _, n) => assert(n <= week0(c), "retention ≤ cohort size") }
  }

  test("rfm: quintiles are balanced, one row per customer, deterministic labels") {
    val rows = Analytics.rfmSegments(spark, sfDir).collect()
    val nCust = Tables.orders(spark, sfDir).select("o_custkey").distinct.count()
    assert(rows.length == nCust)
    Seq(4, 5, 6).foreach { i =>
      val sizes = rows.groupBy(_.getLong(i)).view.mapValues(_.length)
      assert(sizes.keySet == Set(1L, 2L, 3L, 4L, 5L))
      assert(sizes.values.max - sizes.values.min <= 1, s"ntile buckets skewed: $sizes")
    }
    rows.foreach { r =>
      assert(r.getLong(1) >= 0)
      assert(Set("champion", "at_risk", "new", "regular").contains(r.getString(7)))
    }
  }

  test("rfm: the approx-cut scoring agrees with exact quintiles off tie boundaries") {
    val exact = Analytics.rfmSegments(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val approx = Analytics.rfmSegmentsApprox(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(approx.keySet == exact.keySet)
    // exact ntile splits ties BY POSITION across buckets; the cut form puts
    // equal values in one bucket — so scores may differ near boundaries
    // (heavily tied frequency counts), but never by more than one bucket,
    // and most customers agree outright
    var same = 0
    approx.foreach { case (k, (r2, f2, m2)) =>
      val (r1, f1, m1) = exact(k)
      assert(math.abs(r1 - r2) <= 1 && math.abs(f1 - f2) <= 1 && math.abs(m1 - m2) <= 1,
        s"customer $k scores drifted beyond a boundary: exact=${exact(k)} approx=${(r2, f2, m2)}")
      if ((r1, f1, m1) == ((r2, f2, m2))) same += 1
    }
    assert(same >= exact.size * 6 / 10, s"only $same/${exact.size} customers agree")
  }

  test("triangles: degree-oriented count equals id-oriented brute force, mass % 3 == 0") {
    val rows = Graph.triangleParts(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty && rows.values.forall(_ > 0))
    // each triangle contributes exactly 3 node participations
    assert(rows.values.sum % 3 == 0)
    // brute force with the ORACLE's orientation (a<b<c) — a different
    // enumeration of the same triangle set must yield identical counts
    val it = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    val e = it.select(col("okey"), col("l_partkey").as("a"))
      .join(it.select(col("okey"), col("l_partkey").as("b")), "okey")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val t = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val brute = t.select(col("x").as("p")).unionAll(t.select(col("y").as("p")))
      .unionAll(t.select(col("z").as("p")))
      .groupBy("p").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == brute, "orientation changed the triangle counts")
    // support-thresholding keeps an edge SUBSET → per-node counts can
    // only shrink, never grow or appear for new nodes
    val pruned = Graph.triangleParts(spark, sfDir, minSupport = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pruned.foreach { case (p, n) =>
      assert(rows.contains(p) && n <= rows(p), s"pruned graph grew triangles at $p")
    }
  }

  test("abc: classes partition parts, cumulative share monotone to 1.0") {
    val rows = Analytics.abcParts(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
    val nParts = Tables.lineitem(spark, sfDir).select("l_partkey").distinct.count()
    assert(rows.length == nParts)
    rows.foreach { case (_, rev, share, cls) =>
      assert(rev > 0 && share > 0 && share <= 1.0001)
      assert((cls == "A") == (share <= 0.80d)
        && (cls == "B") == (share > 0.80d && share <= 0.95d)
        && (cls == "C") == (share > 0.95d))
    }
    // share is monotone along the (revenue desc, part) rank order
    val ranked = rows.sortBy(r => (-r._2, r._1)).map(_._3)
    assert(ranked.zip(ranked.tail).forall { case (a, b) => a <= b })
    assert(math.abs(ranked.last - 1.0) < 1e-3)
  }

  test("anomaly: full trailing window only, flag iff |z| > 2, few anomalies") {
    val rows = Analytics.revenueAnomaly(spark, sfDir).collect()
    val nDays = Tables.orders(spark, sfDir).select("o_orderdate").distinct.count()
    assert(rows.length == nDays - 7, "first 7 days lack a full trailing window")
    var flagged = 0
    rows.foreach { r =>
      assert(r.isNullAt(3) == r.isNullAt(4), "z and flag must be null together")
      if (!r.isNullAt(3)) {
        val hit = r.getLong(4) == 1L
        // the flag comes from the UNROUNDED z; the emitted z is r4-rounded,
        // so a true |z| in (2, 2.00005] legitimately reads as exactly 2.0 —
        // only off-boundary values can be cross-checked
        val absZ = math.abs(r.getDouble(3))
        if (math.abs(absZ - 2d) > 1e-4) assert(hit == (absZ > 2d))
        if (hit) flagged += 1
      }
    }
    // z is standardized: >2σ days must be rare on an undoctored series
    assert(flagged < rows.length / 4, s"$flagged/${rows.length} days flagged")
  }

  test("basket rules: confidence ≥ support, lift symmetric across rule direction") {
    val rows = Analytics.basketRules(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { case (_, _, n, sup, conf, lift) =>
      assert(n >= 5)
      assert(sup > 0 && conf >= sup - 1e-9, "antecedent count ≤ basket total")
      assert(lift > 0)
    }
    // lift is direction-independent: where both orientations made the
    // top-k, they carry the same pair count and the same lift grid value
    val byPair = rows.groupBy(r => (math.min(r._1, r._2), math.max(r._1, r._2)))
    byPair.values.filter(_.length == 2).foreach { pair =>
      val (r1, r2) = (pair(0), pair(1))
      assert(r1._3 == r2._3 && math.abs(r1._6 - r2._6) <= 2e-4)
    }
    // ordered by lift desc
    val lifts = rows.map(_._6)
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
  }

  test("misra-gries: no false negatives at the guarantee bound, undercount ≤ n/(cap+1)") {
    // exact token counts as ground truth
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val cap = 50
    // drive the aggregator through Spark's real partial-agg machinery
    import spark.implicits._
    val cand = toks.as[String].select(new MisraGries(cap).toColumn.name("c"))
      .collect().head.toSet
    assert(cand.size <= cap)
    val bound = n.toDouble / (cap + 1)
    exact.foreach { case (t, c) =>
      if (c > bound) assert(cand.contains(t), s"heavy token '$t' ($c > $bound) missed")
    }
    // the exact-verify composition returns EXACTLY the true heavy hitters
    val hh = Sketches.heavyHitters(spark, sfDir, k = 200).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = exact.filter { case (_, c) => c.toDouble > n / 200.0 }
    assert(hh == want, "sketch+recount diverged from the exact heavy-hitter set")
  }

  test("scd2 lookup: as-of rewrite equals interval containment, state matches event") {
    val rows = Temporal.scd2Lookup(spark, sfDir).collect()
    val nPurch = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(rows.length == nPurch, "one enriched row per purchase")
    rows.foreach { r =>
      // every purchase is itself an event, so a containing interval exists
      assert(!r.isNullAt(3), s"purchase ${r.getLong(0)} found no interval")
      val ts = r.getLong(2); val from = r.getLong(4)
      assert(from <= ts, "interval must start at or before the purchase")
      if (!r.isNullAt(5)) assert(r.getLong(5) > ts, "interval must still be open at ts")
    }
    // some purchases do start their own interval (state changed at ts)
    assert(rows.exists(r => r.getLong(2) == r.getLong(4)))
  }

  test("rollup + pivot reconcile: grand total = Σ year rows = Σ region cells") {
    val ru = Analytics.salesRollup(spark, sfDir).collect()
    val grand = ru.filter(_.isNullAt(0))
    assert(grand.length == 1, "exactly one grand-total row")
    val years = ru.filter(r => !r.isNullAt(0) && r.isNullAt(1))
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val months = ru.filter(r => !r.isNullAt(1))
    // subtotal algebra is exact ON THE GRID: rescale to integral 1e-4
    // units before summing (revenue = long/1e4 is not binary-exact, so
    // summing the doubles directly drifts by ulps)
    def g(x: Double): Long = math.round(x * 1e4)
    assert(years.values.map(_._1).sum == grand.head.getLong(2))
    assert(years.values.map(v => g(v._2)).sum == g(grand.head.getDouble(3)))
    months.groupBy(_.getLong(0)).foreach { case (y, ms) =>
      assert(ms.map(_.getLong(2)).sum == years(y)._1)
      assert(ms.map(m => g(m.getDouble(3))).sum == g(years(y)._2))
    }
    // pivot cells partition each year's revenue across the 5 regions
    Analytics.salesPivot(spark, sfDir).collect().foreach { r =>
      val cells = (1 to 5).map(i => if (r.isNullAt(i)) 0L else g(r.getDouble(i)))
      assert(cells.sum == g(years(r.getLong(0))._2),
        s"year ${r.getLong(0)}: region cells ${cells.sum} != ${g(years(r.getLong(0))._2)}")
    }
  }

  test("bigram lm: p = n12/n1 on the grid, counts consistent, ordered by frequency") {
    val rows = TextOps.bigramLm(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n12, n1, p) =>
      assert(n12 > 0 && n12 <= n1)
      assert(p == math.floor(n12.toDouble / n1 * 10000 + 0.5) / 10000)
    }
    val ns = rows.map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not ordered by n12 desc")
  }

  test("keyed HTTP dim edge: equals the broadcast join, cache collapses N+1") {
    import spark.implicits._
    import graft.sources.HttpDim
    // the dimension the reference would look up per order: part names
    val dim = Tables.part(spark, sfDir)
      .select(col("p_partkey").cast("string"), col("p_name"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val (srv, url) = HttpDim.serve(dim)
    try {
      HttpDim.requests.set(0)
      val keys = Tables.lineitem(spark, sfDir)
        .select(col("l_partkey").cast("long")).as[Long]
      def toSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // collect ONCE — a second evaluation would re-issue every GET and
      // double the request counter below
      val viaHttp = toSet(HttpDim.lookupValues(keys, url)
        .groupBy("key", "value").count())
      val viaJoin = toSet(Tables.lineitem(spark, sfDir)
        .join(broadcast(Tables.part(spark, sfDir)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").cast("long").as("key"),
          col("p_name").as("value")).count())
      assert(viaHttp == viaJoin,
        "HTTP edge must reproduce the broadcast join exactly")
      // the per-partition cache collapses N+1: requests <= distinct keys
      // x partitions, far below the row count
      val rows = keys.count()
      val distinctKeys = keys.distinct().count()
      val parts = keys.rdd.getNumPartitions
      assert(HttpDim.requests.get() <= distinctKeys * parts,
        s"cache ineffective: ${HttpDim.requests.get()} requests")
      assert(HttpDim.requests.get() < rows,
        "edge degenerated to call-per-row")
      // missing key -> null value (left-join semantics)
      val miss = HttpDim.lookupValues(Seq(-1L).toDS(), url).collect()
      assert(miss.length == 1 && miss.head.isNullAt(1))
    } finally srv.stop(0)
  }

  test("HTTP edge I7: retry absorbs a mid-pass kill+restart; a dead or sick server fails cleanly, never nulls") {
    import spark.implicits._
    import graft.sources.HttpDim
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    def serveOn(port: Int, status: Int, body: String): HttpServer = {
      val s = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
      s.createContext("/dim", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          if (status == 200) {
            val b = body.getBytes("UTF-8")
            ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
          } else ex.sendResponseHeaders(status, -1)
          ex.close()
        }
      })
      s.start(); s
    }
    val client = java.net.http.HttpClient.newHttpClient()
    // (a) kill mid-pass, restart during the backoff window: the bounded
    // exponential retry (50·2^i ms, 5 attempts = 750 ms of headroom) must
    // ride out the outage and return the value — the reference's tenacity
    // envelope shape (api_to_gcs/main.py:56)
    val s1 = serveOn(0, 200, "alive")
    val port = s1.getAddress.getPort
    val url = s"http://127.0.0.1:$port/dim?key=1"
    assert(HttpDim.fetchWithRetry(client, url, 2, 10) == Some("alive"))
    s1.stop(0) // the kill
    val restarter = new Thread(() => {
      Thread.sleep(150)
      var up: HttpServer = null
      var tries = 0
      while (up == null && tries < 50) { // port may linger in TIME_WAIT
        try up = serveOn(port, 200, "recovered")
        catch { case _: java.io.IOException => tries += 1; Thread.sleep(50) }
      }
    })
    restarter.start()
    try assert(HttpDim.fetchWithRetry(client, url, 6, 50) == Some("recovered"),
      "retry must recover once the server is back")
    finally restarter.join()
    // (b) a server that stays down fails the fetch CLEANLY after the
    // bounded attempts — and through the Spark pass, fails the TASK: a
    // sick server must never masquerade as absent keys (nulls)
    val deadPort = { val t = serveOn(0, 200, "x"); val p = t.getAddress.getPort; t.stop(0); p }
    intercept[java.io.IOException] {
      HttpDim.fetchWithRetry(client, s"http://127.0.0.1:$deadPort/dim?key=1", 2, 5)
    }
    intercept[org.apache.spark.SparkException] {
      HttpDim.lookupValues(Seq(1L).toDS(), s"http://127.0.0.1:$deadPort/dim",
        attempts = 2, baseBackoffMs = 5).collect()
    }
    // (c) 5xx is transient-then-fatal, 404 is data: a 503 throws after
    // retries (ADVICE fix: it must NOT map to null), a 404 maps to None
    val sick = serveOn(0, 503, "")
    try intercept[java.io.IOException] {
      HttpDim.fetchWithRetry(client,
        s"http://127.0.0.1:${sick.getAddress.getPort}/dim?key=1", 3, 5)
    } finally sick.stop(0)
    val notFound = serveOn(0, 404, "")
    try assert(HttpDim.fetchWithRetry(client,
      s"http://127.0.0.1:${notFound.getAddress.getPort}/dim?key=1", 3, 5).isEmpty)
    finally notFound.stop(0)
  }

  test("HTTP edge I9: pacing under the meter sees zero 429s; an unpaced burst is absorbed via Retry-After and stays exact") {
    import spark.implicits._
    import graft.sources.HttpDim
    val dim = (1 to 40).map(i => i.toString -> s"v$i").toMap
    val expect = (1L to 40L).map(k => k -> s"v$k").toSet
    // capacity 5, refill 30/s: a 20 rps paced pass never drains the
    // bucket; an unpaced 32-thread-free single-partition burst must
    val (srv, url) = HttpDim.serveRateLimited(dim, capacity = 5,
      refillPerSec = 30d)
    try {
      val keys = (1L to 40L).toDS().repartition(1)
      HttpDim.rejected429.set(0)
      val paced = HttpDim.lookupValues(keys, url, maxRps = 20d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(paced == expect, "paced lookup must be exact")
      assert(HttpDim.rejected429.get() == 0L,
        s"client paced at 20 rps under a 30 rps meter still drew ${HttpDim.rejected429.get()} 429s")
    } finally srv.stop(0)
    // burst phase against a much tighter meter (capacity 3, 5 rps —
    // far below a localhost client's natural rate): 429s MUST occur,
    // the Retry-After envelope absorbs them, the rows stay exact
    val (tight, tightUrl) = HttpDim.serveRateLimited(dim, capacity = 3,
      refillPerSec = 5d)
    try {
      HttpDim.rejected429.set(0)
      val keys15 = (1L to 15L).toDS().repartition(1)
      val burst = HttpDim.lookupValues(keys15, tightUrl).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(burst == (1L to 15L).map(k => k -> s"v$k").toSet,
        "429s must be absorbed by Retry-After, never surface as wrong rows")
      assert(HttpDim.rejected429.get() > 0L,
        "an unpaced burst against a capacity-3, 5 rps bucket must meter")
    } finally tight.stop(0)
  }

  test("HTTP edge A7: bearer token from the secret store; rotation recovers via one refresh; a dead credential fails fast") {
    import spark.implicits._
    import graft.sources.{HttpDim, Secrets}
    val root = java.nio.file.Files.createTempDirectory("secrets").toString
    val name = "api-token"
    Secrets.put(root, name, 1, "tokA")
    // manager semantics: latest resolves then caches per version; a
    // direct file edit is invisible until rotation (new version) +
    // invalidate — the reference's instance-cache shape
    assert(Secrets.get(root, name) == "tokA")
    assert(Secrets.get(root, name, "1") == "tokA")
    val dim = (1 to 8).map(i => i.toString -> s"v$i").toMap
    val expect = (1L to 8L).map(k => k -> s"v$k").toSet
    val (s1, url) = HttpDim.serve(dim, bearerToken = Some("tokA"))
    val port = java.net.URI.create(url).getPort
    def viaAuth(ks: Seq[Long]) = HttpDim.lookupWithAuth(
      ks.toDS().repartition(1), s"http://127.0.0.1:$port/dim", root, name,
      attempts = 2, baseBackoffMs = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    try assert(viaAuth(1L to 8L) == expect)
    finally s1.stop(0)
    // rotate: new secret version + server restart requiring it; the
    // executor's cached tokA draws one 401, the refresh loop
    // invalidates, re-resolves latest and the pass completes
    Secrets.put(root, name, 2, "tokB")
    var s2: com.sun.net.httpserver.HttpServer = null
    var tries = 0
    while (s2 == null && tries < 50) { // port may linger in TIME_WAIT
      try s2 = HttpDim.serve(dim, bearerToken = Some("tokB"),
        port = port)._1
      catch { case _: java.io.IOException => tries += 1; Thread.sleep(50) }
    }
    try {
      HttpDim.rejected401.set(0)
      assert(viaAuth(1L to 8L) == expect,
        "rotation must recover through one secret refresh")
      assert(HttpDim.rejected401.get() == 1L,
        s"expected exactly one 401 (single partition, one refresh), saw ${HttpDim.rejected401.get()}")
      // dead credential: latest now resolves to a token the server
      // rejects — refresh buys ONE retry, the second 401 fails the task
      // after exactly 2 requests (no blind exponential hammering)
      Secrets.put(root, name, 3, "dead")
      Secrets.invalidate(root, name)
      HttpDim.requests.set(0)
      intercept[org.apache.spark.SparkException] {
        viaAuth(Seq(1L))
      }
      assert(HttpDim.requests.get() == 2L,
        s"a dead credential must fail after refresh+retry, saw ${HttpDim.requests.get()} requests")
    } finally if (s2 != null) s2.stop(0)
  }

  test("wordpiece: pieces reconstruct the word losslessly, greedy pieces are <= 4 chars") {
    val rows = TextOps.wordpieceEncode(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var multi = 0
    rows.foreach { r =>
      val (word, pieces, n) = (r.getString(0), r.getString(2), r.getLong(3))
      if (pieces == "[UNK]") assert(word.length > 16 && n == 1L)
      else {
        val ps = pieces.split(" ")
        assert(ps.mkString("") == word,
          s"segmentation lost characters: '$word' -> '$pieces'")
        assert(ps.forall(p => p.nonEmpty && p.length <= 4))
        assert(n == ps.length.toLong)
        if (ps.length > 1) multi += 1
      }
    }
    // the vocabulary is finite (256 + alphabet), so real words segment
    // into multiple pieces — a degenerate whole-word vocab would hide a
    // broken greedy loop
    assert(multi > rows.length / 4, s"only $multi multi-piece words")
  }

  test("ppl buckets: per-language terciles balance and means order head > middle > tail") {
    val rows = TextOps.pplBuckets(spark, sfDir).collect()
      .groupBy(_.getString(0))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, rs) =>
      val byB = rs.map(r => r.getString(1) -> r).toMap
      val scored = Seq("head", "middle", "tail").flatMap(byB.get)
      assert(scored.size == 3, s"$lang missing buckets: ${byB.keySet}")
      val ns = scored.map(_.getLong(2))
      // exact order statistics: bucket sizes differ by at most 2 when
      // score ties don't straddle a cut (they may absorb a few more)
      assert(ns.max - ns.min <= math.max(2, ns.sum / 4),
        s"$lang tercile imbalance: $ns")
      val means = scored.map(_.getDouble(3))
      assert(means(0) > means(1) && means(1) > means(2),
        s"$lang bucket means not ordered: $means")
    }
  }

  test("count-min sketch: never undercounts; tiny width collides but only inflates") {
    val res = Sketches.cmsCounts(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"CMS undercounted: $r"))
    // w=16 forces collisions on this vocabulary: overcount must appear
    // somewhere and stay nonnegative everywhere (the one-sided guarantee)
    val tiny = Sketches.cmsCounts(spark, sfDir, d = 2, w = 16, topK = 50)
      .collect()
    assert(tiny.forall(_.getLong(3) >= 0))
    assert(tiny.exists(_.getLong(3) > 0), "w=16 must collide on this corpus")
  }

  test("dsir: hashed-feature importance weights favor the target language") {
    val rows = TextOps.dsirWeights(spark, sfDir, topK = 100000).collect()
    val (en, rest) = rows.partition(_.getString(1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    def meanLw(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(3)).sum / rs.length
    assert(meanLw(en) > meanLw(rest),
      s"target-lang docs must out-weight the rest: ${meanLw(en)} vs ${meanLw(rest)}")
  }

  test("residual IVF-PQ: recall@5 vs exact dominates the non-residual index pointwise") {
    // the FAISS by_residual=true claim on our fixture: centering each
    // cell's vectors on its coarse centroid before PQ spends the codebook
    // on in-cell displacements, so per-query recall against the exact
    // top-5 must be >= the shared-codebook (non-residual) index — same
    // routing, same nCand, only the encoding differs
    def top(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getAs[Long]("target_id")).toSet).toMap
    val exact = top(Similarity.annTopk(spark, sfDir))
    val res = top(Similarity.annIvfPqRes(spark, sfDir))
    val nonres = top(Similarity.annIvfPq(spark, sfDir))
    assert(res.keySet == exact.keySet && nonres.keySet == exact.keySet)
    exact.foreach { case (q, e) =>
      val (rR, rN) = ((e & res(q)).size, (e & nonres(q)).size)
      assert(rR >= rN,
        s"query $q: residual recall $rR < non-residual $rN")
    }
    val (hR, hN) = (exact.map { case (q, e) => (e & res(q)).size }.sum,
      exact.map { case (q, e) => (e & nonres(q)).size }.sum)
    assert(hR >= hN, s"aggregate recall regressed: $hR < $hN")
  }

  test("pq: codes compress 64 floats to m ids, recall@5 vs exact stays usable") {
    val pq = Similarity.annPq(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val exact = Similarity.annTopk(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(pq.keySet == exact.keySet)
    val hits = exact.map { case (q, e) => (e & pq(q)).size }.sum
    val total = exact.values.map(_.size).sum
    // deterministic on the fixtures (0.733 measured); the bound leaves
    // room for fixture regeneration, not for a broken quantizer
    assert(hits.toDouble / total >= 0.6,
      s"PQ recall@5 collapsed: $hits/$total")
    // ADC distances are nonneg LONG grid values, ranks are 1..5 per query
    Similarity.annPq(spark, sfDir).collect().foreach { r =>
      assert(r.getLong(4) >= 0 && r.getLong(1) >= 1 && r.getLong(1) <= 5)
    }
  }

  test("ivfpq: every result lives in the query's routed cell, reranked by exact cosine") {
    import org.apache.spark.sql.functions._
    val out = Similarity.annIvfPq(spark, sfDir)
    // cell containment: the code scan's label gate must hold on the output
    val lab = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("target_id"), col("label").cast("long").as("tl"))
    assert(out.join(lab, "target_id")
      .filter(col("tl") =!= col("cell")).count() == 0,
      "a result escaped its routed cell")
    // within each query: ranks contiguous from 1, exact cosine non-increasing
    out.collect().groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getLong(2))
      assert(byRank.map(_.getLong(2)).toSeq == (1L to byRank.length).toSeq, s"q$q ranks")
      val cs = byRank.map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"q$q not reranked")
    }
    // routing agreement: the composed index routes like single-probe IVF
    val ivfCells = Similarity.annIvf(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Similarity.annIvfPq(spark, sfDir).collect().foreach { r =>
      assert(ivfCells.get(r.getLong(0)).forall(_ == r.getLong(1)),
        s"query ${r.getLong(0)} routed differently from annIvf")
    }
  }

  test("funnel: fold equals the relational min-chain, stage times ordered and windowed") {
    val wUs = 86400L * 1000000L
    val rows = EventsOps.eventsFunnel(spark, sfDir).collect()
    assert(rows.length == Tables.events(spark, sfDir)
      .select("user_id").distinct.count())
    def tOpt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    rows.foreach { r =>
      val (v, c, p) = (tOpt(r, 1), tOpt(r, 2), tOpt(r, 3))
      // stage label consistent with which times materialized
      val expected = if (p.isDefined) "purchase" else if (c.isDefined) "click"
        else if (v.isDefined) "view" else "none"
      assert(r.getString(4) == expected)
      // strictly increasing, each within the conversion window
      c.foreach(tc => assert(tc > v.get && tc <= v.get + wUs))
      p.foreach(tp => assert(tp > c.get && tp <= c.get + wUs))
    }
    // independent implementation: hierarchical min-chain over three scans
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("tv"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("t") > col("tv") && col("t") <= col("tv") + wUs)
      .groupBy("user_id").agg(min("t").as("tc"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("t") > col("tc") && col("t") <= col("tc") + wUs)
      .groupBy("user_id").agg(min("t").as("tp"))
    val chain = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .collect().map(r => r.getLong(0) -> (tOpt(r, 1), tOpt(r, 2), tOpt(r, 3))).toMap
    rows.filter(!_.isNullAt(1)).foreach { r =>
      assert(chain(r.getLong(0)) == ((tOpt(r, 1), tOpt(r, 2), tOpt(r, 3))),
        s"fold diverged from min-chain for user ${r.getLong(0)}")
    }
  }

  test("trained IVF: 3 ranked in-cell neighbors, cells from the trainer's argmin") {
    val rows = Similarity.annIvfTrained(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length),
        "dense ranks per query")
      assert(rs.map(_.getLong(1)).distinct.length == 1,
        "all hits come from the query's one routed cell")
      rs.foreach(r => assert(r.getDouble(4) >= -1.0001 && r.getDouble(4) <= 1.0001))
    }
    // the routed cell restricts the candidate set: in-cell top-3 can never
    // BEAT brute force, and overlapping hits must agree on the cosine
    val exact = Similarity.annTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      exact.get((r.getLong(0), r.getLong(3)))
        .foreach(c => assert(c == r.getDouble(4)))
    }
  }

  test("corpus pipeline: stages agree with the standalone operators") {
    val out = CorpusOps.corpusPipeline(spark, sfDir).collect()
    val ids = out.map(_.getLong(0)).toSet
    // survivors = exactly the quality keeps (fixture has no exact dups here)
    val keeps = CorpusOps.qualityFilter(spark, sfDir).collect()
      .filter(_.getBoolean(8)).map(_.getLong(0)).toSet
    assert(ids == keeps)
    // split assignment matches the standalone splitter doc-for-doc
    val split = Sampling.stratifiedSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach(r => assert(r.getString(3) == split(r.getLong(0))))
    // packs are dense from 0 within every (split, source) lane
    out.groupBy(r => (r.getString(3), r.getString(2))).values.foreach { lane =>
      val packs = lane.map(_.getLong(5)).distinct.sorted
      assert(packs.head == 0 && packs.sameElements(packs.head to packs.last))
    }
  }

  test("source quota: caps every source, unbiased ranks, deterministic") {
    val rows = Sampling.sourceQuota(spark, sfDir).collect()
    val bySource = rows.groupBy(_.getString(1))
    assert(bySource.size == 20, "all 20 fixture sources survive capping")
    bySource.values.foreach { docs =>
      assert(docs.length == 15, "fixture sources (25 docs) cap at the quota")
      assert(docs.map(_.getLong(2)).sorted.sameElements(1L to 15L),
        "ranks are exactly 1..quota")
    }
    // a different seed keeps different docs — the cap is a sample, not a prefix
    val other = Sampling.sourceQuota(spark, sfDir, seed = "other")
      .collect().map(_.getLong(0)).toSet
    assert(other != rows.map(_.getLong(0)).toSet)
    assert(Sampling.sourceQuota(spark, sfDir).collect().sameElements(rows))
  }

  test("item neighbors: symmetric, bounded cosine, dense ranks per item") {
    val rows = Analytics.itemNeighbors(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0001, "cosine in (0,1]")
      assert(r.getLong(0) != r.getLong(2), "no self-neighbor")
    }
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length),
        "dense ranks 1..k per item")
    }
    // cosine is symmetric: whenever BOTH directions made the per-item
    // top-k cut, the similarity value must agree exactly
    val sim = rows.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    sim.foreach { case ((a, b), s) =>
      sim.get((b, a)).foreach(s2 => assert(s2 == s, s"sim($a,$b) asymmetric"))
    }
  }

  test("global shuffle: within-shard positions are dense, permutation total") {
    val rows = Sampling.globalShuffle(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "one row per doc")
    rows.groupBy(_.getLong(1)).values.foreach { shard =>
      assert(shard.map(_.getLong(2)).sorted.sameElements(1L to shard.length),
        "positions dense 1..n per shard")
    }
    // the permutation actually permutes: within some shard, hash order
    // must disagree with doc_id order (a sorted corpus stays sorted only
    // if the draw were the identity)
    assert(rows.groupBy(_.getLong(1)).values.exists { shard =>
      val byPos = shard.sortBy(_.getLong(2)).map(_.getLong(0))
      !byPos.sorted.sameElements(byPos)
    }, "at least one shard is genuinely reordered")
  }

  test("split decontamination: covers exactly the train side, flags leak docs") {
    val split = Sampling.stratifiedSplit(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val rows = Sampling.splitDecontaminate(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == split.filter(_._2 == "train").keySet,
      "one verdict per train doc, none for eval docs")
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(1) == 0), "kept ⇔ zero shared shingles")
    }
    // both verdicts occur at this fixture (else the gate tests nothing)
    assert(rows.exists(_.getBoolean(2)) && rows.exists(!_.getBoolean(2)))
  }

  test("rrf fusion: self-retrieval anchors rank 1, fused set ⊆ candidate union") {
    val fused = Similarity.hybridRrf(spark, sfDir).collect()
    fused.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length))
      // the query's own doc tops both candidate lists (bm25: it contains
      // its own top tf terms; cosine: cos(q,q)=1), so RRF must rank it #1
      assert(rs.find(_.getLong(1) == 1L).get.getLong(2) == qid,
        s"query $qid does not self-retrieve at rank 1")
    }
    // RRF scores are bounded by 2/(K+1) (both lists, rank 1 each)
    fused.foreach(r => assert(r.getDouble(3) > 0 && r.getDouble(3) <= 2.0 / 61 + 1e-6))
  }

  test("cdc merge: agrees with a struct-max reformulation, tombstones erase keys") {
    import org.apache.spark.sql.functions._
    // independent formulation: latest event per key via max(struct), not a
    // window — the two plans share no operator, so agreement is evidence
    val o = Tables.orders(spark, sfDir)
    val latest = o.groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("o_custkey").as("key"), col("m.o_orderkey").as("seq"))
      .withColumn("isDel", pmod(Exprs.md5num(concat(lit("cdc_"),
        col("seq").cast("string"))), lit(20L)) === 0)
    val expect = latest.filter(!col("isDel")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Temporal.cdcMerge(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // tombstones genuinely erase: some customer must be absent
    assert(latest.count() > got.size, "no tombstoned key at this fixture")
  }

  test("ann recall: one row per query, bounded, exact-grid ratio") {
    val rows = Similarity.annRecall(spark, sfDir).collect()
    val nQueries = Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 200 === 0).count()
    assert(rows.length == nQueries, "zero-hit queries must still report")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 3)
      assert(math.abs(r.getDouble(2) - math.floor(r.getLong(1) / 3.0 * 1e4 + 0.5) / 1e4) < 1e-12)
    }
  }

  test("shard manifest: accounts for every document, agrees with the shuffle") {
    import org.apache.spark.sql.functions._
    val m = Sampling.shardManifest(spark, sfDir).collect()
    assert(m.map(_.getLong(2)).sum == Tables.documents(spark, sfDir).count())
    // per-shard doc totals must equal the assignment's shard sizes
    val fromShuffle = Sampling.globalShuffle(spark, sfDir).groupBy("shard")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromManifest = m.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(fromManifest == fromShuffle)
  }

  test("gap fill: dense calendar axis, zero rows exactly on the gaps") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.gapFill(spark, sfDir).collect()
    val span = Tables.orders(spark, sfDir)
      .agg((datediff(max(col("o_orderdate")), min(col("o_orderdate"))) + 1)
        .cast("long")).head().getLong(0)
    assert(rows.length == span, "one row per calendar day, no holes")
    rows.foreach { r =>
      if (r.getBoolean(3)) assert(r.getLong(1) == 0 && r.getDouble(2) == 0.0)
      else assert(r.getLong(1) > 0)
    }
  }

  test("incremental dedup: verdicts only for batch docs, matches only in base") {
    val rows = Dedup.dedupIncremental(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture must contain cross-side duplicates")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one verdict per flagged new doc (exact wins over near)")
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 9, "flagged docs are batch members")
      assert(r.getLong(2) % 10 != 9, "matched doc is in the base")
      assert(Set("exact", "near")(r.getString(1)))
    }
    // exact verdicts really are byte-identical texts
    val text = Tables.documents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(_.getString(1) == "exact").foreach { r =>
      assert(text(r.getLong(0)) == text(r.getLong(2)))
    }
  }

  test("auto-sized LSH: the dynamic-width bucket equals the static bucket at the derived width") {
    // at this fixture (500 embeddings) the dedup auto rule derives width
    // 4 (smallest b in [4,20] with 500 <= 32·2^b), and the dynamic-width
    // bucket gates the SAME offset-0 plane block the static form uses —
    // so the auto operator must reproduce dedupEmbeddingLsh(nBits = 4)
    // row for row. This pins the j<width gating arithmetic: an off-by-one
    // there would move vectors between buckets and change the pair set.
    val auto = Dedup.dedupEmbeddingLshAuto(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val static4 = Dedup.dedupEmbeddingLsh(spark, sfDir, nBits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(auto.nonEmpty, "auto LSH produced no pairs — fixture drift?")
    assert(auto.toSeq == static4.toSeq,
      s"auto (width 4 derived) diverged from static nBits=4: " +
        s"${auto.length} vs ${static4.length} pairs")
  }

  test("embedding drift: shape on the fixture, alignment on clustered data") {
    val rows = Clustering.embeddingDrift(spark, sfDir).collect()
    val nLabels = Tables.embeddings(spark, sfDir)
      .select("label").distinct().count()
    assert(rows.length == nLabels, "one drift row per label")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, "both halves populated")
      assert(math.abs(r.getDouble(3)) <= 1.0001, "cosine bounded")
    }
    // The fixture's labels are isotropic, so the fixture can't witness the
    // cos→1 contract. Construct clustered data where it must hold: label 0
    // vectors hug the +e0 axis in both halves (cos≈1); label 1 vectors
    // point +e1 in the even half and -e1 in the odd half (cos≈-1) —
    // catches swapped joins, sign errors, and grid overflow. label =
    // (vec_id/2) % 2 so both parity halves populate within each label.
    import spark.implicits._
    val jitter = Array.tabulate(8)(i => 0.01f * ((i % 3) - 1))
    def vec(axis: Int, sign: Float) =
      Array.tabulate(8)(d => (if (d == axis) sign else 0.0f) + jitter(d))
    val synth = (0L until 40L).map { id =>
      val lab = ((id / 2) % 2).toInt
      val sign = if (lab == 1 && id % 2 == 1) -1.0f else 1.0f
      (id, lab, vec(lab, sign))
    }.toDF("vec_id", "label", "embedding")
    val got = Clustering.embeddingDriftOf(synth).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(0L) > 0.99, s"aligned label should read cos~1: ${got(0L)}")
    assert(got(1L) < -0.9, s"flipped label should read cos~-1: ${got(1L)}")
  }

  test("token fertility: per-language sums reconcile with the corpus totals") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.tokenFertility(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir)
      .agg(count(lit(1)), sum("n_chars")).head()
    assert(rows.map(_.getLong(1)).sum == total.getLong(0))
    assert(rows.map(_.getLong(2)).sum == total.getLong(1))
    rows.foreach { r =>
      assert(r.getDouble(4) > 0, "chars per token positive")
      assert(math.abs(r.getDouble(5) -
        math.floor(r.getLong(3).toDouble / r.getLong(1) * 1e4 + 0.5) / 1e4) < 1e-12)
    }
  }

  test("doc chunks: stride lattice covers every token, ids contiguous") {
    val rows = CorpusOps.docChunks(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nTok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == nTok.keySet, "every document chunks")
    byDoc.foreach { case (doc, cs) =>
      val n = nTok(doc)
      val ids = cs.map(_._2).sorted
      assert(ids.head == 0 && ids.last == (n - 1).max(0) / 48
        && ids.length == ids.last + 1, s"doc $doc ids not contiguous")
      cs.foreach { case (_, id, len) =>
        assert(len == math.min(64L, n - id * 48), s"doc $doc chunk $id length")
      }
      // overlap lattice: chunk starts advance by stride < size, so the
      // union of [start, start+len) intervals is exactly [0, n)
      assert(cs.map(_._3).map(math.min(_, 48L)).sum >= n - 16,
        s"doc $doc coverage gap")
    }
  }

  test("char coverage: totals reconcile; alphabetic languages saturate top-k") {
    val rows = TextOps.charCoverage(spark, sfDir).collect()
    val total = Tables.documents(spark, sfDir)
      .agg(sum(length(col("text")))).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == total,
      "per-language char volumes must sum to the corpus char count")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
      if (r.getLong(1) <= 100)
        assert(r.getDouble(3) == 1.0,
          s"${r.getString(0)}: alphabet fits in k, share must be exactly 1")
    }
    // empty-text guard: the char expression must yield ZERO rows for "",
    // not fabricate empties (sequence(1, 0) counts DOWN [1, 0] — the trap
    // this pins). Exercise the exact expression charCoverage uses.
    import spark.implicits._
    val empties = Seq("", "ab").toDF("text")
      .select(explode(expr("filter(split(text, ''), x -> x != '')")).as("ch"))
      .collect().map(_.getString(0))
    assert(empties.sameElements(Seq("a", "b")))
  }

  test("dup score hist: doc mass equals the docs with LSH candidates") {
    val hist = Dedup.dupScoreHist(spark, sfDir).collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 10, "buckets are 0.1 bins")
      assert(r.getLong(1) > 0)
    }
    val pairDocs = Dedup.dedupMinhash(spark, sfDir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length
    assert(hist.map(_.getLong(1)).sum == pairDocs,
      "every doc with a candidate lands in exactly one bucket")
  }

  test("embedding outliers: true per-label distance maxima, ranks dense") {
    val rows = Clustering.embeddingOutliers(spark, sfDir).collect()
    val byLabel = rows.groupBy(_.getLong(0))
    byLabel.foreach { case (label, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length),
        s"label $label ranks not dense from 1")
      // distances decrease with rank (ties broken by vec_id, so weak desc)
      val byRank = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"label $label distances not ranked descending")
    }
    // the rank-1 outlier really is the farthest: replay one label's
    // distances driver-side from the raw vectors and the grid-mean centroid
    val label0 = byLabel.keys.min
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(col("label") === label0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val dims = vecs.head._2.length
    val cent = Array.tabulate(dims) { d =>
      vecs.map { case (_, v) => math.floor(v(d) * 1e6 + 0.5).toLong }.sum
        .toDouble / vecs.length / 1e6
    }
    val dist = vecs.map { case (id, v) =>
      id -> v.zip(cent).map { case (x, c) =>
        math.floor((x - c) * (x - c) * 1e6 + 0.5).toLong }.sum
    }.toMap
    val top = byLabel(label0).minBy(_.getLong(1))
    assert(dist(top.getLong(2)) == top.getLong(3), "reported distance replays")
    assert(dist.values.max == top.getLong(3), "rank-1 is the true maximum")
  }

  test("source overlap: estimator bounds, symmetry of the pair table") {
    val rows = Dedup.sourceOverlap(spark, sfDir).collect()
    val n = Tables.documents(spark, sfDir).select("source").distinct().count()
    assert(rows.length == n * (n - 1) / 2, "one row per unordered source pair")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs oriented a < b")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 16)
      assert(r.getDouble(3) == math.floor(r.getLong(2) / 16.0 * 1e4 + 0.5) / 1e4)
    }
    // self-consistency: a source's signature always matches itself — spot
    // check by unioning a source with itself via the exact-jaccard route:
    // identical shingle sets must estimate 1.0, which the estimator can
    // only miss if the slot minima disagree — impossible on equal sets.
    // (Cross-source estimates on the fixture are near 0; just assert range.)
    assert(rows.map(_.getDouble(3)).forall(j => j >= 0.0 && j <= 1.0))
  }

  test("doc novelty: a null-text document yields no row, like the oracle's inner join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("novelty_null").toString
    Seq((1L, Option("a b c d")), (2L, Option("a b c e")), (3L, Option.empty[String]))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.docNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // shingles {"a b c", "b c d"} and {"a b c", "b c e"}: one shared each
    assert(rows == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5)), rows.toString)
  }

  test("unigram stage key: derived from unigramLm's defaults, unchanged for today's") {
    import TextOps.UnigramDefaults._
    assert(TextOps.unigramSegKey(Rounds, MultiCap, MaxLen, PieceMax) ==
      "unigram_seg_v1/r2_mc200_ml16_pm4")
    assert(TextOps.unigramSegKey(Rounds + 1, MultiCap, MaxLen, PieceMax) !=
      TextOps.unigramSegKey(Rounds, MultiCap, MaxLen, PieceMax))
  }

  test("doc novelty: full driver-side pipeline replay matches, every doc present") {
    val rows = Dedup.docNovelty(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs, "every document gets a novelty row")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "unique count bounded by shingles")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // replay the whole pipeline driver-side (shingle → md5-prefix hash →
    // corpus df → unique share) for every doc and compare exactly
    val texts = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def md5num(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val docShingles = texts.map { case (id, t) =>
      val w = t.split(" ", -1)
      val sh = (1 to math.max(w.length - 2, 1))
        .map(i => w.slice(i - 1, i + 2).mkString(" ")).distinct
      id -> sh.map(md5num)
    }
    val dfm = docShingles.flatMap(_._2).groupBy(identity).map { case (h, o) => h -> o.length }
    val expect = docShingles.map { case (id, hs) =>
      id -> (hs.length.toLong, hs.count(dfm(_) == 1).toLong)
    }.toMap
    rows.foreach { r =>
      val (n, u) = expect(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == u,
        s"doc ${r.getLong(0)}: got (${r.getLong(1)},${r.getLong(2)}) want ($n,$u)")
    }
  }

  test("lang confusion: cells reconcile with langId rows; shares sum to 1 per label") {
    val cells = TextOps.langConfusion(spark, sfDir).collect()
    val preds = TextOps.langId(spark, sfDir).collect()
      .groupBy(r => (r.getString(1), r.getString(6)))
      .map { case (k, v) => k -> v.length.toLong }
    assert(cells.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      == preds, "cell counts must replay from the per-doc predictions")
    cells.groupBy(_.getString(0)).foreach { case (lab, rs) =>
      val s = rs.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 2e-4 * rs.length, s"$lab shares sum to $s")
    }
    // zh has no Latin stopword signature: its row must exist and its
    // diagonal must be absent (the heuristic can never predict zh)
    assert(cells.exists(r => r.getString(0) == "zh"))
    assert(!cells.exists(r => r.getString(0) == "zh" && r.getString(1) == "zh"))
  }

  test("prefix join: equals brute-force all-pairs exactly (zero false negatives)") {
    val got = Dedup.dedupPrefixJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force the ground truth driver-side from the same hashed sets
    def md5num(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val sets = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        val sh = (1 to math.max(w.length - 2, 1))
          .map(i => w.slice(i - 1, i + 2).mkString(" ")).distinct
        r.getLong(0) -> sh.map(md5num).toSet
      }.sortBy(_._1)
    val truth = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (da, sa) = sets(i); (db, sb) = sets(j)
      jac = math.floor(sa.intersect(sb).size.toDouble / sa.union(sb).size
        * 1e4 + 0.5) / 1e4
      if jac >= 0.5
    } yield (da, db) -> jac).toMap
    assert(got == truth,
      s"prefix join must equal brute force: missing=${(truth.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- truth.keySet).take(5)}")
    // and the sketch path's recall against this exact standard is measurable:
    // every LSH-found pair at the same threshold must be in the exact answer
    val lsh = Dedup.dedupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (truth.isEmpty) 1.0
      else lsh.count(truth.contains).toDouble / truth.size
    assert(lsh.forall(p => truth.contains(p) ||
      // string-grain Jaccard can clear 0.5 where a hash collision nudges
      // the hash-grain value below it — allow only exact-boundary strays
      math.abs(0.5 - truth.getOrElse(p, 0.0)) < 0.05),
      "LSH pairs must verify against the exact join")
    assert(recall > 0.5, s"LSH recall vs exact collapsed: $recall")
  }

  test("dup cross-source: pair mass reconciles with the verified pair set") {
    val rows = Dedup.dupCrossSource(spark, sfDir).collect()
    val pairs = Dedup.dedupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_.getLong(2)).sum == pairs.length,
      "every verified pair lands in exactly one source cell")
    val src = Tables.documents(spark, sfDir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val within = pairs.count(p => src(p._1) == src(p._2))
    assert(rows.map(_.getLong(3)).sum == within, "within-source tally replays")
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "cells oriented a <= b")
      if (r.getString(0) != r.getString(1))
        assert(r.getLong(3) == 0, "cross-source cell cannot hold within pairs")
    }
  }

  test("kcore: fixed point reached, peel matches a driver-side replay") {
    val got = Graph.kcoreParts(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one more unrolled round must change nothing (converged)
    val more = Graph.kcoreParts(spark, sfDir, rounds = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == more, "6 rounds must reach the fixed point on the fixture")
    // replay the simultaneous peel driver-side from the raw co-purchase graph
    val it = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byOrder = it.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    byOrder.foreach { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        adj.getOrElseUpdate(ps(i), scala.collection.mutable.Set()) += ps(j)
        adj.getOrElseUpdate(ps(j), scala.collection.mutable.Set()) += ps(i)
      }
    }
    val n0 = adj.size
    var changed = true
    while (changed) {
      val drop = adj.collect { case (u, vs) if vs.size < 60 => u }.toSet
      changed = drop.nonEmpty
      drop.foreach(adj.remove)
      adj.values.foreach(_ --= drop)
    }
    assert(got == adj.map { case (u, vs) => u -> vs.size.toLong }.toMap,
      "engine core must equal the replayed fixed point")
    assert(got.nonEmpty && got.size < n0,
      s"k=60 must peel SOME nodes on the fixture (kept ${got.size} of $n0)")
  }

  test("multiprobe IVF: per-rank cosine dominates single-probe pointwise") {
    def byRank(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(4)).toMap
    val one = byRank(Similarity.annIvf(spark, sfDir).collect())
    val two = byRank(Similarity.annIvfMultiprobe(spark, sfDir).collect())
    assert(one.nonEmpty && two.keySet == one.keySet,
      "same queries, same rank depth")
    // probing a second cell only ADDS candidates (cells are disjoint), so
    // at every (query, rank) the multiprobe cosine is >= the single-probe
    // one — any regression means the union or the rank window is wrong
    one.foreach { case (qr, c1) =>
      assert(two(qr) >= c1 - 1e-12, s"$qr: multiprobe ${two(qr)} < single $c1")
    }
    // and the second probe must actually help somewhere on the fixture
    // (isotropic labels → boundary queries are common)
    assert(one.exists { case (qr, c1) => two(qr) > c1 + 1e-12 },
      "second probe never improved a rank — suspicious for boundary queries")
  }

  test("events fixture: event_id is unique (eventsDedupe oracle precondition)") {
    // eventsDedupe's dropDuplicates(event_id) and its SELECT DISTINCT oracle
    // agree only while event_id functionally determines the row (see the
    // operator's scaladoc). Pin that here so a fixture change that breaks
    // the assumption fails this spec instead of flapping the hash gate.
    val ev = Tables.events(spark, sfDir)
    assert(ev.select("event_id").distinct.count() == ev.count())
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("hll distinct: register state replays driver-side; estimate within 5σ") {
    val rows = Sketches.hllDistinct(spark, sfDir).collect()
    // replay the full sketch per source from raw text: shingle → md5 →
    // (bucket, rho) → max per register → exact scaled harmonic sum
    val bySource = Tables.documents(spark, sfDir).select("source", "text")
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val (src, nExact, vEmpty, sScaled, est) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      val shingles = bySource(src).flatMap { row =>
        val w = row.getString(1).split(" ", -1)
        (1 to math.max(w.length - 2, 1)).map(i => w.slice(i - 1, i + 2).mkString(" "))
      }
      assert(shingles.distinct.length.toLong == nExact)
      val regs = Array.fill(256)(0)
      shingles.foreach { s =>
        val hx = md5hex(s)
        val bucket = Integer.parseInt(hx.substring(0, 2), 16)
        val bits = hx.substring(2, 14)
        val stripped = bits.dropWhile(_ == '0')
        val rho = if (stripped.isEmpty) 49 else {
          val d = Integer.parseInt(stripped.take(1), 16)
          (12 - stripped.length) * 4 + 1 +
            (if (d >= 8) 0 else if (d >= 4) 1 else if (d >= 2) 2 else 3)
        }
        regs(bucket) = math.max(regs(bucket), rho)
      }
      assert(regs.count(_ == 0).toLong == vEmpty, s"$src empty registers")
      assert(regs.map(rh => 1L << (49 - rh)).sum == sScaled, s"$src register sum")
      // 5σ at m=256 (σ = 1.04/√m ≈ 6.5 %) — deterministic fixture, so
      // this is a sanity bound on the estimator wiring, not a flaky test
      assert(math.abs(est / nExact - 1.0) < 0.325, s"$src est $est vs $nExact")
    }
  }

  test("bpe pairs: counts replay driver-side; ranking is total and correct") {
    val rows = TextOps.bpePairs(spark, sfDir).collect()
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    Tables.documents(spark, sfDir).select("text").collect().foreach { r =>
      r.getString(0).split(" ", -1).filter(_.nonEmpty).foreach { w0 =>
        val w = w0 + "_"
        (0 until w.length - 1).foreach { i =>
          val p = (w.substring(i, i + 1), w.substring(i + 1, i + 2))
          counts(p) = counts.getOrElse(p, 0L) + 1
        }
      }
    }
    rows.foreach { r =>
      assert(counts((r.getString(0), r.getString(1))) == r.getLong(2),
        s"pair (${r.getString(0)},${r.getString(1)})")
    }
    // rows arrive in (n desc, left, right) order and are the true top-k
    val keys = rows.map(r => (-r.getLong(2), r.getString(0), r.getString(1)))
    assert(keys.sameElements(keys.sorted), "ordering is the declared total order")
    val kth = rows.last.getLong(2)
    val above = counts.values.count(_ > kth)
    assert(above <= rows.length, "no pair above the cut is missing")
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == rows.length)
  }

  test("dedup canonical: one survivor per component, content-aware election") {
    val rows = Dedup.dedupCanonical(spark, sfDir).collect()
    val comp = Dedup.dedupComponents(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nchars = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == comp.size, "every document gets a verdict")
    rows.foreach { r =>
      assert(comp(r.getLong(0)) == r.getLong(1), "labels match dedupComponents")
      assert(r.getBoolean(3) == (r.getLong(0) == r.getLong(2)))
    }
    rows.groupBy(_.getLong(1)).foreach { case (c, grp) =>
      assert(grp.count(_.getBoolean(3)) == 1, s"component $c has one survivor")
      val canon = grp.map(_.getLong(2)).distinct
      assert(canon.length == 1, s"component $c agrees on its canonical")
      // the elected survivor is (max n_chars, then min doc_id) in the group
      val want = grp.map(_.getLong(0)).minBy(id => (-nchars(id), id))
      assert(canon.head == want, s"component $c elected ${canon.head}, want $want")
    }
  }

  test("weighted sample: true bottom-k of driver-replayed min-hash keys") {
    val k = 50
    val rows = Sampling.weightedSample(spark, sfDir, topK = k).collect()
    val weights = Map("en" -> 4, "de" -> 3, "es" -> 2, "fr" -> 2)
    val keys = Tables.documents(spark, sfDir).select("doc_id", "lang")
      .collect().map { r =>
        val (id, lang) = (r.getLong(0), r.getString(1))
        val w = weights.getOrElse(lang, 1)
        val key = (1 to w).map(j =>
          java.lang.Long.parseLong(md5hex(s"ws1_${id}_$j").take(8), 16)).min
        (id, lang, w, key)
      }
    val want = keys.sortBy(t => (t._4, t._1)).take(k)
    assert(rows.length == math.min(k, keys.length))
    rows.zip(want).foreach { case (r, (id, lang, w, key)) =>
      assert(r.getLong(0) == id && r.getString(1) == lang
        && r.getInt(2) == w && r.getLong(3) == key,
        s"row ${r.getLong(0)} vs expected $id")
    }
    // heavier strata are over-represented vs their corpus share
    val corpusShare = keys.count(_._3 >= 3).toDouble / keys.length
    val sampleShare = rows.count(_.getInt(2) >= 3).toDouble / rows.length
    assert(sampleShare > corpusShare, "weights bias the sample")
  }

  test("fuzzy match: equals a driver-side DP edit-distance replay over blocks") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parts = Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = (for {
      a <- parts; b <- parts
      if a._2 == b._2 && a._3.split(" ")(0) == b._3.split(" ")(0) && a._1 < b._1
      d = lev(a._3, b._3) if d <= 2
    } yield (a._1, b._1, d.toLong)).toSet
    val rows = Quality.fuzzyMatch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet
    assert(rows == expect, s"got ${rows.size} pairs want ${expect.size}")
  }

  test("len quantiles: continuous quantiles replay driver-side per language") {
    val rows = TextOps.lenQuantiles(spark, sfDir).collect()
    val byLang = Tables.documents(spark, sfDir).select("lang", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ", -1).length)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def q(v: Array[Int], p: Double): Double = {
      val rank = p * (v.length - 1)
      val (lo, hi) = (rank.toInt, math.ceil(rank).toInt)
      val frac = rank - lo
      v(lo) + frac * (v(hi) - v(lo))
    }
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    assert(rows.length == byLang.size)
    rows.foreach { r =>
      val v = byLang(r.getString(0))
      assert(r.getLong(1) == v.length)
      assert(r.getDouble(2) == r4(v.map(_.toLong).sum.toDouble / v.length))
      Seq(0.25, 0.5, 0.75, 0.9, 0.99).zipWithIndex.foreach { case (p, i) =>
        assert(r.getDouble(3 + i) == r4(q(v, p)),
          s"${r.getString(0)} p$p: ${r.getDouble(3 + i)} want ${r4(q(v, p))}")
      }
    }
  }

  test("rolling revenue: trailing-7-day frames replay driver-side") {
    val rows = Analytics.rollingRevenue(spark, sfDir).collect()
    val orders = Tables.orders(spark, sfDir)
      .selectExpr("o_orderkey", "o_custkey",
        "datediff(o_orderdate, DATE '1970-01-01') AS day",
        "cast(floor(o_totalprice * 10000 + 0.5) as long) AS cents4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val byCust = orders.groupBy(_._2)
    val expect = orders.map { case (ok, ck, day, _) =>
      val frame = byCust(ck).filter(o => o._3 >= day - 6 && o._3 <= day)
      ok -> (frame.length.toLong, frame.map(_._4).sum.toDouble / 10000)
    }.toMap
    assert(rows.length == orders.length)
    rows.foreach { r =>
      val (n, rev) = expect(r.getLong(0))
      assert(r.getLong(3) == n && r.getDouble(4) == rev,
        s"order ${r.getLong(0)}: (${r.getLong(3)},${r.getDouble(4)}) want ($n,$rev)")
    }
  }

  test("quantiles 2pass: equals a driver-side full-sort selection at every rank") {
    val got = Sketches.quantiles2pass(spark, sfDir)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val vs = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val n = vs.length
    assert(got.size == 5)
    got.foreach { case (p, v) =>
      val rank = math.ceil(p * n).toLong.max(1L) // quantile_disc convention
      assert(v == vs(rank.toInt - 1), s"p=$p: got $v want ${vs(rank.toInt - 1)}")
    }
  }

  test("quantiles 2pass: irregular quantile points and tiny bin counts stay exact") {
    val vs = Tables.lineitem(spark, sfDir)
      .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
    val n = vs.length
    val ps = Seq(0.001, 0.123, 0.5, 0.987, 0.999)
    // bins = 7: nearly every rank shares a bucket with another — the
    // within-bucket rank arithmetic is what this exercises
    Seq(7, 64).foreach { bins =>
      val got = Sketches.quantiles2pass(spark, sfDir, ps, bins)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      ps.foreach { p =>
        val rank = math.ceil(p * n).toLong.max(1L)
        assert(got(p) == vs(rank.toInt - 1),
          s"bins=$bins p=$p: got ${got(p)} want ${vs(rank.toInt - 1)}")
      }
    }
  }

  test("bigram KN: replays driver-side; discounted mass stays a probability") {
    val rows = TextOps.bigramKn(spark, sfDir).collect()
    val toks = Tables.documents(spark, sfDir).select("text").collect()
      .map(_.getString(0).split(" ")).filter(_.length >= 2)
    val pairs = toks.flatMap(ws => ws.sliding(2).map(a => (a(0), a(1))))
    val c12 = pairs.groupBy(identity).map { case (p, a) => p -> a.length.toLong }
    val n1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val nsucc = c12.groupBy(_._1._1).map { case (w, m) => w -> m.size.toLong }
    val npred = c12.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val nn = c12.size.toLong
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      val want = (c12((w1, w2)).toDouble - 0.75) / n1(w1) +
        0.75 * nsucc(w1) / n1(w1) * npred(w2) / nn
      val wantGrid = math.floor(want * 1e6 + 0.5) / 1e6
      assert(r.getDouble(4) == wantGrid, s"($w1,$w2): ${r.getDouble(4)} vs $wantGrid")
      assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1.0)
    }
  }

  test("doc KN score: bounded probability, same bigram coverage as the raw scorer") {
    val kn = TextOps.docLmScoreKn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)))).toMap
    val raw = TextOps.docLmScore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kn.keySet == raw.keySet)
    kn.foreach { case (id, (n, s)) =>
      assert(n == raw(id), s"doc $id bigram coverage differs")
      s.foreach(v => assert(v > 0 && v <= 1.0, s"doc $id kn_score $v out of range"))
      assert(s.isDefined == (n > 0))
    }
  }

  test("group quantiles: every (lang, p) equals its sorted per-group selection") {
    val got = Sketches.groupQuantiles2pass(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val byLang = Tables.documents(spark, sfDir)
      .select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (l, a) => l -> a.map(_._2).sorted }
    assert(got.size == byLang.size * 3)
    byLang.foreach { case (lang, vs) =>
      Seq(0.25, 0.5, 0.75).foreach { p =>
        val rank = math.ceil(p * vs.length).toLong.max(1L).toInt
        assert(got((lang, p)) == vs(rank - 1), s"$lang p=$p")
      }
    }
  }

  test("library forms: nulls and ragged vectors excluded like quantile_disc") {
    import spark.implicits._
    // 1..100 plus nulls: quantiles must rank over the 100 non-nulls only
    val withNulls = ((1 to 100).map(i => Some(i.toDouble)) ++
      Seq.fill(37)(Option.empty[Double])).toDF("x")
    val got = Sketches.quantilesOf(withNulls, "x", Seq(0.5), bins = 16)
      .collect().map(_.getDouble(1))
    assert(got.toSeq == Seq(50.0), s"median over non-nulls: ${got.toSeq}")
    val grouped = (((1 to 100).map(i => ("a", Some(i.toLong))) ++
      Seq.fill(9)(("a", Option.empty[Long])) ++
      (1 to 10).map(i => ("b", Some(i.toLong))))).toDF("grp", "x")
    val gq = Sketches.groupQuantilesOf(grouped, "grp", "x", Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gq == Map("a" -> 50L, "b" -> 5L), gq.toString)
    // empty / all-null inputs: empty result, not a crash
    assert(Sketches.quantilesOf(
      Seq.empty[Option[Double]].toDF("x"), "x", Seq(0.5)).count() == 0)
    assert(Sketches.quantilesOf(
      Seq.fill(5)(Option.empty[Double]).toDF("x"), "x", Seq(0.5)).count() == 0)
    // empty build side: bloomPrune rejects every probe row
    val probe = (1 to 20).map(_.toLong).toDF("doc_id")
    assert(Sketches.bloomPrune(probe, "doc_id",
      probe.filter(lit(false)).select(col("doc_id").as("key")), "key").count() == 0)
    // gram: null and wrong-dimension vectors are excluded, not fatal
    val vecs = Seq(Some(Array(1f, 0f)), Some(Array(0f, 1f)),
      None, Some(Array(1f, 1f, 1f))).toDF("e")
    val cells = Clustering.gramOf(vecs, "e", 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    // two valid unit vectors: diag = 2 * (1e5)^2... each contributes its own axis
    assert(cells((1, 1)) == 100000L * 100000L && cells((2, 2)) == 100000L * 100000L
      && cells((1, 2)) == 0L, cells.toString)
  }

  test("library forms: quantilesOf and bloomPrune work on arbitrary frames") {
    // quantilesOf over the documents length column (a LONG — exercises the cast)
    val docs = Tables.documents(spark, sfDir)
    val got = Sketches.quantilesOf(docs, "n_chars", Seq(0.1, 0.5, 0.9), bins = 128)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val lens = docs.select(col("n_chars").cast("double"))
      .collect().map(_.getDouble(0)).sorted
    Seq(0.1, 0.5, 0.9).foreach { p =>
      val rank = math.ceil(p * lens.length).toLong.max(1L).toInt
      assert(got(p) == lens(rank - 1), s"p=$p")
    }
    // bloomPrune of documents against an id subset = the plain semi join
    val ids = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("key"))
    val pruned = Sketches.bloomPrune(docs, "doc_id", ids, "key")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val want = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(pruned.sameElements(want))
  }

  test("bloom agg: zero false negatives; disjoint keys nearly all rejected") {
    import spark.implicits._
    val m = 1 << 14
    val keys = spark.range(0, 2000)
      .select(xxhash64(col("id")).as("h1"), xxhash64(col("id"), lit("bloom2")).as("h2"))
    val bits = keys.as[(Long, Long)]
      .select(new BloomAgg(m, 5).toColumn.name("bits"))
      .collect()(0).toSeq.toArray
    def test1(h1: Long, h2: Long): Boolean = (0 until 5).forall { i =>
      val idx = (((h1 + i.toLong * h2) % m) + m) % m
      (bits((idx >> 6).toInt) >> (idx & 63) & 1L) == 1L
    }
    val inserted = keys.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(inserted.forall { case (a, b) => test1(a, b) }, "false negative")
    val out = spark.range(1000000, 1002000)
      .select(xxhash64(col("id")).as("h1"), xxhash64(col("id"), lit("bloom2")).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fp = out.count { case (a, b) => test1(a, b) }
    // k=5, n=2000, m=16384 → theoretical fp ≈ (1-e^(-kn/m))^5 ≈ 2.9%
    assert(fp < 200, s"false-positive rate implausibly high: $fp/2000")
  }

  test("bloom semi join: equals the unfiltered exact semi join") {
    val got = Sketches.bloomSemiJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * lit(1e4) + lit(0.5d))
          .cast("long")).as("rev_grid"))
      .orderBy("suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want))
  }

  test("embedding gram: replays driver-side; diagonal positive; full triangle") {
    val cells = Clustering.embeddingGram(spark, sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(cells.size == 64 * 65 / 2)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val grids = vecs.map(_.map(x => math.floor(x.toDouble * 1e5 + 0.5).toLong))
    for (i <- 0 until 64; j <- i until 64) {
      val want = grids.map(g => g(i) * g(j)).sum
      assert(cells((i + 1, j + 1)) == want, s"cell ($i,$j)")
    }
    (1 to 64).foreach(i => assert(cells((i, i)) > 0, s"zero diagonal at $i"))
  }

  test("pca project: PC1 second moment dominates every coordinate axis") {
    val n = Tables.embeddings(spark, sfDir).count().toDouble
    val pc = Clustering.pcaProject(spark, sfDir).collect().map(_.getDouble(2))
    val m2 = pc.map(x => x * x).sum / n
    val diag = Clustering.embeddingGram(spark, sfDir)
      .filter(col("i") === col("j")).collect()
      .map(r => r.getDouble(3) / n)
    // λmax of the Gram ≥ its largest diagonal entry; the power-iterated
    // direction's Rayleigh quotient must reach that up to grid rounding
    assert(m2 >= diag.max * 0.999,
      s"PC1 second moment $m2 below best axis ${diag.max}")
  }

  test("dp noisy counts: release is clamped+rounded, noise scales like 1/ε") {
    val rows = Quality.dpNoisyCounts(spark, sfDir).collect()
    rows.foreach { r =>
      val noisy = r.getDouble(r.fieldIndex("noisy_n"))
      assert(noisy >= 0d, "negative release")
      assert(r.getLong(r.fieldIndex("released")) ==
        math.floor(noisy + 0.5).toLong, "released != post-processed noisy_n")
    }
    // mean |Laplace(1/ε)| is 1/ε — the tight-budget arm must be noisier,
    // and both arms must release the same group set with the same truths
    val byEps = rows.groupBy(_.getDouble(0)).view.mapValues { rs =>
      rs.map(r => math.abs(r.getDouble(r.fieldIndex("noisy_n"))
        - r.getLong(r.fieldIndex("n_true")))).sum / rs.size
    }.toMap
    assert(byEps(0.25) > byEps(1.0),
      s"ε=0.25 mean |err| ${byEps(0.25)} not above ε=1.0 ${byEps(1.0)}")
    val groups = rows.groupBy(_.getDouble(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet)
    assert(groups(0.25) == groups(1.0), "arms disagree on groups/truths")
  }

  test("semdedup: every removal cites a lower-id witness at or above τ, once") {
    val rem = Dedup.dedupSemantic(spark, sfDir).collect()
    assert(rem.nonEmpty)
    rem.foreach { r =>
      assert(r.getLong(r.fieldIndex("dup_of")) < r.getLong(r.fieldIndex("vec_id")),
        "witness must precede the removed vector")
      assert(r.getDouble(r.fieldIndex("cos")) >= 0.3 - 1e-9)
    }
    val ids = rem.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "a vector removed twice")
  }

  test("semantic decontamination: sides are split-disjoint, verdict = cos ≥ τ") {
    // replicate the md5num split draw the operator uses
    def draw(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"vsplit_$id".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10
    }
    val res = Dedup.semanticDecontaminate(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(draw(r.getLong(r.fieldIndex("eval_id"))) == 0, "eval id not in eval split")
      assert(draw(r.getLong(r.fieldIndex("train_id"))) != 0, "train id leaked from eval split")
      val cos = r.getDouble(r.fieldIndex("cos"))
      assert(cos >= -1.0001 && cos <= 1.0001)
      assert(r.getBoolean(r.fieldIndex("contaminated")) == (cos >= 0.3))
    }
  }

  test("pmi collocations: support floor holds, ranking is by pmi, bound respected") {
    val rows = TextOps.pmiCollocations(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pmis = rows.map(_.getDouble(3))
    rows.foreach { r => assert(r.getLong(2) >= 5, "support floor violated") }
    assert(pmis.sameElements(pmis.sorted.reverse), "not ranked by pmi desc")
    // |PMI| ≤ ln N (N = bigram tokens); ln 2⁶³ ≈ 43.7 is a safe envelope
    assert(pmis.forall(p => math.abs(p) <= 44d))
  }

  test("kmeans silhouette: covers the corpus, k cells, scores in [-1,1]") {
    val rows = Clustering.kmeansSilhouette(spark, sfDir).collect()
    assert(rows.length == 8, "one row per trained cell")
    assert(rows.map(_.getLong(1)).sum ==
      Tables.embeddings(spark, sfDir).count())
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(s >= -1.0001 && s <= 1.0001, s"silhouette out of range: $s")
    }
  }

  test("cluster sample: aggregator quota draw equals the window reference, balanced across full cells") {
    val quota = 24
    val rows = Clustering.clusterSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // ranks are contiguous from 1 and capped at the quota; u ascends
    // with rank within a cluster (the draw order IS the rank order)
    rows.groupBy(_._1).foreach { case (cid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"cluster $cid ranks not contiguous")
      assert(sorted.length <= quota)
      val us = sorted.map(_._4)
      assert(us.zip(us.tail).forall { case (a, b) => a <= b },
        s"cluster $cid draw not ordered by u")
    }
    // the map-side-combining aggregator must agree with the obvious
    // window formulation computed over the same assignment
    val cents = Clustering.kmeansTrain(spark, sfDir)
      .groupBy(col("cluster_id").as("cid"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("centroid")))),
        p => p.getField("centroid")).as("c"))
      .agg(collect_list(struct(col("cid"), col("c"))).as("cs"))
    // NOTE kmeansTrain emits r4-rounded centroids; recompute assignment
    // via the un-rounded internal path instead
    val expected = {
      import org.apache.spark.sql.expressions.Window
      val assigned = Clustering.clusterAssignments(spark, sfDir)
      val u = Exprs.md5num(concat(lit("cs1_"), col("vec_id").cast("string")))
      assigned.withColumn("u", u)
        .withColumn("draw_rank", row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("u"), col("vec_id"))))
        .filter(col("draw_rank") <= quota)
        .select(col("cluster_id"), col("draw_rank").cast("long"),
          col("vec_id"), col("u")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    assert(rows.toSet == expected,
      "aggregator draw diverged from the window reference")
    // every cluster with >= quota members contributes exactly quota —
    // the balance property the operator exists for
    val sizes = Clustering.clusterAssignments(spark, sfDir)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (cid, rs) =>
      assert(rs.length == math.min(quota.toLong, sizes(cid)),
        s"cluster $cid drew ${rs.length} of ${sizes(cid)} (quota $quota)")
    }
  }

  test("curriculum: epochs nest by bucket admission, shard positions contiguous, terciles populated") {
    val rows = Sampling.curriculumOrder(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    val byEpoch = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byEpoch.keySet == Set(1L, 2L, 3L))
    // epoch 3 admits the whole corpus; pools nest as the pacing grows
    assert(byEpoch(3L).size.toLong == nDocs)
    assert(byEpoch(1L).subsetOf(byEpoch(2L)) && byEpoch(2L).subsetOf(byEpoch(3L)),
      "curriculum pools must nest")
    // admission is exactly bucket <= epoch, and a doc's bucket is stable
    val bucketOf = rows.map(r => r._2 -> r._3).toMap
    rows.foreach { case (e, d, b, _, _) =>
      assert(b == bucketOf(d), s"doc $d changed bucket")
      assert(b <= e, s"doc $d (bucket $b) admitted to epoch $e")
    }
    byEpoch.foreach { case (e, ds) =>
      val expected = bucketOf.filter(_._2 <= e).keySet
      assert(ds == expected, s"epoch $e pool is not exactly buckets <= $e")
    }
    // every tercile is populated (the cut actually splits the corpus)
    val bSizes = bucketOf.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bSizes.keySet == Set(1L, 2L, 3L), s"missing bucket: $bSizes")
    bSizes.values.foreach(n => assert(n >= nDocs / 10, s"degenerate tercile: $bSizes"))
    // within each (epoch, shard) lane, positions are contiguous from 1
    // and strictly follow the u-order (they are the lane's read order)
    rows.groupBy(r => (r._1, r._4)).foreach { case ((e, s), lane) =>
      val ps = lane.map(_._5).sorted
      assert(ps.toSeq == (1L to lane.length).toSeq,
        s"epoch $e shard $s positions not contiguous")
    }
    // epochs reshuffle: the easy pool's doc->pos map must not be the
    // identical order in epoch 2 (fresh seed per epoch)
    val lane1 = rows.filter(r => r._1 == 1L).map(r => (r._2, r._4, r._5)).toSet
    val lane2 = rows.filter(r => r._1 == 2L && byEpoch(1L)(r._2))
      .map(r => (r._2, r._4, r._5)).toSet
    assert(lane1 != lane2, "per-epoch seeds must re-shuffle the pool")
  }

  test("winsorized stats: clamp counts near the cut mass, means stay in range") {
    val rows = Sketches.winsorizedStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n")).toDouble
      val lo = r.getLong(r.fieldIndex("n_clamped_lo"))
      val hi = r.getLong(r.fieldIndex("n_clamped_hi"))
      // strictly-below-p05 mass is ≤ 5% by the rank definition (ties only
      // shrink it); same above p95 — allow nothing beyond the cut mass
      assert(lo <= math.ceil(0.05 * n), s"lo clamp $lo of $n")
      assert(hi <= math.ceil(0.05 * n), s"hi clamp $hi of $n")
      assert(lo > 0 && hi > 0, "cuts never bit on a 20k-row group")
      // winsorization pulls the mean INTO the clamp interval's hull
      val raw = r.getDouble(r.fieldIndex("mean_raw"))
      val win = r.getDouble(r.fieldIndex("mean_winsorized"))
      assert(math.abs(raw - win) < 0.05 * raw, "winsorizing moved the mean >5%")
    }
  }

  test("funnel latency: positive, monotone in q, full path dominates its shared leg") {
    val rows = EventsOps.funnelLatency(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(rows.nonEmpty)
    rows.values.foreach(s => assert(s > 0d, "non-positive latency"))
    Seq("view_to_click", "click_to_purchase", "view_to_purchase").foreach { st =>
      val qs = Seq(0.25, 0.5, 0.9).flatMap(q => rows.get((st, q)))
      assert(qs == qs.sorted, s"$st quantiles not monotone: $qs")
    }
    // tp−tv ≥ tp−tc pointwise over the SAME converting population, so the
    // full path dominates the shared leg at every quantile (the view leg
    // is a different population — no such guarantee)
    Seq(0.25, 0.5, 0.9).foreach { q =>
      assert(rows(("view_to_purchase", q)) >= rows(("click_to_purchase", q)),
        s"full path below shared leg at q=$q")
    }
  }

  test("curation funnel: every gate bites once on a corpus built to lose at each") {
    import spark.implicits._
    def words(tag: String, n: Int): String =
      ("the" +: (1 until n).map(i => f"$tag$i%02d")).mkString(" ")
    val benchText = words("bb", 40)
    val goodText = words("gg", 40)
    val docs = Seq(
      (50L, "s1", benchText),  // %50==0 → held-aside benchmark
      (1L, "s1", benchText),   // contaminated: verbatim benchmark overlap
      (2L, "s1", goodText),    // survives everything
      (3L, "s1", goodText),    // exact dup of 2 → cut at the dedup gate
      (4L, "s1", "too short")  // fails the quality rules
    ).toDF("doc_id", "source", "text")
    val row = CorpusOps.curationFunnelOf(docs).collect()
    assert(row.length == 1)
    val r = row.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((4L, 3L, 2L, 1L)),
      s"funnel stages wrong: $r")
    assert(r.getDouble(5) == 0.25)
    // fixture: counts never increase along the funnel, injection bites
    val fix = CorpusOps.curationFunnel(spark, sfDir).collect()
    fix.foreach { f =>
      assert(f.getLong(1) >= f.getLong(2) && f.getLong(2) >= f.getLong(3)
        && f.getLong(3) >= f.getLong(4), s"non-monotone funnel: $f")
    }
    assert(fix.exists(f => f.getLong(3) < f.getLong(2)),
      "re-send injection never exercised the dedup gate")
  }

  test("numeric corr: agrees with Spark's built-in Pearson on the same grid") {
    val ours = Quality.numericCorr(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(ours.size == 6, "4 measures -> 6 upper-triangle pairs")
    val li = Tables.lineitem(spark, sfDir)
    def gq(c: String) = floor(col(c) * lit(100d) + lit(0.5d)) / lit(100d)
    // built-in corr streams co-moments (a different algorithm entirely) —
    // agreement pins the exact-integer-moment formula, not just the oracle
    ours.foreach { case ((a, b), v) =>
      val ref = li.agg(corr(gq(a), gq(b))).head().getDouble(0)
      assert(math.abs(v - ref) < 2e-3, s"($a,$b): ours $v vs built-in $ref")
    }
  }

  test("naive bayes: perfect diagonal on a separable corpus, conserves held-out docs") {
    import spark.implicits._
    // two "languages" with disjoint vocabularies — NB must classify the
    // held-out (odd-id) docs perfectly
    val docs = (0L until 40L).map { i =>
      val lang = if (i % 4 < 2) "aa" else "bb"
      val text = if (lang == "aa") "alpha beta gamma alpha" else "delta epsilon zeta zeta"
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")
    val conf = TextOps.nbLangConfusionOf(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf == Map(("aa", "aa") -> 10L, ("bb", "bb") -> 10L),
      s"confusion not diagonal: $conf")
    // fixture run: every held-out doc lands somewhere, predictions stay
    // inside the trained label set
    val fix = TextOps.nbLangConfusion(spark, sfDir).collect()
    val langs = Tables.documents(spark, sfDir)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(fix.map(_.getLong(2)).sum ==
      Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 1).count())
    fix.foreach(r => assert(langs(r.getString(1)), "prediction outside label set"))
  }

  test("moore lewis: the in-domain language outranks every other, verdict = score > 0") {
    val df = TextOps.mooreLewis(spark, sfDir)
    val byLang = df.groupBy("lang").agg(avg("ml_score").as("m")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byLang("en") == byLang.values.max,
      s"in-domain 'en' not top: $byLang")
    df.collect().foreach { r =>
      assert(r.getBoolean(r.fieldIndex("selected")) ==
        (!r.isNullAt(r.fieldIndex("ml_score")) &&
          r.getDouble(r.fieldIndex("ml_score")) > 0d))
    }
  }

  test("ImpactTopKAggregator: any reduce/merge split equals global sort-take") {
    // the two-stage build's correctness rests on this algebra: folding
    // rows in any order across any partitioning, then merging the
    // partial buffers, must equal the windowed rank it replaced —
    // including heavy ties (c drawn from a tiny range so equal scores
    // with doc_id tie-breaks dominate)
    import graft.operators.{ImpactTopKAggregator, Posting}
    val rnd = new scala.util.Random(4242)
    (1 to 50).foreach { trial =>
      val cap = 1 + rnd.nextInt(8)
      val agg = new ImpactTopKAggregator(cap)
      val rows = Seq.fill(rnd.nextInt(60))(
        Posting("t", rnd.nextInt(1000).toLong, rnd.nextInt(5).toLong))
      val nSplits = 1 + rnd.nextInt(4)
      val buffers = rows.grouped(math.max(1, rows.size / nSplits + 1))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
      val merged = buffers.foldLeft(agg.zero)(agg.merge)
      val want = rows.map(p => (p.doc_id, p.c)).distinct
        .sortBy { case (id, c) => (-c, id) }.take(cap)
      // duplicate (doc_id, c) inputs: the window form ranks both copies;
      // the aggregator's sorted-insert keeps both too — compare on the
      // raw multiset instead when duplicates are present
      val wantDup = rows.map(p => (p.doc_id, p.c))
        .sortBy { case (id, c) => (-c, id) }.take(cap)
      assert(agg.finish(merged) == wantDup,
        s"trial $trial cap=$cap: ${agg.finish(merged)} vs $wantDup")
      assert(want.forall(wantDup.contains), s"trial $trial sanity")
    }
  }

  test("cdc chunks: partition invariant + shift-robust boundaries (one insert, one chunk)") {
    import spark.implicits._
    // a deterministic 64-token document (md5-driven boundaries land every
    // ~8 tokens) and a revision with ONE token inserted mid-document
    val toks = (0 until 64).map(i => s"w${i * 7 % 97}")
    val p = 31
    val revised = (toks.take(p) :+ "INSERTED") ++ toks.drop(p)
    val docs = Seq((0L, toks.mkString(" ")), (1L, revised.mkString(" ")))
      .toDF("doc_id", "text")
    val ch = CorpusOps.cdcChunksOf(docs, 8)
      .select("doc_id", "chunk_md5", "n_toks").collect()
    val a = ch.filter(_.getLong(0) == 0L).map(r => (r.getString(1), r.getLong(2))).toSeq
    val b = ch.filter(_.getLong(0) == 1L).map(r => (r.getString(1), r.getLong(2))).toSeq
    // chunks PARTITION the token stream — nothing dropped, nothing doubled
    assert(a.map(_._2).sum == 64 && b.map(_._2).sum == 65)
    assert(a.size >= 4, s"fixture must actually chunk (got ${a.size})")
    // multiset symmetric difference: the insertion rewrites exactly the
    // chunk it lands in (one hash out; one in — or two, if the inserted
    // token itself closes a boundary and splits the chunk); every OTHER
    // chunk's content hash survives the positional shift — the property
    // docChunks' fixed stride lacks (there, every downstream window moves)
    def bag(s: Seq[(String, Long)]) = s.groupBy(identity).view.mapValues(_.size).toMap
    val ba = bag(a); val bb = bag(b)
    val removed = ba.map { case (k, n) => n - bb.getOrElse(k, 0) }.filter(_ > 0).sum
    val added = bb.map { case (k, n) => n - ba.getOrElse(k, 0) }.filter(_ > 0).sum
    assert(removed <= 1, s"insertion must disturb at most one existing chunk, removed=$removed")
    assert(added <= 2, s"insertion must create at most two chunks, added=$added")
  }
}
