package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Streaming-layer spec: validation routing in batch (the function is
  * source-agnostic) and the watermarked dedupe + fan-out path over a real
  * file-source stream with `Trigger.AvailableNow` (SURVEY.md §5; the e2e
  * run is `graft.StreamDemo`). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("B1/B2 routing: corrupt, missing-field, wrong-tipo, ok") {
    val rows = Seq(
      """{"versao":"1.0","cnpj":"1","tipo":"inclusao_pedido","dados":{"id":1,"uuid":"u1","valor":10.0,"event_ts":"2024-01-01 10:00:00"}}""",
      """{"cnpj":"1","tipo":"inclusao_pedido","dados":{"id":2,"uuid":"u2","valor":10.0,"event_ts":"2024-01-01 10:00:00"}}""",
      """{"versao":"1.0","cnpj":"1","tipo":"cancelamento","dados":{"id":3,"uuid":"u3","valor":10.0,"event_ts":"2024-01-01 10:00:00"}}""",
      """not json at all""")
    val dir = Files.createTempDirectory("route").toString
    rows.toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val parsed = spark.read.schema(Streaming.webhookSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").json(dir)
    val routes = Streaming.withRoute(parsed)
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routes == Map("ok" -> 1L, "rejected_400" -> 1L,
      "ignored" -> 1L, "corrupt" -> 1L))
  }

  test("streaming dedupe drops duplicate uuids within the watermark") {
    val work = Files.createTempDirectory("dedupe").toString
    val payload = (1 to 50).map { i =>
      s"""{"versao":"1.0","cnpj":"1","tipo":"inclusao_pedido","dados":{"id":$i,"uuid":"u${i % 25}","valor":1.0,"event_ts":"2024-01-01 10:${f"${i % 60}%02d"}:00"}}"""
    }
    payload.toDF("value").coalesce(1).write.mode("overwrite").text(s"$work/drop")
    val q = Streaming.fanOut(
      Streaming.dedupedValid(Streaming.readWebhookStream(spark, s"$work/drop")),
      s"$work/raw", s"$work/fact", s"$work/ck")
    q.awaitTermination()
    // 50 events over 25 distinct uuids -> 25 survivors
    assert(spark.read.parquet(s"$work/raw").count() == 25)
  }

  test("I4 recovery: fan-out killed mid-stream, restarted from checkpoint — no loss, no dupes") {
    val work = Files.createTempDirectory("recover").toString
    (1 to 12).foreach { i =>
      Seq(s"""{"versao":"1.0","cnpj":"1","tipo":"inclusao_pedido","dados":{"id":$i,"uuid":"w$i","valor":1.0,"event_ts":"2024-01-01 10:00:00"}}""")
        .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    }
    def start() = Streaming.fanOut(
      Streaming.dedupedValid(Streaming.readWebhookStream(
        spark, s"$work/drop", maxFilesPerTrigger = Some(1))), // 12 micro-batches
      s"$work/raw", s"$work/fact", s"$work/ck")
    // kill the query mid-run: stop as soon as the first batch has landed,
    // while later batches are still unprocessed (or mid-write)
    val q1 = start()
    val deadline = System.currentTimeMillis() + 60000
    while (q1.isActive && !new java.io.File(s"$work/raw").exists()
      && System.currentTimeMillis() < deadline) Thread.sleep(20)
    q1.stop()
    // restart from the SAME checkpoint; AvailableNow drains the remainder —
    // an interrupted batch re-executes under its original batchId and
    // OVERWRITES its own ingest_batch dir, so re-delivery cannot duplicate
    start().awaitTermination()
    val raw = spark.read.parquet(s"$work/raw")
    assert(raw.count() == 12, "no event lost, none duplicated")
    assert(raw.select("uuid").distinct().count() == 12)
  }

  test("mapGroupsWithState: totals accumulate across query restarts via checkpoint") {
    val work = Files.createTempDirectory("state").toString
    def envelope(id: Long, uuid: String, valor: Double): String =
      s"""{"versao":"1.0","cnpj":"1","tipo":"inclusao_pedido","dados":{"id":$id,"uuid":"$uuid","valor":$valor,"event_ts":"2024-01-01 10:00:00"}}"""
    // batch 1: order 1 gets 10.0 + 20.0, order 2 gets 5.0
    Seq(envelope(1, "a", 10.0), envelope(1, "b", 20.0), envelope(2, "c", 5.0))
      .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    Streaming.statefulQuery(
      Streaming.dedupedValid(Streaming.readWebhookStream(spark, s"$work/drop")),
      s"$work/out", s"$work/ck").awaitTermination()
    // batch 2 (new files, SAME checkpoint): order 1 gets 30.0 more
    Seq(envelope(1, "d", 30.0)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.statefulQuery(
      Streaming.dedupedValid(Streaming.readWebhookStream(spark, s"$work/drop")),
      s"$work/out", s"$work/ck").awaitTermination()
    val finals = spark.read.parquet(s"$work/out")
      .groupBy("pedido_id").agg(max("n_events").as("n"), max("valor_total").as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // state recovered: order 1 totals 3 events / 60.0 despite the restart
    assert(finals(1L) == (3L, 60.0))
    assert(finals(2L) == (1L, 5.0))
  }

  test("stream-stream join: clicks within 1 hour of their impression") {
    val work = Files.createTempDirectory("ssjoin").toString
    def js(id: Long, user: Long, ts: String) =
      s"""{"id":$id,"user":$user,"ts":"$ts"}"""
    Seq(js(1, 10, "2024-01-01 10:00:00"), js(2, 20, "2024-01-01 10:00:00"))
      .toDF("value").coalesce(1).write.text(s"$work/impressions")
    Seq(js(101, 10, "2024-01-01 10:30:00"),  // joins (30 min later)
      js(102, 20, "2024-01-01 12:00:00"),    // too late (2 h)
      js(103, 30, "2024-01-01 10:15:00"))    // no impression
      .toDF("value").coalesce(1).write.text(s"$work/clicks")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType)))
    def src(dir: String, prefix: String) = spark.readStream.schema(schema).json(dir)
      .select(col("id").as(s"${prefix}_id"), col("user").as(s"${prefix}_user"),
        to_timestamp(col("ts")).as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = src(s"$work/impressions", "imp")
      .join(src(s"$work/clicks", "clk"),
        expr("""imp_user = clk_user AND
                clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 1 hour"""))
    val q = joined.writeStream
      .option("checkpointLocation", s"$work/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$work/out").start()
    q.awaitTermination()
    val rows = spark.read.parquet(s"$work/out")
      .select("imp_id", "clk_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 101L)))
  }

  test("incremental rollup: cube equals batch recompute, replayed epoch is a no-op") {
    val work = Files.createTempDirectory("cube").toString
    val schema = "o_orderdate DATE, o_totalprice DOUBLE"
    def js(d: String, p: Double) = s"""{"o_orderdate":"$d","o_totalprice":$p}"""
    def src = spark.readStream.schema(schema).json(s"$work/drop")
    def run() = Streaming.incrementalRollup(src, s"$work/cube", s"$work/ck")
      .awaitTermination()
    Seq(js("2024-01-05", 10.5), js("2024-01-20", 2.25), js("2024-02-01", 7.0))
      .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    run()
    // restart from checkpoint: only the new file forms the next epoch
    Seq(js("2024-01-31", 4.5), js("2024-03-15", 1.0))
      .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    run()
    def cube() = spark.read.parquet(s"$work/cube")
      .select("yr", "mo", "n_orders", "rev_grid").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val got = cube()
    assert(got == Map(
      (2024L, 1L) -> (3L, 172500L), // 10.5 + 2.25 + 4.5 on the 1e4 grid
      (2024L, 2L) -> (1L, 70000L),
      (2024L, 3L) -> (1L, 10000L)))
    // a replayed epoch (crash-recovery delivery of batch 0 again) must be
    // a no-op: the cube's _BATCH manifest is already past it
    Streaming.applyRollupEpoch(
      spark.read.schema(schema).json(s"$work/drop"), 0L, s"$work/cube")
    assert(cube() == got, "replayed epoch double-counted into the cube")
    // crash window: death after the swap but before the old-dir cleanup
    // leaves a stale ._old next to the complete live cube — the next epoch
    // must heal it and apply cleanly, not wedge on a non-empty rename target
    val staleOld = Paths.get(s"$work/cube._old")
    Files.createDirectories(staleOld)
    Files.writeString(staleOld.resolve("leftover.parquet"), "junk")
    Seq(js("2024-03-20", 2.0)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    run()
    assert(!Files.exists(staleOld), "stale ._old not healed")
    assert(cube()((2024L, 3L)) == (2L, 30000L), "post-heal epoch not applied")
  }

  test("streaming heavy hitters: sketch state survives restart, no false negatives") {
    val work = Files.createTempDirectory("mg").toString
    // batch 1: 'hot' ×60 among 120 distinct cold fillers; batch 2: 'warm'
    // heats up only AFTER the restart — state must carry batch 1's counts
    val b1 = Seq.fill(60)("hot") ++ (1 to 120).map(i => s"cold$i") ++ Seq.fill(10)("warm")
    b1.toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    def run() = Streaming.streamingHeavyHitters(
      spark.readStream.text(s"$work/drop").as[String],
      cap = 20, nShards = 4, s"$work/out", s"$work/ck").awaitTermination()
    run()
    Seq.fill(80)("warm").toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    run()
    // the sink is batch-keyed (ingest_batch=<id>, overwrite): a shard's
    // CURRENT candidates are its row in the max batch partition — an
    // evicted candidate must not linger from an older batch
    val out = spark.read.parquet(s"$work/out")
      .select(col("shard"), col("candidates"), col("ingest_batch").cast("long"))
    val latest = out.collect()
      .groupBy(_.getInt(0)).values
      .map(_.maxBy(_.getLong(2)))
    val cands = latest.flatMap(_.getSeq[String](1)).toSet
    // 'hot' (60/270 ≫ n_shard/21) must survive; 'warm' reached weight only
    // via state carried across the restart (10 then 80)
    assert(cands.contains("hot"), s"hot missing from $cands")
    assert(cands.contains("warm"), s"warm missing from $cands")
    // bounded state: no shard ever emitted more than cap candidates
    out.collect().foreach(r => assert(r.getSeq[String](1).size <= 20))
  }

  test("streaming near-dup: seen-corpus state survives restart, flags by hamming") {
    val work = Files.createTempDirectory("neardup").toString
    val textA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val textA1 = textA.replace("alpha7", "gamma7") // one-word edit of A
    def js(id: Long, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    // expected verdicts from the SAME signature arithmetic, batch-side:
    // a doc is a near-dup iff an ADMITTED same-bucket signature is within
    // 3 bits (textA admitted first; textA1 only compares against it if
    // their top-16 bucket bits agree — mirror that here)
    val sigs = Seq(textA, textB, textA1).toDF("text")
      .select(operators.Dedup.simhashFold(col("text"))).collect().map(_.getLong(0))
    val Seq(sa, sb, sa1) = sigs.toSeq
    val expectA1 = (sa >> 16) == (sa1 >> 16) &&
      java.lang.Long.bitCount(sa ^ sa1) <= 3
    // batch 1: A and B arrive — a fresh corpus, nothing to collide with
    Seq(js(1, textA), js(2, textB)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.nearDupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // batch 2 (new files, SAME checkpoint): an exact copy of A, and the
    // one-word edit — both must be judged against batch 1's ADMITTED state
    Seq(js(3, textA), js(4, textA1)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.nearDupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    val flags = spark.read.parquet(s"$work/out")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_near_dup")).toMap
    assert(flags(1L) == false && flags(2L) == false)
    assert(flags(3L) == true, "exact copy must hit the checkpointed state")
    assert(flags(4L) == expectA1,
      s"one-word edit: hamming=${java.lang.Long.bitCount(sa ^ sa1)}, " +
        s"same bucket=${(sa >> 16) == (sa1 >> 16)}")
    // signature parity with the batch operator's arithmetic
    assert(flags.size == 4)
  }

  test("streaming media near-dup: ingest-edge signatures, checkpointed corpus, flags by four-band hamming") {
    val work = Files.createTempDirectory("mediadedup").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(id: Long) = s"""{"doc_id":$id}"""
    // expected verdicts from the SAME signature arithmetic, batch-side
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    def sig(id: Long) = operators.Multimodal.imageSignature(w, rd, id)
    def ham(a: operators.Multimodal.HashBands,
        b: operators.Multimodal.HashBands): Int =
      java.lang.Long.bitCount(a.b0 ^ b.b0) +
        java.lang.Long.bitCount(a.b1 ^ b.b1) +
        java.lang.Long.bitCount(a.b2 ^ b.b2) +
        java.lang.Long.bitCount(a.b3 ^ b.b3)
    val (s0, s1, s4, s8) = (sig(0), sig(1), sig(4), sig(8))
    // fixture invariant: the family-0 variant shares doc 0's band-0
    // bucket (the single-pixel edit flips only band-1 bits) within 4 bits
    assert(s0.b0 == s1.b0 && ham(s0, s1) <= 4)
    // doc 4 is a fresh family base: flagged only if it collides with an
    // admitted signature in its bucket — compute the expectation exactly
    val expect4 = Seq(s0, s8).exists(s => s.b0 == s4.b0 && ham(s, s4) <= 6)
    // batch 1: two family bases — a fresh corpus
    Seq(js(0), js(8)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.mediaDedupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // batch 2 (new files, SAME checkpoint): an exact resend, the variant,
    // and a fresh base — all judged against batch 1's checkpointed state
    Seq(js(0), js(1), js(4)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.mediaDedupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    val rows = spark.read.parquet(s"$work/out").collect()
      // partition discovery infers ingest_batch as Int
      .map(r => (r.getAs[Int]("ingest_batch").toLong, r.getAs[Long]("doc_id")) ->
        r.getAs[Boolean]("is_near_dup")).toMap
    assert(rows((0L, 0L)) == false && rows((0L, 8L)) == false)
    assert(rows((1L, 0L)) == true,
      "exact resend must hit the checkpointed state")
    assert(rows((1L, 1L)) == true,
      "the single-pixel variant must flag against the admitted base")
    assert(rows((1L, 4L)) == expect4)
    assert(rows.size == 5)
  }

  test("media-dedup state budget: fold clips to the quad budget oldest-first, evicted fingerprints reach the Bloom tier") {
    import operators.Multimodal.HashBands
    // 6 mutually-far signatures (distinct high bits in every band)
    val items = (0 until 6).map(i =>
      HashBands(i.toLong, 1L << i, 1L << (i + 6), 1L << (i + 3), 1L << (i + 9)))
    val r = Streaming.dedupAgainstQuads(
      items, Array.empty[Long], 6, 3)((m, dup) => (m.doc_id, dup))
    assert(r.out.forall(!_._2), "mutually-far items must all admit")
    assert(r.evicted == 3, "6 admitted into a budget of 3 evicts the oldest 3")
    assert(r.quads.length == 12, "state clipped to budget quads")
    assert(r.quads(0) == items(3).b0 && r.quads(8) == items(5).b0,
      "eviction is oldest-admitted-first: survivors are the newest 3")
    // the historical tier: an EXACT resend of evicted item 0 flags on the
    // Bloom; a far-from-everything fresh item does not (no blanket FP)
    val resend = items(0).copy(doc_id = 50L)
    // b3 uses bit 2: bit 12 would tie item 3's b3 (i+9) and land the
    // four-band hamming exactly at the threshold 6 via the exact tier
    val fresh = HashBands(51L, 1L << 15, 1L << 14, 1L << 13, 1L << 2)
    val r3 = Streaming.dedupAgainstQuads(
      Seq(resend, fresh), r.quads, 6, 3, r.bloom, r.bloomInserts,
      r.bloomPrev)((m, dup) => (m.doc_id, dup))
    assert(r3.out.find(_._1 == 50L).exists(_._2),
      "exact resend of an evicted item must flag via the Bloom tier")
    assert(r3.out.find(_._1 == 51L).exists(!_._2),
      "a genuinely fresh far item must not Bloom-flag")
    // within a batch the budget never hides an earlier admit: a resend of
    // item 0 in the SAME batch flags even though item 0 won't survive
    val r2 = Streaming.dedupAgainstQuads(
      items :+ items(0).copy(doc_id = 99L), Array.empty[Long], 6, 3)(
      (m, dup) => (m.doc_id, dup))
    assert(r2.out.find(_._1 == 99L).exists(_._2),
      "in-batch resend must flag against the pre-clip state")
    assert(r2.evicted == 3)
  }

  test("media-dedup Bloom tier: generation rotation bounds the saturated-filter FP drop rate, novel items still admit") {
    import operators.Multimodal.HashBands
    // Mutually-far items (distinct id in every band shifted apart) with
    // maxHamming 0: nothing ever hamming-matches, every distinct item
    // admits, and budget 1 evicts continuously — the hot-bucket flood that
    // saturates an unrotated Bloom. 1000 evictions at BloomGenCapacity=400
    // must rotate twice (at insert 400 and 800).
    def item(i: Long) = HashBands(i, i, i << 1, i << 2, i << 3)
    var quads = Array.empty[Long]
    var bloom = Array.empty[Long]
    var prev = Array.empty[Long]
    var inserts = 0L
    var rotations = 0
    var fpDrops = 0
    val evictions = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0L until 1001L).foreach { i =>
      val before = quads.grouped(4).map(_(0)).toSeq
      val r = Streaming.dedupAgainstQuads(Seq(item(i)), quads, 0, 1,
        bloom, inserts, prev)((m, dup) => (m.doc_id, dup))
      // every item is novel (all-distinct, maxHamming 0): any flag is a
      // Bloom FALSE-POSITIVE DROP — the quantity the rotation bounds
      if (r.out.head._2) fpDrops += 1
      else evictions ++= before // budget 1: admitting evicts the incumbent
      quads = r.quads; bloom = r.bloom; prev = r.bloomPrev
      inserts = r.bloomInserts; rotations += r.rotated
    }
    // the bounded-FP contract: worst-case per-generation FP ≈ 1.6%, two
    // probed generations ≈ 3.2% — assert with headroom. An UNROTATED
    // 4096-bit filter fed 1000 fingerprints sits at ~25% FP and climbing.
    assert(fpDrops.toDouble / 1001 < 0.06,
      s"$fpDrops FP drops in 1001 novel arrivals — the rotation must " +
        "bound the drop rate at ~3%")
    assert(rotations == 2,
      s"~1000 evictions at capacity ${Streaming.BloomGenCapacity} must " +
        s"rotate exactly twice, got $rotations (${evictions.size} evictions)")
    // the current generation holds ≤ capacity fingerprints: its fill stays
    // far below the ~50% a saturated single filter reaches (the FP bound)
    val fill = bloom.map(java.lang.Long.bitCount).sum / 4096.0
    assert(fill < 0.3, f"current generation fill $fill%.2f must stay bounded")
    // exact-resend horizon: an item evicted RECENTLY (within the last two
    // generations) still flags; one evicted before both live generations
    // (retired by the second rotation) re-admits — the documented
    // forgetting that buys the FP bound.
    val recent = evictions(evictions.size - 100)
    val rRecent = Streaming.dedupAgainstQuads(
      Seq(item(recent).copy(doc_id = 2000L)),
      quads, 0, 1, bloom, inserts, prev)((m, dup) => (m.doc_id, dup))
    assert(rRecent.out.head._2,
      "an exact resend within the two-generation horizon must flag")
    val ancient = evictions(50) // insert ordinal 50: generation 0, forgotten
    val rAncient = Streaming.dedupAgainstQuads(
      Seq(item(ancient).copy(doc_id = 2001L)),
      quads, 0, 1, bloom, inserts, prev)((m, dup) => (m.doc_id, dup))
    assert(!rAncient.out.head._2,
      "an exact resend older than both live generations re-admits — the " +
        "bounded-FP trade (BloomGenCapacity's contract)")
  }

  test("media-dedup state budget: bounded state under a same-bucket flood, Bloom catches evicted exact resends") {
    // two family BASES that collide on band 0 but are genuinely far
    // (hamming ≥ 11, so base a's single-pixel VARIANT a+1 — which drifts
    // ≤ 4 bits — is still > 6 from b): the planted same-bucket 'flood'
    // pair. Found by scanning bases with the batch-side signature helper —
    // the 16-bit band makes a collision a birthday certainty within a few
    // thousand.
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    def sig(id: Long) = operators.Multimodal.imageSignature(w, rd, id)
    def ham(a: operators.Multimodal.HashBands,
        b: operators.Multimodal.HashBands): Int =
      java.lang.Long.bitCount(a.b0 ^ b.b0) +
        java.lang.Long.bitCount(a.b1 ^ b.b1) +
        java.lang.Long.bitCount(a.b2 ^ b.b2) +
        java.lang.Long.bitCount(a.b3 ^ b.b3)
    val seen = scala.collection.mutable.Map.empty[Long, (Long, operators.Multimodal.HashBands)]
    val pair = (0L until 60000L by 4).iterator.map(id => (id, sig(id)))
      .flatMap { case (id, s) =>
        val hit = seen.get(s.b0).collect {
          case (a, sa) if ham(sa, s) >= 11 && sig(a + 1).b0 == sa.b0 &&
            ham(sig(a + 1), sa) <= 4 &&
            // the edit must actually flip ≥ 1 bit: a drift-0 'variant' is
            // an exact dup and the Bloom would (correctly) flag it
            ham(sig(a + 1), sa) >= 1 => (a, id)
        }
        seen(s.b0) = (id, s)
        hit
      }.nextOption()
    assert(pair.nonEmpty, "no usable band-0 collision among 15k bases — fixture drift")
    val (a, b) = pair.get
    val av = a + 1 // a's single-pixel variant: same bucket, hamming ≤ 4 to a
    val work = Files.createTempDirectory("mediabudget").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(id: Long) = s"""{"doc_id":$id}"""
    def run(ids: Long*): Unit = {
      ids.map(js).toDF("value").coalesce(1)
        .write.mode("append").text(s"$work/drop")
      Streaming.mediaDedupQuery(src(), s"$work/out", s"$work/ck",
        maxQuadsPerBucket = 1).awaitTermination()
    }
    run(a)   // batch 0: a admitted, exact tier [a]
    run(b)   // batch 1: b far from a → admitted; budget 1 evicts a → Bloom
    run(av)  // batch 2: a's VARIANT: not near b, not a's exact fingerprint
             // → NOT flagged — proves a left the exact tier (bounded
             // state; unbounded state would hamming-flag it) and that the
             // Bloom only answers exact resends; admitted, evicts b
    run(b)   // batch 3: exact resend of the EVICTED b → Bloom flags it
    run(av)  // batch 4: resend within the budget horizon → exact tier flags
    val rows = spark.read.parquet(s"$work/out").collect()
      .map(r => (r.getAs[Int]("ingest_batch").toLong, r.getAs[Long]("doc_id")) ->
        r.getAs[Boolean]("is_near_dup")).toMap
    assert(rows((0L, a)) == false && rows((1L, b)) == false)
    assert(rows((2L, av)) == false,
      "the budget must have evicted a — unbounded state would flag its variant")
    assert(rows((3L, b)) == true,
      "an exact resend of an evicted item must flag via the Bloom tier")
    assert(rows((4L, av)) == true,
      "a resend within the budget horizon must still flag via the exact tier")
    assert(rows.size == 5)
  }

  test("streaming mixed-mime media near-dup: planted variants of all three modalities flag across a restart") {
    val work = Files.createTempDirectory("mixeddedup").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(id: Long) = s"""{"doc_id":$id}"""
    // batch-side signature recompute (the SAME helpers the stream uses)
    val pngW = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val pngR = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    val gifW = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val gifR = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val wav = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala
        .find(_.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)).get
    }
    def sig(id: Long): operators.Multimodal.HashBands = (id % 3) match {
      case 0 => operators.Multimodal.imageSignature(pngW, pngR, id)
      case 1 => operators.Multimodal.audioSignature(wav, id)
      case _ => operators.Multimodal.videoSignature(gifW, gifR, id)
    }
    def ham(a: operators.Multimodal.HashBands,
        b: operators.Multimodal.HashBands): Int =
      java.lang.Long.bitCount(a.b0 ^ b.b0) +
        java.lang.Long.bitCount(a.b1 ^ b.b1) +
        java.lang.Long.bitCount(a.b2 ^ b.b2) +
        java.lang.Long.bitCount(a.b3 ^ b.b3)
    // bases 0/4/8 and variants 3/7/11 pair up WITHIN each modality stripe
    // (id%3 equal, id/4 equal); fixture invariant: the single-unit edits
    // keep band 0 (the bucket) and stay within the hamming threshold
    val bases = Seq(0L, 4L, 8L)
    val variants = Seq(3L, 7L, 11L)
    bases.zip(variants).foreach { case (b, v) =>
      assert(b % 3 == v % 3 && b / 4 == v / 4)
      assert(sig(b).b0 == sig(v).b0 && ham(sig(b), sig(v)) <= 6,
        s"fixture drift: variant $v left base $b's bucket")
    }
    // fresh bases in batch 2: flagged only on a genuine near-collision
    // with an admitted same-mime bucket-mate — compute expectations exactly
    val fresh = Seq(12L, 16L, 20L)
    val expectFresh = fresh.map { f =>
      f -> bases.filter(_ % 3 == f % 3).map(sig)
        .exists(s => s.b0 == sig(f).b0 && ham(s, sig(f)) <= 6)
    }.toMap
    // batch 1: the three bases, one per modality
    bases.map(js).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.mixedMediaDedupQuery(src(), s"$work/out", s"$work/ck")
      .awaitTermination()
    // batch 2 (new files, SAME checkpoint after the query object died):
    // each modality's variant plus a fresh base per modality
    (variants ++ fresh).map(js).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.mixedMediaDedupQuery(src(), s"$work/out", s"$work/ck")
      .awaitTermination()
    val rows = spark.read.parquet(s"$work/out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("mime"), r.getAs[Boolean]("is_near_dup"))).toMap
    val mimes = Map(0L -> "image/png", 1L -> "audio/wav", 2L -> "video/gif")
    rows.foreach { case (id, (mime, _)) =>
      assert(mime == mimes(id % 3), s"doc $id dispatched to $mime")
    }
    bases.foreach(b => assert(!rows(b)._2, s"fresh base $b flagged"))
    variants.foreach(v => assert(rows(v)._2,
      s"variant $v missed its checkpointed same-mime base"))
    fresh.foreach(f => assert(rows(f)._2 == expectFresh(f),
      s"fresh base $f verdict drifted from the exact expectation"))
    assert(rows.size == 9)
  }

  test("streaming bloom dedupe: re-sent ids always flagged across restart, fresh ids mostly admitted") {
    val work = Files.createTempDirectory("bloomdedupe").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(ids: Seq[Long]) = ids.map(i => s"""{"event_id":$i}""")
    // batch 1: 300 fresh ids, two of them sent twice IN the same batch
    val fresh = (1L to 300L) ++ Seq(7L, 13L)
    js(fresh).toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    Streaming.bloomDedupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // batch 2, SAME checkpoint after the query object died: 50 re-sent ids
    // (must ALL hit the recovered filter — no false negatives, ever) and
    // 200 never-seen ids (false positives only by bloom collision)
    js((251L to 300L) ++ (10001L to 10200L)).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.bloomDedupQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    val rows = spark.read.parquet(s"$work/out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("probably_seen"))
    // in-batch duplicates: the SECOND occurrence flags (order pinned by sort)
    val byId = rows.groupBy(_._1)
    assert(byId(7L).map(_._2).sorted.toSeq == Seq(false, true))
    assert(byId(13L).map(_._2).sorted.toSeq == Seq(false, true))
    // re-sent after restart: all flagged — the filter state is durable
    (251L to 300L).foreach(id =>
      assert(byId(id).exists(_._2), s"re-sent $id not flagged"))
    // fresh after restart: collisions only; with n=302, m=65536, k=4 the
    // FP rate is ~1e-7 — even 1 spurious flag in 200 would be suspicious
    val fp = (10001L to 10200L).count(id => byId(id).head._2)
    assert(fp <= 2, s"$fp of 200 fresh ids spuriously flagged")
    assert(rows.length == 302 + 250)
  }

  test("streaming sessions: windows merge across restarts, emit once, match batch") {
    val work = Files.createTempDirectory("sessions").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    def js(u: Long, t: String, v: Double) =
      s"""{"user_id":$u,"ts":"2024-03-20 $t","value":$v}"""
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def run() = Streaming.sessionQuery(src(), s"$work/out", s"$work/ck")
      .awaitTermination()
    // batch 1: u1 opens a session (10:00, 10:10); u2 has two events 50 min
    // apart — two distinct sessions once closed
    Seq(js(1, "10:00:00", 1.5), js(1, "10:10:00", 2.25),
      js(2, "10:00:00", 4.0), js(2, "10:50:00", 0.5))
      .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    run()
    assert(!Files.exists(Paths.get(s"$work/out"))
      || spark.read.parquet(s"$work/out").count() == 0,
      "nothing may emit while the watermark is behind every session close")
    // batch 2 (same checkpoint): u1's 10:25 event lands within the gap of
    // its CHECKPOINTED open session — one merged session, not two; the
    // next-day sentinel advances the watermark so everything closed emits
    Seq(js(1, "10:25:00", 3.0), js(99, "23:59:00", 0.0))
      .toDF("value").coalesce(1).write.mode("append").text(s"$work/drop")
    run()
    val got = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    def epoch(t: String) =
      java.time.Instant.parse(s"2024-03-20T${t}Z").getEpochSecond
    assert(got == Set(
      (1L, epoch("10:00:00"), epoch("10:55:00"), 3L, 6.75), // merged across restart
      (2L, epoch("10:00:00"), epoch("10:30:00"), 1L, 4.0),
      (2L, epoch("10:50:00"), epoch("11:20:00"), 1L, 0.5)),
      s"got $got")
    // u99's session is still open (watermark never passed it) — the
    // append-mode tail the batch query reconciles. Replay the same rows
    // through the BATCH session aggregation: emitted rows must be exactly
    // the batch sessions that closed before the final watermark.
    val batch = spark.read.schema(schema).json(s"$work/drop")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"), graft.Exprs.gsum(col("value")).as("v"))
      .select(col("user_id"), unix_timestamp(col("sw.start")),
        unix_timestamp(col("sw.end")), col("n"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val wmCut = epoch("23:59:00") - 7200
    assert(got == batch.filter(_._3 <= wmCut), "stream ≠ batch reconciliation")
  }

  test("streaming funnel: state advances across micro-batches and survives restart") {
    val work = Files.createTempDirectory("funnel").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(u: Long, ty: String, ts: String) =
      s"""{"user_id":$u,"event_type":"$ty","ts":"$ts"}"""
    // batch 1: u1 views; u2 views and clicks; u3 clicks with no view
    Seq(
      js(1, "view", "2024-01-01T10:00:00"),
      js(2, "view", "2024-01-01T10:00:00"),
      js(2, "click", "2024-01-01T11:00:00"),
      js(3, "click", "2024-01-01T10:00:00")).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.funnelQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // batch 2, SAME checkpoint (a restarted query): u1's click lands within
    // the 24h window of the CHECKPOINTED view; u2's purchase falls outside
    // the window of its click and must NOT advance; u3's late view starts
    // its funnel fresh
    Seq(
      js(1, "click", "2024-01-01T20:00:00"),
      js(2, "purchase", "2024-01-03T12:00:00"),
      js(3, "view", "2024-01-02T09:00:00")).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.funnelQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // latest update per user wins (Update-mode sink, batch-keyed dirs)
    val fin = spark.read.parquet(s"$work/out")
      .withColumn("b", col("ingest_batch").cast("long"))
      .collect().groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) => u -> rs.maxBy(_.getAs[Long]("b")) }
    assert(fin(1L).getAs[String]("stage") == "click",
      "view in batch 1 + click in batch 2 must join across the checkpoint")
    assert(fin(2L).getAs[String]("stage") == "click",
      "purchase outside the conversion window must not advance the stage")
    assert(fin(3L).getAs[String]("stage") == "view",
      "a click before any view never counts; the later view starts the funnel")
    assert(fin(1L).getAs[Long]("t_view") < fin(1L).getAs[Long]("t_click"))
  }

  test("stream-stream attribution: interval join matches batch, state crosses restart") {
    val work = Files.createTempDirectory("attr").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def src() = spark.readStream.schema(schema).json(s"$work/drop")
    def js(u: Long, ty: String, ts: String) =
      s"""{"user_id":$u,"event_type":"$ty","ts":"$ts"}"""
    // batch 1: u1 view + in-horizon click; u2 view only
    Seq(
      js(1, "view", "2024-01-01T10:00:00"),
      js(1, "click", "2024-01-01T10:05:00"),
      js(2, "view", "2024-01-01T10:02:00")).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.attributionQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    // batch 2, SAME checkpoint: u2's click must join the CHECKPOINTED view;
    // u1's second click is outside the 10-minute horizon; u3 has no view
    Seq(
      js(2, "click", "2024-01-01T10:08:00"),
      js(1, "click", "2024-01-01T10:30:00"),
      js(3, "click", "2024-01-01T10:06:00")).toDF("value").coalesce(1)
      .write.mode("append").text(s"$work/drop")
    Streaming.attributionQuery(src(), s"$work/out", s"$work/ck").awaitTermination()
    val got = spark.read.parquet(s"$work/out")
      .select(col("user_id"), col("v_ts").cast("string"), col("c_ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val expect = Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:05:00"),
      (2L, "2024-01-01 10:02:00", "2024-01-01 10:08:00"))
    assert(got == expect, s"got $got")
    // parity: the same code path run as a BATCH frame = the same pairs
    val all = Seq(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "click", "2024-01-01 10:05:00"),
      (2L, "view", "2024-01-01 10:02:00"), (2L, "click", "2024-01-01 10:08:00"),
      (1L, "click", "2024-01-01 10:30:00"), (3L, "click", "2024-01-01 10:06:00"))
      .toDF("user_id", "event_type", "ts_s")
      .select(col("user_id"), col("event_type"), to_timestamp(col("ts_s")).as("ts"))
    val batch = Streaming.attributionJoin(all)
      .select(col("user_id"), col("v_ts").cast("string"), col("c_ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch == expect, s"batch parity broke: $batch")
  }

  test("embedded log: Kafka-shaped handoff, crash between apply and commit stays exactly-once") {
    import graft.streaming.EmbeddedLog
    import graft.operators.Messages
    val root = Files.createTempDirectory("graft_log").toString
    // produce: the REAL J7 wire form (Messages.encode base64 lines)
    val wire = Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0))
    assert(wire.length > 50)
    val parts = wire.map(w => (Integer.toHexString(w.hashCode), w))
      .groupBy(kv => math.floorMod(kv._1.hashCode, 2))
    parts.foreach { case (p, recs) =>
      recs.grouped(recs.length / 3 + 1)
        .foreach(g => EmbeddedLog.append(root, "pedidos", p, g.toSeq))
    }
    parts.foreach { case (p, recs) =>
      // offsets dense + ordered across segments; no partial temp files
      val rs = EmbeddedLog.poll(root, "pedidos", p, 0L)
      assert(rs.map(_.offset) == rs.indices.map(_.toLong))
      assert(rs.length == recs.length)
      assert(EmbeddedLog.end(root, "pedidos", p) == recs.length.toLong)
      val dir = Paths.get(root, "pedidos", s"p$p")
      assert(!Files.list(dir).iterator().asScala
        .exists(_.getFileName.toString.startsWith(".tmp-")), "partial segment")
    }
    // a producer killed mid-append leaves only a temp file (the rename
    // never happened): readers and the offset allocator must not see it
    val p0dir = Paths.get(root, "pedidos", "p0")
    val debris = Files.createTempFile(p0dir, ".tmp-", "")
    Files.writeString(debris, "999\tdead\tGARBAGE")
    val before = EmbeddedLog.end(root, "pedidos", 0)
    assert(EmbeddedLog.poll(root, "pedidos", 0, 0L).length == before.toInt,
      "crash debris leaked into a poll")
    assert(EmbeddedLog.end(root, "pedidos", 0) == before,
      "crash debris shifted the offset allocator")

    // consume: poll → the REAL A6 subscriber decode → idempotent apply
    // (G2 anti-join on uuid) → commit AFTER apply
    val applied = Files.createTempDirectory("graft_log_out")
      .resolve("t").toString
    def consume(p: Int, max: Int, crashBeforeCommit: Boolean): Int = {
      val from = EmbeddedLog.committed(root, "bq", "pedidos", p)
      val recs = EmbeddedLog.poll(root, "pedidos", p, from, max)
      if (recs.isEmpty) return 0
      val df = recs.map(_.data).toSeq.toDF("data")
        .select(Messages.decode(col("data"), Messages.fullMessageSchema).as("m"))
        .select(col("m.uuid").as("uuid"),
          size(col("m.produto_data")).cast("long").as("n_itens"))
      val fresh =
        if (!Files.exists(Paths.get(applied))) df
        else df.join(spark.read.parquet(applied), Seq("uuid"), "left_anti")
      fresh.write.mode("append").parquet(applied)
      if (!crashBeforeCommit)
        EmbeddedLog.commit(root, "bq", "pedidos", p, recs.last.offset + 1)
      recs.length
    }
    // partition 0: first poll applies, then "crashes" before committing —
    // the group offset still points at 0, so those records REdeliver
    val crashed = consume(0, 5, crashBeforeCommit = true)
    assert(crashed == 5 &&
      EmbeddedLog.committed(root, "bq", "pedidos", 0) == 0L)
    var guard = 0
    while ((0 to 1).map(p =>
      consume(p, 7, crashBeforeCommit = false)).sum > 0) {
      guard += 1; assert(guard < 200)
    }
    // exactly-once end to end: every message applied once, none twice —
    // the redelivered 5 were absorbed by the anti-join, not re-applied
    val out = spark.read.parquet(applied)
    assert(out.count() == wire.length.toLong,
      s"exactly-once violated: ${out.count()} vs ${wire.length}")
    assert(out.select("uuid").distinct().count() == wire.length.toLong)
    (0 to 1).foreach { p =>
      assert(EmbeddedLog.committed(root, "bq", "pedidos", p) ==
        parts(p).length.toLong, s"partition $p not drained")
    }
  }

  test("embedded log under the ENGINE: streaming consume, crash after apply before checkpoint, restart stays exactly-once") {
    import graft.streaming.{EmbeddedLog, Streaming}
    import graft.operators.Messages
    val root = Files.createTempDirectory("graft_elog").toString
    val wire = Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0))
    assert(wire.length > 50)
    val parts = wire.map(w => (Integer.toHexString(w.hashCode), w))
      .groupBy(kv => math.floorMod(kv._1.hashCode, 2))
    // many small segments so maxFilesPerTrigger=2 yields several batches
    parts.foreach { case (p, recs) =>
      recs.grouped(recs.length / 6 + 1)
        .foreach(g => EmbeddedLog.append(root, "pedidos", p, g.toSeq))
    }
    val work = Files.createTempDirectory("graft_elog_out").toString
    val (applied, ckpt) = (s"$work/applied", s"$work/ckpt")
    // phase 1: the engine consumes the LOG; an injected crash lands at the
    // worst point — AFTER the apply + group commit, BEFORE the engine
    // checkpoints the batch — so that batch MUST be redelivered on restart
    @volatile var crashes = 0
    val q1 = Streaming.logStream(spark, root, "pedidos", Some(2)).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.logApplyBatch(b, root, "pedidos", "bq", applied)
        if (id == 1 && crashes == 0) {
          crashes += 1; throw new RuntimeException("injected crash")
        }
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashes == 1, "the injected crash never fired")
    val afterCrash = spark.read.parquet(applied).count()
    assert(afterCrash > 0 && afterCrash < wire.length.toLong,
      s"crash must land mid-stream, saw $afterCrash of ${wire.length}")
    // phase 2: restart over the SAME checkpoint — the engine redelivers
    // the un-checkpointed batch, the G2 anti-join absorbs it
    Streaming.logConsume(spark, root, "pedidos", "bq", applied, ckpt, Some(2))
      .awaitTermination()
    val out = spark.read.parquet(applied)
    assert(out.count() == wire.length.toLong,
      s"exactly-once violated: ${out.count()} vs ${wire.length}")
    assert(out.select("uuid").distinct().count() == wire.length.toLong)
    // phase 3: live appends + another engine pass — new records flow
    // exactly once, drained group offsets match the log ends
    parts.foreach { case (p, recs) =>
      EmbeddedLog.append(root, "pedidos", p,
        recs.take(3).map { case (k, v) => (k + "_redo", v) })
    }
    Streaming.logConsume(spark, root, "pedidos", "bq", applied, ckpt, Some(2))
      .awaitTermination()
    // re-sent payloads carry previously-applied uuids: absorbed, count holds
    assert(spark.read.parquet(applied).count() == wire.length.toLong)
    (0 to 1).foreach { p =>
      assert(EmbeddedLog.committed(root, "bq", "pedidos", p) ==
        EmbeddedLog.end(root, "pedidos", p), s"partition $p not drained")
    }
  }

  test("fact subscriber under the ENGINE: typed facts from the log equal the batch build, across crash, restart, and resend") {
    import graft.streaming.{EmbeddedLog, Streaming}
    import graft.operators.Messages
    val root = Files.createTempDirectory("graft_flog").toString
    val wire = Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0))
    assert(wire.length > 50)
    val parts = wire.map(w => (Integer.toHexString(w.hashCode), w))
      .groupBy(kv => math.floorMod(kv._1.hashCode, 2))
    parts.foreach { case (p, recs) =>
      recs.grouped(recs.length / 6 + 1)
        .foreach(g => EmbeddedLog.append(root, "pedidos", p, g.toSeq))
    }
    val work = Files.createTempDirectory("graft_flog_out").toString
    val (pedDir, itDir, ckpt) = (s"$work/pedidos", s"$work/itens", s"$work/ckpt")
    // phase 1: crash AFTER the apply + group commit of batch 1, BEFORE the
    // engine checkpoints it — that batch must be redelivered on restart and
    // its ingest_batch overwrite must leave the sinks exactly-once
    @volatile var crashes = 0
    val q1 = Streaming.logStream(spark, root, "pedidos", Some(2)).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streaming.factApplyBatch(b, id, pedDir, itDir, root, "pedidos", "facts")
        if (id == 1 && crashes == 0) {
          crashes += 1; throw new RuntimeException("injected crash")
        }
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashes == 1, "the injected crash never fired")
    // phase 2: restart over the SAME checkpoint; then a producer resend of
    // a few originals plus another engine pass — absorbed by the anti-join
    Streaming.factConsume(spark, root, "pedidos", "facts", pedDir, itDir,
      ckpt, Some(2)).awaitTermination()
    parts.foreach { case (p, recs) =>
      EmbeddedLog.append(root, "pedidos", p,
        recs.take(3).map { case (k, v) => (k + "_redo", v) }.toSeq)
    }
    Streaming.factConsume(spark, root, "pedidos", "facts", pedDir, itDir,
      ckpt, Some(2)).awaitTermination()
    // the streamed facts equal the BATCH build of the same channel, exactly
    val streamedPed = spark.read.parquet(pedDir).drop("ingest_batch", "dia")
    val batchPed = Messages.messagePedidosFact(spark, sfDir)
    assert(streamedPed.count() == batchPed.count(),
      s"pedidos exactly-once violated: ${streamedPed.count()} vs ${batchPed.count()}")
    assert(streamedPed.exceptAll(batchPed).isEmpty &&
      batchPed.exceptAll(streamedPed).isEmpty,
      "streamed pedidos facts diverge from the batch build")
    val streamedIt = spark.read.parquet(itDir).drop("ingest_batch", "dia")
    val batchIt = Messages.messageItensFact(spark, sfDir)
    assert(streamedIt.count() == batchIt.count(),
      s"itens exactly-once violated: ${streamedIt.count()} vs ${batchIt.count()}")
    assert(streamedIt.exceptAll(batchIt).isEmpty &&
      batchIt.exceptAll(streamedIt).isEmpty,
      "streamed itens facts diverge from the batch build")
    (0 to 1).foreach { p =>
      assert(EmbeddedLog.committed(root, "facts", "pedidos", p) ==
        EmbeddedLog.end(root, "pedidos", p), s"partition $p not drained")
    }
  }

  test("fact subscriber uuid ledger: mirrors the sink per batch, stays hidden, keeps batch cost flat, guards a damaged ledger") {
    import graft.streaming.EmbeddedLog
    import graft.operators.Messages
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = Files.createTempDirectory("graft_ledger").toString
    val wire = Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0))
    // 6 segments of 45 messages in scattered (hash) order, so every batch
    // spans more day partitions than Spark's parallel-listing threshold
    // (32); from the second segment on, each also resends 3 messages of
    // the segment before it, and the last resends one of the first
    val picked = wire.sortBy(w => Integer.toHexString(w.hashCode)).take(270)
    val uuidOf = picked.toSeq.toDF("data")
      .select(col("data"),
        get_json_object(unbase64(col("data")).cast("string"), "$.uuid"))
      .as[(String, String)].collect().toMap
    val segs = picked.grouped(45).toVector
    segs.zipWithIndex.foreach { case (g, k) =>
      val resent = if (k == 0) Nil else segs(k - 1).take(3).toSeq ++
        (if (k == segs.size - 1) segs.head.take(1).toSeq else Nil)
      EmbeddedLog.append(root, "pedidos", 0,
        (g.toSeq ++ resent).zipWithIndex.map { case (w, i) => (s"s${k}_$i", w) })
    }
    // the file source orders segments by modification time
    val segFiles = new java.io.File(s"$root/pedidos/p0").listFiles()
      .filter(_.isFile).sortBy(_.getName)
    segFiles.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(f.lastModified() - (segFiles.length - i) * 2000L)
    }
    val work = Files.createTempDirectory("graft_ledger_out").toString
    val (pedDir, itDir, ckpt) = (s"$work/pedidos", s"$work/itens", s"$work/ckpt")
    // Spark jobs per (query, micro-batch), keyed on the engine's local
    // properties
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.ledger.sentinel") != null) sentinelSeen = true
          Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
            jobs.merge((p.getProperty("sql.streaming.queryId"), b.toLong), 1,
              (a: Int, c: Int) => a + c))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val queryId = try {
      val q = Streaming.factConsume(spark, root, "pedidos", "facts", pedDir,
        itDir, ckpt, Some(1))
      q.awaitTermination()
      // a marked job after the query: once the listener sees it, every
      // earlier event has been delivered
      spark.sparkContext.setLocalProperty("graft.ledger.sentinel", "1")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("graft.ledger.sentinel", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener bus never drained")
      q.id.toString
    } finally spark.sparkContext.removeSparkListener(listener)
    val perBatch = jobs.asScala.collect { case ((id, b), n) if id == queryId => b -> n }
    val batches = perBatch.keys.toSeq.sorted
    assert(batches == segs.indices.map(_.toLong), s"batches seen: $batches")

    // (a) per batch, the ledger holds exactly the uuids the sink landed
    val sinkUuids = spark.read.parquet(pedDir)
      .select(col("msg_uuid").as("uuid"), col("ingest_batch"))
    val ledger = spark.read.parquet(s"$pedDir/_applied")
      .select(col("uuid"), col("ingest_batch"))
    assert(sinkUuids.exceptAll(ledger).isEmpty && ledger.exceptAll(sinkUuids).isEmpty,
      "uuid ledger diverges from the pedidos sink")
    assert(ledger.select("ingest_batch").distinct().count() == segs.size.toLong)
    // (b) sink readers see the fact columns only, and exactly-once rows
    val batchPed = Messages.messagePedidosFact(spark, sfDir)
      .join(uuidOf.values.toSeq.toDF("u"), col("msg_uuid") === col("u"), "left_semi")
    assert(batchPed.count() > 0)
    val ped = spark.read.parquet(pedDir)
    assert(ped.columns.toSeq == batchPed.columns.toSeq ++ Seq("ingest_batch", "dia"),
      ped.columns.mkString(","))
    val streamed = ped.drop("ingest_batch", "dia")
    assert(streamed.count() == batchPed.count() &&
      streamed.exceptAll(batchPed).isEmpty && batchPed.exceptAll(streamed).isEmpty,
      "pedidos sink is not the batch build of the streamed messages, exactly once")
    // (c) a batch reads its predecessors' ledger entries, never the growing
    // sink: the last batch runs no more jobs than the first to read one
    assert(perBatch(batches.last) <= perBatch(1L),
      s"jobs per batch grow with the sink: ${batches.map(b => b -> perBatch(b))}")

    // (d) a lost ledger entry fails the next batch loudly, naming the sink
    // and the batch
    val lost = 2L
    val lostUuids = spark.read.parquet(pedDir).filter(col("ingest_batch") === lost)
      .select("msg_uuid").as[String].collect().toSet
    val lostDir = Paths.get(pedDir, "_applied", s"ingest_batch=$lost")
    Files.walk(lostDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val resend = Seq((0, 10000L, "late_redo", picked.head)).toDF("partition", "offset", "key", "data")
    val e = intercept[IllegalStateException] {
      Streaming.factApplyBatch(resend, 99L, pedDir, itDir, root, "pedidos", "facts")
    }
    assert(e.getMessage.contains(pedDir) && e.getMessage.contains(s"ingest_batch $lost"),
      e.getMessage)
    assert(!Files.exists(Paths.get(pedDir, "ingest_batch=99")), "guard ran after a write")
    // the batch whose entry is missing is exempt: its redelivery rewrites
    // facts and ledger, after which a resend is absorbed again
    val redelivered = picked.filter(w => lostUuids(uuidOf(w))).toSeq.zipWithIndex
      .map { case (w, i) => (0, i.toLong, s"r$i", w) }.toDF("partition", "offset", "key", "data")
    Streaming.factApplyBatch(redelivered, lost, pedDir, itDir, root, "pedidos", "facts")
    assert(Files.isDirectory(lostDir))
    Streaming.factApplyBatch(resend, 99L, pedDir, itDir, root, "pedidos", "facts")
    val after = spark.read.parquet(pedDir).drop("ingest_batch", "dia")
    assert(after.count() == batchPed.count() &&
      after.exceptAll(batchPed).isEmpty && batchPed.exceptAll(after).isEmpty,
      "redelivery or the later resend broke exactly-once")
  }

  test("embedded log: producer resend landing in the SAME micro-batch as the original is deduped") {
    import graft.streaming.{EmbeddedLog, Streaming}
    import graft.operators.Messages
    val root = Files.createTempDirectory("graft_elog_sb").toString
    val wire = Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0)).take(20)
    // original delivery and the producer's redo segment are appended
    // BEFORE any consume runs, and AvailableNow with no
    // maxFilesPerTrigger groups them into ONE micro-batch — the
    // prior-batch anti-join alone cannot see these duplicates
    EmbeddedLog.append(root, "pedidos", 0,
      wire.zipWithIndex.map { case (w, i) => (s"k$i", w) }.toSeq)
    EmbeddedLog.append(root, "pedidos", 0,
      wire.take(7).zipWithIndex.map { case (w, i) => (s"k${i}_redo", w) }.toSeq)
    val work = Files.createTempDirectory("graft_elog_sb_out").toString
    Streaming.logConsume(spark, root, "pedidos", "bq",
      s"$work/applied", s"$work/ckpt").awaitTermination()
    val out = spark.read.parquet(s"$work/applied")
    assert(out.count() == wire.length.toLong,
      s"in-batch resend not deduped: ${out.count()} vs ${wire.length}")
    assert(out.select("uuid").distinct().count() == wire.length.toLong)
  }

  test("windowed counts equal the batch computation on closed windows") {
    val ev = Seq(
      ("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:20:00", "a", 2.0),
      ("2024-01-01 01:10:00", "b", 3.0), ("2024-01-01 09:00:00", "a", 4.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
    // batch mode: windowedCounts is the same code path, no watermark cutoff
    val res = Streaming.windowedCounts(ev).orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(res.toSeq == Seq(
      ("2024-01-01 00:00:00.0", "a", 2L, 3.0),
      ("2024-01-01 01:00:00.0", "b", 1L, 3.0),
      ("2024-01-01 09:00:00.0", "a", 1L, 4.0)))
  }

  test("quad-state schema guard: stale checkpoint fails fast and actionably") {
    import java.nio.file.Files
    // fresh checkpoint: guard stamps the current version and passes
    val fresh = Files.createTempDirectory("ckpt_fresh").toString
    Streaming.guardQuadStateSchema(fresh)
    val marker = new java.io.File(fresh, "_graft_state_schema")
    assert(marker.isFile &&
      new String(Files.readAllBytes(marker.toPath)).trim ==
        Streaming.QuadStateSchemaVersion.toString)
    // restart under the SAME version: passes (the normal recovery path)
    Files.createDirectories(new java.io.File(fresh, "offsets").toPath)
    Streaming.guardQuadStateSchema(fresh)
    // a checkpoint stamped by an OLDER release: actionable failure, not a
    // raw state-store encoder error mid-batch
    val old = Files.createTempDirectory("ckpt_old").toString
    Files.createDirectories(new java.io.File(old, "offsets").toPath)
    Files.write(new java.io.File(old, "_graft_state_schema").toPath,
      "2\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Streaming.guardQuadStateSchema(old)
    }
    assert(e.getMessage.contains("DELETE the checkpoint") &&
      e.getMessage.contains("state schema 2"), e.getMessage)
    // a PRE-VERSIONING checkpoint (offsets exist, no marker) can only be
    // an older generation — same actionable failure
    val pre = Files.createTempDirectory("ckpt_pre").toString
    Files.createDirectories(new java.io.File(pre, "offsets").toPath)
    val e2 = intercept[IllegalStateException] {
      Streaming.guardQuadStateSchema(pre)
    }
    assert(e2.getMessage.contains("<pre-versioning>"), e2.getMessage)
  }
}
