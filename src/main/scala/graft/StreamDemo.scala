package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** End-to-end streaming verification (a `main`, driveable without ScalaTest):
  * stages the `events` table as webhook-envelope JSON files (with forced
  * duplicate deliveries and invalid payloads), runs the full streaming
  * pipeline — file source → validate → watermarked dedupe → foreachBatch
  * fan-out (raw + fact + notify) — under `Trigger.AvailableNow`, then checks
  * the sinks against the batch-computed expectation. Exits nonzero on any
  * mismatch. Usage: `runMain graft.StreamDemo [sfDir]`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session()

    val work = Files.createTempDirectory("graft-stream").toString
    val dropDir = s"$work/drop"; val rawDir = s"$work/raw"
    val factDir = s"$work/fact"; val notifyDir = s"$work/notify"
    val ckDir = s"$work/ck"; val winDir = s"$work/win"; val winCk = s"$work/winck"

    // --- stage: events → webhook envelopes; ~1/5 invalid tipo, 1/7 missing
    // versao, plus the first 200 rows delivered TWICE (at-least-once source)
    val ev = Tables.events(spark, sfDir)
    val envelopes = ev.select(
      when(col("event_id") % 7 === 0, lit(null: String)).otherwise(lit("1.0")).as("versao"),
      lit("00000000000100").as("cnpj"),
      when(col("event_id") % 5 === 0, lit("outra_coisa"))
        .otherwise(lit("inclusao_pedido")).as("tipo"),
      struct(
        col("event_id").as("id"),
        md5(col("event_id").cast("string")).as("uuid"),
        col("value").as("valor"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("event_ts")).as("dados"))
    envelopes.unionByName(envelopes.limit(200)).write.mode("overwrite").json(dropDir)

    // --- run the pipeline to completion (AvailableNow)
    val stream = Streaming.readWebhookStream(spark, dropDir)
    val q = Streaming.fanOut(Streaming.dedupedValid(stream),
      rawDir, factDir, ckDir, Some(notifyDir))
    q.awaitTermination()

    // --- expectation, computed in batch from the same envelopes
    val expected = envelopes
      .filter(col("versao").isNotNull && col("tipo") === "inclusao_pedido")
      .select(col("dados.id").as("id")).distinct().count()
    val gotRaw = spark.read.parquet(rawDir).count()
    val gotUuids = spark.read.parquet(notifyDir).distinct().count()
    val factTotal = spark.read.parquet(factDir)
      .agg(sum("n_events")).collect()(0).getLong(0)

    // --- windowed aggregation stream over the raw JSON (append mode emits
    // closed windows only; check emitted ⊆ batch and nonempty)
    val winStream = Streaming.readWebhookStream(spark, dropDir)
    val winEvents = Streaming.withRoute(winStream).filter(col("route") === "ok")
      .select(to_timestamp(col("dados.event_ts")).as("ts"),
        lit("pedido").as("event_type"), col("dados.valor").as("value"))
    val wq = Streaming.windowedCounts(winEvents)
      .writeStream.option("checkpointLocation", winCk)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", winDir).start()
    wq.awaitTermination()
    val winRows = spark.read.parquet(winDir).count()

    // --- custom keyed state: running totals must equal the batch groupBy
    val sq = Streaming.statefulQuery(
      Streaming.dedupedValid(Streaming.readWebhookStream(spark, dropDir)),
      s"$work/state", s"$work/stateck")
    sq.awaitTermination()
    val stateTotal = spark.read.parquet(s"$work/state")
      .agg(sum("n_events")).collect()(0).getLong(0)

    var failed = false
    def check(name: String, cond: Boolean, detail: String): Unit = {
      println(s"[stream-verify] ${if (cond) "OK  " else "FAIL"} $name ($detail)")
      if (!cond) failed = true
    }
    check("dedupe+validate row count", gotRaw == expected,
      s"raw=$gotRaw expected=$expected")
    check("notify uuid count", gotUuids == expected, s"uuids=$gotUuids")
    check("fact event total", factTotal == expected, s"fact=$factTotal")
    check("windowed append emitted", winRows > 0, s"windows=$winRows")
    check("stateful totals cover all events", stateTotal == expected,
      s"state=$stateTotal expected=$expected")
    check("raw is batch-keyed and day-partitioned",
      new java.io.File(rawDir).listFiles().exists(b =>
        b.getName.startsWith("ingest_batch=") && b.isDirectory &&
          b.listFiles().exists(_.getName.startsWith("event_date="))),
      "ingest_batch=N/event_date=D layout")

    // --- A6/D4/J7: composite Pub/Sub channel — produce the serialized
    // messages, subscribe as a stream, dispatch through the same RawTables
    // loads, and reconcile each raw sink against the base tables.
    val msgDir = s"$work/messages"
    operators.Messages.syntheticMessages(spark, sfDir)
      .write.mode("overwrite").text(msgDir)
    val mq = Streaming.messageFanOut(
      Streaming.readMessageStream(spark, msgDir, operators.Messages.fullMessageSchema),
      s"$work/msg_pdv", s"$work/msg_produto", s"$work/msg_pesquisa", s"$work/msgck")
    mq.awaitTermination()
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val nOrders = ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    val nItems = li.count()
    val searched = ord.filter(col("o_orderkey") % 7 =!= 0)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
    val nPesquisa = searched.count() + searched.filter(col("o_orderkey") % 5 === 0).count()
    check("message pdv sink = one row per order",
      spark.read.parquet(s"$work/msg_pdv").count() == nOrders, s"orders=$nOrders")
    check("message produto sink = one row per item (D4 explode)",
      spark.read.parquet(s"$work/msg_produto").count() == nItems, s"items=$nItems")
    check("message pesquisa sink = exploded search entries",
      spark.read.parquet(s"$work/msg_pesquisa").count() == nPesquisa,
      s"entries=$nPesquisa")
    // --- streaming near-dup: feed the documents corpus, then re-feed the
    // first 50 docs (exact copies) in a second run against the SAME
    // checkpoint — copies must be flagged against the recovered state,
    // originals must not have been.
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.write.mode("overwrite").json(s"$work/docs_drop")
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def docStream() = spark.readStream.schema(docSchema).json(s"$work/docs_drop")
    Streaming.nearDupQuery(docStream(), s"$work/nd_out", s"$work/nd_ck")
      .awaitTermination()
    val firstPass = spark.read.parquet(s"$work/nd_out")
      .filter(col("is_near_dup")).count()
    val resent = docs.orderBy("doc_id").limit(50)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    resent.write.mode("append").json(s"$work/docs_drop")
    Streaming.nearDupQuery(docStream(), s"$work/nd_out", s"$work/nd_ck")
      .awaitTermination()
    val flagged = spark.read.parquet(s"$work/nd_out")
      .filter(col("is_near_dup") && col("doc_id") >= 1000000L).count()
    check("near-dup stream flags re-sent docs via checkpointed state",
      flagged == 50, s"flagged=$flagged/50, first-pass dups=$firstPass")

    // --- streaming media near-dup: admit every image family base, then
    // feed the single-pixel variants in a second run against the SAME
    // checkpoint — each variant must flag against its family's admitted
    // base signature (total recall: the edit flips band-1 bits only).
    val mediaSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def mediaStream() = spark.readStream.schema(mediaSchema).json(s"$work/media_drop")
    docs.select("doc_id").filter(col("doc_id") % 4 === 0)
      .write.mode("overwrite").json(s"$work/media_drop")
    Streaming.mediaDedupQuery(mediaStream(), s"$work/md_out", s"$work/md_ck")
      .awaitTermination()
    val baseDups = spark.read.parquet(s"$work/md_out")
      .filter(col("is_near_dup")).count()
    val variants = docs.select("doc_id").filter(col("doc_id") % 4 =!= 0)
    val nVariants = variants.count()
    variants.write.mode("append").json(s"$work/media_drop")
    Streaming.mediaDedupQuery(mediaStream(), s"$work/md_out", s"$work/md_ck")
      .awaitTermination()
    val variantFlags = spark.read.parquet(s"$work/md_out")
      .filter(col("is_near_dup") && col("doc_id") % 4 =!= 0).count()
    // baseDups == 0 is the PRECONDITION for total variant recall: a base
    // flagged in pass 1 is not admitted, and its variants then have no
    // family signature to hit — assert it so a cross-family band-0
    // collision fails loudly at its source, not as a confusing recall miss
    check("media near-dup stream flags every variant against checkpointed base signatures",
      baseDups == 0 && variantFlags == nVariants,
      s"flagged=$variantFlags/$nVariants, base-pass dups=$baseDups")

    // --- mixed-mime streaming media near-dup: every family's base admits
    // under its mime's REAL codec (PNG/WAV/GIF by doc_id % 3), then the
    // family's SAME-MIME variant (doc_id % 4 == 3 — ids 4f and 4f+3 share
    // a mime since 3 ≡ 0 mod 3) must flag against the checkpointed base
    // in a second run; all three modality stripes must participate.
    def mixedStream() = spark.readStream.schema(mediaSchema).json(s"$work/mx_drop")
    docs.select("doc_id").filter(col("doc_id") % 4 === 0)
      .write.mode("overwrite").json(s"$work/mx_drop")
    Streaming.mixedMediaDedupQuery(mixedStream(), s"$work/mx_out", s"$work/mx_ck")
      .awaitTermination()
    val mxBaseDups = spark.read.parquet(s"$work/mx_out")
      .filter(col("is_near_dup")).count()
    val mxVariants = docs.select("doc_id").filter(col("doc_id") % 4 === 3)
    val nMx = mxVariants.count()
    mxVariants.write.mode("append").json(s"$work/mx_drop")
    Streaming.mixedMediaDedupQuery(mixedStream(), s"$work/mx_out", s"$work/mx_ck")
      .awaitTermination()
    val mxFlagged = spark.read.parquet(s"$work/mx_out")
      .filter(col("is_near_dup") && col("doc_id") % 4 === 3)
    val mxFlags = mxFlagged.count()
    val mimeCover = mxFlagged.select("mime").distinct().count()
    check("mixed-mime media stream flags every same-mime variant across all three codecs",
      mxBaseDups == 0 && mxFlags == nMx && mimeCover == 3,
      s"flagged=$mxFlags/$nMx, mimes=$mimeCover/3, base-pass dups=$mxBaseDups")

    // --- streaming funnel: drive the whole events table through the live
    // state machine in one AvailableNow run and reconcile the final stage
    // distribution against the batch operator (chronological within-batch
    // apply ⇒ identical result when everything arrives in one batch).
    ev.select("user_id", "event_type", "ts")
      .write.mode("overwrite").json(s"$work/funnel_drop")
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    Streaming.funnelQuery(
      spark.readStream.schema(evSchema).json(s"$work/funnel_drop"),
      s"$work/funnel_out", s"$work/funnel_ck").awaitTermination()
    val streamStages = spark.read.parquet(s"$work/funnel_out")
      .groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchStages = operators.EventsOps.eventsFunnel(spark, sfDir)
      .groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    check("streaming funnel matches the batch stage distribution",
      streamStages == batchStages, s"stream=$streamStages batch=$batchStages")

    // --- stream-stream attribution: the live interval join over the same
    // staged events must produce the identical pair set as the batch run
    // of the same code path (one AvailableNow pass, horizon 30 min)
    Streaming.attributionQuery(
      spark.readStream.schema(evSchema).json(s"$work/funnel_drop"),
      s"$work/attr_out", s"$work/attr_ck", horizon = "30 minutes")
      .awaitTermination()
    val streamPairs = spark.read.parquet(s"$work/attr_out")
      .select("user_id", "v_ts", "c_ts").distinct().count()
    val batchPairs = Streaming.attributionJoin(
      ev.select("user_id", "event_type", "ts"), horizon = "30 minutes")
      .distinct().count()
    check("stream-stream attribution equals the batch interval join",
      streamPairs == batchPairs && batchPairs > 0,
      s"stream=$streamPairs batch=$batchPairs")

    // --- streaming Bloom dedupe: first pass admits every distinct event
    // id; a second run re-feeds 100 of them against the SAME checkpoint —
    // all must flag against the recovered filter (no false negatives),
    // and the first pass must have admitted the full distinct set.
    ev.select("event_id").write.mode("overwrite").json(s"$work/bloom_drop")
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType)))
    def idStream() = spark.readStream.schema(idSchema).json(s"$work/bloom_drop")
    Streaming.bloomDedupQuery(idStream(), s"$work/bloom_out", s"$work/bloom_ck")
      .awaitTermination()
    val admitted = spark.read.parquet(s"$work/bloom_out")
      .filter(!col("probably_seen")).count()
    val nIds = ev.select("event_id").distinct().count()
    ev.select("event_id").orderBy("event_id").limit(100)
      .write.mode("append").json(s"$work/bloom_drop")
    Streaming.bloomDedupQuery(idStream(), s"$work/bloom_out", s"$work/bloom_ck")
      .awaitTermination()
    val resentFlagged = spark.read.parquet(s"$work/bloom_out")
      .filter(col("probably_seen")).count()
    // admitted tolerates ≤2 Bloom false positives; re-sent ids can NEVER
    // be missed (bits don't clear), so that bound is exact
    check("bloom dedupe admits distinct ids, flags all re-sent across restart",
      admitted >= nIds - 2 && resentFlagged == 100 + (nIds - admitted),
      s"admitted=$admitted/$nIds resent_flagged=$resentFlagged")

    // --- train offline, score online: the trained LR quality model
    // applied IN-STREAM (a stateless per-row fold + sigmoid — the
    // quality-filter-the-firehose deployment); scores must equal the
    // batch run of the same code path on the same staged docs.
    val lrW = operators.CorpusOps.lrTrain(
      operators.CorpusOps.lrLabeled(spark, sfDir))
    operators.CorpusOps.lrScoreRowwise(docStream(), lrW)
      .writeStream.option("checkpointLocation", s"$work/lrs_ck")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$work/lrs_out").start()
      .awaitTermination()
    val streamScored = spark.read.parquet(s"$work/lrs_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batchScored = operators.CorpusOps.lrScoreRowwise(
      spark.read.schema(docSchema).json(s"$work/docs_drop"), lrW)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    check("in-stream LR quality scores equal the batch run",
      streamScored == batchScored && streamScored.nonEmpty,
      s"docs=${streamScored.size}")

    // --- A6 end-to-end under the engine: produce the wire messages into
    // the EmbeddedLog (2 partitions, several segments), then let a
    // Structured Streaming query consume the LOG with apply-then-commit
    // semantics; a second pass over appended segments must flow exactly
    // once and drain the consumer group to the log ends.
    import graft.streaming.EmbeddedLog
    val logRoot = s"$work/elog"
    val wire = operators.Messages.syntheticMessages(spark, sfDir)
      .collect().map(_.getString(0))
    val logParts = wire.map(w => (Integer.toHexString(w.hashCode), w))
      .groupBy(kv => math.floorMod(kv._1.hashCode, 2))
    logParts.foreach { case (p, recs) =>
      recs.grouped(recs.length / 4 + 1)
        .foreach(g => EmbeddedLog.append(logRoot, "pedidos", p, g.toSeq))
    }
    Streaming.logConsume(spark, logRoot, "pedidos", "bq",
      s"$work/elog_applied", s"$work/elog_ck", Some(3)).awaitTermination()
    val applied1 = spark.read.parquet(s"$work/elog_applied")
    check("engine-driven log consume applies every message exactly once",
      applied1.count() == wire.length.toLong &&
        applied1.select("uuid").distinct().count() == wire.length.toLong,
      s"applied=${applied1.count()}/${wire.length}")
    logParts.foreach { case (p, recs) =>
      EmbeddedLog.append(logRoot, "pedidos", p,
        recs.take(5).map { case (k, v) => (k + "_redo", v) })
    }
    Streaming.logConsume(spark, logRoot, "pedidos", "bq",
      s"$work/elog_applied", s"$work/elog_ck", Some(3)).awaitTermination()
    val drained = (0 to 1).forall(p =>
      EmbeddedLog.committed(logRoot, "bq", "pedidos", p) ==
        EmbeddedLog.end(logRoot, "pedidos", p))
    check("log redelivery absorbed, consumer group drained to the log ends",
      spark.read.parquet(s"$work/elog_applied").count() == wire.length.toLong
        && drained,
      s"count=${spark.read.parquet(s"$work/elog_applied").count()} drained=$drained")

    // --- the SECOND subscriber off the SAME log (its own consumer group):
    // the reference's sales_to_bq fact builder — typed pedidos + itens
    // facts, day-partitioned, exactly-once even over the redo segments the
    // raw subscriber already absorbed above.
    Streaming.factConsume(spark, logRoot, "pedidos", "facts",
      s"$work/elog_pedidos", s"$work/elog_itens", s"$work/elog_fact_ck",
      Some(3)).awaitTermination()
    val streamedPed = spark.read.parquet(s"$work/elog_pedidos")
      .drop("ingest_batch", "dia")
    val batchPed = operators.Messages.messagePedidosFact(spark, sfDir)
    check("fact subscriber: streamed pedidos facts equal the batch build",
      streamedPed.count() == batchPed.count() &&
        streamedPed.exceptAll(batchPed).isEmpty,
      s"streamed=${streamedPed.count()} batch=${batchPed.count()}")
    val streamedIt = spark.read.parquet(s"$work/elog_itens")
      .drop("ingest_batch", "dia")
    val batchIt = operators.Messages.messageItensFact(spark, sfDir)
    check("fact subscriber: streamed itens facts equal the batch build",
      streamedIt.count() == batchIt.count() &&
        streamedIt.exceptAll(batchIt).isEmpty,
      s"streamed=${streamedIt.count()} batch=${batchIt.count()}")

    // --- streaming impact-index ingest with write-back generations: the
    // retrieval family's stream leg. Documents flow over the log one
    // segment per micro-batch; the query is KILLED mid-ingest and
    // restarted, and the resulting generation chain must equal the batch
    // fold of the same segments through the same apply code path.
    {
      import graft.operators.TextOps
      val idxLog = s"$work/idxlog"; val idxDir = s"$work/idx"
      val docRows = Tables.documents(spark, sfDir).orderBy("doc_id")
        .select(col("doc_id").cast("string").as("k"),
          translate(base64(col("text").cast("binary")), "\r\n", "").as("v"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val segs = docRows.grouped(docRows.length / 5 + 1).toSeq
      segs.foreach(g => EmbeddedLog.append(idxLog, "docs", 0, g.toSeq))
      // strictly increasing segment mtimes: the file source processes
      // oldest-first, and appends landing in one clock tick would leave
      // the batch order (= the fold order) up to a tie-break
      val pdir = new java.io.File(s"$idxLog/docs/p0")
      val segFiles = pdir.listFiles().sortBy(_.getName)
      segFiles.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(f.lastModified() - (segFiles.length - i) * 2000L)
      }
      def ingest() = Streaming.indexIngestConsume(spark, idxLog, "docs",
        "idx", idxDir, s"$work/idx_ck", Some(1))
      def genDone(g: Int): Boolean =
        new java.io.File(s"$idxDir/gen=$g/termstats/_SUCCESS").exists() &&
          new java.io.File(s"$idxDir/gen=$g/prefix/_SUCCESS").exists()
      // kill as soon as generation 1 lands — mid-ingest, often mid-batch
      val q1 = ingest()
      val deadline = System.currentTimeMillis() + 120000
      while (!genDone(1) && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      q1.stop(); scala.util.Try(q1.awaitTermination())
      ingest().awaitTermination()
      val gensDone = segs.indices.count(genDone)
      // the batch fold: gen-0 self-stats build, then one apply per segment
      import spark.implicits._
      def segDf(s: Seq[(String, String)]) = s
        .map { case (k, v) => (k.toLong,
          new String(java.util.Base64.getDecoder.decode(v), "UTF-8")) }
        .toDF("doc_id", "text")
      var acc = TextOps.impactGen0Frames(segDf(segs.head), 1.2, 0.75, 64)
      segs.tail.foreach { s =>
        acc = TextOps.impactApplyFrames(acc._1, acc._2, segDf(s),
          1.2, 0.75, 64)
      }
      val last = segs.length - 1
      val gotPfx = spark.read.parquet(s"$idxDir/gen=$last/prefix")
        .orderBy("token", "imp_rank").collect().toSeq
      val expPfx = acc._1.orderBy("token", "imp_rank").collect().toSeq
      val gotStats = spark.read.parquet(s"$idxDir/gen=$last/termstats")
        .orderBy("token").collect().toSeq
      val expStats = acc._2.orderBy("token").collect().toSeq
      val firstDiff = gotPfx.zip(expPfx).find { case (g, e) => g != e }
        .orElse(gotStats.zip(expStats).find { case (g, e) => g != e })
        .map { case (g, e) => s" first_diff=[$g vs $e]" }.getOrElse("")
      check("streaming index ingest: killed+restarted chain equals the batch fold",
        genDone(last) && gotPfx == expPfx && gotStats == expStats,
        s"last_gen_done=${genDone(last)} prefix=${gotPfx.size} " +
          s"terms=${gotStats.size}$firstDiff")
      // retention: each batch retires all but the newest `retain`
      // (default 3) generations — the surviving chain is exactly the last
      // three ids, the older vocabulary-sized pairs are GONE, and the fold
      // equality above proves pruning never broke a predecessor lookup
      val chainIds = new graft.operators.GenerationChain(idxDir,
        Seq("prefix", "termstats")).list()
      check("streaming index ingest: retention keeps exactly the newest 3 generations",
        chainIds == Seq(last - 2L, last - 1L, last.toLong) &&
          gensDone == 3,
        s"complete_gens=${chainIds.mkString(",")}")
      val drainedIdx = EmbeddedLog.committed(idxLog, "idx", "docs", 0) ==
        EmbeddedLog.end(idxLog, "docs", 0)
      check("streaming index ingest: consumer group drained to the log end",
        drainedIdx, s"committed=${EmbeddedLog.committed(idxLog, "idx", "docs", 0)}")
      // drift→compaction for the STREAM chain: measure the head's real
      // staleness, then drive the policy once just below it (must stay
      // quiet) and once just above it (must publish the compact
      // generation and switch serving to it, atomically, with retention
      // keeping it as the newest)
      val m = Streaming.indexDriftMean(spark, idxLog, "docs", idxDir)
      val chain = new graft.operators.GenerationChain(idxDir,
        Seq("prefix", "termstats"))
      val (quietFired, quietGen) =
        Streaming.indexAutoCompact(spark, idxLog, "docs", idxDir,
          tau = m - 1e-4)
      check("streaming index auto-compact: quiet below the measured drift",
        !quietFired && quietGen == last.toLong &&
          chain.latest().contains(last.toLong),
        f"mean_overlap=$m%.4f head=$quietGen")
      val (fired, servedGen) =
        Streaming.indexAutoCompact(spark, idxLog, "docs", idxDir,
          tau = m + 1e-4)
      // the compact generation must equal the full self-stats rebuild of
      // every document the stream ingested (= the whole log)
      val compPfx = chain.read(spark, servedGen, "prefix")
        .orderBy("token", "imp_rank").collect().toSeq
      val fullPfx = TextOps.impactGen0Frames(
          segDf(segs.flatten), 1.2, 0.75, 64)._1
        .orderBy("token", "imp_rank").collect().toSeq
      check("streaming index auto-compact: fires above it, serving switches to the compact generation",
        fired && servedGen == last + 1L &&
          chain.latest().contains(last + 1L) && compPfx == fullPfx,
        s"served_gen=$servedGen compact_rows=${compPfx.size}")
    }

    // --- A5 live edge under the FULL envelope: A7 bearer auth from the
    // secret store + I9 token-bucket metering, driven as the demo's
    // enrichment pass — the reference's api_to_gcs call shape with every
    // recovery path active at once. The tight meter guarantees 429s; the
    // client must absorb them all and still reproduce the broadcast join.
    {
      import graft.sources.{HttpDim, Secrets}
      import spark.implicits._
      val secretRoot = s"$work/secrets"
      Secrets.put(secretRoot, "erp-token", 1, "demo-token-v1")
      val dim = Tables.part(spark, sfDir)
        .select(col("p_partkey").cast("string"), col("p_name"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val (srv, url) = HttpDim.serve(dim,
        bearerToken = Some(Secrets.get(secretRoot, "erp-token")),
        bucketCapacity = 2, refillPerSec = 8d)
      try {
        HttpDim.rejected429.set(0)
        val keys = Tables.lineitem(spark, sfDir)
          .select(col("l_partkey").cast("long")).distinct()
          .limit(60).as[Long].repartition(1)
        val enriched = HttpDim.lookupWithAuth(keys, url, secretRoot,
          "erp-token").collect()
        val expectDim = enriched.map(r => r.getLong(0).toString).toSet
          .map((k: String) => k -> dim(k))
        check("live edge: authed+metered enrichment equals the dimension, no nulls",
          enriched.forall(!_.isNullAt(1)) &&
            enriched.map(r => r.getLong(0).toString -> r.getString(1))
              .toSet == expectDim,
          s"rows=${enriched.length} 429s_absorbed=${HttpDim.rejected429.get()}")
        check("live edge: the capacity-2 meter actually metered the burst",
          HttpDim.rejected429.get() > 0,
          s"429s=${HttpDim.rejected429.get()}")
      } finally srv.stop(0)
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
