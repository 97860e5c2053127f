package graft.streaming

import graft.operators.Staged
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Running per-order accumulator carried across micro-batches. */
case class OrderState(n: Long, total: Double)

/** Emitted after each micro-batch touches an order. */
case class OrderUpdate(pedido_id: Long, n_events: Long, valor_total: Double)

/** One document entering the streaming near-dup check. */
case class SimhashDoc(bucket: Long, doc_id: Long, simhash: Long)

/** Per-user funnel progress carried across micro-batches (timestamps in
  * epoch micros; None = stage not reached yet). */
case class FunnelState(v: Option[Long], c: Option[Long], p: Option[Long])

/** Funnel position of one user after a micro-batch touched them. */
case class FunnelUpdate(user_id: Long, t_view: Option[Long],
  t_click: Option[Long], t_purchase: Option[Long], stage: String)

/** Near-dup verdict for one streamed document. */
case class NearDupFlag(doc_id: Long, simhash: Long, is_near_dup: Boolean)

case class BloomSeenFlag(event_id: Long, probably_seen: Boolean)

case class ShardBloom(words: Array[Long])

/** Signatures already admitted to one simhash bucket. */
case class BucketSigs(sigs: Array[Long])

/** [[Streaming.mediaDedupStream]]'s per-item verdict: the signature plus
  * whether an admitted same-bucket signature was within the hamming
  * threshold. */
case class MediaSigFlag(doc_id: Long, b0: Long, b1: Long, b2: Long,
  b3: Long, is_near_dup: Boolean)

/** Admitted signatures of one media bucket, flattened as 4-long quads in
  * admission order (oldest first); the lifetime count of quads the
  * per-bucket budget has evicted (carried in state so every eviction log
  * line can report the cumulative loss, never just the increment); and
  * the HISTORICAL tier — TWO GENERATIONS of fixed 4096-bit Bloom filters
  * over the EXACT fingerprints of evicted quads (~1 bit amortized per
  * evicted item vs the exact tier's 32 bytes). `bloom` is the current
  * generation with `bloomInserts` fingerprints in it; when it reaches
  * [[Streaming.BloomGenCapacity]] it retires to `bloomPrev` (whose
  * previous contents are FORGOTTEN) and a fresh filter starts — the
  * rotation that bounds the false-positive rate a single ever-growing
  * filter would silently push toward 100%. All tiers empty until the
  * first eviction.
  *
  * CHECKPOINT COMPATIBILITY: this state schema has changed across
  * releases (v2 added `evicted`/`bloom`; v3 added `bloomInserts`/
  * `bloomPrev`; the generation counter is
  * [[Streaming.QuadStateSchemaVersion]]). Starting a query from a
  * checkpoint written under an older schema fails FAST with the recovery
  * step spelled out ([[Streaming.guardQuadStateSchema]] — a version
  * marker in the checkpoint dir), instead of surfacing as a raw
  * state-store encoder error mid-batch. The "seen corpus survives
  * restarts" contract holds within one state-schema generation, not
  * across upgrades. */
case class BucketQuads(sigs: Array[Long], evicted: Long = 0L,
  bloom: Array[Long] = Array.empty[Long], bloomInserts: Long = 0L,
  bloomPrev: Array[Long] = Array.empty[Long])

/** One bucket-fold's verdicts plus its carried-forward state — the return
  * shape of [[Streaming.dedupAgainstQuads]]. `evicted` and `rotated` are
  * THIS batch's counts; callers must log both when nonzero (a bounded cap
  * is never silent — the [[graft.operators.Dedup]] cellCap precedent). */
case class QuadFold[T](out: Seq[T], quads: Array[Long],
  bloom: Array[Long], bloomInserts: Long, bloomPrev: Array[Long],
  evicted: Int, rotated: Int)

/** [[Streaming.mixedMediaDedupStream]]'s per-item verdict: the mime the
  * payload dispatched to, its modality signature, and whether an admitted
  * same-(mime, bucket) signature was within the hamming threshold. */
case class MixedSigFlag(doc_id: Long, mime: String, b0: Long, b1: Long,
  b2: Long, b3: Long, is_near_dup: Boolean)

/** The reference's event-driven dataflow (SURVEY.md §2 I1-I8, §3.1) as one
  * Structured Streaming pipeline: a JSON drop directory models the webhook/
  * GCS-event source (each request = one file, A1/A3), validation routes
  * bad payloads out (B1/B2), `dropDuplicatesWithinWatermark` gives the
  * exactly-once semantics the reference only achieves via offline checkers
  * (I4/G2), and a `foreachBatch` sink fans out to the raw zone and the fact
  * build in one pass (I2, §3.1 steps 3a/3b) — the same transformation code
  * path batch and streaming (§3.2's unification win).
  *
  * Scale notes: the only stateful operators are dedupe (keys = uuid within
  * the watermark horizon) and the windowed aggregation — both partition by
  * key across executors. `foreachBatch` sinks write each micro-batch into a
  * batch-keyed subdirectory with overwrite semantics, so a re-executed batch
  * (restart after a partial failure, e.g. raw written but fact not) replaces
  * its own previous attempt instead of appending a duplicate — exactly-once
  * output on top of the source's at-least-once replay.
  */
object Streaming {

  /** Webhook envelope (reference `webhook_handler/main.py:29-33`; dados
    * carries the order payload §1.1). */
  val webhookSchema: StructType = StructType(Seq(
    StructField("versao", StringType),
    StructField("cnpj", StringType),
    StructField("tipo", StringType),
    StructField("dados", StructType(Seq(
      StructField("id", LongType),
      StructField("uuid", StringType),
      StructField("valor", DoubleType),
      StructField("event_ts", StringType)))),
    StructField("_corrupt_record", StringType)))

  /** A1/A3 — file-source stream over a drop directory; PERMISSIVE keeps
    * malformed payloads as `_corrupt_record` rows for the dead-letter path
    * (I8). `maxFilesPerTrigger` caps each micro-batch (I7's ingestion
    * pacing — `Trigger.AvailableNow` honors the limit across batches, so a
    * backlog drains in bounded bites instead of one giant batch). */
  def readWebhookStream(spark: SparkSession, dropDir: String,
    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(webhookSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dropDir)
  }

  /** B1/B2 — validation routing; same semantics as the batch
    * `RawLoad.validateRoute`. */
  def withRoute(df: DataFrame): DataFrame =
    df.withColumn("route",
      when(col("_corrupt_record").isNotNull, lit("corrupt"))
        .when(col("versao").isNull || col("cnpj").isNull || col("tipo").isNull
          || col("dados").isNull, lit("rejected_400"))
        .when(col("tipo") =!= "inclusao_pedido", lit("ignored"))
        .otherwise(lit("ok")))

  /** Event-time extraction + I4/I5 — watermarked exactly-once dedupe on the
    * payload uuid. State is bounded by the watermark horizon. */
  def dedupedValid(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    withRoute(df)
      .filter(col("route") === "ok")
      .withColumn("event_time", to_timestamp(col("dados.event_ts")))
      .withColumn("uuid", col("dados.uuid"))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(Seq("uuid"))

  /** One micro-batch of the fan-out, exposed so re-delivery is testable:
    * every sink writes into an `ingest_batch=<id>` subdirectory with
    * OVERWRITE mode, so running the same (batch, batchId) twice — what a
    * foreachBatch re-execution after a partial failure does — leaves the
    * sinks exactly as a single run would. Readers of the sink root see
    * `ingest_batch` as a discovered partition column. */
  def fanOutBatch(batch: DataFrame, batchId: Long, rawDir: String,
    factDir: String, notifyDir: Option[String]): Unit = {
    val rows = batch
      .select(
        col("dados.id").as("pedido_id"),
        col("uuid"),
        col("dados.valor").as("valor"),
        col("event_time"),
        to_date(col("event_time")).as("event_date"))
      .persist()
    // raw zone: day-partitioned within the batch dir (J2)
    rows.write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$rawDir/ingest_batch=$batchId")
    // fact build: per-order aggregate of this micro-batch (3b, F3)
    rows.groupBy("pedido_id")
      .agg(count(lit(1)).as("n_events"), sum("valor").as("valor_total"))
      .write.mode("overwrite").parquet(s"$factDir/ingest_batch=$batchId")
    // conditional downstream notify (I3)
    notifyDir.foreach(d => rows.select("uuid").write.mode("overwrite")
      .parquet(s"$d/ingest_batch=$batchId"))
    rows.unpersist()
    ()
  }

  /** I2/J2/J4 + §3.1 3a/3b — one stream, two sinks: raw day-partitioned
    * write + per-order fact aggregate, in a single `foreachBatch` pass.
    * I3's flag-gated notify channel writes the processed uuids. */
  def fanOut(validated: DataFrame, rawDir: String, factDir: String,
    checkpointDir: String, notifyDir: Option[String] = None): StreamingQuery =
    validated.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fanOutBatch(batch, batchId, rawDir, factDir, notifyDir)
      }
      .start()

  /** Custom keyed state beyond what windows/dedupe express
    * (`mapGroupsWithState` over a `KeyValueGroupedDataset`): a running
    * per-order total that survives micro-batch boundaries AND query
    * restarts (state lives in the checkpoint). The reference accumulates
    * the same totals imperatively per message
    * (`sales_to_bq/main.py:344-359`); here state is partitioned by order
    * across executors and recovered from the state store.
    */
  def statefulOrderTotals(validated: DataFrame): Dataset[OrderUpdate] = {
    val spark = validated.sparkSession
    import spark.implicits._
    validated
      .select(col("dados.id").as("pedido_id"), col("dados.valor").as("valor"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[OrderState, OrderUpdate](GroupStateTimeout.NoTimeout) {
        (id, rows, state) =>
          var (n, t) = state.getOption.map(s => (s.n, s.total)).getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; t += r._2 }
          state.update(OrderState(n, t))
          OrderUpdate(id, n, t)
      }
  }

  /** Runs [[statefulOrderTotals]] to a parquet sink via foreachBatch in
    * Update mode; each batch appends the refreshed totals for touched keys. */
  def statefulQuery(validated: DataFrame, outDir: String,
    checkpointDir: String): StreamingQuery =
    statefulOrderTotals(validated).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[OrderUpdate], _: Long) =>
        batch.write.mode("append").parquet(outDir)
        ()
      }
      .start()

  /** Incrementally-maintained revenue cube — the streaming form of
    * [[graft.operators.Analytics.salesRollup]]'s base grain: a
    * `foreachBatch` sink folding each micro-batch's (year, month) partial
    * aggregate into a persistent cube table with EXACTLY-ONCE semantics.
    *
    * Exactly-once = checkpoint (each batch delivered once per epoch) ×
    * idempotent apply (a replayed epoch must be a no-op). The second half
    * is the part `foreachBatch` does not give you: after a crash the last
    * epoch replays, and naively re-merging double-counts it. The guard is
    * a `_BATCH` epoch manifest written INSIDE the new cube directory and
    * swapped atomically with the data (write scratch → rename live aside →
    * rename scratch in → drop old): whatever instant the crash hits,
    * either the old dir (old manifest → replay re-merges from the OLD
    * state — correct) or the new dir (new manifest → replay skipped) is
    * live, never a half-applied mix. A missing-live window (crash between
    * the two renames) heals on entry by restoring the set-aside dir.
    *
    * Scale: the batch partial is a map-side-combined aggregate; the cube
    * itself is (years × months) rows — reading and rewriting it per epoch
    * is O(cube), not O(stream); counts/revenue stay exact LONGs on the
    * grid, so merge order never matters.
    *
    * Filesystem scope: the swap protocol uses `java.nio.file` renames with
    * `ATOMIC_MOVE`, so the crash-atomicity guarantee holds only when
    * `tableDir` is on a LOCAL (POSIX) filesystem — the right home for a
    * driver-adjacent serving cube this small. Pointing it at an object
    * store (S3/GCS, where rename is copy+delete) voids the guarantee; the
    * port is mechanical (`org.apache.hadoop.fs.FileSystem.rename` on HDFS,
    * or a `_BATCH`-conditional overwrite on stores with atomic PUT). */
  def incrementalRollup(orders: DataFrame, tableDir: String,
      checkpointDir: String): StreamingQuery =
    orders.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        applyRollupEpoch(batch, epoch, tableDir)
      }
      .start()

  private[graft] def applyRollupEpoch(batch: DataFrame, epoch: Long,
      tableDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val spark = batch.sparkSession
    val live = Paths.get(tableDir)
    val old = Paths.get(tableDir + "._old")
    // heal crash windows on entry. No live + old set aside = death between
    // the two renames → restore. Live AND old = death after the swap but
    // before (or during) the old-dir cleanup → live is the complete new
    // cube, so finish the cleanup; without this, the next swap's
    // rename-aside hits a non-empty ._old and fails every epoch forever.
    if (!Files.exists(live) && Files.exists(old))
      Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
    else Staged.rmTree(old.toFile)
    val manifest = live.resolve("_BATCH")
    val applied =
      if (Files.isRegularFile(manifest)) Files.readString(manifest).trim.toLong
      else -1L
    if (epoch <= applied) return // replayed epoch: already folded in
    val part = batch
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        col("o_totalprice"))
      .groupBy("yr", "mo")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * lit(1e4) + lit(0.5d)).cast("long"))
          .as("rev_grid"))
    val merged =
      if (Files.exists(live))
        spark.read.parquet(tableDir).unionByName(part)
          .groupBy("yr", "mo")
          .agg(sum("n_orders").as("n_orders"), sum("rev_grid").as("rev_grid"))
      else part
    val scratch = tableDir + "._rewrite"
    merged.coalesce(1).write.mode("overwrite").parquet(scratch)
    Files.writeString(Paths.get(scratch).resolve("_BATCH"), epoch.toString)
    if (Files.exists(live)) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(scratch), live, StandardCopyOption.ATOMIC_MOVE)
    Staged.rmTree(old.toFile)
  }

  /** Batch replay of [[incrementalRollup]]'s maintenance path, as an
    * oracle-checkable query: the orders table is split into `epochs`
    * deterministic micro-batches (key-hash partitioned, like a source
    * would chunk arrivals), each folded into a fresh cube via
    * [[applyRollupEpoch]] — the SAME code `foreachBatch` runs — and one
    * already-applied epoch is then RE-delivered to simulate the
    * crash-replay a restarted stream performs. The `_BATCH` manifest must
    * make that replay a no-op; the returned cube therefore hash-matches
    * the direct one-shot aggregate's DuckDB oracle iff the exactly-once
    * guarantee holds. Epoch splitting is additive-commutative (exact LONG
    * grid counts), so ANY chunking reaches the same cube — the check is
    * about the idempotence guard, not the arithmetic.
    *
    * The cube lives in a per-invocation temp directory (the protocol
    * needs a POSIX filesystem — see [[incrementalRollup]]); it is
    * cube-sized (years × months rows), not data-sized. */
  def rollupReplay(spark: SparkSession, sfDir: String, epochs: Int = 4): DataFrame = {
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_rollup_replay").resolve("cube").toString
    val orders = graft.Tables.orders(spark, sfDir)
    def epochBatch(i: Int): DataFrame =
      orders.filter(pmod(xxhash64(col("o_orderkey")), lit(epochs)) === lit(i))
    (0 until epochs).foreach(i => applyRollupEpoch(epochBatch(i), i, tableDir))
    // crash-replay: re-deliver an epoch the manifest already records —
    // double-counting here would shift every later hash compare
    applyRollupEpoch(epochBatch(epochs - 2), (epochs - 2).toLong, tableDir)
    spark.read.parquet(tableDir)
      .select(col("yr"), col("mo"), col("n_orders"), col("rev_grid"))
      .orderBy("yr", "mo")
  }

  /** DuckDB oracle for [[rollupReplay]] — the direct one-shot aggregate
    * the incrementally-maintained cube must equal exactly. */
  val rollupReplaySql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(month(o_orderdate) AS BIGINT) AS mo,
      |  count(*) AS n_orders,
      |  CAST(SUM(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS rev_grid
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  /** Batch replay of [[streamingHeavyHitters]]'s state path — the second
    * epoch-replay oracle after [[rollupReplay]]: the token stream splits
    * into deterministic epochs and each shard's Misra–Gries buffer folds
    * through the SAME `MisraGries.reduce` the stream's
    * `mapGroupsWithState` update runs, state carried epoch to epoch
    * (a sequential fold over the concatenated epochs — exactly what the
    * checkpointed state store replays across micro-batches). The final
    * candidate sets are then exact-verified: the per-shard
    * no-false-negative guarantee means every token with
    * freq·(cap+1) > n_shard MUST be a candidate, so filtering candidates
    * to that threshold must reproduce the exact recount — which is the
    * DuckDB oracle, computed with no sketch at all. A fold or carryover
    * bug that loses a true heavy hitter drops an oracle row → hash
    * mismatch.
    *
    * Two deliberate harness choices: shard = md5num(token) mod nShards
    * (the engine's cross-engine hash contract) instead of the stream's
    * JVM `String.hashCode` — sharding is distribution-only, any
    * token-functional map preserves the per-shard guarantee, and the
    * oracle must recompute the same shard sizes; and each shard's stream
    * is materialized in arrival order inside its group — inherent to
    * replaying a sequential fold, harness-only (production is the
    * stream, whose state is cap-bounded). */
  def hhReplay(spark: SparkSession, sfDir: String, cap: Int = 64,
      nShards: Int = 8, epochs: Int = 4): DataFrame = {
    import spark.implicits._
    val toks = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "token")
      .select(pmod(xxhash64(col("doc_id")), lit(epochs)).as("epoch"),
        col("doc_id"), col("pos"), col("token"),
        pmod(graft.Exprs.md5num(col("token")), lit(nShards.toLong)).as("shard"))
    val mg = new graft.operators.MisraGries(cap)
    val cands = toks
      .select(col("shard"), col("epoch"), col("doc_id"), col("pos"),
        col("token"))
      .as[(Long, Long, Long, Int, String)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val ordered = it.toArray.sortBy(r => (r._2, r._3, r._4))
        val fin = ordered.foldLeft(Map.empty[String, Long])((b, r) =>
          mg.reduce(b, r._5))
        (shard, fin.keys.toSeq.sorted)
      }
      .toDF("shard", "cands")
      .select(col("shard"), explode(col("cands")).as("token"))
    val counts = toks.groupBy("shard", "token").agg(count(lit(1)).as("n"))
    val shardN = toks.groupBy("shard").agg(count(lit(1)).as("n_shard"))
    cands.join(counts, Seq("shard", "token"))
      .join(broadcast(shardN), "shard")
      .filter(col("n") * lit((cap + 1).toLong) > col("n_shard"))
      .select(col("shard"), col("token"), col("n"))
      .orderBy("shard", "token")
  }

  /** The exact recount above the Misra–Gries survival threshold. */
  def hhReplaySql(cap: Int = 64, nShards: Int = 8): String =
    s"""WITH t AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |s AS (
      |  SELECT token,
      |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % $nShards
      |      AS shard
      |  FROM t),
      |n AS (SELECT shard, count(*) AS n_shard FROM s GROUP BY 1),
      |c AS (SELECT shard, token, count(*) AS n FROM s GROUP BY 1, 2)
      |SELECT c.shard, c.token, c.n
      |FROM c JOIN n ON c.shard = n.shard
      |WHERE c.n * ${cap + 1} > n.n_shard
      |ORDER BY c.shard, c.token""".stripMargin

  /** Batch replay of [[bloomDedupStream]]'s shard-Bloom state path: event
    * ids are delivered once across `epochs − 1` deterministic epochs, and
    * every 13th id is RE-delivered in the final epoch; each shard's bit
    * words fold across epochs through the SAME [[bloomAdmit]]
    * probe-and-insert the stream runs (state carried across epochs, ids
    * sorted within an epoch like the stream's in-batch order). Oracle:
    * the filter's one-sided guarantee — a re-delivered id is ALWAYS
    * flagged (bits never clear), a first delivery is clean absent a
    * false positive — so the exact relational replay is simply
    * seen = (occurrence == 2). FP headroom at this harness's mBits = 2²⁰,
    * k = 4: a shard holding n ids flags a fresh id with
    * p ≈ (1−e^(−kn/m))^k ≈ 1e-10 at the sf0.1 fixture (~1k ids/shard)
    * and <1e-5 per id at 1M ids/shard; beyond that grow mBits — state
    * stays nShards·m/8 bytes regardless of stream length, which is the
    * operator's whole point. */
  def bloomReplay(spark: SparkSession, sfDir: String, mBits: Int = 1 << 20,
      k: Int = 4, nShards: Int = 64, epochs: Int = 4): DataFrame = {
    import spark.implicits._
    // DISTINCT ids: "first delivery" is only well-defined if each id
    // enters once. The fixture's event_id happens to be unique, but the
    // oracle's seen=(occ==2) contract must not hang on a fixture
    // accident — a duplicate id would make its second in-fixture
    // occurrence probe seen=true and hash-fail with a confusing
    // signature. Dedup here (and DISTINCT in the SQL) makes the
    // invariant structural.
    val ids = graft.Tables.events(spark, sfDir)
      .filter(col("event_id").isNotNull)
      .select(col("event_id").cast("long").as("event_id"))
      .distinct()
    val first = ids
      .withColumn("epoch", pmod(xxhash64(col("event_id")), lit(epochs - 1)))
      .withColumn("occ", lit(1L))
    val resent = ids.filter(pmod(col("event_id"), lit(13)) === 0)
      .withColumn("epoch", lit((epochs - 1).toLong))
      .withColumn("occ", lit(2L))
    first.unionByName(resent)
      .select(col("event_id"), col("epoch"), col("occ"))
      .as[(Long, Long, Long)]
      .groupByKey(r => math.floorMod(splitmix(r._1), nShards))
      .flatMapGroups { (_, it) =>
        val words = new Array[Long](mBits / 64)
        it.toArray.sortBy(r => (r._2, r._1))
          .map(r => (r._1, r._3, bloomAdmit(words, r._1, mBits, k)))
          .iterator
      }
      .toDF("event_id", "occ", "seen")
      .orderBy("event_id", "occ")
  }

  /** The one-sided Bloom guarantee, stated relationally (DISTINCT ids
    * mirror the replay's structural first-delivery dedup). */
  val bloomReplaySql: String =
    """SELECT DISTINCT CAST(event_id AS BIGINT) AS event_id,
      |  CAST(1 AS BIGINT) AS occ, false AS seen
      |FROM events WHERE event_id IS NOT NULL
      |UNION ALL
      |SELECT DISTINCT CAST(event_id AS BIGINT), CAST(2 AS BIGINT), true
      |FROM events
      |WHERE event_id IS NOT NULL AND event_id % 13 = 0
      |ORDER BY event_id, occ""".stripMargin

  /** Batch replay of [[funnelStream]]'s per-user state machine: events
    * split into `epochs` event-TIME ranges (the machine's documented
    * arrival assumption — a stage can never rewind), each user's
    * [[FunnelState]] advanced epoch-by-epoch through the SAME
    * [[advanceFunnel]] transition the stream's `mapGroupsWithState` runs.
    * Time-ordered epoch concatenation makes the carried fold equal the
    * whole-history fold, so the final positions must hash-match the
    * batch funnel's user-grain oracle
    * ([[graft.operators.EventsOps.eventsFunnelSql]]) — proving the epoch
    * state carryover loses nothing. */
  def funnelReplay(spark: SparkSession, sfDir: String,
      windowSec: Long = 86400, epochs: Int = 4): DataFrame = {
    import spark.implicits._
    val wUs = windowSec * 1000000L
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    // deterministic event-time epoch cuts (driver-side min/max — 2 longs)
    val mm = ev.agg(min("t"), max("t")).head()
    val (lo, span) = (mm.getLong(0),
      math.max(1L, (mm.getLong(1) - mm.getLong(0)) / epochs + 1))
    ev.withColumn("epoch", ((col("t") - lit(lo)) / lit(span)).cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val byEpoch = it.toArray.groupBy(_._4).toSeq.sortBy(_._1)
        val s = byEpoch.foldLeft(FunnelState(None, None, None)) {
          case (st, (_, evs)) =>
            advanceFunnel(st, evs.toSeq.map(e => (e._2, e._3)), wUs)
        }
        FunnelUpdate(uid, s.v, s.c, s.p, funnelStage(s))
      }
      .toDF()
      .orderBy("user_id")
  }

  /** Streaming heavy-hitter sketch — the in-stream form of
    * [[graft.operators.Sketches.heavyHitters]]: tokens shard BY VALUE
    * (hash) across `nShards` state groups, each group folding the same
    * mergeable Misra–Gries reduction over every micro-batch via
    * `mapGroupsWithState`. Because sharding is by token, a token's entire
    * stream lands in one shard, so the per-shard no-false-negative
    * guarantee (freq > n_shard/(cap+1) ⇒ kept) holds against the token's
    * TRUE global count — sharding only shrinks n_shard and tightens it.
    * State is ≤ cap counters per shard, checkpointed: the sketch survives
    * query restarts, which is what the spec asserts. Each batch emits the
    * shard's CURRENT candidate set into its own `ingest_batch=<id>`
    * partition (Update mode, overwrite-by-batch like every other sink
    * here) — readers take each shard's row from the max batch partition,
    * so a candidate later evicted by MG decrements does not linger; the
    * union of latest shards is the corpus candidate set, to be
    * exact-verified by the batch recount exactly like the batch operator. */
  def streamingHeavyHitters(tokens: Dataset[String], cap: Int, nShards: Int,
      outDir: String, checkpointDir: String): StreamingQuery = {
    import tokens.sparkSession.implicits._
    val mg = new graft.operators.MisraGries(cap)
    tokens.groupByKey(t => math.floorMod(t.hashCode, nShards))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (shard: Int, it: Iterator[String],
         st: org.apache.spark.sql.streaming.GroupState[Map[String, Long]]) =>
          val b = it.foldLeft(st.getOption.getOrElse(Map.empty[String, Long]))(mg.reduce)
          st.update(b)
          (shard, b.keys.toSeq.sorted)
      }
      .toDF("shard", "candidates")
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch-keyed overwrite, not append: the sink's contract is "the
        // shard's CURRENT candidates" — an appended union would resurrect
        // every evicted candidate, and a replayed batch would double-write
        batch.write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")
        ()
      }
      .start()
  }

  /** Streaming ID dedupe with BOUNDED state — the in-stream counterpart of
    * [[graft.operators.Sketches.bloomPrune]], and the 100 TB answer to the
    * state-growth problem [[dedupedValid]]'s `dropDuplicates` has: the
    * exact seen-uuid set grows with the stream and must be bounded by a
    * watermark (ids older than the horizon CAN re-admit); a per-shard
    * Bloom filter is a FIXED `nShards × m/8` bytes forever, over the whole
    * stream's history. The trade is explicit and one-sided: a re-sent id
    * is ALWAYS flagged (bits never clear — no false negatives, stronger
    * than the watermarked exact set), while a fresh id is spuriously
    * flagged with probability ≈ (1−e^(−k·n/m))^k — so this is the shape
    * for "never train on the same record twice" pipelines, where a
    * dropped fresh record costs a row and an admitted duplicate costs
    * model quality. State partitions by id-hash shard across executors,
    * checkpoint-durable (asserted in spec: the seen set survives a query
    * restart). In-batch rows process in event_id order so admit-then-test
    * is deterministic under micro-batch replay. */
  def bloomDedupStream(events: DataFrame, mBits: Int = 1 << 16, k: Int = 4,
      nShards: Int = 64): Dataset[BloomSeenFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    // splitmix64: the streaming side never needs cross-engine hash parity,
    // only self-consistency, so a Scala mixer beats hauling xxhash64 here
    events
      .filter(col("event_id").isNotNull) // dead-letter guard, like nearDupStream
      .select(col("event_id").cast("long").as("event_id"))
      .as[Long]
      .groupByKey(id => math.floorMod(splitmix(id), nShards))
      .flatMapGroupsWithState[ShardBloom, BloomSeenFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val words = state.getOption.map(_.words)
            .getOrElse(new Array[Long](mBits / 64))
          val out = rows.toSeq.sorted
            .map(id => BloomSeenFlag(id, bloomAdmit(words, id, mBits, k)))
          state.update(ShardBloom(words))
          out.iterator
      }
  }

  // ---- A6 end-to-end: the engine consuming the EmbeddedLog ------------

  /** The [[EmbeddedLog]] as a Structured Streaming SOURCE: segment files
    * are append-only, atomically-renamed text files, which is exactly the
    * contract Spark's file stream source requires — so the engine can
    * tail the log the way `gcs_to_bq/main.py:351` tails its Pub/Sub
    * subscription, one micro-batch per segment bite. Rows come back as
    * (partition, offset, key, data) with the partition recovered from the
    * segment's path (`_metadata.file_path`). */
  def logStream(spark: SparkSession, root: String, topic: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    logRecords(reader.text(s"$root/$topic/p*"))
  }

  /** Segment lines (`offset\tkey\tdata`) → (partition, offset, key, data). */
  private def logRecords(lines: DataFrame): DataFrame = lines
    .select(
      regexp_extract(col("_metadata.file_path"), "/p([0-9]+)/", 1)
        .cast("int").as("partition"),
      split(col("value"), "\t", 3).as("f"))
    .select(col("partition"),
      element_at(col("f"), 1).cast("long").as("offset"),
      element_at(col("f"), 2).as("key"),
      element_at(col("f"), 3).as("data"))

  /** Drain the topic's backlog as it stands (`Trigger.AvailableNow`),
    * checkpointed at `checkpointDir`, running `apply` on each micro-batch. */
  private def drain(spark: SparkSession, root: String, topic: String,
      checkpointDir: String, maxFilesPerTrigger: Option[Int])(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    logStream(spark, root, topic, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(apply)
      .start()

  /** Drain `stream` as it stands (`Trigger.AvailableNow`), checkpointed at
    * `checkpointDir`, writing micro-batch `id` to `$outDir/ingest_batch=<id>`
    * in overwrite mode, so a re-executed micro-batch is idempotent. */
  private def batchKeyedSink[T](stream: Dataset[T], outDir: String,
      checkpointDir: String, mode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val write: (Dataset[T], Long) => Unit = (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(write)
      .start()
  }

  /** One micro-batch of the log consumer — the reference subscriber's
    * apply-then-ack shape (`gcs_to_bq/main.py:351-372`): decode the wire
    * form, idempotent-apply via the G2 anti-join on uuid, and only THEN
    * advance the consumer group's committed offsets (monotonic per
    * partition, via [[EmbeddedLog.commit]]'s durable rename). A crash at
    * ANY point replays the batch — before apply it is simply redone;
    * after apply but before the engine checkpoints, the redelivered rows
    * are absorbed by the anti-join — so the sink stays exactly-once while
    * the group file tracks real consumer progress for external pollers. */
  def logApplyBatch(batch: DataFrame, root: String, topic: String,
      group: String, appliedDir: String): Unit = {
    val spark = batch.sparkSession
    val rows = batch.persist()
    val decoded = rows
      .select(col("partition"), col("offset"),
        graft.operators.Messages.decode(col("data"),
          graft.operators.Messages.fullMessageSchema).as("m"))
      .select(col("partition"), col("offset"), col("m.uuid").as("uuid"),
        size(col("m.produto_data")).cast("long").as("n_itens"))
      // a producer resend can land in the SAME micro-batch as the original
      // (AvailableNow groups segments) — the prior-batch anti-join below
      // can't see those, so collapse them here first, keeping the earliest
      // (partition, offset) delivery deterministically
      .groupBy("uuid")
      .agg(min(struct(col("partition"), col("offset"), col("n_itens")))
        .as("first"))
      .select(col("first.partition"), col("first.offset"), col("uuid"),
        col("first.n_itens"))
    // explicit schema: no footer-inference job per batch
    val fresh =
      if (!new java.io.File(appliedDir).isDirectory) decoded
      else decoded.join(
        spark.read.schema("uuid string, n_itens long").parquet(appliedDir)
          .select("uuid"),
        Seq("uuid"), "left_anti")
    fresh.select("uuid", "n_itens").write.mode("append").parquet(appliedDir)
    ackOffsets(rows, root, topic, group)
    rows.unpersist()
    ()
  }

  /** Ack AFTER apply, monotonic per partition (a redelivered batch must
    * never rewind the group's durable position). The per-partition maxima
    * collect is bounded by the log's partition count. */
  private def ackOffsets(rows: DataFrame, root: String, topic: String,
      group: String): Unit =
    rows.groupBy("partition").agg(max(col("offset")).as("mx"))
      .collect().foreach { r =>
        val (p, next) = (r.getInt(0), r.getLong(1) + 1)
        if (next > EmbeddedLog.committed(root, group, topic, p))
          EmbeddedLog.commit(root, group, topic, p, next)
      }

  /** The A6 edge under the real engine: a Structured Streaming query over
    * the log's segments whose `foreachBatch` runs [[logApplyBatch]] —
    * exactly-once apply (G2 anti-join + engine checkpoint) with durable
    * consumer-group commits, end to end. */
  def logConsume(spark: SparkSession, root: String, topic: String,
      group: String, appliedDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, root, topic, checkpointDir, maxFilesPerTrigger) { (b, _) =>
      logApplyBatch(b, root, topic, group, appliedDir)
    }

  /** One micro-batch of the SECOND log subscriber — the reference's fact
    * builder (`data_transformation/sales_to_bq/main.py:318-365`): decode
    * the composite message and build BOTH typed fact grains from it
    * ([[graft.operators.Messages.pedidosFactOf]]/[[graft.operators.Messages.itensFactOf]]
    * — per-row array algebra, no joins), landing each in day-partitioned
    * parquet. Exactly-once, with writes in the order facts → ledger → ack:
    *  - engine REDELIVERY (crash before checkpoint) re-executes under the
    *    original batchId, and every write goes to an `ingest_batch=<id>`
    *    subdirectory in OVERWRITE mode (the [[fanOutBatch]] idempotence
    *    pattern), so a re-run leaves the sinks and the ledger as a single
    *    run would;
    *  - producer RESENDS land in later batches. After both fact writes,
    *    each batch records the uuids it landed in the uuid LEDGER,
    *    `<pedidosDir>/_applied/ingest_batch=<id>` (one small file), and
    *    fresh rows anti-join against every ledger entry EXCEPT this batch's
    *    own (a redelivered batch must not be masked by its own partial
    *    output). An entry is valid exactly as long as its batch's fact
    *    output exists, so the anti-join never reads the fact sink itself:
    *    a batch costs its own size, not the sink's. A crash between
    *    the fact writes and the ledger write leaves the batch unacked and
    *    un-checkpointed, and its redelivery rewrites both;
    *  - duplicate uuids WITHIN the batch collapse first (min
    *    partition/offset wins — the log consumer's rule).
    *
    * Partition discovery skips `_`-prefixed directories, so every
    * `spark.read.parquet(pedidosDir)` reader sees the fact rows and schema
    * alone. [[priorLedgerEntries]] runs first: a sink written without a
    * ledger, or a ledger damaged by hand, fails the batch instead of
    * letting resends land twice. */
  def factApplyBatch(batch: DataFrame, batchId: Long, pedidosDir: String,
      itensDir: String, root: String, topic: String, group: String): Unit = {
    val spark = batch.sparkSession
    val ledgerDir = s"$pedidosDir/$LedgerName"
    val prior = priorLedgerEntries(pedidosDir, ledgerDir, batchId)
    val rows = batch.persist()
    // in-batch resend collapse: uuid extracted WITHOUT the full decode
    val firstPerUuid = rows
      .withColumn("uuid",
        get_json_object(unbase64(col("data")).cast("string"), "$.uuid"))
      .groupBy("uuid")
      .agg(min(struct(col("partition"), col("offset"), col("data"))).as("f"))
      .select(col("uuid"), col("f.data").as("data"))
    val fresh =
      if (prior.isEmpty) firstPerUuid
      else firstPerUuid.join(
        // the entries by path: Spark warns on a `_`-named root path
        spark.read.schema(LedgerSchema).option("basePath", ledgerDir)
          .parquet(prior: _*).select("uuid"),
        Seq("uuid"), "left_anti")
    val msg = graft.operators.Messages.decodeForFacts(fresh).persist()
    graft.operators.Messages.pedidosFactFinal(
        graft.operators.Messages.pedidosFactOf(msg))
      .withColumn("dia", col("pedido_dia")) // J2 day partitioning, data intact
      .write.mode("overwrite").partitionBy("dia")
      .parquet(s"$pedidosDir/ingest_batch=$batchId")
    graft.operators.Messages.itensFactFinal(
        graft.operators.Messages.itensFactOf(msg))
      .withColumn("dia", col("pedido_dia"))
      .write.mode("overwrite").partitionBy("dia")
      .parquet(s"$itensDir/ingest_batch=$batchId")
    msg.select("uuid").coalesce(1)
      .write.mode("overwrite").parquet(s"$ledgerDir/ingest_batch=$batchId")
    msg.unpersist()
    ackOffsets(rows, root, topic, group)
    rows.unpersist()
    ()
  }

  /** [[factApplyBatch]]'s uuid ledger: one directory under the pedidos
    * sink, one `ingest_batch=<id>` entry per applied batch. */
  private val LedgerName = "_applied"
  private val LedgerSchema = "uuid string, ingest_batch long"

  /** Ids of the `ingest_batch=<id>` directories directly under `dir`, by
    * a driver-side listing (no Spark job). */
  private def ingestBatches(dir: String): Set[Long] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .collect { case IngestBatchDir(id) => id.toLong }.toSet
  private val IngestBatchDir = "ingest_batch=([0-9]+)".r

  /** The ledger entries of every batch but `batchId`, once every other
    * fact batch is known to have one: without its entry the anti-join
    * would let resends of that batch's messages land twice. The current
    * batch is exempt, as a crash between its fact writes and its ledger
    * write recovers through redelivery. */
  private def priorLedgerEntries(pedidosDir: String, ledgerDir: String,
      batchId: Long): Seq[String] = {
    val ledgered = ingestBatches(ledgerDir) - batchId
    val missing = (ingestBatches(pedidosDir) - batchId -- ledgered).toSeq.sorted
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"fact sink $pedidosDir has no uuid ledger entry in $ledgerDir for " +
        s"ingest_batch ${missing.mkString(", ")}: resends of those " +
        "batches' messages would land twice. Replay the log into an empty " +
        "sink with a new checkpoint.")
    ledgered.toSeq.sorted.map(b => s"$ledgerDir/ingest_batch=$b")
  }

  /** The reference's 3.1 composition under the real engine, second leg:
    * webhook → enrich → LOG → typed facts, as a Structured Streaming query
    * whose `foreachBatch` runs [[factApplyBatch]] — day-partitioned fact
    * parquet, exactly-once, with durable consumer-group commits. */
  def factConsume(spark: SparkSession, root: String, topic: String,
      group: String, pedidosDir: String, itensDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    drain(spark, root, topic, checkpointDir, maxFilesPerTrigger) { (b, id) =>
      factApplyBatch(b, id, pedidosDir, itensDir, root, topic, group)
    }

  /** One micro-batch of the STREAMING impact-index ingest — the
    * retrieval family's third symmetry leg (batch build →
    * [[graft.operators.TextOps.bm25IndexBuild]], incremental apply →
    * `stagedImpactGen`, and now the live stream): documents arrive on the
    * [[EmbeddedLog]] as `(doc_id, base64(text))` records and each
    * micro-batch runs the SAME apply step the batch chain runs
    * ([[graft.operators.TextOps.impactApplyFrames]] — score against the
    * current generation's frozen stats, two-stage top-cap merge, exact
    * additive stat advance), landing generation `batchId` as
    * `gen=<id>/{prefix,termstats}` via the shared
    * [[graft.operators.GenerationChain]]. Exactly-once: a generation is
    * published by ONE whole-generation atomic rename (never a
    * mode-overwrite pair a concurrent latest-complete reader could catch
    * mid-rewrite), an engine redelivery of an already-complete `gen=id`
    * SHORT-CIRCUITS to re-acking its offsets (generations are immutable
    * once complete), and a crash mid-build leaves only scratch garbage —
    * the generation is absent, so the redelivered batch rebuilds it
    * against the same immutable predecessor ([[GenerationChain
    * .latestBelow]]). The first batch is the gen-0 self-stats build.
    * Offsets advance only after the generation is complete
    * (apply-then-ack), and each batch then RETIRES all but the newest
    * `retain` generations — without retention the chain kept a
    * vocabulary-sized pair per micro-batch forever (~1,440/day at one
    * batch a minute) and probed `batchId-1..0` per batch; the newest
    * generation is never retired, so every future or redelivered batch
    * still finds its predecessor. */
  def indexApplyBatch(batch: DataFrame, batchId: Long, indexDir: String,
      root: String, topic: String, group: String, k1: Double = 1.2,
      b: Double = 0.75, cap: Int = 64, retain: Int = 3): Unit = {
    val spark = batch.sparkSession
    val chain = new graft.operators.GenerationChain(indexDir,
      Seq("prefix", "termstats"))
    if (chain.complete(batchId)) { // published, ack lost — re-ack only
      ackOffsets(batch, root, topic, group)
      return
    }
    val rows = batch.persist()
    val docs = rows.select(col("key").cast("long").as("doc_id"),
      unbase64(col("data")).cast("string").as("text"))
    val (prefix, stats) = chain.latestBelow(batchId) match {
      case Some(g) => graft.operators.TextOps.impactApplyFrames(
        chain.read(spark, g, "prefix"),
        chain.read(spark, g, "termstats"), docs, k1, b, cap)
      case None =>
        graft.operators.TextOps.impactGen0Frames(docs, k1, b, cap)
    }
    chain.getOrPublish(batchId)(Seq(prefix, stats))
    ackOffsets(rows, root, topic, group)
    chain.retire(retain)
    rows.unpersist()
    ()
  }

  /** The streaming impact-index ingest as a Structured Streaming query:
    * [[logStream]] over the document topic → [[indexApplyBatch]] in
    * `foreachBatch`. With `maxFilesPerTrigger = 1` each micro-batch is
    * exactly one appended log segment, so the generation chain a
    * killed-and-restarted run produces is IDENTICAL to an uninterrupted
    * one (StreamDemo-proven against the batch fold of the same
    * segments). */
  def indexIngestConsume(spark: SparkSession, root: String, topic: String,
      group: String, indexDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None, k1: Double = 1.2,
      b: Double = 0.75, cap: Int = 64, retain: Int = 3): StreamingQuery =
    drain(spark, root, topic, checkpointDir, maxFilesPerTrigger) { (batch, id) =>
      indexApplyBatch(batch, id, indexDir, root, topic, group, k1, b,
        cap, retain)
    }

  /** The whole topic as ONE batch frame — the same parse as [[logStream]]
    * over `spark.read` instead of `readStream` (segment files are
    * append-only and atomically renamed, so a batch listing is always a
    * consistent prefix of the log). The compaction rebuild reads this:
    * everything the stream has ever ingested, straight from the log. */
  def logBatch(spark: SparkSession, root: String, topic: String): DataFrame =
    logRecords(spark.read.text(s"$root/$topic/p*"))

  private def topicDocs(spark: SparkSession, root: String,
      topic: String): DataFrame =
    logBatch(spark, root, topic)
      .select(col("key").cast("long").as("doc_id"),
        unbase64(col("data")).cast("string").as("text"))

  /** The streaming chain's measured staleness — mean per-term overlap
    * between the chain head's prefix and a fresh self-stats rebuild over
    * the WHOLE topic ([[graft.operators.TextOps.prefixOverlapFrame]],
    * the same comparison the batch dashboard runs). 1-row driver
    * value. */
  def indexDriftMean(spark: SparkSession, root: String, topic: String,
      indexDir: String, k1: Double = 1.2, b: Double = 0.75,
      cap: Int = 64): Double = {
    val chain = new graft.operators.GenerationChain(indexDir,
      Seq("prefix", "termstats"))
    val head = chain.latest().getOrElse(
      throw new IllegalStateException(s"no complete generation in $indexDir"))
    val (rp, _) = graft.operators.TextOps.impactGen0Frames(
      topicDocs(spark, root, topic), k1, b, cap)
    graft.operators.TextOps
      .prefixOverlapFrame(chain.read(spark, head, "prefix"), rp)
      .agg(avg("overlap")).collect()(0).getDouble(0)
  }

  /** Drift→compaction for the STREAMING index chain — the policy leg the
    * batch chains got in [[graft.operators.TextOps.bm25AutoCompact]],
    * closing the stream's life cycle: ingest (one generation per
    * micro-batch, [[indexApplyBatch]]) → retention (newest `retain`
    * kept) → drift watch ([[indexDriftMean]]) → compact. When the head's
    * mean overlap against a fresh rebuild over the whole topic drops
    * below `tau`, the rebuild is published as generation `head + 1`
    * through the same whole-generation atomic rename every other
    * generation takes — a latest-complete reader switches atomically,
    * and because the compact generation is now the NEWEST, retention
    * keeps it and the next micro-batch folds onto reset-to-zero
    * staleness. At or above `tau` the head keeps serving and nothing is
    * published. Returns (fired, the serving generation id after the
    * decision).
    *
    * Scale note: the rebuild reads the full topic once — the same cost
    * the batch compaction pays, scheduled only when the measured drift
    * says it is worth it; the drift probe itself is prefix-grain
    * (vocabulary × cap), not corpus-grain, after the one rebuild scan. */
  def indexAutoCompact(spark: SparkSession, root: String, topic: String,
      indexDir: String, tau: Double = 0.95, k1: Double = 1.2,
      b: Double = 0.75, cap: Int = 64, retain: Int = 3): (Boolean, Long) = {
    val chain = new graft.operators.GenerationChain(indexDir,
      Seq("prefix", "termstats"))
    val head = chain.latest().getOrElse(
      throw new IllegalStateException(s"no complete generation in $indexDir"))
    val fired = indexDriftMean(spark, root, topic, indexDir, k1, b,
      cap) < tau
    if (!fired) (false, head)
    else {
      val (rp, rs) = graft.operators.TextOps.impactGen0Frames(
        topicDocs(spark, root, topic), k1, b, cap)
      chain.getOrPublish(head + 1)(Seq(rp, rs))
      chain.retire(retain)
      (true, head + 1)
    }
  }

  /** splitmix64: the streaming side never needs cross-engine hash parity,
    * only self-consistency, so a Scala mixer beats hauling xxhash64 here. */
  private[graft] def splitmix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Probe-and-insert one id against a shard's Bloom bit words — the exact
    * per-id state transition [[bloomDedupStream]] runs, shared with the
    * batch replay harness ([[bloomReplay]]) so both fold the same bits.
    * Mutates `words`; returns whether the id was (probably) seen before. */
  private[graft] def bloomAdmit(words: Array[Long], id: Long,
      mBits: Int, k: Int): Boolean = {
    val (h1, h2) = (splitmix(id), splitmix(id ^ 0x5851f42d4c957f2dL))
    val idxs = (0 until k).map { i =>
      (((h1 + i.toLong * h2) % mBits) + mBits) % mBits
    }
    val seen = idxs.forall(x => (words((x >> 6).toInt) >>> (x & 63) & 1L) == 1L)
    if (!seen) idxs.foreach(x => words((x >> 6).toInt) |= 1L << (x & 63))
    seen
  }

  /** Runs [[bloomDedupStream]] to a parquet sink; batch-keyed overwrite
    * dirs make re-executed micro-batches idempotent, like the other sinks. */
  def bloomDedupQuery(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    batchKeyedSink(bloomDedupStream(events).toDF(), outDir, checkpointDir)

  /** Streaming NEAR-dup detection — the in-stream counterpart of the batch
    * dedup family (`operators.Dedup`): every arriving document is checked
    * against the corpus seen SO FAR, before it ever lands in the training
    * zone. Per-row simhash ([[graft.operators.Dedup.simhashFold]], same
    * arithmetic as the batch query), grouped by the signature's top-16
    * bits, with the admitted signatures of each bucket held in
    * `flatMapGroupsWithState` state: a new doc is a near-dup iff some
    * admitted signature in its bucket is within `maxHamming` bits.
    *
    * Scale notes: state partitions by bucket (2¹⁶ keys) across executors
    * and holds only DISTINCT admitted signatures (≤ 2¹⁶ longs per bucket
    * at the theoretical limit, far fewer in practice), checkpointed — so
    * the "seen corpus" survives query restarts, which is the property the
    * spec asserts. Bucketing is the same LSH-style trade as the batch
    * hyperplane buckets: only same-bucket pairs are compared, so a near-dup
    * pair that straddles a bucket boundary (differs in the top 16 bits) is
    * missed; tighten by also probing neighbor buckets, at state-size cost.
    * Docs within one micro-batch are processed in doc_id order so the
    * admit-then-compare sequence is deterministic under replay. */
  def nearDupStream(docs: DataFrame, maxHamming: Int = 3): Dataset[NearDupFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // null/corrupt guard: a malformed line (PERMISSIVE source) or null
      // text would make `.as[SimhashDoc]` throw on the non-nullable Longs,
      // killing the query — and checkpoint replay would re-read the same
      // file and fail forever. Route-or-drop belongs before the typed
      // boundary, like fanOut's dead-letter path.
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.Dedup.simhashFold(col("text")).as("simhash"))
      .select(shiftright(col("simhash"), 16).as("bucket"),
        col("doc_id"), col("simhash"))
      .as[SimhashDoc]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketSigs, NearDupFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var sigs = state.getOption.map(_.sigs.toList).getOrElse(Nil)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val dup = sigs.exists(s =>
              java.lang.Long.bitCount(s ^ d.simhash) <= maxHamming)
            if (!dup) sigs = d.simhash :: sigs
            NearDupFlag(d.doc_id, d.simhash, dup)
          }
          state.update(BucketSigs(sigs.toArray))
          out.iterator
      }
  }

  /** Runs [[nearDupStream]] to a parquet sink; batch-keyed overwrite dirs
    * make re-executed micro-batches idempotent, like the other sinks. */
  def nearDupQuery(docs: DataFrame, outDir: String,
    checkpointDir: String, maxHamming: Int = 3): StreamingQuery =
    batchKeyedSink(nearDupStream(docs, maxHamming), outDir, checkpointDir)

  /** Streaming MEDIA near-dup — the in-stream counterpart of the batch
    * perceptual-hash family ([[graft.operators.Multimodal.imageDedup]]):
    * every arriving media item is signature-hashed AT THE INGEST EDGE
    * (real PNG codec resolved per partition inside the stateless
    * `mapPartitions` stage — the batch operator's
    * [[graft.operators.Multimodal.imageSignature]], so stream and batch
    * run identical arithmetic) and checked against the corpus seen SO
    * FAR, before the payload ever lands in the training zone. Grouped by
    * band 0 of the four-band signature, with each bucket's ADMITTED
    * signatures held in `flatMapGroupsWithState` state: a new item is a
    * near-dup iff some admitted same-bucket signature is within
    * `maxHamming` bits across all four bands.
    *
    * Scale notes (the [[nearDupStream]] trades, media-shaped): state
    * partitions by the 2¹⁶-value band across executors and holds only
    * admitted 4-long quads, checkpointed — the seen corpus survives
    * restarts — and each bucket is BUDGETED to `maxQuadsPerBucket`
    * quads, oldest-admitted evicted first and every eviction logged
    * ([[DefaultBucketBudget]]'s state contract: bounded state and
    * bounded per-arrival scan, paid in recall against deep history).
    * Payload bytes never reach the stateful operator: the signature is
    * computed in the stateless scan stage, so only 5-long rows shuffle
    * to the state partitioning. Single-band bucketing is the LSH recall
    * trade — a near-dup pair differing in band 0 is missed; probe more
    * bands (the batch operator's 4-band OR) at state-size cost. In-batch
    * order is doc_id-deterministic under replay. This is the
    * single-modality (image) unit; the mixed-mime production form
    * routing PNG/WAV/GIF payloads by mime is [[mixedMediaDedupStream]]. */
  def mediaDedupStream(docs: DataFrame,
      maxHamming: Int = graft.operators.Multimodal.DefaultMaxHamming,
      maxQuadsPerBucket: Int = DefaultBucketBudget): Dataset[MediaSigFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("doc_id").isNotNull) // dead-letter guard, like nearDupStream
      .select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        val reader = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        it.map(id =>
          graft.operators.Multimodal.imageSignature(writer, reader, id))
      }
      // band 0 IS the LSH bucket — no separate key column to drift
      .groupByKey(_.b0)
      .flatMapGroupsWithState[BucketQuads, MediaSigFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket, rows, state) =>
          val st = state.getOption.getOrElse(BucketQuads(Array.empty[Long]))
          val r = dedupAgainstQuads(rows.toSeq, st.sigs,
            maxHamming, maxQuadsPerBucket, st.bloom, st.bloomInserts,
            st.bloomPrev) { (m, dup) =>
            MediaSigFlag(m.doc_id, m.b0, m.b1, m.b2, m.b3, dup)
          }
          if (r.evicted > 0) System.err.println(
            s"[graft] mediaDedupStream: bucket $bucket evicted " +
              s"${r.evicted} oldest signature(s) to the Bloom tier (budget " +
              s"$maxQuadsPerBucket, lifetime ${st.evicted + r.evicted}) — " +
              "exact resends flag within the Bloom horizon; NEAR-dups of " +
              "evicted items re-admit (DefaultBucketBudget's state contract).")
          if (r.rotated > 0) System.err.println(
            s"[graft] mediaDedupStream: bucket $bucket rotated " +
              s"${r.rotated} Bloom generation(s) at capacity " +
              s"$BloomGenCapacity — exact resends older than " +
              s"~${2 * BloomGenCapacity} evictions no longer flag; the FP " +
              "drop rate stays bounded (BloomGenCapacity's contract).")
          state.update(BucketQuads(r.quads, st.evicted + r.evicted,
            r.bloom, r.bloomInserts, r.bloomPrev))
          r.out.iterator
      }
  }

  /** One bucket's admit-or-flag fold — the ONE copy of the media-stream
    * admission semantics, shared by [[mediaDedupStream]] and
    * [[mixedMediaDedupStream]] so the two ingest edges cannot silently
    * diverge: items judged in doc_id order (deterministic under replay)
    * against the admitted 4-long quads, four-band hamming ≤ `maxHamming`,
    * non-dups admitted. TWO state tiers:
    *  - EXACT-RECENT: the admitted quads, hamming-checked per arrival.
    *    After the fold the tier is clipped to its quad BUDGET,
    *    oldest-admitted out first (the dedup-vs-all-history state would
    *    otherwise grow corpus-sized — [[DefaultBucketBudget]]'s recall
    *    contract).
    *  - BLOOM-HISTORICAL: evicted quads' exact fingerprints enter the
    *    bucket's CURRENT 4096-bit Bloom generation, so a BYTE-IDENTICAL
    *    resend of a recently-aged-out item still flags. A generation
    *    retires after [[BloomGenCapacity]] inserts (the previous
    *    generation's contents are forgotten, the rotation logged by
    *    callers), which BOUNDS the false-positive rate: a single
    *    ever-growing filter silently trends toward flagging — and
    *    therefore DROPPING — every fresh item in a hot bucket. Probes
    *    check both live generations, so exact resends flag across the
    *    last ≈ 2·[[BloomGenCapacity]] evictions per bucket; near-dups of
    *    evicted items remain the budget's documented recall loss — a
    *    Bloom cannot answer hamming queries.
    * Returns a [[QuadFold]]: the verdicts, the carried-forward state, and
    * this batch's evicted/rotated counts — callers must log both when
    * nonzero (the [[graft.operators.Dedup]] cellCap precedent: a bounded
    * cap is never silent). */
  private[graft] def dedupAgainstQuads[T](
      items: Seq[graft.operators.Multimodal.HashBands], quads0: Array[Long],
      maxHamming: Int, maxQuads: Int, bloom0: Array[Long] = Array.empty[Long],
      bloomInserts0: Long = 0L, bloomPrev0: Array[Long] = Array.empty[Long])(
      mk: (graft.operators.Multimodal.HashBands, Boolean) => T): QuadFold[T] = {
    var quads = quads0
    def hamming(o: Int, m: graft.operators.Multimodal.HashBands): Int =
      java.lang.Long.bitCount(quads(o) ^ m.b0) +
        java.lang.Long.bitCount(quads(o + 1) ^ m.b1) +
        java.lang.Long.bitCount(quads(o + 2) ^ m.b2) +
        java.lang.Long.bitCount(quads(o + 3) ^ m.b3)
    // k=3 bit positions over 4096 bits from one 64-bit quad mix (the
    // splitmix64 finalizer — public-domain constants), sliced 12 bits each
    def bits(m: graft.operators.Multimodal.HashBands): Seq[Int] = {
      var x = m.b0 * 0x9e3779b97f4a7c15L + m.b1
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L + m.b2
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL + m.b3
      x = x ^ (x >>> 31)
      Seq(0, 12, 24).map(s => ((x >>> s) & 0xfff).toInt)
    }
    def inWords(words: Array[Long],
        m: graft.operators.Multimodal.HashBands): Boolean =
      words.nonEmpty && bits(m).forall(b => (words(b >> 6) & (1L << (b & 63))) != 0)
    // probe BOTH live generations — state as passed in; inserts land below
    def inBloom(m: graft.operators.Multimodal.HashBands): Boolean =
      inWords(bloom0, m) || inWords(bloomPrev0, m)
    val out = items.sortBy(_.doc_id).map { m =>
      val dup = quads.indices.by(4).exists(o => hamming(o, m) <= maxHamming) ||
        inBloom(m)
      if (!dup) quads = quads ++ Array(m.b0, m.b1, m.b2, m.b3)
      mk(m, dup)
    }
    // budget enforcement AFTER the fold: within one micro-batch every item
    // still judges against everything admitted before it (in-batch resends
    // always collapse); only the carried-forward state is clipped, and the
    // clipped quads' fingerprints move to the historical tier
    val over = quads.length / 4 - maxQuads
    if (over <= 0) QuadFold(out, quads, bloom0, bloomInserts0, bloomPrev0, 0, 0)
    else {
      var bloom =
        if (bloom0.isEmpty) new Array[Long](64)
        else bloom0.clone() // never mutate the state object in place
      var prev = bloomPrev0
      var inserts = bloomInserts0
      var rotated = 0
      quads.take(4 * over).grouped(4).foreach { q =>
        if (inserts >= BloomGenCapacity) {
          // generation rotation: current retires to prev (prev's contents
          // are forgotten), a fresh filter starts — each generation holds
          // ≤ BloomGenCapacity fingerprints, so the FP rate stays bounded
          prev = bloom; bloom = new Array[Long](64); inserts = 0
          rotated += 1
        }
        bits(graft.operators.Multimodal.HashBands(0L, q(0), q(1), q(2), q(3)))
          .foreach(b => bloom(b >> 6) |= 1L << (b & 63))
        inserts += 1
      }
      QuadFold(out, quads.drop(4 * over), bloom, inserts, prev, over, rotated)
    }
  }

  /** Inserts one 4096-bit Bloom generation accepts before it retires.
    * At m = 4096 bits / k = 3 probes, n = 400 inserts gives a worst-case
    * per-generation false-positive rate of (1 − e^(−kn/m))³ ≈ 1.6%;
    * probing two live generations bounds the total at ≈ 3.2% — vs the
    * unrotated filter, whose FP rate passes 10% after ~1k evictions and
    * trends toward 100% in a hot bucket (each false positive silently
    * DROPS a genuinely new item at the ingest edge). The price of the
    * bound is a finite exact-resend horizon: a byte-identical resend
    * flags while its fingerprint is within the last ≈ 2·400 evictions of
    * its bucket; older resends re-admit (rotation is logged, like
    * evictions — never silent). */
  val BloomGenCapacity = 400L

  /** Default per-bucket quad budget for the streaming media-dedup state.
    *
    * STATE CONTRACT (the [[graft.operators.Multimodal.DefaultMaxHamming]]
    * shape, for state instead of recall): without a budget the admitted
    * quads grow linearly with the distinct corpus — at a 100 TB ingest
    * edge that is corpus-sized state spread over the 2¹⁶ band buckets,
    * and the per-arrival linear scan makes each hot bucket quadratic over
    * its lifetime. The budget caps both: state ≤ budget·2¹⁶ quads per
    * modality (4096 ⇒ ≤ 8 GiB/modality worst-case, far less in practice)
    * and per-arrival work ≤ budget hamming checks + two Bloom probes.
    * Evicted quads don't vanish immediately: their EXACT fingerprints
    * enter the bucket's current 4096-bit Bloom generation (~1 amortized
    * bit per evicted item), so a byte-identical resend of a recently
    * aged-out item still flags — for the last ≈ 2·[[BloomGenCapacity]]
    * evictions per bucket, the generation-rotation horizon that keeps the
    * tier's false-positive DROP rate bounded at ~3% instead of silently
    * saturating (BloomGenCapacity's contract). The price that remains is
    * NEAR-DUP RECALL AGAINST DEEP HISTORY: a hamming-close variant of an
    * evicted item re-admits as new (oldest-admitted evicted first, so the
    * miss is against the OLDEST history; a Bloom cannot answer hamming
    * queries). Every eviction and every rotation is logged with the
    * bucket's lifetime loss — never silent. Size the budget to the
    * modality's NEAR-dup horizon (how far back an EDIT must still flag)
    * and the Bloom capacity to the exact-resend horizon; the offline
    * batch dedup
    * ([[graft.operators.Multimodal.imageDedup]] family) remains the
    * exhaustive reconciliation, exactly like the reference's checker
    * pattern (G1/G2). */
  val DefaultBucketBudget = 4096

  /** Version of the [[BucketQuads]] state encoding. History: v1 = sigs
    * only; v2 added evicted/bloom; v3 added bloomInserts/
    * bloomPrev. Bump on EVERY field change. */
  val QuadStateSchemaVersion = 3

  /** Fail FAST and ACTIONABLY when a quad-state query is started from a
    * checkpoint written under a different [[BucketQuads]] schema
    * generation: without this, Spark's state-store compatibility check
    * surfaces the break as a raw encoder error mid-batch (or worse,
    * a v1 checkpoint decodes garbage). A marker file in the
    * checkpoint dir records the schema version at first start; a version
    * mismatch — or a pre-existing checkpoint with no marker, which can
    * only be an older generation — throws with the exact recovery step.
    * The "seen corpus survives restarts" contract holds within one
    * schema generation, not across upgrades (state must be reset and the
    * source replayed — or the offline batch dedup run as the
    * reconciliation, the reference's checker pattern). */
  private[graft] def guardQuadStateSchema(checkpointDir: String): Unit = {
    val dir = new java.io.File(checkpointDir)
    val marker = new java.io.File(dir, "_graft_state_schema")
    val hasCheckpoint = new java.io.File(dir, "offsets").isDirectory
    val found: Option[Int] =
      if (marker.isFile)
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          marker.toPath), "UTF-8").trim.toInt).toOption
      else None
    if (hasCheckpoint && !found.contains(QuadStateSchemaVersion))
      throw new IllegalStateException(
        s"checkpoint $checkpointDir was written under state schema " +
        s"${found.map(_.toString).getOrElse("<pre-versioning>")} but this " +
        s"release uses v$QuadStateSchemaVersion (BucketQuads changed). " +
        "To upgrade: DELETE the checkpoint directory and replay the " +
        "source (the seen-corpus state cannot be migrated); the offline " +
        "batch dedup remains the exhaustive reconciliation.")
    dir.mkdirs()
    java.nio.file.Files.write(marker.toPath,
      s"$QuadStateSchemaVersion\n".getBytes("UTF-8"))
    ()
  }

  /** Runs [[mediaDedupStream]] to a parquet sink; batch-keyed overwrite
    * dirs make re-executed micro-batches idempotent, like the other
    * sinks. */
  def mediaDedupQuery(docs: DataFrame, outDir: String,
      checkpointDir: String,
      maxHamming: Int = graft.operators.Multimodal.DefaultMaxHamming,
      maxQuadsPerBucket: Int = DefaultBucketBudget): StreamingQuery = {
    guardQuadStateSchema(checkpointDir)
    batchKeyedSink(mediaDedupStream(docs, maxHamming, maxQuadsPerBucket),
      outDir, checkpointDir)
  }

  /** MIXED-MIME streaming media near-dup — [[mediaDedupStream]] composed
    * with [[graft.operators.Multimodal.multimodalFeatures]]'s mime
    * dispatch: every arriving payload routes BY MIME to its modality's
    * real-codec signature (PNG dHash via `imageSignature`, WAV envelope
    * hash via `audioSignature`, GIF middle-frame dHash via
    * `videoSignature` — the batch operators' exact arithmetic, one shared
    * helper per modality) inside the stateless scan stage, with all three
    * codecs resolved once per partition. State is keyed by (mime, band 0):
    * modalities never cross-compare — an image is only ever checked
    * against admitted images — and within a modality the bucket semantics
    * are [[mediaDedupStream]]'s verbatim (admitted quads, four-band
    * hamming ≤ `maxHamming`, checkpointed across restarts, per-bucket
    * quad budget with logged oldest-out eviction —
    * [[DefaultBucketBudget]]'s state contract).
    *
    * Scale notes: the payload bytes are born and die inside the scan
    * partition; only (mime, 5-long) rows shuffle to the state
    * partitioning, which now spreads over 3 × 2¹⁶ buckets. Mime fixture:
    * doc_id % 3 (the [[graft.operators.Multimodal.multimodalFeatures]]
    * convention), so any 4-consecutive-id family plants a same-mime
    * base/variant pair in every modality stripe. */
  def mixedMediaDedupStream(docs: DataFrame,
      maxHamming: Int = graft.operators.Multimodal.DefaultMaxHamming,
      maxQuadsPerBucket: Int = DefaultBucketBudget): Dataset[MixedSigFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("doc_id").isNotNull) // dead-letter guard, like nearDupStream
      .select(col("doc_id").cast("long").as("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val pngW = javax.imageio.ImageIO
          .getImageWritersByFormatName("png").next()
        val pngR = javax.imageio.ImageIO
          .getImageReadersByFormatName("png").next()
        val gifW = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        val gifR = javax.imageio.ImageIO
          .getImageReadersByFormatName("gif").next()
        val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
        val wav = java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
          .iterator().asScala
          .find(_.isFileTypeSupported(wave))
          .getOrElse(sys.error("no WAVE AudioFileWriter provider"))
        it.map { id =>
          (id % 3) match {
            case 0 => ("image/png",
              graft.operators.Multimodal.imageSignature(pngW, pngR, id))
            case 1 => ("audio/wav",
              graft.operators.Multimodal.audioSignature(wav, id))
            case _ => ("video/gif",
              graft.operators.Multimodal.videoSignature(gifW, gifR, id))
          }
        }
      }
      // (mime, band 0) IS the bucket: modalities never cross-compare
      .groupByKey { case (mime, s) => (mime, s.b0) }
      .flatMapGroupsWithState[BucketQuads, MixedSigFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((mime, bucket), rows, state) =>
          val st = state.getOption.getOrElse(BucketQuads(Array.empty[Long]))
          val r = dedupAgainstQuads(rows.map(_._2).toSeq,
            st.sigs, maxHamming, maxQuadsPerBucket, st.bloom,
            st.bloomInserts, st.bloomPrev) { (m, dup) =>
            MixedSigFlag(m.doc_id, mime, m.b0, m.b1, m.b2, m.b3, dup)
          }
          if (r.evicted > 0) System.err.println(
            s"[graft] mixedMediaDedupStream: bucket ($mime, $bucket) " +
              s"evicted ${r.evicted} oldest signature(s) to the Bloom tier " +
              s"(budget $maxQuadsPerBucket, lifetime " +
              s"${st.evicted + r.evicted}) — exact resends flag within the " +
              "Bloom horizon; near-dups of evicted items re-admit " +
              "(DefaultBucketBudget).")
          if (r.rotated > 0) System.err.println(
            s"[graft] mixedMediaDedupStream: bucket ($mime, $bucket) " +
              s"rotated ${r.rotated} Bloom generation(s) at capacity " +
              s"$BloomGenCapacity (BloomGenCapacity's contract).")
          state.update(BucketQuads(r.quads, st.evicted + r.evicted,
            r.bloom, r.bloomInserts, r.bloomPrev))
          r.out.iterator
      }
  }

  /** Runs [[mixedMediaDedupStream]] to a parquet sink; batch-keyed
    * overwrite dirs make re-executed micro-batches idempotent, like the
    * other sinks. */
  def mixedMediaDedupQuery(docs: DataFrame, outDir: String,
      checkpointDir: String,
      maxHamming: Int = graft.operators.Multimodal.DefaultMaxHamming,
      maxQuadsPerBucket: Int = DefaultBucketBudget): StreamingQuery = {
    guardQuadStateSchema(checkpointDir)
    batchKeyedSink(mixedMediaDedupStream(docs, maxHamming, maxQuadsPerBucket),
      outDir, checkpointDir)
  }

  /** The funnel state machine ([[graft.operators.EventsOps.eventsFunnel]])
    * as LIVE streaming state: per-user (first view, first click within the
    * window after it, first purchase within the window after that) advanced
    * by `mapGroupsWithState` as events arrive — the scale form the batch
    * operator's doc promises. State is 3 longs per user, partitioned by
    * user across executors, checkpointed (survives restarts like the
    * near-dup corpus). Within a micro-batch events apply in (t, type)
    * order — the batch fold's exact sort; ACROSS batches the machine
    * assumes event-time-ordered arrival (a stage can never rewind), which
    * is the standard streaming-funnel trade: an out-of-order straggler
    * that would have advanced a stage earlier is missed until the next
    * qualifying event, and the offline batch query is the reconciliation,
    * exactly like the reference's checker pattern (G1/G2). */
  def funnelStream(events: DataFrame, windowSec: Long = 86400): Dataset[FunnelUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val wUs = windowSec * 1000000L
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull
        && col("event_type").isNotNull) // dead-letter guard, like nearDupStream
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val s = advanceFunnel(state.getOption.getOrElse(
            FunnelState(None, None, None)), rows.toSeq.map(r => (r._2, r._3)), wUs)
          state.update(s)
          FunnelUpdate(uid, s.v, s.c, s.p, funnelStage(s))
      }
  }

  /** One funnel state-machine advance over a micro-batch's (type, t)
    * events, applied in (t, type) order — the exact transition
    * [[funnelStream]]'s `mapGroupsWithState` runs, shared with the batch
    * replay harness ([[funnelReplay]]). */
  private[graft] def advanceFunnel(s0: FunnelState,
      events: Seq[(String, Long)], wUs: Long): FunnelState = {
    var s = s0
    events.sortBy(r => (r._2, r._1)).foreach { case (ty, t) =>
      if (s.v.isEmpty && ty == "view") s = s.copy(v = Some(t))
      else if (s.c.isEmpty && s.v.nonEmpty && ty == "click"
        && t > s.v.get && t <= s.v.get + wUs) s = s.copy(c = Some(t))
      else if (s.p.isEmpty && s.c.nonEmpty && ty == "purchase"
        && t > s.c.get && t <= s.c.get + wUs) s = s.copy(p = Some(t))
    }
    s
  }

  private[graft] def funnelStage(s: FunnelState): String =
    if (s.p.nonEmpty) "purchase" else if (s.c.nonEmpty) "click"
    else if (s.v.nonEmpty) "view" else "none"

  /** Runs [[funnelStream]] to a batch-keyed parquet sink (Update mode: each
    * micro-batch emits the refreshed position of every touched user). */
  def funnelQuery(events: DataFrame, outDir: String,
    checkpointDir: String): StreamingQuery =
    batchKeyedSink(funnelStream(events), outDir, checkpointDir, OutputMode.Update())

  /** Streaming gap-sessionization — the live form of the batch
    * [[graft.operators.EventsOps.eventsSession]] (same 30-minute gap, same
    * output row), on Spark's native streaming `session_window` state: an
    * open session absorbs events across micro-batches AND restarts (state
    * lives in the checkpoint), sessions that gap out merge when a
    * bridging event arrives, and a session emits EXACTLY ONCE — in Append
    * mode, only after the event-time watermark passes its close, at which
    * point its state is also dropped (bounded memory; the `watermark`
    * delay is the lateness budget). At scale the state store shards by
    * user exactly like the batch query's one shuffle.
    *
    * The tail trade every append-mode session stream makes: sessions
    * still open (or closed less than `watermark` before the last seen
    * event time) are NOT yet in the sink; the batch query over the same
    * data is the reconciliation, and StreamingSpec asserts emitted rows
    * match it exactly. */
  def sessionStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull) // dead-letter guard
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), graft.Exprs.gsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        unix_timestamp(col("sw.end")).as("session_end"),
        col("n_events"), col("sum_value"))

  /** Runs [[sessionStream]] to an append parquet sink. */
  def sessionQuery(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    sessionStream(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()

  /** A6 streaming form — subscribe to the composite Pub/Sub channel: a drop
    * directory of base64 message lines (one serialized message per line,
    * the push-delivery `message.data` form), decoded ONCE per row with the
    * explicit message schema (`gcs_to_bq/main.py:351-355`). */
  def readMessageStream(spark: SparkSession, dir: String,
    schema: StructType): DataFrame =
    spark.readStream.text(dir)
      .select(graft.operators.Messages.decode(col("value"), schema).as("m"))
      .select(col("m.uuid").as("uuid"), col("m.timestamp").as("file_ts"),
        col("m.pdv_pedido_data").as("pdv_pedido_data"),
        col("m.produto_data").as("produto_data"),
        col("m.pedidos_pesquisa_data").as("pedidos_pesquisa_data"))

  /** The raw-table subscriber as a stream (§3.1 step 3a,
    * `gcs_to_bq/main.py:356-372`): each micro-batch dispatches the decoded
    * message subtrees — `explode(produto_data)` included (D4) — through the
    * SAME `RawTables` loads the file zone uses, into batch-keyed
    * (re-execution-idempotent) sinks. The batch is persisted so the three
    * dispatch branches read one materialized decode. */
  def messageFanOut(messages: DataFrame, pdvDir: String, produtoDir: String,
    pesquisaDir: String, checkpointDir: String): StreamingQuery = {
    import graft.operators.{Messages, RawTables}
    messages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val msg = batch.persist()
        RawTables.pdvFromParsed(Messages.pdvDispatch(msg))
          .write.mode("overwrite").parquet(s"$pdvDir/ingest_batch=$batchId")
        RawTables.produtoFromParsed(Messages.produtoDispatch(msg))
          .write.mode("overwrite").parquet(s"$produtoDir/ingest_batch=$batchId")
        RawTables.pesquisaFromParsed(Messages.pesquisaDispatch(msg))
          .write.mode("overwrite").parquet(s"$pesquisaDir/ingest_batch=$batchId")
        msg.unpersist()
        ()
      }
      .start()
  }

  /** Stream-stream attribution — the watermarked INTERVAL JOIN between two
    * live streams (Spark's stream-stream join, the I-family capability the
    * batch [[graft.operators.Temporal.eventsRangeJoin]] mirrors offline):
    * every 'click' joins the same user's 'view' events from the preceding
    * `horizon`. Both sides carry watermarks and the join condition bounds
    * event time in BOTH directions, so Spark can expire state: a buffered
    * view is dropped once the click-side watermark passes `v_ts + horizon`
    * — state ∝ horizon × arrival rate, not stream length. Inner join ⇒
    * append-safe, rows emit as soon as they match; a view and its click
    * may arrive in different micro-batches (or across a restart) — the
    * checkpointed join state carries the open views, which is what the
    * spec asserts. */
  def attributionJoin(events: DataFrame, horizon: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", horizon)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", horizon)
    clicks.join(views,
      col("c_user") === col("v_user")
        && col("v_ts") <= col("c_ts")
        && col("v_ts") >= col("c_ts") - expr(s"interval $horizon"))
      .select(col("c_user").as("user_id"), col("v_ts"), col("c_ts"))
  }

  /** Runs [[attributionJoin]] to a batch-keyed parquet sink (append mode —
    * inner stream-stream joins emit eagerly). */
  def attributionQuery(events: DataFrame, outDir: String,
      checkpointDir: String, horizon: String = "10 minutes"): StreamingQuery =
    batchKeyedSink(attributionJoin(events, horizon), outDir, checkpointDir)

  /** I6 — watermarked tumbling-window aggregation over the event stream;
    * append mode emits each window once, when the watermark passes it. */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
}
