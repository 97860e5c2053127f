package perfbench

import graft.operators.{Messages, Staged}
import graft.streaming.{EmbeddedLog, Streaming}
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** The fixture's wire as `Messages.syntheticMessages` produces it, staged
  * once per fixture through the program's staged-table store. Runs index
  * it by (order day, uuid) and fetch only the messages they send. */
final class Wire(spark: SparkSession, sfDir: String) {
  private val staged = Staged.parquet(spark, s"perfbench_wire_v1/${Staged.dirKey(sfDir)}") {
    val json = unbase64(col("data")).cast("string")
    Messages.syntheticMessages(spark, sfDir).select(
      get_json_object(json, "$.uuid").as("uuid"),
      datediff(to_date(get_json_object(json, "$.pdv_pedido_data.retorno.pedido.data"),
        "dd/MM/yyyy"), lit("1970-01-01")).as("day"),
      col("data"))
  }

  /** Every message's uuid, in order-date order. */
  val uuids: Array[String] =
    staged.select("uuid", "day").orderBy("day", "uuid").collect().map(_.getString(0))

  /** The wire form of each of `want`, in the order given. */
  def fetch(want: Seq[String]): Seq[(String, String)] = {
    import spark.implicits._
    val data = staged.join(broadcast(want.distinct.toDF("uuid")), "uuid")
      .select("uuid", "data").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    want.map(u => u -> data(u))
  }
}

/** One appended log segment, as the generator saw it. */
final case class Segment(dueMs: Double, appendStartMs: Double,
    appendEndMs: Double, next: Long, msgs: Int)

/** Records each advance of the `facts` group's committed offset, polling
  * `EmbeddedLog.committed` the way an external observer would. */
final class CommitPoller(root: String, topic: String, group: String) {
  val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    var last = -1L
    while (running) {
      val c = EmbeddedLog.committed(root, group, topic, 0)
      if (c > last) { commits.add((Clock.nowMs, c)); last = c }
      Thread.sleep(2)
    }
  }, "perfbench-commit-poller")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join() }

  /** When the committed offset first reached `next`, if it did. */
  def coveredAt(next: Long): Option[Double] = {
    val it = commits.iterator()
    var out: Option[Double] = None
    while (out.isEmpty && it.hasNext) { val (t, c) = it.next(); if (c >= next) out = Some(t) }
    out
  }

  def last: Option[Double] = {
    var out: Option[Double] = None
    commits.forEach(x => out = Some(x._1))
    out
  }
}

/** The streaming fact path (`EmbeddedLog` → `Streaming.logStream` →
  * `Streaming.factApplyBatch`) and the checks both stream workloads share.
  * Every measurement gets its own run directory for the log, sinks and
  * checkpoints, which `cleanup` removes. */
abstract class StreamWorkload(spark: SparkSession, sfDir: String, seed: Long,
    runRoot: File) extends Workload {
  protected val Topic = "pedidos"
  protected val Group = "facts"
  protected val rnd = new scala.util.Random(seed)
  protected var wire: Wire = _
  private var runs = 0
  /** Self-test hook: add a stray row to the pedidos sink before the gate. */
  var corruptSink = false

  def prepare(): Unit = { wire = new Wire(spark, sfDir); batchFacts }

  protected final class Run(tag: String) {
    val dir = new File(runRoot, s"$name-$tag-${runs += 1; runs}")
    val root = new File(dir, "log").getPath
    val ped = new File(dir, "pedidos").getPath
    val itens = new File(dir, "itens").getPath
    val ck = new File(dir, "checkpoint").getPath
    Files.createDirectories(Paths.get(root, Topic, "p0"))
    def end: Long = EmbeddedLog.end(root, Topic, 0)
    def committed: Long = EmbeddedLog.committed(root, Group, Topic, 0)
  }

  /** Segments not yet fully covered by the group's committed offset. */
  protected def backlogSegments(r: Run, segs: Iterable[Segment]): Int = {
    val c = r.committed
    segs.count(_.next > c)
  }

  /** Appends (uuid, wire) records as one segment. */
  protected def append(r: Run, msgs: Seq[(String, String)]): (Double, Double, Long) = {
    val a = Clock.nowMs
    val (_, next) = EmbeddedLog.append(r.root, Topic, 0, msgs)
    (a, Clock.nowMs, next)
  }

  /** The batch fact build over the whole fixture wire
    * (`Messages.messagePedidosFact` / `messageItensFact`), staged once per
    * fixture and program source so that a gate reads it instead of
    * re-decoding the wire. */
  private lazy val batchFacts: Seq[(String, DataFrame)] = {
    val key = s"${Staged.dirKey(sfDir)}-${sys.env.getOrElse("PERFBENCH_SOURCE_HASH", "dev")}"
    Seq(
      "pedidos" -> Staged.parquet(spark, s"perfbench_pedidos_fact_v1/$key")(
        Messages.messagePedidosFact(spark, sfDir)),
      "itens" -> Staged.parquet(spark, s"perfbench_itens_fact_v1/$key")(
        Messages.messageItensFact(spark, sfDir)))
  }

  /** The correctness gate: both sinks equal the batch fact build restricted
    * to the streamed uuids (`exceptAll` both ways), every uuid landed
    * exactly once, and the group is drained to the log end. */
  protected def gate(r: Run, uuids: Set[String]): Seq[String] = {
    import spark.implicits._
    if (corruptSink) {
      val one = spark.read.parquet(r.ped).limit(1).drop("ingest_batch", "dia")
      one.withColumn("dia", col("pedido_dia")).write.partitionBy("dia")
        .parquet(s"${r.ped}/ingest_batch=999999")
    }
    val keep = broadcast(uuids.toSeq.toDF("u"))
    val out = mutable.ArrayBuffer.empty[String]
    val sinks = Map("pedidos" -> r.ped, "itens" -> r.itens)
    batchFacts.foreach { case (n, batch) =>
      val p = sinks(n)
      if (!new File(p).isDirectory) out += s"$n sink missing"
      else {
        val got = spark.read.parquet(p).drop("ingest_batch", "dia").cache()
        val exp = batch.join(keep, col("msg_uuid") === col("u"), "left_semi").cache()
        val extra = got.exceptAll(exp).count()
        val lost = exp.exceptAll(got).count()
        if (extra + lost > 0) out += s"$n sink: $extra unexpected rows, $lost missing rows"
        if (n == "pedidos") {
          val (rows, distinct) = (got.count(), got.select("msg_uuid").distinct().count())
          if (rows != distinct) out += s"pedidos sink: ${rows - distinct} uuids landed twice"
          if (distinct != uuids.size) out += s"pedidos sink: $distinct uuids landed of ${uuids.size} sent"
        }
        got.unpersist(); exp.unpersist()
      }
    }
    if (r.committed != r.end) out += s"group $Group at ${r.committed}, log end ${r.end}"
    out.toSeq
  }

  /** Per-layer numbers read from the engine's progress, the task metrics of
    * the micro-batch scopes and the sinks on disk. */
  protected def layers(t: Tracer, r: Run, segs: Seq[Segment], resends: Int,
      backlogMax: Int, landed: Long): Metrics = {
    t.drain()
    val m = new Metrics
    val prog = t.progress.toArray(Array.empty[Progress]).toSeq.sortBy(_.batchId)
    def per(k: String) = prog.flatMap(_.durations.get(k))
    def mean(v: Seq[Double]) = if (v.isEmpty) 0.0 else v.sum / v.size
    val late = segs.map(s => s.appendStartMs - s.dueMs)
    val sent = segs.map(_.msgs).sum
    m("gen.late_p95_ms") = (Stats.quantile(late, 0.95), "ms")
    m("gen.msgs") = (sent.toDouble, "count")
    m("gen.resends") = (resends.toDouble, "count")
    m("embeddedlog.append_ms") = (mean(segs.map(s => s.appendEndMs - s.appendStartMs)), "ms")
    m("embeddedlog.backlog_segments_max") = (backlogMax.toDouble, "count")
    m("streaming.batches") = (prog.size.toDouble, "count")
    m("streaming.rows_per_batch_p50") = (Stats.median(prog.map(_.rows.toDouble)), "count")
    m("streaming.trigger_p50_ms") = (Stats.median(per("triggerExecution")), "ms")
    m("streaming.trigger_max_ms") = (if (prog.isEmpty) 0.0 else per("triggerExecution").max, "ms")
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      .foreach(k => m(s"streaming.${k}_ms") = (mean(per(k)), "ms"))
    val add = per("addBatch")
    val fa = t.total(Tracer.isBatch)
    m("factapply.ms_p50") = (Stats.median(add), "ms")
    m("factapply.ms_first") = (add.headOption.getOrElse(0.0), "ms")
    m("factapply.ms_last") = (add.lastOption.getOrElse(0.0), "ms")
    m("factapply.task_cpu_ms") = (fa.cpuMs, "ms")
    m("factapply.jobs") = (fa.jobs.toDouble, "count")
    m("factapply.tasks") = (fa.tasks.toDouble, "count")
    m("factapply.input_bytes") = (fa.inputBytes.toDouble, "B")
    m("factapply.input_bytes_last") = (prog.lastOption
      .map(p => t.scopeAgg(s"batch-${p.batchId}").inputBytes.toDouble).getOrElse(0.0), "B")
    val sinks = Seq(new File(r.ped), new File(r.itens))
    val files = sinks.map(s => Dirs.parquetFiles(s).size).sum
    val bytes = sinks.map(Dirs.bytes).sum
    m("factapply.output_files_per_kmsg") = (if (sent > 0) files * 1000.0 / sent else 0.0, "count")
    m("factapply.output_dirs") = (sinks.map(Dirs.partitionDirs(_, "dia")).sum.toDouble, "count")
    m("factapply.output_bytes") = (bytes.toDouble, "B")
    m("factapply.useful_frac") = (if (sent > 0) landed.toDouble / sent else 0.0, "ratio")
    m("sink.bytes_per_msg") = (if (landed > 0) bytes.toDouble / landed else 0.0, "B/msg")
    m
  }

  protected def landed(r: Run): Long =
    if (!new File(r.ped).isDirectory) 0L
    else spark.read.parquet(r.ped).select("msg_uuid").distinct().count()

  /** `startMs` opens the timed window; `lat` holds the latency samples. */
  protected def finish(r: Run, segs: Seq[Segment], resends: Int, uuids: Set[String],
      startMs: Double, poller: CommitPoller, tracer: Option[Tracer],
      backlogMax: Int, attempted: Int, failures: Seq[String], lat: Seq[Double]): Measurement = {
    val lastCommit = poller.last.getOrElse(Clock.nowMs)
    Measurement(
      wallS = (lastCommit - startMs) / 1000,
      // the gate fails the run unless exactly these uuids landed
      items = uuids.size.toLong,
      itemsWindowS = (lastCommit - startMs) / 1000,
      latenciesMs = lat,
      attempted = attempted,
      failures = failures ++ (segs.count(s => poller.coveredAt(s.next).isEmpty) match {
        case 0 => Nil
        case n => Seq(s"$n segments never committed")
      }),
      layers = tracer.map(layers(_, r, segs, resends, backlogMax, landed(r))).getOrElse(new Metrics),
      check = () => gate(r, uuids),
      cleanup = () => { val b = Dirs.bytes(r.dir); Dirs.rmTree(r.dir); b })
  }

  /** One full, untimed measurement: a light warm-up leaves the next
    * stream about two fifths slower than later ones, as the JIT is still
    * compiling the planning and write paths. Its gate is not run. */
  def warmUp(seconds: Int): Seq[String] = {
    val m = measure(seconds, None)
    m.cleanup()
    m.failures.map(e => s"warm-up: $e")
  }
}

/** Open loop at a fixed offered rate: one generator thread appends the wire
  * in order-date order as small segments on a fixed schedule, with a seeded
  * share of resends; the consumer runs under a processing-time trigger. */
final class LiveStream(spark: SparkSession, sfDir: String, seed: Long, runRoot: File)
    extends StreamWorkload(spark, sfDir, seed, runRoot) {
  val name = "live_stream"
  // 20 msg/s: batches cost 2-3 s each whatever their size, so the backlog
  // stays within about one batch of segments
  private val segmentMs = 50.0
  private val perSegment = 1
  private val triggerMs = 500L
  private val resendShare = 0.02

  /** Seeded producer resends: each message is resent with probability
    * `share`, landing `1..span` positions later (clamped to `limit`). */
  private def resendPlan(n: Int, share: Double, span: Int, limit: Int): Seq[(Int, Int)] =
    (0 until n).flatMap { i =>
      if (rnd.nextDouble() < share) Some(i -> math.min(limit - 1, i + 1 + rnd.nextInt(span)))
      else None
    }

  def measure(seconds: Int, tracer: Option[Tracer]): Measurement = {
    val r = new Run("m")
    val nSeg = (seconds * 1000 / segmentMs).toInt
    val need = nSeg * perSegment
    val start = rnd.nextInt(math.max(1, wire.uuids.length - need))
    val msgs = wire.fetch(wire.uuids.slice(start, start + need).toSeq)
    val resends = resendPlan(msgs.length, resendShare, 10 * perSegment, msgs.length)
      .groupBy(_._2).map { case (at, xs) => at -> xs.map(x => msgs(x._1)) }
    val plan = (0 until nSeg).map { k =>
      val own = msgs.slice(k * perSegment, (k + 1) * perSegment).toSeq
      own ++ (k * perSegment until (k + 1) * perSegment).flatMap(i => resends.getOrElse(i, Nil))
    }
    val segs = new java.util.concurrent.ConcurrentLinkedQueue[Segment]()
    @volatile var backlogMax = 0
    tracer.foreach(_.onProgress = _ => {
      backlogMax = math.max(backlogMax, backlogSegments(r, segs.toArray(Array.empty[Segment])))
    })
    // factConsume's composition, under a processing-time trigger
    val query = Streaming.logStream(spark, r.root, Topic).writeStream
      .option("checkpointLocation", r.ck)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (b: DataFrame, id: Long) =>
        Streaming.factApplyBatch(b, id, r.ped, r.itens, r.root, Topic, Group)
      }
      .start()
    val poller = new CommitPoller(r.root, Topic, Group)
    val t0 = Clock.nowMs + 500
    val gen = new Thread(() => plan.zipWithIndex.foreach { case (recs, k) =>
      val due = t0 + k * segmentMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val (a, b, next) = append(r, recs)
      tracer.foreach(_.span("embeddedlog.append", s"segment-$k", a, b, "", Map("due_ms" -> due)))
      segs.add(Segment(due, a, b, next, recs.size))
    }, "perfbench-generator")
    gen.start(); gen.join()
    val deadline = Clock.nowMs + 60000
    while (r.committed < r.end && Clock.nowMs < deadline && query.isActive) Thread.sleep(5)
    val failures = query.exception.map(e => s"stream failed: ${e.getMessage}").toSeq
    query.stop()
    poller.stop()
    tracer.foreach(_.onProgress = _ => ())
    val batches = query.recentProgress.length
    finish(r, segs.toArray(Array.empty[Segment]).toSeq, resends.values.map(_.size).sum,
      msgs.map(_._1).toSet, t0, poller, tracer, backlogMax,
      attempted = nSeg + batches, failures = failures,
      // per segment: from its scheduled append to the commit covering it
      lat = segs.toArray(Array.empty[Segment]).toSeq
        .flatMap(s => poller.coveredAt(s.next).map(_ - s.dueMs)))
  }
}

/** Closed loop: a backlog appended in scattered (folder-listing) order with
  * seeded resends, drained by `Streaming.factConsume` with a fixed
  * `maxFilesPerTrigger`. */
final class BackfillReplay(spark: SparkSession, sfDir: String, seed: Long, runRoot: File)
    extends StreamWorkload(spark, sfDir, seed, runRoot) {
  val name = "backfill_replay"
  // 5 micro-batches of 60 messages: enough for the sink re-scan to show in
  // factapply.ms_last / ms_first within the run budget
  private val backlog = 300
  private val perSegment = 20
  private val filesPerTrigger = 3
  private val resendShare = 0.02

  def measure(seconds: Int, tracer: Option[Tracer]): Measurement = drain(backlog, tracer)

  /** A drain of half the backlog: enough micro-batches to warm the JIT for
    * the measured drain, at half its cost. */
  override def warmUp(seconds: Int): Seq[String] = {
    val m = drain(backlog / 2, None)
    m.cleanup()
    m.failures.map(e => s"warm-up: $e")
  }

  private def drain(n: Int, tracer: Option[Tracer]): Measurement = {
    val r = new Run("m")
    // `n` slots in scattered order; a seeded share of them resend an
    // earlier slot's message, so every run appends the same number
    val slots = mutable.ArrayBuffer.empty[String]
    rnd.shuffle(wire.uuids.toVector).take(n).foreach { u =>
      slots += (if (slots.nonEmpty && rnd.nextDouble() < resendShare) slots(rnd.nextInt(slots.size)) else u)
    }
    val data = wire.fetch(slots.distinct.toSeq).toMap
    val order = slots.map(u => u -> data(u))
    val segs = order.grouped(perSegment).zipWithIndex.map { case (g, k) =>
      val (a, b, next) = append(r, g.toSeq)
      tracer.foreach(_.span("embeddedlog.append", s"segment-$k", a, b, ""))
      Segment(dueMs = a, a, b, next, g.size)
    }.toVector
    @volatile var backlogMax = 0
    tracer.foreach(_.onProgress = _ => {
      backlogMax = math.max(backlogMax, backlogSegments(r, segs))
    })
    val poller = new CommitPoller(r.root, Topic, Group)
    val t0 = Clock.nowMs
    val query = Streaming.factConsume(spark, r.root, Topic, Group, r.ped, r.itens, r.ck,
      Some(filesPerTrigger))
    val failures =
      try { query.awaitTermination(); Nil }
      catch { case e: Throwable => Seq(s"stream failed: ${e.getMessage}") }
    poller.stop()
    tracer.foreach(_.onProgress = _ => ())
    val batches = query.recentProgress.length
    // per micro-batch: from the previous group commit (or the consume
    // start) to this batch's commit
    val commits = poller.commits.toArray(Array.empty[(Double, Long)]).toSeq
      .filter(_._2 > 0).map(_._1)
    finish(r, segs, slots.size - data.size, data.keySet, t0,
      poller, tracer, backlogMax, attempted = segs.size + batches, failures = failures,
      lat = (t0 +: commits).sliding(2).collect { case Seq(a, b) => b - a }.toSeq)
  }
}
