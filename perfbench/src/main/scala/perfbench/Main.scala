package perfbench

import graft.operators.Staged
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's metric names and units, in print order. Every run prints
  * all of one list: the end-to-end list untraced, the per-layer list
  * traced (a layer a workload does not touch reads 0). */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "throughput_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    "gen.late_p95_ms" -> "ms", "gen.msgs" -> "count", "gen.resends" -> "count",
    "embeddedlog.append_ms" -> "ms", "embeddedlog.backlog_segments_max" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_p50_ms" -> "ms", "streaming.trigger_max_ms" -> "ms",
    "streaming.latestOffset_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "streaming.commitOffsets_ms" -> "ms",
    "factapply.ms_p50" -> "ms", "factapply.ms_first" -> "ms", "factapply.ms_last" -> "ms",
    "factapply.task_cpu_ms" -> "ms", "factapply.jobs" -> "count",
    "factapply.tasks" -> "count", "factapply.input_bytes" -> "B",
    "factapply.input_bytes_last" -> "B",
    "factapply.output_files_per_kmsg" -> "count", "factapply.output_dirs" -> "count",
    "factapply.output_bytes" -> "B", "factapply.useful_frac" -> "ratio",
    "sink.bytes_per_msg" -> "B/msg",
    "sparkentry.build_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.tasks" -> "count", "exec.stages" -> "count",
    "exec.input_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.busy_frac" -> "ratio", "staged.builds" -> "count") ++
    QuerySets.fact.map(q => s"q.$q.wall_ms" -> "ms") ++ Seq(
    "driver.peak_heap_mb" -> "MB", "op.latency_p50_ms" -> "ms", "op.latency_p95_ms" -> "ms",
    "trace.overhead_frac" -> "ratio", "trace.spans" -> "count",
    "fail_frac" -> "ratio", "disk.run_bytes" -> "B", "disk.bytes_left" -> "B")
}

final case class Opts(
    workload: String = "",
    seed: Long = 0,
    seconds: Int = 10,
    trace: Boolean = false,
    sfDir: String = "perfbench/data/sf0.001",
    runDir: String = ".perfbench/run",
    corruptSink: Boolean = false,
    record: Option[(String, String)] = None)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--sf" :: v :: t => parse(t, o.copy(sfDir = v))
    case "--run-dir" :: v :: t => parse(t, o.copy(runDir = v))
    case "--corrupt-sink" :: t => parse(t, o.copy(corruptSink = true))
    case "--record-expectations" :: dump :: out :: t => parse(t, o.copy(record = Some((dump, out))))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** Samples the driver's used heap while a timed window is open. */
final class HeapSampler {
  private val mx = ManagementFactory.getMemoryMXBean
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private val thread = new Thread(() => {
    while (running) {
      peakBytes = math.max(peakBytes, mx.getHeapMemoryUsage.getUsed)
      Thread.sleep(5)
    }
  }, "perfbench-heap")
  thread.setDaemon(true)
  thread.start()
  def stop(): Double = { running = false; thread.join(); peakBytes / 1048576.0 }
}

object Main {
  /** Runs `body`, logging its wall time to stderr. */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally System.err.println(f"[perfbench] $name: ${(Clock.nowMs - t0) / 1000}%.2f s")
  }

  private def loadavg: String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage.toString }

  def session(cpus: Int, runDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.tune(spark)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args.toList)
    val code =
      try run(o)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        2
      }
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val runDir = new File(o.runDir)
    val load0 = loadavg
    val spark = session(cpus, runDir)
    o.record.foreach { case (dump, out) =>
      Expectations.record(spark, dump, QuerySets.all, out)
      return 0
    }
    val sessionMs = Clock.nowMs - jvmStart
    val sfName = new File(o.sfDir).getName
    val expected = Expectations.read(s"perfbench/expected/$sfName.json")
    val work = new File(runDir, "work")
    val w: Workload = o.workload match {
      case "fact_queries" =>
        new QueryWorkload(o.workload, spark, o.sfDir, QuerySets.fact, o.seed, expected, cpus)
      case "analytics_queries" =>
        new QueryWorkload(o.workload, spark, o.sfDir, QuerySets.analytics, o.seed, expected, cpus)
      case "live_stream" => new LiveStream(spark, o.sfDir, o.seed, work)
      case "backfill_replay" => new BackfillReplay(spark, o.sfDir, o.seed, work)
      case x => throw new IllegalArgumentException(s"unknown workload $x")
    }
    w match { case s: StreamWorkload => s.corruptSink = o.corruptSink; case _ => () }

    // Set-up: the session once, the repeatable preparation three times
    // (median), then one warm-up pass.
    val prepMs = (1 to 3).map { _ => val a = Clock.nowMs; w.prepare(); Clock.nowMs - a }
    val warm0 = Clock.nowMs
    val warmIssues = w.warmUp(o.seconds)
    val warmMs = Clock.nowMs - warm0
    val setupS = (sessionMs + Stats.median(prepMs) + warmMs) / 1000
    System.err.println(f"[perfbench] setup: session ${sessionMs / 1000}%.2f s, " +
      f"prepare ${prepMs.map(_ / 1000).mkString(", ")} s, warm-up ${warmMs / 1000}%.2f s")

    val stagedRoot = new File(sys.env.getOrElse("GRAFT_STAGED_ROOT", "tmpdata/graft_staged"))
    val staged0 = Dirs.stagedTables(stagedRoot)
    val plain = phase("measure")(w.measure(o.seconds, None))
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    var peakHeapMb = 0.0
    val traced = tracer.map { t =>
      t.start()
      val heap = new HeapSampler
      try phase("traced measure")(w.measure(o.seconds, Some(t)))
      finally { peakHeapMb = heap.stop(); t.stop() }
    }
    val stagedBuilds = Dirs.stagedTables(stagedRoot) - staged0

    val measured = plain +: traced.toSeq
    val issues = warmIssues ++ phase("correctness gate")(measured.flatMap(m => m.failures ++ m.check()))
    val runBytes = measured.map(_.cleanup()).sum
    val bytesLeft = Dirs.bytes(work)
    Dirs.rmTree(work)
    // operations, plus one correctness gate per measurement and the warm-up's
    val attempted = measured.map(_.attempted).sum + measured.size + 1
    issues.foreach(i => System.err.println(s"[perfbench] MISMATCH $i"))

    val metrics = new Metrics
    traced match {
      case None =>
        metrics("setup_s") = (setupS, "s")
        metrics("wall_s") = (plain.wallS, "s")
        metrics("throughput_per_s") = (plain.items / plain.itemsWindowS, "1/s")
      case Some(t) =>
        val live = o.workload == "live_stream"
        Catalog.perLayer.foreach { case (k, u) => metrics(k) = t.layers.values.getOrElse(k, (0.0, u)) }
        t.layers.values.foreach { case (k, vu) => metrics(k) = vu }
        metrics("driver.peak_heap_mb") = (peakHeapMb, "MB")
        metrics("op.latency_p50_ms") = (Stats.quantile(t.latenciesMs, 0.50), "ms")
        metrics("op.latency_p95_ms") = (Stats.quantile(t.latenciesMs, 0.95), "ms")
        metrics("staged.builds") = (stagedBuilds.toDouble, "count")
        metrics("trace.overhead_frac") = (t.headline(live) / plain.headline(live) - 1, "ratio")
        metrics("trace.spans") = (tracer.get.spans.size.toDouble, "count")
        metrics("fail_frac") = (issues.size.toDouble / attempted, "ratio")
        metrics("disk.run_bytes") = (runBytes.toDouble, "B")
        metrics("disk.bytes_left") = (bytesLeft.toDouble, "B")
    }

    val provenance = Json.render(mutable.LinkedHashMap[String, Any](
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "dirty" -> sys.env.getOrElse("PERFBENCH_DIRTY", "unknown"),
      "source_hash" -> sys.env.getOrElse("PERFBENCH_SOURCE_HASH", "unknown"),
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "fixture" -> o.sfDir,
      "fixture_dir_key" -> Staged.dirKey(o.sfDir),
      "workload" -> o.workload,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "loadavg_before" -> load0,
      "loadavg_after" -> loadavg,
      "setup_ms" -> Map("session" -> sessionMs, "prepare_median" -> Stats.median(prepMs),
        "warm_up" -> warmMs),
      "samples" -> Map("latency" -> plain.latenciesMs.size, "items" -> plain.items),
      "issues" -> issues))
    println(s"# provenance $provenance")
    tracer.foreach { t =>
      val dir = new File(".perfbench/traces")
      dir.mkdirs()
      val f = new File(dir, s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}.json")
      val spans = t.spans.toArray(Array.empty[Span]).sortBy(_.startMs).map(_.json)
      java.nio.file.Files.writeString(f.toPath,
        s"""{"provenance":$provenance,"metrics":${metrics.json},"spans":[${spans.mkString(",\n")}]}""" + "\n")
      println(s"# spans ${f.getPath}")
    }
    val correct = issues.isEmpty
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":${issues.size},"metrics":${metrics.json}}""")
    if (correct) 0 else 1
  }
}
