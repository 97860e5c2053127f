package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One timed interval. Every span of one query or micro-batch carries the
  * same `scope`: the query name, or `batch-<id>` for a micro-batch. */
final case class Span(name: String, scope: String, startMs: Double,
    endMs: Double, parent: String, attrs: Map[String, Double] = Map.empty) {
  def json: String = Json.render(Map(
    "name" -> name, "scope" -> scope, "start_ms" -> startMs, "end_ms" -> endMs,
    "parent" -> parent, "attrs" -> attrs))
}

/** Task metrics summed over every task attributed to one scope. */
final class ScopeAgg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuMs = 0.0; var runMs = 0.0; var gcMs = 0.0
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spillBytes = 0L
  def +=(o: ScopeAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuMs += o.cpuMs; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spillBytes += o.spillBytes
  }
}

/** One `StreamingQueryProgress`, reduced to what the metrics read. */
final case class Progress(batchId: Long, startMs: Double, rows: Long,
    durations: Map[String, Double])

/** The traced run's recorder: a `SparkListener` (jobs, stages, task
  * metrics), a `StreamingQueryListener` (micro-batch phase durations) and
  * the benchmark's own timers around each call into a layer. Spans stay in
  * memory and are written out when the run ends.
  *
  * Jobs are attributed to a scope through local properties: the benchmark
  * sets [[ScopeKey]] around each query call, and the micro-batch engine sets
  * `streaming.sql.batchId` on every job it runs for a batch. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** Called on the listener thread after each micro-batch's progress. */
  @volatile var onProgress: Progress => Unit = _ => ()
  private val aggs = new ConcurrentHashMap[String, ScopeAgg]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()

  private def agg(scope: String): ScopeAgg = aggs.computeIfAbsent(scope, _ => new ScopeAgg)

  def span(name: String, scope: String, startMs: Double, endMs: Double,
      parent: String, attrs: Map[String, Double] = Map.empty): Unit =
    spans.add(Span(name, scope, startMs, endMs, parent, attrs))

  /** Sum of the task metrics of every scope accepted by `p`. */
  def total(p: String => Boolean): ScopeAgg = {
    val out = new ScopeAgg
    aggs.asScala.foreach { case (k, v) => if (p(k)) v.synchronized(out += v) }
    out
  }

  def scopeAgg(scope: String): ScopeAgg = {
    val out = new ScopeAgg
    Option(aggs.get(scope)).foreach(v => v.synchronized(out += v))
    out
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val scope = scopeOf(e.properties)
      e.stageIds.foreach(id => stageScope.put(id, scope))
      jobStart.put(e.jobId, (scope, e.time.toDouble))
      val a = agg(scope); a.synchronized(a.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (scope, t0) =>
        span("job", scope, t0, e.time.toDouble, scope, Map("job_id" -> e.jobId.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val scope = Option(stageScope.get(info.stageId)).getOrElse(Unscoped)
      val a = agg(scope); a.synchronized(a.stages += 1)
      for (s <- info.submissionTime; c <- info.completionTime)
        span("stage", scope, s.toDouble, c.toDouble, "job",
          Map("stage_id" -> info.stageId.toDouble, "tasks" -> info.numTasks.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = agg(Option(stageScope.get(e.stageId)).getOrElse(Unscoped))
        a.synchronized {
          a.tasks += 1
          a.cpuMs += m.executorCpuTime / 1e6
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Engine phases in the order a micro-batch runs them; `durationMs`
    * carries lengths only, so child spans are laid end to end from the
    * trigger start (`approx_start` marks that). */
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val pr = Progress(p.batchId, start, p.numInputRows, d)
      progress.add(pr)
      val scope = s"batch-${p.batchId}"
      val trigger = d.getOrElse("triggerExecution", 0.0)
      span("trigger", scope, start, start + trigger, "",
        Map("rows" -> p.numInputRows.toDouble))
      var t = start
      phases.foreach { ph =>
        d.get(ph).foreach { ms =>
          span(ph, scope, t, t + ms, "trigger", Map("approx_start" -> 1.0))
          t += ms
        }
      }
      onProgress(pr)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def stop(): Unit = {
    drain()
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Tracer {
  /** Local property naming the scope of the jobs a call runs. */
  val ScopeKey = "perfbench.scope"
  val Unscoped = "unscoped"

  def scopeOf(props: Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _)
        .orElse(Option(p.getProperty(ScopeKey)))
    }.getOrElse(Unscoped)

  def isBatch(scope: String): Boolean = scope.startsWith("batch-")
}
