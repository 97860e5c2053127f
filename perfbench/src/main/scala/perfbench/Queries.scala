package perfbench

import graft.{Hygiene, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** Row count plus an order-independent content hash of a result. Doubles
  * are rendered to 9 significant digits, so that the last-bit differences
  * of a re-ordered floating-point sum do not change the hash. */
object Digest {
  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val s = render(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
  }

  /** Runs the frame's physical plan (`queryExecution.toRdd`, the bench's
    * action) and folds every row into (count, hash). */
  def of(df: DataFrame): (Long, String) = {
    val enc = ExpressionEncoder(RowEncoder.encoderFor(df.schema)).resolveAndBind()
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = enc.createDeserializer()
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(toRow(r)) }
      Iterator((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    (n, f"$h%016x")
  }
}

/** Expected (rows, hash) per query, one JSON object per fixture scale. */
object Expectations {
  private val Entry = "\"([a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"([0-9a-f]+)\"\\s*\\}".r

  def read(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else Entry.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  def write(path: String, e: Map[String, (Long, String)]): Unit = {
    val body = e.toSeq.sortBy(_._1).map { case (k, (n, h)) =>
      s"  ${Json.str(k)}: {\"rows\": $n, \"hash\": ${Json.str(h)}}"
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  /** Digests the per-query parquet dumps of a `graft.Verify` run. */
  def record(spark: SparkSession, verifyDir: String, names: Seq[String],
      out: String): Unit =
    write(out, names.map(n => n -> Digest.of(spark.read.parquet(s"$verifyDir/$n"))).toMap)
}

object QuerySets {
  /** The reference's batch jobs: typed load, fact derive, raw-zone
    * transforms, dimension and reconciliation jobs. */
  val fact: Seq[String] = Seq(
    "typed_pedidos_fact", "typed_itens_fact", "typed_pesquisa", "pedidos_fact",
    "itens_fact", "message_pedidos_fact", "message_itens_fact",
    "message_roundtrip", "raw_unwrap", "raw_explode", "br_dates",
    "filename_keys", "contatos_dim", "enrich_join", "first_match",
    "recon_sets", "set_equality", "dup_resolution", "anti_join_dedupe",
    "folder_completeness")

  /** The extension operators whose cost is mostly driver-side. */
  val analytics: Seq[String] = Seq(
    "kcore_parts", "triangle_parts_t2", "pagerank_parts", "fuzzy_match",
    "curriculum_order", "skew_join_agg", "ann_graph_oos", "bm25_topk",
    "lr_quality", "unigram_lm", "dedup_minhash")

  val all: Seq[String] = fact ++ analytics
}

/** A closed loop over named `SparkEntry.queries`, one client. Each call is
  * the same as `graft.Bench`'s: build the frame, run
  * `queryExecution.toRdd.count()`, then `Hygiene.releaseAll(blocking)`
  * outside the timed window. The seed fixes the order of the queries. */
final class QueryWorkload(val name: String, spark: SparkSession, sfDir: String,
    names: Seq[String], seed: Long, expected: Map[String, (Long, String)],
    cpus: Int) extends Workload {
  private val order = new scala.util.Random(seed).shuffle(names)

  private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

  def prepare(): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    Seq("orders", "lineitem", "part", "customer", "documents", "embeddings", "events")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
  }

  /** Digests every query against its recorded expectation, then runs one
    * serial pass. The digests run `cpus` queries at a time: a first
    * execution in a fresh JVM is mostly single-threaded driver work (code
    * generation, JIT, staged builds), so this warms the same code in a
    * fraction of a serial pass. */
  def warmUp(seconds: Int): Seq[String] = {
    val issues = digestAll()
    // one serial pass with the timed action: the parallel digests leave
    // the first serial pass about a fifth slower than later ones
    order.foreach { q =>
      try build(q).queryExecution.toRdd.count()
      catch { case _: Throwable => () } // the digests already reported it
      finally Hygiene.releaseAll(spark, blocking = true)
    }
    issues
  }

  private def digestAll(): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try {
      val jobs = order.map { q =>
        pool.submit(() => try {
          val got = Digest.of(build(q))
          expected.get(q) match {
            case None => Seq(s"$q: no expectation recorded")
            case Some(e) if e != got => Seq(s"$q: rows/hash $got, expected $e")
            case _ => Seq.empty[String]
          }
        } catch { case e: Throwable => Seq(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") })
      }
      jobs.flatMap(_.get())
    } finally {
      pool.shutdown()
      Hygiene.releaseAll(spark, blocking = true)
    }
  }

  def measure(seconds: Int, tracer: Option[Tracer]): Measurement = {
    val sc = spark.sparkContext
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var buildMs, planMs, execMs = 0.0
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val t0 = Clock.nowMs
    while (passWalls.isEmpty || Clock.nowMs - t0 < seconds * 1000.0) {
      var pass = 0.0
      order.foreach { q =>
        attempted += 1
        sc.setLocalProperty(Tracer.ScopeKey, q)
        try {
          val a = Clock.nowMs
          val df = build(q)
          val b = Clock.nowMs
          // Planning is forced on its own only when traced; untraced, it
          // runs inside toRdd exactly as in graft.Bench.
          if (tracer.isDefined) df.queryExecution.executedPlan
          val c = Clock.nowMs
          val rows = df.queryExecution.toRdd.count()
          val d = Clock.nowMs
          walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += d - a
          pass += d - a
          buildMs += b - a; planMs += c - b; execMs += d - c
          tracer.foreach { t =>
            t.span("query", q, a, d, "")
            t.span("sparkentry.build", q, a, b, "query")
            t.span("catalyst.plan", q, b, c, "query")
            t.span("exec", q, c, d, "query", Map("rows" -> rows.toDouble))
          }
          expected.get(q).filter(_._1 != rows)
            .foreach(e => failures += s"$q: $rows rows, expected ${e._1}")
        } catch { case e: Throwable =>
          failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
        } finally {
          sc.setLocalProperty(Tracer.ScopeKey, null)
          Hygiene.releaseAll(spark, blocking = true)
        }
      }
      passWalls += pass
      System.err.println(f"[perfbench] pass ${passWalls.size}: ${pass / 1000}%.2f s")
    }
    System.err.println("[perfbench] query wall ms: " + order.map(q =>
      s"$q=" + walls.getOrElse(q, Nil).map(_.round).mkString("/")).mkString(" "))
    val passes = passWalls.size.toDouble
    val all = walls.values.flatten.toSeq
    val layers = new Metrics
    tracer.foreach { t =>
      t.drain()
      val ex = t.total(names.contains)
      layers("sparkentry.build_ms") = (buildMs / passes, "ms")
      layers("catalyst.plan_ms") = (planMs / passes, "ms")
      layers("exec.ms") = (execMs / passes, "ms")
      layers("exec.task_cpu_ms") = (ex.cpuMs / passes, "ms")
      layers("exec.task_run_ms") = (ex.runMs / passes, "ms")
      layers("exec.gc_ms") = (ex.gcMs / passes, "ms")
      layers("exec.tasks") = (ex.tasks / passes, "count")
      layers("exec.stages") = (ex.stages / passes, "count")
      layers("exec.input_bytes") = (ex.inputBytes / passes, "B")
      layers("exec.shuffle_read_bytes") = (ex.shuffleRead / passes, "B")
      layers("exec.shuffle_write_bytes") = (ex.shuffleWrite / passes, "B")
      layers("exec.spill_bytes") = (ex.spillBytes / passes, "B")
      layers("exec.busy_frac") =
        (if (execMs > 0) ex.runMs / (execMs * cpus) else 0.0, "ratio")
      walls.foreach { case (q, w) => layers(s"q.$q.wall_ms") = (Stats.median(w.toSeq), "ms") }
    }
    Measurement(
      wallS = Stats.median(passWalls.toSeq) / 1000,
      items = all.size.toLong,
      itemsWindowS = all.sum / 1000,
      latenciesMs = all,
      attempted = attempted,
      failures = failures.toSeq,
      layers = layers,
      check = () => Nil,
      cleanup = () => 0L)
  }
}
