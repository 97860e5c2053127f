package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.Files

/** Loader regression guard for the `events.ts` physical-layout drift that
  * broke 16 queries in one round: the driver's parquet has shipped as
  * TIMESTAMP(NANOS) — which, under the session-wide
  * `spark.sql.legacy.parquet.nanosAsLong=true`, surfaces as a raw LONG of
  * nanoseconds — as TIMESTAMP(MICROS) (native timestamp), and could ship
  * NTZ. `Tables.events` dispatches on the read schema; this spec stages all
  * three layouts and asserts they produce the SAME timestamps, so a data
  * regeneration cannot take the events family down at analysis time again.
  * (Spark cannot write TIMESTAMP(NANOS) parquet itself, so the nanos
  * fixture is staged exactly as the legacy flag surfaces it: a LONG `ts`.)
  *
  * It also pins [[Tables.parquet]]'s contract: query construction starts
  * no Spark job once a source's schema is known, and the known schema
  * never outlives the source's content, its session or a missing path.
  */
class TablesSpec extends SparkSuite {

  test("Tables.events reads every shipped ts layout to identical timestamps") {
    import spark.implicits._
    val base = Files.createTempDirectory("events_layouts").toString
    val micros = Seq(1700000000123456L, 1700000360654321L, 1700003600000000L)
    val m = micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), lit(1L).as("event_id"))
    m.write.parquet(s"$base/micros/events.parquet")
    micros.map(_ * 1000L).toDF("ts").withColumn("event_id", lit(1L))
      .write.parquet(s"$base/nanos/events.parquet")
    m.select(col("ts").cast(TimestampNTZType).as("ts"), col("event_id"))
      .write.parquet(s"$base/ntz/events.parquet")
    val read = Seq("micros", "nanos", "ntz").map { layout =>
      val df = Tables.events(spark, s"$base/$layout")
      assert(df.schema("ts").dataType == TimestampType,
        s"$layout layout must normalize ts to TIMESTAMP, " +
          s"got ${df.schema("ts").dataType}")
      layout -> df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
    }
    read.foreach { case (layout, got) =>
      assert(got == micros.sorted, s"$layout layout drifted: $got")
    }
  }

  /** The reference's 20 batch jobs (the benchmark's fact-query set). */
  private val factQueries = Seq(
    "typed_pedidos_fact", "typed_itens_fact", "typed_pesquisa", "pedidos_fact",
    "itens_fact", "message_pedidos_fact", "message_itens_fact",
    "message_roundtrip", "raw_unwrap", "raw_explode", "br_dates",
    "filename_keys", "contatos_dim", "enrich_join", "first_match",
    "recon_sets", "set_equality", "dup_resolution", "anti_join_dedupe",
    "folder_completeness")

  test("a second build of each reference batch job starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (probeKey, sentinelKey) = ("graft.tables.probe", "graft.tables.sentinel")
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(sentinelKey) != null) sentinelSeen = true
          Option(p.getProperty(probeKey)).foreach(q => jobs.merge(q, 1,
            (a: Int, b: Int) => a + b))
        }
    }
    factQueries.foreach(q => SparkEntry.queries(q)(spark, sfDir))
    sc.addSparkListener(listener)
    try {
      factQueries.foreach { q =>
        sc.setLocalProperty(probeKey, q)
        try SparkEntry.queries(q)(spark, sfDir)
        finally sc.setLocalProperty(probeKey, null)
      }
      // a marked job after the builds: once the listener sees it, every
      // earlier job start has been delivered
      sc.setLocalProperty(sentinelKey, "1")
      try spark.range(1).count()
      finally sc.setLocalProperty(sentinelKey, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener bus never drained")
    } finally {
      sc.removeSparkListener(listener)
      Hygiene.releaseAll(spark, blocking = true)
    }
    assert(jobs.isEmpty, s"jobs started while building: $jobs")
  }

  test("Tables.parquet re-infers a source rewritten in place") {
    import spark.implicits._
    val dir = Files.createTempDirectory("events_rewrite").toString
    val micros = Seq(1700000000123456L, 1700000360654321L)
    val m = micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), lit(1L).as("event_id"))
    m.write.parquet(s"$dir/events.parquet")
    assert(Tables.t(spark, dir, "events").schema("ts").dataType == TimestampType)
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    // same path, NTZ layout plus a column
    m.select(col("ts").cast(TimestampNTZType).as("ts"), col("event_id"),
      lit("x").as("added"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = Tables.t(spark, dir, "events")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      s"stale schema after an in-place rewrite: ${raw.schema}")
    assert(raw.columns.contains("added"))
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted ==
      micros.sorted)
  }

  test("Tables.parquet serves no entry across sessions with other parquet settings") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // an unannotated binary column and no Spark schema in the footer (a
    // file Spark writes carries one, and it overrides binaryAsString)
    val path = Files.createTempDirectory("binary_as_string").toString + "/t.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq("a", "b").foreach(v => writer.write(rows.newGroup().append("b", v)))
    finally writer.close()
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.parquet(other, path).schema("b").dataType == StringType)
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
  }

  test("Tables.parquet fails on a missing path, and caches no failure") {
    import spark.implicits._
    val path = Files.createTempDirectory("missing").toString + "/t.parquet"
    intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, path))
    Seq(1L, 2L).toDF("x").write.parquet(path)
    assert(Tables.parquet(spark, path).count() == 2L)
  }
}
