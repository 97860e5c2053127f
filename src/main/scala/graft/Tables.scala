package graft

import graft.operators.Staged
import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet tables (TESTDATA.md).
  *
  * Domain mapping (SURVEY.md §7.2): `orders` ≈ pedidos header, `lineitem` ≈
  * itens, `part` ≈ produto, `customer` ≈ contatos, `supplier/nation/region`
  * for join depth, `events` for streaming, `documents`/`embeddings` for the
  * LLM-pipeline extension operators.
  *
  * Scale notes: every table is read through [[parquet]], the one read path
  * of an immutable parquet source — a `spark.read.schema(known).parquet`
  * scan whose schema is inferred once per content fingerprint
  * ([[graft.operators.Staged.dirKey]]). Catalyst pushes filters + prunes
  * columns into the parquet reader, so every query that composes on top of
  * these inherits pushdown for free. At cluster scale the same code reads a
  * partitioned table directory; nothing here assumes a single file.
  */
object Tables {
  /** Per session (weakly held): canonical path → (the source's
    * [[graft.operators.Staged.dirKey]] when inferred, its schema). */
  private val inferred =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, StructType)]]()

  /** The one read path of an immutable parquet source: fixture tables,
    * staged artifacts and generation-chain tables. A schema-less
    * `spark.read.parquet` runs a one-task Spark job to read a footer every
    * time a query is built; here that inference runs once per (session,
    * canonical path) and again only when the source's content fingerprint,
    * [[graft.operators.Staged.dirKey]] (canonical path, every file's name
    * and size, max mtime — recomputed on every call), moves. A new
    * fingerprint replaces its path's entry, so the map holds one entry per
    * source. Entries are per session because the session's parquet
    * settings steer inference; a session fixes them before its first read
    * ([[SparkEntry.tune]]). Each call returns a fresh relation (fresh
    * expression ids), so self-joins stay distinct; frames are never
    * cached. The inference runs outside any lock. A path that is not a
    * local file or directory, which the fingerprint cannot see, is read
    * schema-less every time: a missing path fails with Spark's own error
    * and nothing is cached for it. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val f = new File(path)
    if (!f.exists()) return spark.read.parquet(path)
    val key = Staged.dirKey(path)
    val entries = inferred.synchronized(inferred.computeIfAbsent(spark,
      _ => new ConcurrentHashMap[String, (String, StructType)]()))
    val canon = f.getCanonicalPath
    val schema = entries.get(canon) match {
      case (`key`, hit) => hit
      case _ =>
        val s = spark.read.parquet(path).schema
        entries.put(canon, (key, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "orders")
  def part(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "part")
  def customer(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "region")
  /** `events.ts` has shipped in two physical layouts: parquet
    * TIMESTAMP(NANOS) — which Spark's vectorized reader rejects unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (SparkEntry.tune and every
    * session builder set it), surfacing the column as a raw nanos long — and
    * plain TIMESTAMP(MICROS), which reads as a native timestamp. This loader
    * dispatches on the read schema: a long gets truncated ns→µs (identical to
    * DuckDB's `CAST(ts AS TIMESTAMP)`, which every events oracle mirrors); a
    * timestamp passes through untouched. Type-dispatching here rather than
    * pinning one layout means a data regeneration can't break every
    * events-derived query at analysis time.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // No-zone micros: the session TZ is pinned UTC (SparkEntry.tune), so
        // the NTZ→LTZ cast is value-identical to the nanos path's
        // timestamp_micros and keeps unix_micros/window() working unchanged.
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = t(spark, sfDir, "embeddings")
}
