package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session and timed action every `main` shares. */
object Harness {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, the Graft extensions, no UI, and [[SparkEntry.tune]]. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Long-session hygiene beyond Hygiene.releaseAll (which frees only
      // checkpoint blocks): broadcast and shuffle state is reclaimed by
      // the ContextCleaner via WEAK REFERENCES, so with a ~100 GiB heap
      // the JVM may not GC for the whole run and ~1000 accumulated
      // broadcasts (160+ queries × 2+ runs) squeeze the block manager —
      // measured as pagerank_parts 21.6 s mid-bench vs 3.4 s in a short
      // session, its edge checkpoint spilling under storage pressure.
      // Spark's own knob is the periodic forced GC; default 30min never
      // fires inside one bench run.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.tune(spark)
  }

  /** Execute the query's REAL plan. A plain `df.count()` wraps the plan in
    * Aggregate(count(1)) before optimization, so ColumnPruning deletes the
    * projected expression work and EliminateSorts the final orderBy — a
    * map-heavy query would be timed as little more than a parquet row count.
    * `queryExecution.toRdd` runs the physical plan as written (every output
    * column materialized, sorts included); counting the InternalRows adds
    * nothing measurable.
    */
  def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Seconds to build and [[run]] `df`. Then, outside the timed window and
    * blocking so removal completes before the next measurement, the
    * between-run reset: checkpointing operators leave their final
    * lineage-cut blocks pinned, and 135 queries × 2 runs of accumulation
    * was measured to inflate later shuffle-hash queries 10×
    * (triangle_parts 8.5 s fresh vs 103.9 s leaked). */
  def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try { run(df); (System.nanoTime() - t0) / 1e9 }
    finally Hygiene.releaseAll(SparkSession.active, blocking = true)
  }

  /** Locale-pinned fixed-point format: the `f"..%.3f"` interpolator uses
    * the JVM default locale, which on a comma-decimal locale would emit
    * `1,234` inside JSON arrays — invalid JSON. */
  def fmt(t: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(t))

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in oracle SQL would otherwise make the oracle
    * compare's `json.load` fail and silently zero the correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
