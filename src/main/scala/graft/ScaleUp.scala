package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness: replicate an SF directory N× into a LOCAL sf-soak dir
  * (default sf0.1 → ./tmpdata/sf1, 10 copies) so scaling exponents above
  * the driver's bench scale can be measured on this box.
  *
  * Each copy shifts every entity key by i·K with
  * K = 1,163,962,800 = 5·lcm(1..20) — divisible by every modulus the
  * query surface uses in `id % m` predicates (all m ≤ 20, 50, 200), so
  * each shifted universe keeps the fixture's exact selectivities, and
  * FK pairs shift together so per-universe join structure is preserved.
  * Non-key payloads (text, embeddings, prices) are byte-identical across
  * copies — deliberately: cross-copy exact/near-duplicate families of
  * size N are the boilerplate-heavy shape a web corpus has at scale, so
  * the dedup family is soaked on its worst realistic input (documented
  * in SCALE.md where it bends an exponent). Dimension tables
  * (region/nation) stay single-copy, as dimensions do.
  *
  * A 4th arg `jitter` perturbs the EMBEDDING vectors of copies i > 0
  * multiplicatively (±2.5%, md5-derived per (shifted vec_id, dim) — an
  * RNG would break replayability) while copy 0 stays byte-identical.
  * Identical clones saturate recall metrics (a query's clone sits at
  * cosine 1.0 and every serving path trivially finds it — documented
  * r13), so the clone fixture can time serving at sf1 but not MEASURE
  * it; the jittered twin gives RecallGrid a non-degenerate sf1 ground
  * truth while keeping corpus geometry (cluster structure, norms)
  * essentially intact. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "tmpdata/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val jitter = args.length > 3 && args(3) == "jitter"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, src, out, copies, jitter)
    spark.stop()
  }

  /** The replication body, callable from specs (the auto-degree spec
    * builds its own sf0.001-jittered mini-fixture). */
  def replicate(spark: SparkSession, src: String, out: String,
      copies: Int, jitter: Boolean): Unit = {
    val K = 1163962800L
    val shifts: Seq[(String, Seq[String])] = Seq(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    shifts.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val scaled =
        if (keys.isEmpty) df
        else (0 until copies).map { i =>
          val shifted = keys.foldLeft(df) { (d, c) =>
            d.withColumn(c, col(c) + lit(i * K))
          }
          if (jitter && t == "embeddings" && i > 0)
            shifted.withColumn("embedding",
              transform(col("embedding"), (x, j) =>
                (x * (lit(1d) + (Exprs.md5num(concat(lit("jit_"),
                  col("vec_id").cast("string"), lit("_"),
                  j.cast("string"))).cast("double")
                  / lit(4294967296d) - lit(0.5d)) * lit(0.05d)))
                  .cast("float")))
          else shifted
        }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t -> $out/$t.parquet")
    }
  }
}
