package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Width-controlled soak dirs for the OUTPUT-BOUND heavy tail
  * (`dedup_prefix_join`, `fuzzy_match`): [[ScaleUp]] replicates rows
  * byte-identically, so duplicate-family / block width grows WITH the
  * copy count and any pair-emitting operator's output is quadratic in
  * copies — an output-bound fixture artifact (measured, SCALE.md r10),
  * not engine scaling. Real corpora hold duplication RATE roughly
  * constant as they grow. This variant pins family width to
  * `groupWidth` (the sf1 soak's width) at ANY copy count:
  *
  *  - `documents`: copy i NAMESPACES the vocabulary — every token gets
  *    the group tag `g<i/width>` prefixed. Within a group the corpus is
  *    token-for-token isomorphic to the base dir (identical shingle
  *    counts, identical Jaccard structure — the first cut of this
  *    harness instead INTERLEAVED marker tokens, which created
  *    `(g,w,g)` shingles shared by every doc in the group and blew the
  *    prefix filter's candidate set up superlinearly; measured, killed);
  *    across groups shingle sets are DISJOINT (Jaccard 0), so only the
  *    `groupWidth` copies within a group can pair up;
  *  - `part`: copy i suffixes `p_brand` with `#g<i/width>` — the
  *    (brand, first-name-token) blocking key never matches across
  *    groups, so block size stays `groupWidth` × base.
  *
  * Only the two tables those queries read are written; the sf1-scale
  * baseline dir is built with the SAME transform (one group) so the
  * exponent isolates corpus growth at constant duplication rate. */
object SoakVariant {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "tmpdata/sf10w"
    val copies = if (args.length > 2) args(2).toInt else 100
    val groupWidth = if (args.length > 3) args(3).toInt else 10
    val K = 1163962800L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { i =>
      // '_' delimiter: a bare concat would collide 'g1'+'0abc' with
      // 'g10'+'abc' if base tokens could start with digits — the delimiter
      // makes cross-group disjointness unconditional, not fixture luck
      val g = s"g${i / groupWidth}_"
      docs.withColumn("doc_id", col("doc_id") + lit(i * K))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(lit(g), w)), " "))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[soakvariant] documents -> $out ($copies copies, width $groupWidth)")
    val part = spark.read.parquet(s"$src/part.parquet")
    (0 until copies).map { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * K))
        .withColumn("p_brand",
          concat(col("p_brand"), lit(s"#g${i / groupWidth}")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    println(s"[soakvariant] part -> $out ($copies copies, width $groupWidth)")
    spark.stop()
  }
}
