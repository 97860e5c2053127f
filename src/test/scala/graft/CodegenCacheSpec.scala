package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

/** `SparkEntry.tune` sizes Spark's JVM-wide cache of compiled generated
  * classes before the first one is compiled, so a working set larger than
  * Spark's default 100 entries is compiled once, not once per pass. */
class CodegenCacheSpec extends SparkSuite {

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass over `n` distinct one-line projections: each inlines its own
    * literal, so each generates code no other query shares. Returns the
    * number of classes compiled during the pass. */
  private def pass(n: Int): Long = {
    val before = compiles
    for (i <- 1 to n) {
      val got = spark.range(2).selectExpr(s"id * $i + 1 AS v").collect().map(_.getLong(0))
      assert(got.toSeq == Seq(1L, i + 1L))
    }
    compiles - before
  }

  test("(a) tune sizes the codegen cache") {
    assert(spark.conf.get(key) == SparkEntry.CodegenCacheEntries.toString)
  }

  test("(b) a second pass over 150 distinct projections compiles nothing") {
    val first = pass(150)
    // more distinct classes than Spark's default cache holds
    assert(first > 100, s"first pass compiled $first classes")
    assert(pass(150) == 0)
  }

  test("(c) a second tune changes nothing; an explicit value is left alone") {
    SparkEntry.tune(spark)
    assert(spark.conf.get(key) == SparkEntry.CodegenCacheEntries.toString)
    assert(pass(150) == 0)
    val user = spark.newSession()
    user.sessionState.conf.setConfString(key, "50")
    SparkEntry.tune(user)
    assert(user.conf.get(key) == "50")
  }
}
