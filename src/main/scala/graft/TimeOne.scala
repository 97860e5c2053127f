package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: time named queries in isolation (N runs each) at a given SF.
  * `runMain graft.TimeOne sf0.1 3 typed_itens_fact [more...]`
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    // bare names resolve under the driver's testdata; absolute paths (the
    // ScaleUp soak dirs) pass through
    val sfDir = if (args(0).startsWith("/")) args(0)
      else s"/root/testdata/${args(0)}"
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        // same action as Bench: execute the REAL plan (a plain .count()
        // lets Catalyst prune the projected work and the final sort)
        val c = fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"$n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($c rows)")
        // Bench's between-run reset: leaked checkpoint blocks were measured
        // to inflate later shuffle-hash queries 10× in one JVM
        Hygiene.releaseAll(spark, blocking = true)
      }
    }
    spark.stop()
  }
}
