package graft

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
    val spark = Harness.session()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { i =>
        println(f"$n run$i: ${Harness.time(fn(spark, sfDir))}%.2f s")
      }
    }
    spark.stop()
  }
}
