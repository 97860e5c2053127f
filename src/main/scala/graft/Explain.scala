package graft
/** Plan audit: prints the formatted physical plan of selected queries over
  * `$SPARK_GRAFT_SF_DIR` (default sf0.01). */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("itens_fact", "pedidos_fact", "enrich_join")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
