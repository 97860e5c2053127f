package graft
/** Plan audit: prints the formatted physical plan of selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("itens_fact", "pedidos_fact", "enrich_join")
    val spark = Harness.session()
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
