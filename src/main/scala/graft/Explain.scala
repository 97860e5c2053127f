package graft
import org.apache.spark.sql.SparkSession
/** Plan audit: prints the formatted physical plan of selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("itens_fact", "pedidos_fact", "enrich_join")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01").explain("formatted")
    }
    spark.stop()
  }
}
