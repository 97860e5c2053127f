package graft

import org.apache.spark.sql.SparkSession

/** Dev-only profiler: time named queries and dump formatted plans.
  * Usage: runMain graft.Profile <query>[,<query>...] [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("msgparts")) {
      // decompose the message channel: producer+encode vs +decode cost
      import org.apache.spark.sql.functions._
      val s = SparkEntry.tune(spark)
      val synth = graft.operators.Messages.syntheticMessages(s, sfDir)
      val schema = graft.operators.Messages.fullMessageSchema
      (1 to 2).foreach { i =>
        var t0 = System.nanoTime()
        synth.agg(sum(length(col("data")))).collect()
        println(f"producer+encode pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        t0 = System.nanoTime()
        synth.select(graft.operators.Messages.decode(col("data"), schema).as("m"))
          .agg(sum(length(col("m.uuid")))).collect()
        println(f"+decode(full) pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("typedparts")) {
      // decompose the typed order fact: producer vs +parse vs full build
      import org.apache.spark.sql.functions._
      val s = SparkEntry.tune(spark)
      val raw = graft.operators.Typed.pdvRaw(s, sfDir)
      val parsed = graft.operators.RawTables.pdv(raw,
        graft.operators.Typed.prunedPdvEnvelopeHeader)
      (1 to 2).foreach { i =>
        var t0 = System.nanoTime()
        raw.agg(sum(length(col("json")))).collect()
        println(f"pdv producer+encode pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        t0 = System.nanoTime()
        parsed.agg(sum(length(col("data"))), sum(size(col("itens")))).collect()
        println(f"+parse(header schema) pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        t0 = System.nanoTime()
        val n = SparkEntry.queries("typed_pedidos_fact")(s, sfDir)
          .queryExecution.toRdd.count()
        println(f"full fact pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("typedstages")) {
      // r17: decompose the STAGED-producer order fact — parse+repartition,
      // explode+agg, vendedor branch, full build — to find the residual
      import org.apache.spark.sql.functions._
      val s = SparkEntry.tune(spark)
      import graft.{operators => ops}
      def time(tag: String)(df: org.apache.spark.sql.DataFrame): Unit =
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          val n = df.queryExecution.toRdd.count()
          println(f"$tag pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
          Hygiene.releaseAll(s, blocking = true)
        }
      val staged = ops.Typed.stagedPdvRaw(s, sfDir)
      def pdv = ops.RawTables.pdv(staged, ops.Typed.prunedPdvEnvelopeHeader)
        .repartition(col("id"))
      time("parse+repartition")(pdv.select(col("id"), size(col("itens")).as("n")))
      time("explode only")(pdv.select(col("id"),
        posexplode_outer(col("itens")).as(Seq("pos", "item"))))
      val produto = ops.RawTables.produto(ops.Typed.stagedProdutoRaw(s, sfDir))
        .filter(col("id") % 17 =!= 0)
      val pesquisa = ops.RawTables.pesquisa(ops.Typed.stagedPesquisaRaw(s, sfDir))
      time("vendedor branch")(pesquisa
        .groupBy(col("id").cast("long").as("pedido_id"))
        .agg(min(struct(col("id_vendedor"), col("nome_vendedor"))).as("v")))
      time("full build")(ops.FactsFromRaw.pedidos(pdv, pesquisa, produto))
      spark.stop(); return
    }
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("message_roundtrip"))
    val doExplain = args.length > 1 && args(1) == "explain"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (doExplain) {
        println(s"===== PLAN $name =====")
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        // same action as Bench: run the REAL plan, not the count-pruned one
        val n = fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"$name pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
