package graft

/** Dev-only profiler: decomposes one query's cost into its parts.
  * Usage: runMain graft.Profile msgparts|typedparts|typedstages
  * (timing whole named queries is [[TimeOne]]'s job).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = args.headOption.getOrElse("")
    if (!Set("msgparts", "typedparts", "typedstages")(mode)) {
      System.err.println("usage: runMain graft.Profile msgparts|typedparts|typedstages")
      sys.exit(2)
    }
    val spark = Harness.session()
    import org.apache.spark.sql.functions._
    mode match {
      case "msgparts" =>
        // decompose the message channel: producer+encode vs +decode cost
        val synth = graft.operators.Messages.syntheticMessages(spark, sfDir)
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
      case "typedparts" =>
        // decompose the typed order fact: producer vs +parse vs full build
        val raw = graft.operators.Typed.pdvRaw(spark, sfDir)
        val parsed = graft.operators.RawTables.pdv(raw,
          graft.operators.Typed.prunedPdvEnvelopeHeader)
        (1 to 2).foreach { i =>
          var t0 = System.nanoTime()
          raw.agg(sum(length(col("json")))).collect()
          println(f"pdv producer+encode pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          t0 = System.nanoTime()
          parsed.agg(sum(length(col("data"))), sum(size(col("itens")))).collect()
          println(f"+parse(header schema) pass $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          val t = Harness.time(SparkEntry.queries("typed_pedidos_fact")(spark, sfDir))
          println(f"full fact pass $i: $t%.2f s")
        }
      case "typedstages" =>
        // r17: decompose the STAGED-producer order fact — parse+repartition,
        // explode+agg, vendedor branch, full build — to find the residual
        import graft.{operators => ops}
        def time(tag: String)(df: org.apache.spark.sql.DataFrame): Unit =
          (1 to 2).foreach(i => println(f"$tag pass $i: ${Harness.time(df)}%.2f s"))
        val staged = ops.Typed.stagedPdvRaw(spark, sfDir)
        def pdv = ops.RawTables.pdv(staged, ops.Typed.prunedPdvEnvelopeHeader)
          .repartition(col("id"))
        time("parse+repartition")(pdv.select(col("id"), size(col("itens")).as("n")))
        time("explode only")(pdv.select(col("id"),
          posexplode_outer(col("itens")).as(Seq("pos", "item"))))
        val produto = ops.RawTables.produto(ops.Typed.stagedProdutoRaw(spark, sfDir))
          .filter(col("id") % 17 =!= 0)
        val pesquisa = ops.RawTables.pesquisa(ops.Typed.stagedPesquisaRaw(spark, sfDir))
        time("vendedor branch")(pesquisa
          .groupBy(col("id").cast("long").as("pedido_id"))
          .agg(min(struct(col("id_vendedor"), col("nome_vendedor"))).as("v")))
        time("full build")(ops.FactsFromRaw.pedidos(pdv, pesquisa, produto))
    }
    spark.stop()
  }
}
