package graft

import graft.operators.{FactsFromRaw, RawTables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Historical-backfill verification (SURVEY.md §3.2, a `main`): stages
  * pdv/produto payloads as a JSON raw zone, replays it in BATCH through the
  * exact same shared transforms the streaming path uses (RawTables →
  * FactsFromRaw), applies the C4 anti-join against an already-processed set,
  * and checks counts against the base tables — the batch/streaming
  * unification claim, executed. Usage: `runMain graft.BackfillDemo [sfDir]`.
  */
object BackfillDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // tune() = the engine's session contract — in particular ANSI OFF: the
    // fact builds push malformed discount strings through lenient casts
    // (the reference's try/except float semantics); with Spark 4's ANSI
    // default any value-level evaluation would raise CAST_INVALID_INPUT.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("graft-backfill").toString

    // --- stage the raw zone from the test tables (same payload shape the
    // typed oracle query uses)
    graft.operators.Typed.stagePdvZone(spark, sfDir, s"$work/pdv")
    graft.operators.Typed.stageProdutoZone(spark, sfDir, s"$work/produto")

    // --- batch replay through the SAME functions as streaming/typed path
    val rawPdv = spark.read.text(s"$work/pdv")
      .select(col("value").as("json"), md5(col("value")).as("uuid"),
        lit("20240101T000000").as("file_ts")) // synthetic backfill timestamp (I5)
    val rawProduto = spark.read.text(s"$work/produto")
      .select(col("value").as("json"), md5(col("value")).as("uuid"),
        lit("20240101T000000").as("file_ts"))
    val pdv = RawTables.pdv(rawPdv).repartition(col("id"))
    val produto = RawTables.produto(rawProduto)

    // C4: skip orders already processed (every 7th)
    val processed = pdv.select(col("id")).filter(col("id") % 7 === 0)
    val replay = pdv.join(processed.withColumnRenamed("id", "pid"),
      col("id") === col("pid"), "left_anti")

    val itens = FactsFromRaw.itensPedido(replay, produto)
    val gotItens = itens.count()
    val expectedItens = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 7 =!= 0).count()
    val gotOrders = replay.count()
    // pdv envelopes exist only for orders that have line items
    val expectedOrders = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey")).distinct()
      .filter(col("l_orderkey") % 7 =!= 0).count()

    var failed = false
    def check(name: String, cond: Boolean, detail: String): Unit = {
      println(s"[backfill-verify] ${if (cond) "OK  " else "FAIL"} $name ($detail)")
      if (!cond) failed = true
    }
    check("anti-join skips processed orders", gotOrders == expectedOrders,
      s"replay=$gotOrders expected=$expectedOrders")
    check("itens fact from replayed zone", gotItens == expectedItens,
      s"itens=$gotItens expected=$expectedItens")
    check("synthetic T000000 backfill marker",
      replay.filter(Exprs.isSyntheticTs(col("file_ts"))).count() == gotOrders,
      "I5 prefer-live rule input")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
