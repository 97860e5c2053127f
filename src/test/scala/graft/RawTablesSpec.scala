package graft

import graft.operators.{FactsFromRaw, Messages, RawTables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fidelity spec for the typed-nested load + fact build over FIXTURES.md
  * §3-5 payloads, including every quirk called out in SURVEY.md §7.5:
  * per-unit F2, pre-join F2-F4 vs post-join F1 asymmetry, dropped-row
  * semantics, percent item discounts, dual-format header discount, date
  * pass-through. */
class RawTablesSpec extends SparkSuite {
  import spark.implicits._

  private def rawDf(jsons: String*): DataFrame =
    jsons.zipWithIndex.map { case (j, i) => (j, s"uuid-$i", "20240305T141000") }
      .toDF("json", "uuid", "file_ts")

  private val pdvJson =
    """{"retorno":{"status_processamento":"3","pedido":{
      |"id":987654321,"numero":4242,"data":"05/03/2024","frete":0.0,
      |"desconto":"10,00","totalProdutos":100.0,"totalVenda":90.0,
      |"formaPagamento":"credito","situacao":"aprovado",
      |"contato":{"nome":"Ana Souza","cpfCnpj":"123.456.789-00"},
      |"itens":[
      |{"id":1,"idProduto":111,"descricao":"Azeite","valor":"45.00","quantidade":"2.0","desconto":"10"},
      |{"id":2,"idProduto":222,"descricao":"Massa","valor":"10.00","quantidade":"1.0","desconto":"0"},
      |{"id":3,"idProduto":333,"descricao":"Fantasma","valor":"20.00","quantidade":"1.0","desconto":"50"}],
      |"parcelas":[{"formaPagamento":"credito","dataVencimento":"05/04/2024","valor":90.0,"tPag":"03"}]
      |}}}""".stripMargin.replace("\n", "")

  private val produtoJsons = Seq(
    """{"retorno":{"status_processamento":"3","produto":{"id":111,"nome":"Azeite","preco":45.0,"preco_custo":"28.00","categoria":"Mercearia >> Azeites"}}}""",
    """{"retorno":{"status_processamento":"3","produto":{"id":222,"nome":"Massa","preco":10.0,"preco_custo":"5.00","categoria":"Mercearia"}}}""")

  private val pesquisaJson =
    """{"retorno":{"status_processamento":"3","numero_paginas":1,"pedidos":[
      |{"pedido":{"id":"987654321","numero":"4242","data_pedido":"05/03/2024",
      |"data_prevista":"","nome":"Ana Souza","valor":"90.00","id_vendedor":"7",
      |"nome_vendedor":"Bruno Lima","situacao":"Aprovado"}}]}}""".stripMargin.replace("\n", "")

  private def pdv = RawTables.pdv(rawDf(pdvJson))
  private def produto = RawTables.produto(rawDf(produtoJsons: _*))
  private def pesquisa = RawTables.pesquisa(rawDf(pesquisaJson))

  test("pdv load: D6 date normalize + D7 nested parcelas normalize") {
    val r = pdv.select("data", "parcelas").collect()(0)
    assert(r.getString(0) == "2024-03-05")
    val parcela = r.getSeq[org.apache.spark.sql.Row](1).head
    assert(parcela.getAs[String]("dataVencimento") == "2024-04-05")
  }

  test("pesquisa load: D2 explode + D8 empty data_prevista -> null") {
    val r = pesquisa.select("id", "data_pedido", "data_prevista", "nome_vendedor").collect()(0)
    assert(r.getString(0) == "987654321")
    assert(r.getString(1) == "2024-03-05")
    assert(r.isNullAt(2))
    assert(r.getString(3) == "Bruno Lima")
  }

  test("produto load: typed unwrap with number-as-string cost") {
    val r = produto.select("id", "preco_custo", "categoria").orderBy("id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(111L, 222L))
    assert(r(0).getString(1) == "28.00")
  }

  test("itens fact: unmatched produto row dropped; F8/F7 arithmetic exact") {
    val itens = FactsFromRaw.itensPedido(pdv, produto).orderBy("item_id")
    val rows = itens.collect()
    assert(rows.length == 2) // item 3 (idProduto 333) silently dropped
    val azeite = rows(0)
    assert(azeite.getAs[Double]("valor_total") == 90.0)
    // F8: 45/(1-0.10) - 45 = 5.0 per unit; ×2 = 10
    assert(math.abs(azeite.getAs[Double]("desconto_unitario") - 5.0) < 1e-9)
    assert(math.abs(azeite.getAs[Double]("desconto_produto") - 10.0) < 1e-9)
    // F7: header "10,00" -> 10.0 absolute; share uses ALL-items denominator
    // (90+10+20=120), so azeite gets 10 * 90/120 = 7.5
    assert(math.abs(azeite.getAs[Double]("desconto_alocado") - 7.5) < 1e-9)
    assert(azeite.getAs[Double]("custo_total") == 56.0)
    assert(azeite.getAs[String]("categoria_principal") == "Mercearia")
    assert(azeite.getAs[String]("categoria_secundaria") == "Azeites")
  }

  test("pedidos fact: pre-join F2-F4 include the dropped item, F1/F5 exclude it") {
    val r = FactsFromRaw.pedidos(pdv, pesquisa, produto).collect()(0)
    // F2 per-unit quirk incl. ghost item: 20/(1-0.5) = 40 per unit
    assert(math.abs(r.getAs[Double]("valor_sem_desconto") - (50.0 + 10.0 + 40.0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("valor_com_desconto") - 75.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("base_pre_desconto") - 120.0) < 1e-9)
    // F1 cost: only matched items (56 + 5)
    assert(math.abs(r.getAs[Double]("custo_total") - 61.0) < 1e-9)
    // F5 matched-only: azeite 10 + massa 0 — the ghost's 20 (50% on 20.00
    // per unit) is EXCLUDED, exactly like the reference's
    // `total_desconto_produtos += item_data['desconto_produto']` inside the
    // matched branch; all-items semantics would give 30 + header here
    assert(math.abs(r.getAs[Double]("total_desconto_produtos") - 10.0) < 1e-9)
    // F6: + header "10,00" -> 20 total
    assert(math.abs(r.getAs[Double]("desconto_total") - 20.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("valor_lucro") - 29.0) < 1e-9)
    assert(r.getAs[String]("nome_vendedor") == "Bruno Lima")
    assert(r.getAs[String]("vendedor_id") == "7")
  }

  test("typed and message fact builds agree on an order with a complete catalog") {
    val catalog = produtoJsons :+
      """{"retorno":{"status_processamento":"3","produto":{"id":333,"nome":"Fantasma","preco":20.0,"preco_custo":"12.50","categoria":"Outros >> Diversos"}}}"""
    val message = s"""{"pdv_pedido_data":$pdvJson,"produto_data":[${catalog.mkString(",")}],""" +
      s""""pedidos_pesquisa_data":$pesquisaJson,"nota_fiscal_link_data":{"link_nfce":"nfce-1"},""" +
      """"timestamp":"20240305T141000","uuid":"msg-1"}"""
    val wire = Seq(java.util.Base64.getEncoder.encodeToString(
      message.getBytes("UTF-8"))).toDF("data")
    val msg = Messages.decodeForFacts(wire)
    val produtoAll = RawTables.produto(rawDf(catalog: _*))
    def assertSame(typed: DataFrame, fromMessage: DataFrame, key: String,
        expected: Seq[String]): Unit = {
      val shared = typed.columns.filter(fromMessage.columns.contains).toSeq
      assert(shared == expected)
      val a = typed.select(shared.map(col): _*).orderBy(key).collect().toSeq
      val b = fromMessage.select(shared.map(col): _*).orderBy(key).collect().toSeq
      assert(a.nonEmpty)
      assert(a == b)
    }
    val typedItens = FactsFromRaw.itensPedido(pdv, produtoAll)
    assertSame(typedItens, Messages.itensFactOf(msg), "item_id",
      typedItens.columns.filterNot(_ == "descricao").toSeq)
    assert(typedItens.count() == 3) // every item matched
    val typedPedidos = FactsFromRaw.pedidos(pdv, pesquisa, produtoAll)
    assertSame(typedPedidos, Messages.pedidosFactOf(msg), "pedido_id",
      typedPedidos.columns.toSeq)
  }

  test("envelope status gate: non-'3' payloads are filtered out (B3)") {
    val bad = """{"retorno":{"status_processamento":"2","pedido":{"id":1}}}"""
    assert(RawTables.pdv(rawDf(bad)).count() == 0)
  }
}
