package graft.operators

import graft.{Schemas, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Oracle-gated wrappers over the typed-nested path: fixture-shaped pdv /
  * produto / pesquisa JSON payloads are synthesized from the TPC-H tables
  * (once per corpus, into a [[Staged]] raw zone — see [[stagedPdvRaw]]),
  * pushed through the real `RawTables` loads (explicit-schema
  * `from_json`) and `FactsFromRaw` fact builds, and the result is
  * hash-checked against a DuckDB oracle computing the same arithmetic
  * directly from the base tables. Every Spark double→string→double
  * round-trip is lossless (shortest-roundtrip rendering), so the JSON
  * detour changes nothing numerically.
  */
object Typed {

  /** The synthesized order item struct, from lineitem columns (numbers as
    * strings, per-item percent discount from `l_partkey % 30`). Shared with
    * the Pub/Sub message producer ([[Messages]]). */
  private[graft] def itemStruct: Column = struct(
    col("l_linenumber").cast("long").as("id"),
    col("l_partkey").as("idProduto"),
    concat(lit("item "), col("l_partkey").cast("string")).as("descricao"),
    (col("l_extendedprice") / col("l_quantity")).cast("string").as("valor"),
    col("l_quantity").cast("string").as("quantidade"),
    (col("l_partkey") % 30).cast("string").as("desconto"))

  /** [[itemStruct]] shape over a slim pre-aggregated row (fields `id`,
    * `idProduto`, `valor`, `quantidade`) — the message producer shuffles
    * raw fields and wraps AFTER the collect_list ([[Messages]]). */
  private[graft] def itemStructFromRow(r: Column): Column = struct(
    r.getField("id").as("id"),
    r.getField("idProduto").as("idProduto"),
    concat(lit("item "), r.getField("idProduto").cast("string")).as("descricao"),
    r.getField("valor").as("valor"),
    r.getField("quantidade").as("quantidade"),
    (r.getField("idProduto") % 30).cast("string").as("desconto"))

  /** [[produtoEnvelope]] shape over the same slim row (fields `idProduto`,
    * `nome`, `preco_custo`, `brand`, `ptype`). */
  private[graft] def produtoEnvelopeFromRow(r: Column): Column = struct(struct(
    lit("3").as("status_processamento"),
    struct(
      r.getField("idProduto").as("id"),
      r.getField("nome").as("nome"),
      r.getField("preco_custo").as("preco_custo"),
      concat(r.getField("brand"), lit(" >> "), r.getField("ptype")).as("categoria")
    ).as("produto")).as("retorno"))

  /** The pdv envelope struct, from orders columns + an assembled `itens[]`
    * column; header dual-format discount reused from
    * [[Facts.descontoPedidoStr]]. */
  private[operators] def pdvEnvelope(itens: Column): Column = struct(struct(
    lit("3").as("status_processamento"),
    struct(
      col("o_orderkey").as("id"),
      date_format(col("o_orderdate"), "dd/MM/yyyy").as("data"),
      Facts.descontoPedidoStr.as("desconto"),
      col("o_totalprice").as("totalVenda"),
      element_at(typedlit(Seq("credito", "boleto", "pix")),
        (pmod(col("o_orderkey"), lit(3)) + 1).cast("int")).as("formaPagamento"),
      struct(col("o_custkey").cast("string").as("cpfCnpj")).as("contato"),
      itens).as("pedido")).as("retorno"))

  /** pdv envelopes: one per order. Slim assembly (the same trick as
    * [[Messages.syntheticMessages]], measured ~2× cheaper there): the
    * collect_list shuffle carries RAW fields only; the derivable strings
    * (`descricao`, `desconto`) are applied post-aggregation by
    * [[itemStructFromRow]]. Item order is unchanged — the sort key still
    * leads with the per-order-unique line number. */
  private[graft] def pdvRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val itens = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), struct(
        col("l_linenumber").cast("long").as("id"),
        col("l_partkey").as("idProduto"),
        (col("l_extendedprice") / col("l_quantity")).cast("string").as("valor"),
        col("l_quantity").cast("string").as("quantidade")).as("item"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("item"))).as("rows"))
      .select(col("l_orderkey"),
        transform(col("rows"), itemStructFromRow _).as("itens"))
    Tables.orders(spark, sfDir)
      .join(itens, col("o_orderkey") === col("l_orderkey"))
      .select(to_json(pdvEnvelope(col("itens"))).as("json"),
        md5(col("o_orderkey").cast("string")).as("uuid"),
        lit("20240305T141000").as("file_ts"))
  }

  /** One pesquisa search-result entry, from orders columns (ids as strings,
    * as the pesquisa payload sends them; empty `data_prevista` for
    * `o_orderkey % 4 == 0`). Shared with the message producer. */
  private[operators] def pesquisaEntry(vendedorId: Column): Column = struct(struct(
    col("o_orderkey").cast("string").as("id"),
    date_format(col("o_orderdate"), "dd/MM/yyyy").as("data_pedido"),
    when(col("o_orderkey") % 4 === 0, lit(""))
      .otherwise(date_format(date_add(col("o_orderdate"), 7), "dd/MM/yyyy"))
      .as("data_prevista"),
    vendedorId.cast("string").as("id_vendedor"),
    concat(lit("vend "), vendedorId.cast("string")).as("nome_vendedor"))
    .as("pedido"))

  /** pesquisa envelopes — paginated search results, ~n/64 orders per page
    * payload, matching `gcs_to_bq/main.py:294-316`'s array-of-pedidos shape:
    *  - orders with `o_orderkey % 7 == 0` are ABSENT (C3 left-join nulls);
    *  - orders with `o_orderkey % 5 == 0` appear TWICE with different
    *    vendedores (G3 first-match must pick deterministically);
    *  - `data_prevista` is the empty string for `o_orderkey % 4 == 0`
    *    (D8 empty→null at data scale);
    *  - ids/vendedor ids are strings, as the pesquisa payload sends them. */
  private def pesquisaRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 7 =!= 0)
    val rows = base.select(col("o_orderkey"), pesquisaEntry(col("o_custkey") % 100).as("p"))
      .unionByName(base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), pesquisaEntry(col("o_custkey") % 100 + 1).as("p")))
    rows.groupBy(pmod(col("o_orderkey"), lit(64)).as("page"))
      .agg(sort_array(collect_list(col("p"))).as("pedidos"))
      .select(to_json(struct(struct(
        lit("3").as("status_processamento"),
        lit(64L).as("numero_paginas"),
        col("pedidos")).as("retorno"))).as("json"),
        md5(concat(lit("pesq"), col("page").cast("string"))).as("uuid"),
        lit("20240305T141000").as("file_ts"))
  }

  /** The produto envelope struct, from part columns. Shared with the
    * message producer, which carries one envelope per order item (D4). */
  private[graft] def produtoEnvelope: Column = struct(struct(
    lit("3").as("status_processamento"),
    struct(
      col("p_partkey").as("id"),
      col("p_name").as("nome"),
      col("p_retailprice").cast("string").as("preco_custo"),
      concat(col("p_brand"), lit(" >> "), col("p_type")).as("categoria")
    ).as("produto")).as("retorno"))

  private def produtoRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).select(to_json(produtoEnvelope).as("json"),
      md5(col("p_partkey").cast("string")).as("uuid"),
      lit("20240305T141000").as("file_ts"))

  /** The synthesized raw zones as STAGED artifacts (built once per corpus,
    * content-keyed, atomic publish — the [[Staged]] pattern, and the exact
    * message-wire precedent [[Messages.stagedMessages]]): the typed-fact
    * queries verify the explicit-schema `from_json` LOADS and the fact
    * arithmetic, not the synthetic producer — in production the raw zone
    * IS durable storage the loads re-read, and the producer never runs
    * inside the load's query. The full `from_json` parse stays inside the
    * timed plan (plans/r17/typed_*: the staged scan feeds the parse
    * directly). Oracles still replay the equivalent arithmetic from the
    * BASE tables in DuckDB, so a stale or corrupt staged zone fails the
    * gate loudly instead of silently serving. Keys carry a producer
    * version (`typed_*_v1`) + [[Staged.dirKey]]'s content fingerprint. */
  private[graft] def stagedPdvRaw(spark: SparkSession, sfDir: String): DataFrame =
    Staged.parquet(spark, s"typed_pdv_v1/${Staged.dirKey(sfDir)}") {
      pdvRaw(spark, sfDir)
    }
  private[graft] def stagedPesquisaRaw(spark: SparkSession, sfDir: String): DataFrame =
    Staged.parquet(spark, s"typed_pesquisa_v1/${Staged.dirKey(sfDir)}") {
      pesquisaRaw(spark, sfDir)
    }
  private[graft] def stagedProdutoRaw(spark: SparkSession, sfDir: String): DataFrame =
    Staged.parquet(spark, s"typed_produto_v1/${Staged.dirKey(sfDir)}") {
      produtoRaw(spark, sfDir)
    }

  /** Stage the synthesized payloads as a JSON-lines raw zone (one payload
    * per line) — the backfill replay input (`graft.BackfillDemo`). */
  def stagePdvZone(spark: SparkSession, sfDir: String, out: String): Unit =
    pdvRaw(spark, sfDir).select("json").write.mode("overwrite").text(out)
  def stageProdutoZone(spark: SparkSession, sfDir: String, out: String): Unit =
    produtoRaw(spark, sfDir).select("json").write.mode("overwrite").text(out)

  /** Envelope schema pruned to the fields this fact build touches — the
    * parser skips the other ~70 subtrees (measured ~2× parse time). */
  private val prunedPdvEnvelope: StructType = Schemas.pdvPruned(
    "id", "data", "desconto", "totalVenda", "formaPagamento", "contato.cpfCnpj",
    "itens.id", "itens.idProduto", "itens.descricao", "itens.valor",
    "itens.quantidade", "itens.desconto")

  /** [[prunedPdvEnvelope]] further narrowed for the ORDER-grain build:
    * [[FactsFromRaw.pedidos]] folds/joins on (idProduto, valor, quantidade,
    * desconto) only, so the parser also skips each item's `id` and
    * `descricao` tokens. */
  private[graft] val prunedPdvEnvelopeHeader: StructType = Schemas.pdvPruned(
    "id", "data", "desconto", "totalVenda", "formaPagamento", "contato.cpfCnpj",
    "itens.idProduto", "itens.valor", "itens.quantidade", "itens.desconto")

  /** Line-item fact through the full typed path. */
  def typedItensFact(spark: SparkSession, sfDir: String): DataFrame = {
    // Exchange barrier after the parse: projection collapse would otherwise
    // inline the full-envelope from_json into every downstream consumer
    // (join keys included — measured 3× the JSON cost). The shuffle
    // materializes parsed rows once, both fact branches read the SAME
    // reused exchange, and it co-partitions the header⋈items join.
    val pdv = RawTables.pdv(stagedPdvRaw(spark, sfDir), prunedPdvEnvelope)
      .repartition(col("id"))
    val produto = RawTables.produto(stagedProdutoRaw(spark, sfDir))
    FactsFromRaw.itensFinal(FactsFromRaw.itensPedido(pdv, produto))
      .orderBy("pedido_id", "item_id", "produto_id", "quantidade", "valor_total")
  }

  /** Raw pesquisa load through the full typed path — D2 (explode
    * `retorno.pedidos[]`) and D8 (empty `data_prevista` → null) at data
    * scale, not one fixture row. Lineage timestamp excluded
    * (`current_timestamp` is nondeterministic, like the other loads). */
  def typedPesquisa(spark: SparkSession, sfDir: String): DataFrame =
    RawTables.pesquisa(stagedPesquisaRaw(spark, sfDir))
      .select(col("id"), col("data_pedido"), col("data_prevista"),
        col("id_vendedor"), col("nome_vendedor"))
      .orderBy("id", "id_vendedor")

  val typedPesquisaSql: String =
    """WITH rows AS (
      |  SELECT o_orderkey, CAST(o_custkey % 100 AS VARCHAR) AS id_vendedor
      |  FROM orders WHERE o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, CAST(o_custkey % 100 + 1 AS VARCHAR)
      |  FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0)
      |SELECT CAST(r.o_orderkey AS VARCHAR) AS id,
      |  strftime(o.o_orderdate, '%Y-%m-%d') AS data_pedido,
      |  CASE WHEN r.o_orderkey % 4 = 0 THEN NULL
      |       ELSE strftime(o.o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d') END AS data_prevista,
      |  r.id_vendedor, 'vend ' || r.id_vendedor AS nome_vendedor
      |FROM rows r JOIN orders o ON r.o_orderkey = o.o_orderkey
      |ORDER BY id, id_vendedor""".stripMargin

  /** Order-grain fact through the full typed path (C3 end to end): pdv +
    * pesquisa + produto zones synthesized as JSON payloads, loaded by the
    * real `RawTables` loads, aggregated by `FactsFromRaw.pedidos`. Produtos
    * with `id % 17 == 0` are withheld from the produto zone so the
    * F1/F5-vs-F2-F4 dropped-item asymmetry is exercised at data scale;
    * orders with `o_orderkey % 7 == 0` have no pesquisa row (left-join
    * nulls); `% 5 == 0` orders have two pesquisa rows (G3 first-match). */
  def typedPedidosFact(spark: SparkSession, sfDir: String): DataFrame = {
    val pdv = RawTables.pdv(stagedPdvRaw(spark, sfDir), prunedPdvEnvelopeHeader)
      .repartition(col("id"))
    val pesquisa = RawTables.pesquisa(stagedPesquisaRaw(spark, sfDir))
    val produto = RawTables.produto(stagedProdutoRaw(spark, sfDir))
      .filter(col("id") % 17 =!= 0)
    FactsFromRaw.pedidosFinal(FactsFromRaw.pedidos(pdv, pesquisa, produto))
      .orderBy("pedido_id")
  }

  val typedPedidosFactSql: String =
    """WITH it AS (
      |  SELECT l_orderkey AS pedido_id, l_partkey,
      |    l_extendedprice / l_quantity AS valor_unit,
      |    l_quantity AS qtd,
      |    CAST(l_partkey % 30 AS DOUBLE) AS d_pct
      |  FROM lineitem),
      |hdr AS (
      |  SELECT o_orderkey AS pedido_id, o_custkey, o_totalprice,
      |    strftime(o_orderdate, '%Y-%m-%d') AS pedido_dia,
      |    ['credito', 'boleto', 'pix'][CAST(o_orderkey % 3 AS INT) + 1] AS forma_pagamento,
      |    GREATEST(0, COALESCE(CASE WHEN contains(ds, '%')
      |      THEN TRY_CAST(replace(ds, '%', '') AS DOUBLE) / 100 * o_totalprice
      |      ELSE TRY_CAST(replace(ds, ',', '.') AS DOUBLE) END, 0)) AS desconto_pedido
      |  FROM (SELECT *,
      |    CASE WHEN o_orderkey % 3 = 0 THEN CAST((o_orderkey % 7) + 1 AS VARCHAR) || '%'
      |         WHEN o_orderkey % 3 = 1 THEN CAST(o_orderkey % 50 AS VARCHAR) || ',' || CAST(o_orderkey % 10 AS VARCHAR)
      |         ELSE 'xx' END AS ds FROM orders
      |    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem))),
      |allagg AS (
      |  SELECT pedido_id,
      |    CAST(SUM(CAST(floor(valor_unit / (1 - d_pct / 100) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS valor_sem_desconto,
      |    CAST(SUM(CAST(floor(valor_unit * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS valor_com_desconto,
      |    CAST(SUM(CAST(floor(valor_unit * qtd * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS base_pre_desconto
      |  FROM it GROUP BY pedido_id),
      |matched AS (
      |  SELECT pedido_id,
      |    CAST(SUM(CAST(floor(p.p_retailprice * qtd * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS custo_total,
      |    CAST(SUM(CAST(floor((valor_unit / (1 - d_pct / 100) - valor_unit) * qtd * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS total_desconto_produtos
      |  FROM it JOIN part p ON it.l_partkey = p.p_partkey AND p.p_partkey % 17 <> 0
      |  GROUP BY pedido_id),
      |vend AS (
      |  SELECT pedido_id, min(id_vendedor) AS vendedor_id,
      |    'vend ' || min(id_vendedor) AS nome_vendedor
      |  FROM (
      |    SELECT o_orderkey AS pedido_id, CAST(o_custkey % 100 AS VARCHAR) AS id_vendedor
      |    FROM orders WHERE o_orderkey % 7 <> 0
      |    UNION ALL
      |    SELECT o_orderkey, CAST(o_custkey % 100 + 1 AS VARCHAR)
      |    FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0)
      |  GROUP BY pedido_id)
      |SELECT h.pedido_id, h.pedido_dia, CAST(h.o_custkey AS VARCHAR) AS cliente_cpf,
      |  h.forma_pagamento, v.vendedor_id, v.nome_vendedor,
      |  a.valor_sem_desconto, a.valor_com_desconto, a.base_pre_desconto,
      |  COALESCE(m.total_desconto_produtos, 0) AS total_desconto_produtos,
      |  COALESCE(m.custo_total, 0) AS custo_total,
      |  floor(h.desconto_pedido * 10000 + 0.5) / 10000 AS desconto_pedido,
      |  floor((COALESCE(m.total_desconto_produtos, 0) + h.desconto_pedido) * 10000 + 0.5) / 10000 AS desconto_total,
      |  floor(h.o_totalprice * 10000 + 0.5) / 10000 AS valor_faturado,
      |  floor((h.o_totalprice - COALESCE(m.custo_total, 0)) * 10000 + 0.5) / 10000 AS valor_lucro
      |FROM hdr h
      |LEFT JOIN allagg a USING (pedido_id)
      |LEFT JOIN matched m USING (pedido_id)
      |LEFT JOIN vend v USING (pedido_id)
      |ORDER BY pedido_id""".stripMargin

  val typedItensFactSql: String =
    """WITH it AS (
      |  SELECT l_orderkey AS pedido_id, CAST(l_linenumber AS BIGINT) AS item_id,
      |    l_partkey AS produto_id,
      |    l_quantity AS quantidade,
      |    l_extendedprice / l_quantity AS valor_unitario,
      |    (l_extendedprice / l_quantity) * l_quantity AS valor_total,
      |    CAST(l_partkey % 30 AS DOUBLE) AS d_pct
      |  FROM lineitem),
      |hdr AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    strftime(o_orderdate, '%Y-%m-%d') AS pedido_dia,
      |    GREATEST(0, COALESCE(CASE WHEN contains(ds, '%')
      |      THEN TRY_CAST(replace(ds, '%', '') AS DOUBLE) / 100 * o_totalprice
      |      ELSE TRY_CAST(replace(ds, ',', '.') AS DOUBLE) END, 0)) AS desconto_pedido
      |  FROM (SELECT *,
      |    CASE WHEN o_orderkey % 3 = 0 THEN CAST((o_orderkey % 7) + 1 AS VARCHAR) || '%'
      |         WHEN o_orderkey % 3 = 1 THEN CAST(o_orderkey % 50 AS VARCHAR) || ',' || CAST(o_orderkey % 10 AS VARCHAR)
      |         ELSE 'xx' END AS ds FROM orders)),
      |tot AS (SELECT pedido_id,
      |  CAST(SUM(CAST(floor(valor_total * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS total_pre
      |  FROM it GROUP BY pedido_id),
      |j AS (
      |  SELECT it.*, hdr.pedido_dia, CAST(hdr.o_custkey AS VARCHAR) AS cliente_cpf,
      |    trim(split_part(p.p_brand || ' >> ' || p.p_type, ' >> ', 1)) AS categoria_principal,
      |    trim(split_part(p.p_brand || ' >> ' || p.p_type, ' >> ', 2)) AS categoria_secundaria,
      |    valor_unitario / (1 - d_pct / 100) - valor_unitario AS desconto_unitario,
      |    hdr.desconto_pedido * (valor_total / tot.total_pre) AS desconto_alocado,
      |    p.p_retailprice AS preco_custo
      |  FROM it
      |  JOIN hdr ON it.pedido_id = hdr.o_orderkey
      |  JOIN tot USING (pedido_id)
      |  JOIN part p ON it.produto_id = p.p_partkey)
      |SELECT pedido_id, item_id, produto_id, pedido_dia, cliente_cpf,
      |  categoria_principal, categoria_secundaria, quantidade,
      |  floor(valor_unitario * 10000 + 0.5) / 10000 AS valor_unitario,
      |  floor(valor_total * 10000 + 0.5) / 10000 AS valor_total,
      |  floor(desconto_unitario * 10000 + 0.5) / 10000 AS desconto_unitario,
      |  floor(desconto_unitario * quantidade * 10000 + 0.5) / 10000 AS desconto_produto,
      |  floor(desconto_alocado * 10000 + 0.5) / 10000 AS desconto_alocado,
      |  floor(preco_custo * 10000 + 0.5) / 10000 AS preco_custo,
      |  floor(preco_custo * quantidade * 10000 + 0.5) / 10000 AS custo_total,
      |  floor((valor_total - desconto_unitario * quantidade - desconto_alocado
      |         - preco_custo * quantidade) * 10000 + 0.5) / 10000 AS lucro_item
      |FROM j ORDER BY pedido_id, item_id, produto_id, quantidade, valor_total""".stripMargin
}
