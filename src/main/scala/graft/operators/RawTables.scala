package graft.operators

import graft.{Exprs, Schemas}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The typed-nested raw-table loads — the reference's `gcs_to_bq/main.py`
  * per-type transforms over the faithful payload schemas (SURVEY.md §2
  * D1-D8, §1.1-2; shapes in FIXTURES.md §3-6). Inputs are DataFrames with a
  * `json` string column plus lineage columns (`uuid`, `file_ts`) threaded
  * from the message/filename (D5).
  *
  * Scale notes: all three loads are narrow per-row maps (`from_json` with
  * explicit schemas — no inference scan) plus one `explode` for pesquisa;
  * nothing shuffles.
  */
object RawTables {

  private def lineage(df: DataFrame, sourceSuffix: String): DataFrame =
    df.withColumn("source_id", concat(lit("z316-tiny-"), lit(sourceSuffix), lit("_v2")))
      .withColumn("update_timestamp", date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss"))

  /** Parse ONCE behind the [[graft.plans.Opaque]] barrier, then gate (B3) on
    * the materialized struct. Without the barrier, filtering on a field of
    * the parsed struct gets the WHOLE `from_json` duplicated into the
    * pushed-down filter condition (measured 2× JSON cost; a second
    * minimal-schema parse just for the gate still tokenized the full
    * payload text twice). `opaque` reports the parse nondeterministic, so
    * the predicate stays above the projection and every payload string is
    * parsed exactly once. */
  private def parsed(raw: DataFrame,
      envelope: org.apache.spark.sql.types.StructType): DataFrame =
    raw.select(col("uuid"), col("file_ts"),
      call_function("opaque", from_json(col("json"), envelope)).as("r"))

  private def gated(parsed: DataFrame): DataFrame =
    parsed.filter(col("r.retorno.status_processamento") === "3")

  /** `pdv` load: envelope unwrap (D1), top-level date normalize (D6),
    * nested `parcelas[].dataVencimento` normalize via `transform` (D7),
    * lineage (D5). Reference `gcs_to_bq/main.py:258-290`. */
  def pdv(raw: DataFrame): DataFrame = pdv(raw, Schemas.pdvEnvelope)

  /** Overload with a caller-pruned envelope schema: consumers that need a
    * handful of fields pass a sub-schema so the parser skips the rest —
    * column pruning pushed into `from_json` by hand (Catalyst's automatic
    * json pruning can't see through the star-expansion this load does). */
  def pdv(raw: DataFrame, envelope: org.apache.spark.sql.types.StructType): DataFrame =
    pdvFromParsed(parsed(raw, envelope))

  /** Struct-input variant: the Pub/Sub consumer dispatches an
    * already-decoded envelope subtree (`gcs_to_bq/main.py:361-363` passes
    * the message's dict straight into the transform — in Spark terms the
    * decoded struct IS the parsed form, so no re-serialize/re-parse).
    * Expects columns (`uuid`, `file_ts`, `r` = envelope struct). */
  def pdvFromParsed(parsedEnv: DataFrame): DataFrame = {
    val p = gated(parsedEnv)
      .select(col("uuid"), col("file_ts"), col("r.retorno.pedido.*"))
    val normalized = lineage(p, "pdv")
      .withColumn("data", Exprs.brDate(col("data")))
    if (normalized.columns.contains("parcelas"))
      normalized.withColumn("parcelas", transform(col("parcelas"),
        pc => pc.withField("dataVencimento", Exprs.brDate(pc.getField("dataVencimento")))))
    else normalized
  }

  /** `pesquisa` load: explode `retorno.pedidos[]` (D2), date normalize,
    * empty `data_prevista` dropped to null (D8). Reference
    * `gcs_to_bq/main.py:294-316`. */
  def pesquisa(raw: DataFrame): DataFrame =
    pesquisaFromParsed(parsed(raw, Schemas.pesquisaEnvelope))

  /** Struct-input variant for the Pub/Sub consumer (see [[pdvFromParsed]]). */
  def pesquisaFromParsed(parsedEnv: DataFrame): DataFrame = {
    val p = gated(parsedEnv)
      .select(col("uuid"), col("file_ts"),
        explode(col("r.retorno.pedidos")).as("p"))
      .select(col("uuid"), col("file_ts"), col("p.pedido.*"))
    lineage(p, "pesquisa")
      .withColumn("data_pedido", Exprs.brDate(col("data_pedido")))
      .withColumn("data_prevista",
        when(length(col("data_prevista")) > 0, Exprs.brDate(col("data_prevista"))))
  }

  /** `produto` load: envelope unwrap + lineage; empty payloads skipped (B4 —
    * the extra `produto.id` null guard on the same materialized parse).
    * Reference `gcs_to_bq/main.py:320-348`. */
  def produto(raw: DataFrame): DataFrame =
    produtoFromParsed(parsed(raw, Schemas.produtoEnvelope))

  /** Struct-input variant for the Pub/Sub consumer (see [[pdvFromParsed]]);
    * the message channel delivers one produto envelope per order item, so
    * the same B4 guard drops the empty ones.
    *
    * `carry` names extra input columns to thread through unchanged — the
    * message consumer rides its message-grain payloads (pdv, pesquisa, nota
    * link) through this item-grain load so the whole channel stays a single
    * pass (see [[Messages.messageRoundtrip]]). */
  def produtoFromParsed(parsedEnv: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val p = gated(parsedEnv)
      .filter(col("r.retorno.produto.id").isNotNull)
      .select(col("uuid") +: col("file_ts") +: carry.map(col) :+
        col("r.retorno.produto.*"): _*)
    lineage(p, "produto")
  }
}

/** The derived fact build FROM the typed-nested payloads — the reference's
  * `data_transformation/sales_to_bq/main.py` semantics end to end,
  * including its quirks (SURVEY.md §2 F1-F10, §7.5):
  *
  *  - F2-F4 header sums are computed over ALL items BEFORE the product
  *    lookup, while F1 (cost) and the item fact rows silently drop items
  *    whose produto is missing (C2 inner join; `main.py:221,348-349`) —
  *    the asymmetry is preserved here by aggregating pre-join and
  *    joining produto only where cost/fact rows need it.
  *  - F2 is per-unit (`valor / (1 - d/100)`), NOT × quantidade.
  *  - item `desconto` is a percent-as-number string (F8); header
  *    `desconto` is dual-format (F6).
  *
  * This object is the one definition of that arithmetic and of the two
  * fact display projections: the message subscriber ([[Messages]]) builds
  * its facts from the same pieces, with the produto lookup as an in-message
  * array find instead of a join.
  */
object FactsFromRaw {

  // Accessors over one `itens[]` element. They serve both the exploded item
  // row and the array-lambda folds computed BEFORE the explode (one-pass
  // plans: a separate aggregate branch over exploded items would duplicate
  // the whole upstream parse subtree — Spark plans are trees and sibling
  // branches re-materialize shared input).
  private[operators] def iValor(i: Column): Column = i.getField("valor").cast("double")
  private[operators] def iQtd(i: Column): Column = i.getField("quantidade").cast("double")
  private def iDPct(i: Column): Column =
    coalesce(i.getField("desconto").cast("double"), lit(0d))
  // F2: the undiscounted unit price, valor/(1−d/100)
  private def iValorCheio(i: Column): Column = iValor(i) / (lit(1d) - iDPct(i) / 100)
  // F8: valor/(1−d/100) − valor, per unit
  private[operators] def iDescUnit(i: Column): Column = iValorCheio(i) - iValor(i)

  /** F7 denominator: Σ valor × quantidade over ALL items of an `itens[]`
    * array, as an integer-grid fold — order-independent, so it matches the
    * oracle's grouped grid sum regardless of array vs row ordering. */
  private[operators] def totalPre(itens: Column): Column =
    Exprs.gsumArray(itens, i => iValor(i) * iQtd(i))

  /** F2-F4 header sums over ALL items, the dropped ones included. */
  private[operators] def headerSums(itens: Column): Seq[Column] = Seq(
    Exprs.gsumArray(itens, iValorCheio).as("valor_sem_desconto"), // per-unit quirk
    Exprs.gsumArray(itens, iValor).as("valor_com_desconto"),
    totalPre(itens).as("base_pre_desconto"))

  /** The item-grain columns categoria_principal … lucro_item (F7-F9) of one
    * matched item: `share` is its F7 fraction of [[totalPre]], applied to
    * the row's `desconto_pedido`; `custo` is its produto's unit cost. */
  private[operators] def itemMetrics(item: Column, categoria: Column,
      valorTotal: Column, share: Column, custo: Column): Seq[Column] = {
    val qtd = iQtd(item)
    val descUnit = iDescUnit(item)
    Seq(
      Exprs.categoriaPrincipal(categoria).as("categoria_principal"),
      Exprs.categoriaSecundaria(categoria).as("categoria_secundaria"),
      qtd.as("quantidade"),
      iValor(item).as("valor_unitario"),
      valorTotal.as("valor_total"),
      descUnit.as("desconto_unitario"),
      (descUnit * qtd).as("desconto_produto"),
      (col("desconto_pedido") * share).as("desconto_alocado"),
      custo.as("preco_custo"),
      (custo * qtd).as("custo_total"),
      (valorTotal - descUnit * qtd
        - col("desconto_pedido") * share - custo * qtd).as("lucro_item"))
  }

  /** The total discount (F5 item discounts + F6 header discount) and the
    * F10 profit, from the order-grain sums. */
  private[operators] def withTotals(df: DataFrame): DataFrame = df
    .withColumn("desconto_total",
      col("total_desconto_produtos") + col("desconto_pedido"))
    .withColumn("valor_lucro", col("valor_faturado") - col("custo_total"))

  /** Display projection of the order grain: money rounded to 4 places,
    * the grid sums as they are. `lineage` columns lead (the message uuid the
    * reference threads into every fact row). */
  def pedidosFinal(df: DataFrame, lineage: String*): DataFrame = df.select(
    (lineage ++ Seq("pedido_id", "pedido_dia", "cliente_cpf",
      "forma_pagamento", "vendedor_id", "nome_vendedor", "valor_sem_desconto",
      "valor_com_desconto", "base_pre_desconto", "total_desconto_produtos",
      "custo_total")).map(col) ++
    Seq("desconto_pedido", "desconto_total", "valor_faturado", "valor_lucro")
      .map(c => Exprs.r4(col(c)).as(c)): _*)

  /** Display projection of the item grain (see [[pedidosFinal]]). */
  def itensFinal(df: DataFrame, lineage: String*): DataFrame = df.select(
    (lineage ++ Seq("pedido_id", "item_id", "produto_id", "pedido_dia",
      "cliente_cpf", "categoria_principal", "categoria_secundaria",
      "quantidade")).map(col) ++
    Seq("valor_unitario", "valor_total", "desconto_unitario",
      "desconto_produto", "desconto_alocado", "preco_custo", "custo_total",
      "lucro_item").map(c => Exprs.r4(col(c)).as(c)): _*)

  /** itens_pedido: one row per matched line item with the unit/total metric
    * block (F8/F9) and pro-rata header-discount allocation (F7).
    *
    * One-pass shape: the header-grain values (F6 discount, F7 denominator
    * over ALL items — the reference threads `total_pre` from the header
    * dict, so items dropped by the produto lookup still count in the
    * denominator, `sales_to_bq/main.py:221,326`) are per-row array folds
    * computed BEFORE the single `posexplode`, carried on every item row.
    * The payload parse happens exactly once; the only join is the produto
    * lookup. */
  def itensPedido(pdv: DataFrame, produto: DataFrame): DataFrame = {
    val prod = produto.select(col("id").as("idProduto"),
      col("preco_custo").cast("double").as("preco_custo"),
      col("categoria"))
      .dropDuplicates("idProduto") // C2 first-match
    val it = pdv.select(col("id").as("pedido_id"), col("data").as("pedido_dia"),
      col("contato.cpfCnpj").as("cliente_cpf"),
      Exprs.parseDesconto(col("desconto"), col("totalVenda")).as("desconto_pedido"),
      totalPre(col("itens")).as("total_pre"),
      posexplode(col("itens")).as(Seq("pos", "item")))
    val item = col("item")
    it.join(prod, col("item.idProduto") === col("idProduto"))         // inner: unmatched dropped
      .withColumn("valor_total", iValor(item) * iQtd(item))
      .withColumn("share", col("valor_total") / col("total_pre"))
      .select(Seq(
        col("pedido_id"), col("pedido_dia"), col("cliente_cpf"),
        col("item.id").as("item_id"),
        col("idProduto").as("produto_id"),
        col("item.descricao").as("descricao")) ++
        itemMetrics(item, col("categoria"), col("valor_total"), col("share"),
          col("preco_custo")): _*)
  }

  /** pedidos: header grain. F2-F4 aggregate ALL items (pre-join); F1 cost
    * and F5 item-discount totals aggregate MATCHED items only — the
    * reference accumulates `total_desconto_produtos` inside the
    * `if item_data:` branch, so items whose produto is missing contribute
    * to F2-F4 but not F1/F5 (`sales_to_bq/main.py:346-350`). C3 attaches
    * the vendedor from the FIRST pesquisa row (G3).
    *
    * Float sums go through the integer grid (`Exprs.gsum`) so partial-sum
    * order can't flip a rounding boundary — the oracle replays the same
    * grid sums. */
  def pedidos(pdv: DataFrame, pesquisa: DataFrame, produto: DataFrame): DataFrame = {
    // One-pass shape: F2-F4 pre-join sums are array folds ON the header row
    // (the pre-explode projection), so the payload parse and the item
    // explode each happen exactly once. `posexplode_outer` keeps zero-item
    // orders alive through the cost aggregate; the left produto join plus
    // the matched-only guards reproduce the reference's inner-lookup
    // accumulation (F1/F5 inside `if item_data:` — unmatched items
    // contribute nothing to either).
    val prod = produto.select(col("id").as("idProduto"),
      col("preco_custo").cast("double").as("preco_custo"))
      .dropDuplicates("idProduto")
    val it = pdv.select(Seq(col("id").as("pedido_id"), col("data").as("pedido_dia"),
      col("contato.cpfCnpj").as("cliente_cpf"),
      col("formaPagamento").as("forma_pagamento"),
      col("totalVenda").as("valor_faturado"),
      Exprs.parseDesconto(col("desconto"), col("totalVenda")).as("desconto_pedido")) ++
      headerSums(col("itens")) :+
      posexplode_outer(col("itens")).as(Seq("pos", "item")): _*)
    // C3/G3: first pesquisa row carries the vendedor
    val vendedor = pesquisa
      .groupBy(col("id").cast("long").as("pedido_id"))
      .agg(min(struct(col("id_vendedor"), col("nome_vendedor"))).as("v"))
      .select(col("pedido_id"), col("v.id_vendedor").as("vendedor_id"),
        col("v.nome_vendedor").as("nome_vendedor"))
    val item = col("item")
    // The header-grain columns are group-constant (they ride the pre-explode
    // projection), so they go INTO the group key instead of through
    // `first()` aggregates: a string-buffered aggregate (first/min/max on
    // strings) knocks the whole aggregate down to SortAggregate — a full
    // sort of every exploded item row — while string GROUP KEYS hash fine.
    // Same groups, same output, HashAggregate instead of Sort+SortAggregate
    // (measured ~8 s → ~4 s on this query at sf0.1). Partitioning on
    // pedido_id from the upstream repartition still satisfies the clustered
    // distribution (subset of the keys), so no extra exchange appears.
    withTotals(it.join(prod, col("item.idProduto") === col("idProduto"), "left")
      .groupBy(col("pedido_id"), col("pedido_dia"), col("cliente_cpf"),
        col("forma_pagamento"), col("valor_faturado"), col("desconto_pedido"),
        col("valor_sem_desconto"), col("valor_com_desconto"),
        col("base_pre_desconto"))
      // F1/F5 matched-only: unmatched rows carry null preco_custo / are
      // guarded out, and grid-sum skips null terms
      .agg(Exprs.gsum(col("preco_custo") * iQtd(item)).as("custo_total"),
        Exprs.gsum(when(col("idProduto").isNotNull, iDescUnit(item) * iQtd(item)))
          .as("total_desconto_produtos"))
      .join(vendedor, Seq("pedido_id"), "left")
      .withColumn("custo_total", coalesce(col("custo_total"), lit(0d)))
      .withColumn("total_desconto_produtos",
        coalesce(col("total_desconto_produtos"), lit(0d))))
  }
}
