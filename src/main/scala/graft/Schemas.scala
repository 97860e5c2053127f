package graft

import org.apache.spark.sql.types._

/** Faithful typed-nested schemas for the three raw tables (SURVEY.md §1.1-2;
  * payload shapes in FIXTURES.md §3-6). Numbers that the upstream API sends
  * as strings stay `StringType` (`valor`, `quantidade`, `desconto`,
  * `preco_custo` — parsed at fact-build time, reference
  * `sales_to_bq/main.py:96-97,107,116`); JSON numbers are `DoubleType`/
  * `LongType`; RECORD → `StructType`, REPEATED RECORD → `ArrayType`.
  */
object Schemas {

  private def s(names: String*): Seq[StructField] =
    names.map(StructField(_, StringType))

  /** 17-field contact record (reference `gcs_to_bq/main.py:42-60`). */
  val contato: StructType = StructType(s(
    "nome", "fantasia", "codigo", "tipo", "cpfCnpj", "endereco", "enderecoNro",
    "complemento", "bairro", "cidade", "uf", "cep", "fone", "celular", "email",
    "inscricaoEstadual", "indIEDest"))

  /** 11-field delivery address (reference `gcs_to_bq/main.py:61-73`). */
  val enderecoEntrega: StructType = StructType(s(
    "nome", "tipo", "cpfCnpj", "endereco", "enderecoNro", "complemento",
    "bairro", "cidade", "uf", "cep", "fone"))

  /** 16-field order line item (reference `gcs_to_bq/main.py:74-91`). */
  val item: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("idProduto", LongType),
    StructField("descricao", StringType),
    StructField("codigo", StringType),
    StructField("valor", StringType),       // number-as-string
    StructField("quantidade", StringType),  // number-as-string
    StructField("desconto", StringType),    // pct-as-string
    StructField("pesoLiquido", DoubleType),
    StructField("pesoBruto", DoubleType)) ++ s(
    "unidade", "tipo", "ncm", "origem", "cest", "gtin", "gtinTributavel"))

  /** Installment record (reference `gcs_to_bq/main.py:92-97`). */
  val parcela: StructType = StructType(Seq(
    StructField("formaPagamento", StringType),
    StructField("dataVencimento", StringType), // dd/MM/yyyy at rest
    StructField("valor", DoubleType),
    StructField("tPag", StringType)))

  /** `pdv` order payload (reference `gcs_to_bq/main.py:24-100`). */
  val pdvPedido: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("numero", LongType),
    StructField("data", StringType),
    StructField("frete", DoubleType),
    StructField("desconto", StringType),    // dual-format
    StructField("valorICMSSubst", DoubleType),
    StructField("valorIPI", DoubleType),
    StructField("totalProdutos", DoubleType),
    StructField("totalVenda", DoubleType),
    StructField("fretePorConta", StringType),
    StructField("pesoLiquido", DoubleType),
    StructField("pesoBruto", DoubleType),
    StructField("observacoes", StringType),
    StructField("formaPagamento", StringType),
    StructField("situacao", StringType),
    StructField("contato", contato),
    StructField("enderecoEntrega", enderecoEntrega),
    StructField("itens", ArrayType(item)),
    StructField("parcelas", ArrayType(parcela))))

  val pdvEnvelope: StructType = StructType(Seq(
    StructField("retorno", StructType(Seq(
      StructField("status_processamento", StringType),
      StructField("codigo_erro", StringType),
      StructField("pedido", pdvPedido))))))

  /** `pesquisa` order-search payload (reference `gcs_to_bq/main.py:103-120`);
    * note id/numero/valor arrive as strings here, unlike pdv. */
  val pesquisaPedido: StructType = StructType(s(
    "id", "numero", "numero_ecommerce", "data_pedido", "data_prevista",
    "nome", "valor", "id_vendedor", "nome_vendedor", "situacao",
    "codigo_rastreamento", "url_rastreamento"))

  val pesquisaEnvelope: StructType = StructType(Seq(
    StructField("retorno", StructType(Seq(
      StructField("status_processamento", StringType),
      StructField("numero_paginas", LongType),
      StructField("pedidos", ArrayType(StructType(Seq(
        StructField("pedido", pesquisaPedido))))))))))

  /** `produto` payload, 59 fields (reference `gcs_to_bq/main.py:123-184`). */
  val produto: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("nome", StringType),
    StructField("codigo", StringType),
    StructField("unidade", StringType),
    StructField("preco", DoubleType),
    StructField("preco_promocional", DoubleType)) ++ s(
    "ncm", "origem", "gtin", "gtin_embalagem", "localizacao") ++ Seq(
    StructField("peso_liquido", DoubleType),
    StructField("peso_bruto", DoubleType),
    StructField("estoque_minimo", LongType),
    StructField("estoque_maximo", LongType),
    StructField("id_fornecedor", LongType),
    StructField("nome_fornecedor", StringType),
    StructField("codigo_fornecedor", StringType),
    StructField("codigo_pelo_fornecedor", StringType),
    StructField("unidade_por_caixa", StringType),
    StructField("preco_custo", StringType),        // number-as-string
    StructField("preco_custo_medio", StringType),  // number-as-string
    StructField("situacao", StringType),
    StructField("tipo", StringType),
    StructField("classe_ipi", StringType),
    StructField("valor_ipi_fixo", DoubleType),
    StructField("cod_lista_servicos", StringType),
    StructField("descricao_complementar", StringType),
    StructField("garantia", StringType),
    StructField("cest", StringType),
    StructField("obs", StringType),
    StructField("tipoVariacao", StringType),
    StructField("variacoes", StringType),
    StructField("idProdutoPai", LongType),
    StructField("sob_encomenda", StringType),
    StructField("dias_preparacao", LongType),
    StructField("marca", StringType),
    StructField("tipoEmbalagem", LongType),
    StructField("alturaEmbalagem", DoubleType),
    StructField("larguraEmbalagem", DoubleType),
    StructField("comprimentoEmbalagem", DoubleType),
    StructField("diametroEmbalagem", DoubleType),
    StructField("qtd_volumes", LongType),
    StructField("categoria", StringType),
    StructField("anexos", ArrayType(StructType(s("anexo")))),
    StructField("imagens_externas", ArrayType(StructType(s("url")))),
    StructField("classe_produto", StringType),
    StructField("seo_title", StringType),
    StructField("seo_keywords", StringType),
    StructField("link_video", StringType),
    StructField("seo_description", StringType),
    StructField("slug", StringType)))

  val produtoEnvelope: StructType = StructType(Seq(
    StructField("retorno", StructType(Seq(
      StructField("status_processamento", StringType),
      StructField("codigo_erro", StringType),
      StructField("produto", produto))))))

  /** `full` cut down to the fields named by dotted paths; a path through an
    * array of structs names fields of its elements (`retorno.pedido.itens.id`).
    * A path ending on a struct keeps the whole subtree. Kept fields stay in
    * `full`'s order, and an unknown name throws. A consumer that parses with
    * the cut schema skips every other subtree of the payload text. */
  def prune(full: StructType, paths: String*): StructType = {
    def cut(dt: DataType, at: String, rest: Seq[List[String]]): DataType =
      if (rest.exists(_.isEmpty)) dt
      else dt match {
        case ArrayType(elem, containsNull) => ArrayType(cut(elem, at, rest), containsNull)
        case st: StructType =>
          val byName = rest.groupBy(_.head)
          byName.keys.find(!st.fieldNames.contains(_)).foreach { n =>
            throw new IllegalArgumentException(
              s"no field '$n' under '${at.drop(1)}' (has ${st.fieldNames.mkString(", ")})")
          }
          StructType(st.fields.filter(f => byName.contains(f.name)).map { f =>
            f.copy(dataType = cut(f.dataType, s"$at.${f.name}", byName(f.name).map(_.tail)))
          })
        case leaf => throw new IllegalArgumentException(
          s"'${at.drop(1)}' is a ${leaf.simpleString}, it has no field '${rest.head.head}'")
      }
    cut(full, "", paths.map(_.split('.').toList)).asInstanceOf[StructType]
  }

  /** [[pdvEnvelope]] pruned to the B3 status gate plus the named
    * `retorno.pedido` paths. */
  def pdvPruned(pedidoPaths: String*): StructType = prune(pdvEnvelope,
    "retorno.status_processamento" +: pedidoPaths.map("retorno.pedido." + _): _*)

  /** Contacts page payload (reference `contatos_to_bq/main.py:83-94`). */
  val contatosEnvelope: StructType = StructType(Seq(
    StructField("retorno", StructType(Seq(
      StructField("status_processamento", StringType),
      StructField("numero_paginas", LongType),
      StructField("contatos", ArrayType(StructType(Seq(
        StructField("contato", StructType(s(
          "id", "codigo", "nome", "fantasia", "tipo_pessoa", "cpf_cnpj",
          "endereco", "numero", "bairro", "cidade", "uf", "cep", "email",
          "fone", "situacao", "data_criacao"))))))))))))
}
