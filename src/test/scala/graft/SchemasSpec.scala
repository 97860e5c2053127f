package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Schemas.prune`: the pruned payload schemas the fact builds parse with
  * are derived from the faithful schemas by field path. */
class SchemasSpec extends AnyFunSuite {

  test("prune descends into itens[] and keeps the full schema's field order") {
    val pruned = Schemas.prune(Schemas.pdvEnvelope,
      "retorno.pedido.itens.valor", "retorno.pedido.itens.id",
      "retorno.pedido.totalVenda", "retorno.pedido.id")
    val pedido = pruned("retorno").dataType.asInstanceOf[StructType]("pedido")
      .dataType.asInstanceOf[StructType]
    assert(pedido.fieldNames.toSeq == Seq("id", "totalVenda", "itens"))
    assert(pedido("itens").dataType ==
      ArrayType(StructType(Seq(StructField("id", LongType),
        StructField("valor", StringType))), containsNull = true))
  }

  test("prune keeps a whole subtree when a path ends on a struct") {
    val pruned = Schemas.prune(Schemas.pdvEnvelope, "retorno.pedido.contato")
    assert(pruned("retorno").dataType.asInstanceOf[StructType]("pedido")
      .dataType.asInstanceOf[StructType]("contato").dataType == Schemas.contato)
  }

  test("prune throws on a misspelled path") {
    val e = intercept[IllegalArgumentException](
      Schemas.prune(Schemas.pdvEnvelope, "retorno.pedido.itens.valr"))
    assert(e.getMessage.contains("'valr'"))
    assert(e.getMessage.contains("retorno.pedido.itens"))
    intercept[IllegalArgumentException](
      Schemas.prune(Schemas.pdvEnvelope, "retorno.status_processamento.x"))
  }

  test("the order-grain pdv schema is the pinned field set") {
    assert(operators.Typed.prunedPdvEnvelopeHeader.catalogString ==
      "struct<retorno:struct<status_processamento:string," +
        "pedido:struct<id:bigint,data:string,desconto:string,totalVenda:double," +
        "formaPagamento:string,contato:struct<cpfCnpj:string>," +
        "itens:array<struct<idProduto:bigint,valor:string,quantidade:string," +
        "desconto:string>>>>>")
  }
}
