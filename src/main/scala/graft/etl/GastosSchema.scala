package graft.etl

import org.apache.spark.sql.types._

/** Explicit schema for the reference's one table (`gastos`, Brazilian
  * federal direct-spending records) — 28 fields as observed in every raw
  * API page and the bronze parquet footers (SURVEY.md §1.2; reference
  * proj-eng-dados/main.py:131 infers this by sampling, we declare it).
  *
  * Raw fidelity notes: `valor` arrives as decimal-as-text ("428.14") and
  * stays string through bronze; `data_pagamento` is an ISO date string;
  * `ano`/`mes` become hive partition columns from bronze on.
  */
object GastosSchema {

  val nomeColumns: Seq[String] = Seq(
    "nome_acao", "nome_elemento_despesa", "nome_favorecido", "nome_funcao",
    "nome_grupo_despesa", "nome_orgao", "nome_orgao_superior",
    "nome_programa", "nome_subfuncao", "nome_unidade_gestora")

  /** The 6 nome_* columns the reference uppercases+trims (main.py:215-226). */
  val normalizedNomeColumns: Seq[String] = Seq(
    "nome_orgao", "nome_favorecido", "nome_acao", "nome_programa",
    "nome_funcao", "nome_grupo_despesa")

  val codigoLongColumns: Seq[String] = Seq(
    "codigo_elemento_despesa", "codigo_funcao", "codigo_grupo_despesa",
    "codigo_orgao", "codigo_orgao_superior", "codigo_programa",
    "codigo_subfuncao", "codigo_unidade_gestora")

  /** Record schema as fetched (raw/bronze: valor + dates still strings). */
  val raw: StructType = StructType(
    Seq(
      StructField("ano", IntegerType),
      StructField("mes", IntegerType),
      StructField("codigo_acao", StringType),
      StructField("codigo_favorecido", StringType)) ++
      codigoLongColumns.map(StructField(_, LongType)) ++
      Seq(
        StructField("data_pagamento", StringType),
        StructField("data_pagamento_original", StringType),
        StructField("gestao_pagamento", StringType),
        StructField("linguagem_cidada", StringType)) ++
      nomeColumns.map(StructField(_, StringType)) ++
      Seq(
        StructField("numero_documento", StringType),
        StructField("valor", StringType)))

  /** API page envelope: {count, next, previous, results:[record]}
    * (main.py:74; FIXTURES.md §A.1). */
  def envelopeOf(record: StructType): StructType = StructType(Seq(
    StructField("count", LongType),
    StructField("next", StringType),
    StructField("previous", StringType),
    StructField("results", ArrayType(record))))

  val envelope: StructType = envelopeOf(raw)

  val partitionColumns: Seq[String] = Seq("ano", "mes")

  /** How a layer reads back: its data fields in file order, then the
    * `ano`/`mes` hive partition columns as Int. Every field is nullable,
    * as Spark writes every parquet column. A declared read infers
    * nothing, so it launches no schema-inference job. */
  private def layer(data: Seq[StructField]): StructType =
    StructType(data ++ partitionColumns.map(StructField(_, IntegerType)))

  private val rawData: Seq[StructField] = raw.filterNot(f => partitionColumns.contains(f.name))

  /** Bronze: the raw record as written, `valor` and dates still strings. */
  val bronze: StructType = layer(rawData)

  /** Silver: bronze after `Cleaning`: `valor` Double, `data_pagamento` Date. */
  val silver: StructType = layer(rawData.map {
    case f if f.name == "valor" => f.copy(dataType = DoubleType)
    case f if f.name == "data_pagamento" => f.copy(dataType = DateType)
    case f => f
  })

  /** Gold: one `total_gasto` per (ano, mes, nome_orgao). */
  val gold: StructType = layer(Seq(
    StructField("nome_orgao", StringType), StructField("total_gasto", DoubleType)))
}
