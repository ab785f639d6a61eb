package graft.olapsus

import org.apache.spark.sql.types._

/** Explicit StructType DDL for every warehouse table (SURVEY.md §1.4 /
  * scripts/init.sql:15-262) — the contract the generators and ETL are
  * held to (see SchemaSpec). Includes `factInternacoes`, which the
  * reference declares but never populates (init.sql:252-262); it stays
  * declared-but-optional here for parity.
  */
object Schemas {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val dimData: StructType = st(
    "chave_data" -> IntegerType, "data" -> DateType,
    "numero_dia_semana" -> IntegerType, "dia_semana" -> StringType,
    "numero_dia" -> IntegerType, "dia_ano" -> IntegerType,
    "numero_mes" -> IntegerType, "mes" -> StringType, "ano" -> IntegerType,
    "bimestre" -> IntegerType, "trimestre" -> IntegerType, "semestre" -> IntegerType)

  val dimHorario: StructType = st(
    "chave_tempo" -> IntegerType, "tempo" -> StringType,
    "hora" -> IntegerType, "minutos" -> IntegerType, "segundos" -> IntegerType,
    "periodo" -> StringType)

  val dimMunicipio: StructType = st(
    "chave_municipio" -> IntegerType, "codigo_ibge" -> IntegerType,
    "nome_municipio" -> StringType, "uf" -> StringType, "estado" -> StringType,
    "regiao" -> StringType, "regiao_saude" -> StringType,
    "regiao_metropolitana" -> StringType, "is_capital" -> BooleanType)

  val dimOcupacao: StructType = st(
    "chave_ocupacao" -> IntegerType, "cbo_2002" -> StringType,
    "descricao" -> StringType, "familia" -> StringType,
    "descricao_familia" -> StringType, "subgrupo" -> StringType,
    "descricao_subgrupo" -> StringType, "subgrupo_principal" -> StringType,
    "descricao_subgrupo_principal" -> StringType, "grande_grupo" -> StringType,
    "descricao_grande_grupo" -> StringType, "indicador_cbo_2002_ativa" -> IntegerType)

  val dimCausa: StructType = st(
    "chave_causa" -> IntegerType, "codigo_CID" -> StringType,
    "subcategoria" -> StringType, "descricao_subcategoria" -> StringType,
    "categoria" -> StringType, "descricao_categoria" -> StringType,
    "capitulo" -> StringType, "descricao_capitulo" -> StringType,
    "causa_violencia" -> BooleanType, "causa_overdose" -> BooleanType)

  val dimDemografia: StructType = st(
    "chave_demografia" -> IntegerType, "raca" -> StringType,
    "faixa_etaria" -> StringType, "idade_minima" -> IntegerType,
    "idade_maxima" -> IntegerType, "sexo" -> StringType,
    "descricao_sexo" -> StringType, "escolaridade" -> StringType,
    "nivel_escolaridade" -> IntegerType, "estado_civil" -> StringType)

  val dimInfoNascimento: StructType = st(
    "chave_info_nascimento" -> IntegerType, "sexo" -> StringType,
    "descricao_sexo" -> StringType, "raca_cor" -> StringType,
    "faixa_peso" -> StringType, "peso_min_gramas" -> IntegerType,
    "peso_max_gramas" -> IntegerType, "tipo_parto" -> StringType,
    "tempo_gestacao" -> StringType, "semanas_gestacao_min" -> IntegerType,
    "semanas_gestacao_max" -> IntegerType, "tipo_gravidez" -> StringType)

  val ponteGrupoCausas: StructType = st(
    "chave_grupo_causa" -> IntegerType, "chave_causa" -> IntegerType,
    "ordem_causa" -> IntegerType)

  val factNascimentos: StructType = st(
    "chave_data" -> IntegerType, "chave_tempo" -> IntegerType,
    "chave_municipio_nascimento" -> IntegerType,
    "chave_municipio_residencia" -> IntegerType,
    "chave_demografia" -> IntegerType, "chave_info_nascimento" -> IntegerType,
    "quantidade_nascimentos" -> LongType)

  val factObitos: StructType = st(
    "chave_data_nascimento" -> IntegerType, "chave_data_obito" -> IntegerType,
    "chave_tempo_obito" -> IntegerType,
    "chave_municipio_residencia" -> IntegerType,
    "chave_municipio_obito" -> IntegerType, "chave_demografia" -> IntegerType,
    "chave_grupo_causa" -> IntegerType, "chave_ocupacao" -> IntegerType,
    "quantidade_obitos" -> LongType)

  /** Declared by the reference, never populated by any script
    * (init.sql:252-262) — kept as schema-only for parity. */
  val factInternacoes: StructType = st(
    "chave_data_entrada" -> IntegerType, "chave_data_saida" -> IntegerType,
    "chave_municipio" -> IntegerType, "chave_causa_primaria" -> IntegerType,
    "chave_causa_secundaria" -> IntegerType, "chave_ocupacao" -> IntegerType,
    "valor" -> DecimalType(15, 2), "quantidade_procedimentos" -> IntegerType)

  /** The header rows of the raw landing CSVs (`;`-separated, every value
    * read as a string), the DATASUS layouts of FIXTURES.md §1–2. The
    * batch driver reads columns by these names, taking each batch's
    * header from its files ([[Landing.batchSchema]]); the stream
    * backfill requires a file's header to be exactly this row. */
  val sinascHeader: String =
    "DTNASC;HORANASC;CODMUNNASC;CODMUNRES;IDADEMAE;RACACORMAE;ESCMAE;ESTCIVMAE;SEXO;RACACOR;PESO;PARTO;GESTACAO;GRAVIDEZ"
  val simHeader: String =
    "DTOBITO;DTNASC;HORAOBITO;SEXO;RACACOR;ESTCIV;ESC;IDADE;LINHAA;LINHAB;LINHAC;LINHAD;LINHAII;CODMUNRES;CODMUNOCOR;OCUP"

  /** A schema's names (lower-cased) and types in column order — the
    * part of the DDL the warehouse holds tables to. Nullability is not
    * part of it: parquet round-trips relax it. */
  def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => (f.name.toLowerCase, f.dataType.simpleString))

  val all: Map[String, StructType] = Map(
    "dimData" -> dimData, "dimHorario" -> dimHorario,
    "dimMunicipio" -> dimMunicipio, "dimOcupacao" -> dimOcupacao,
    "dimCausa" -> dimCausa, "dimDemografia" -> dimDemografia,
    "dimInfoNascimento" -> dimInfoNascimento,
    "ponteGrupoCausas" -> ponteGrupoCausas,
    "factNascimentos" -> factNascimentos, "factObitos" -> factObitos,
    "factInternacoes" -> factInternacoes)
}
