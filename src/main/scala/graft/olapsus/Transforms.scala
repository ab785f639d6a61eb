package graft.olapsus

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Raw-CSV cleaning/decoding for the two DATASUS datasets — exact
  * behavioral ports of the reference transforms (SIM:
  * dags/spark_script_sim.py:31-128; SINASC:
  * dags/spark_script_sinasc.py:27-136), quirks preserved deliberately:
  *
  *  - `hora_clean > "2359"` is a STRING comparison (sim.py:43);
  *  - SIM accepts literal "M"/"F" for sex, SINASC only numeric
  *    (sim.py:55-56 vs sinasc.py:92-96);
  *  - SINASC additionally treats "" as an invalid hour (sinasc.py:38);
  *  - SIM takes CODMUN* as-is (6-digit files, sim.py:118-125) while
  *    SINASC substrings 7-digit codes to 6 (sinasc.py:49-56).
  *
  * An impossible date or a non-numeric code decodes to NULL, as it did
  * under the reference's non-ANSI Spark (`try_to_date` / `try_cast`;
  * the ANSI `to_date` / `cast` would fail the whole batch). The NULL
  * then follows the dataset's null policy downstream.
  *
  * All pure `DataFrame => DataFrame` projections — whole-stage codegen,
  * no UDFs, trivially partition-parallel.
  */
object Transforms {

  private def decodeMap(c: Column, m: Seq[(String, String)], default: String): Column =
    m.foldLeft(when(lit(false), lit(null).cast("string"))) { case (acc, (k, v)) =>
      acc.when(c === k, v)
    }.otherwise(default)

  val racaMap = Seq("1" -> "Branca", "2" -> "Preta", "3" -> "Amarela", "4" -> "Parda", "5" -> "Indígena")
  val escolaridadeMap = Seq(
    "1" -> "Nenhuma", "2" -> "1 a 3 anos", "3" -> "4 a 7 anos",
    "4" -> "8 a 11 anos", "5" -> "12 e mais")
  val estadoCivilMap = Seq(
    "1" -> "Solteiro", "2" -> "Casado", "3" -> "Viúvo",
    "4" -> "Separado judicialmente/divorciado", "5" -> "União estável")
  val partoMap = Seq("1" -> "Vaginal", "2" -> "Cesário")
  val gestacaoMap = Seq(
    "1" -> "Menos de 22 semanas", "2" -> "22 a 27 semanas", "3" -> "28 a 31 semanas",
    "4" -> "32 a 36 semanas", "5" -> "37 a 41 semanas", "6" -> "42 semanas e mais")
  val gravidezMap = Seq("1" -> "Única", "2" -> "Dupla", "3" -> "Tripla ou mais")

  /** `HHmm` (possibly short/blank/invalid) → `"HH:mm:00"`, default
    * `"00:00:00"`; `blankInvalid` adds SINASC's empty-string arm. */
  private def normalizeHora(raw: Column, blankInvalid: Boolean): Column = {
    val clean = lpad(raw.cast("string"), 4, "0")
    val invalid =
      if (blankInvalid) clean.isNull || clean === "" || clean > "2359"
      else clean.isNull || clean > "2359"
    when(invalid, lit("00:00:00"))
      .otherwise(concat(substring(clean, 1, 2), lit(":"), substring(clean, 3, 2), lit(":00")))
  }

  private def blankToNullInt(c: Column, digits6: Boolean): Column = {
    val base = when(c.isNull || trim(c) === "", lit(null))
    if (digits6) base.otherwise(substring(c.cast("string"), 1, 6).try_cast("int"))
    else base.otherwise(c.try_cast("int"))
  }

  /** SINASC (births) raw → clean. */
  def sinasc(df: DataFrame): DataFrame =
    df.withColumn("data_nascimento", try_to_date(col("DTNASC").cast("string"), "ddMMyyyy"))
      .withColumn("tempo_nascimento", normalizeHora(col("HORANASC"), blankInvalid = true))
      .withColumn("cod_mun_nasc", blankToNullInt(col("CODMUNNASC"), digits6 = true))
      .withColumn("cod_mun_res", blankToNullInt(col("CODMUNRES"), digits6 = true))
      .withColumn("idade_mae", col("IDADEMAE").try_cast("int"))
      .withColumn("raca_mae_desc", decodeMap(col("RACACORMAE"), racaMap, "Ignorado"))
      .withColumn("esc_mae_desc", decodeMap(col("ESCMAE"), escolaridadeMap, "Ignorado"))
      .withColumn("estciv_mae_desc", decodeMap(col("ESTCIVMAE"), estadoCivilMap, "Ignorado"))
      .withColumn("sexo_rn_desc",
        when(col("SEXO") === "1", "M").when(col("SEXO") === "2", "F").otherwise("I"))
      .withColumn("raca_rn_desc", decodeMap(col("RACACOR"), racaMap, "Ignorado"))
      .withColumn("peso_gramas", col("PESO").try_cast("int"))
      .withColumn("parto_desc", decodeMap(col("PARTO"), partoMap, "Ignorado"))
      .withColumn("gestacao_desc", decodeMap(col("GESTACAO"), gestacaoMap, "Ignorado"))
      .withColumn("gravidez_desc", decodeMap(col("GRAVIDEZ"), gravidezMap, "Ignorado"))

  /** SIM (mortality) raw → clean. Requires a `row_id` column upstream
    * (the bridge keys on it, sim.py:323). */
  def sim(df: DataFrame): DataFrame = {
    val withBase = df
      .withColumn("data_obito", try_to_date(col("DTOBITO").cast("string"), "ddMMyyyy"))
      .withColumn("data_nascimento", try_to_date(col("DTNASC").cast("string"), "ddMMyyyy"))
      .withColumn("tempo_obito", normalizeHora(col("HORAOBITO"), blankInvalid = false))
      .withColumn("sexo_desc",
        when(col("SEXO") === "1" || col("SEXO") === "M", "Masculino")
          .when(col("SEXO") === "2" || col("SEXO") === "F", "Feminino")
          .otherwise("Ignorado"))
      .withColumn("raca_desc", decodeMap(col("RACACOR"), racaMap, "Ignorado"))
      .withColumn("estciv_desc", decodeMap(col("ESTCIV"), estadoCivilMap, "Ignorado"))
      .withColumn("esc_desc", decodeMap(col("ESC"), escolaridadeMap, "Ignorado"))
      // Coded age (sim.py:91-102): unit digit <4 ⇒ 0 years, 4 ⇒ value,
      // 5 ⇒ value+100, else unknown.
      .withColumn("id_unid", substring(lpad(col("IDADE"), 3, "0"), 1, 1).try_cast("int"))
      .withColumn("id_val", substring(lpad(col("IDADE"), 3, "0"), 2, 2).try_cast("int"))
      .withColumn("idade_anos",
        when(col("id_unid") < 4, 0)
          .when(col("id_unid") === 4, col("id_val"))
          .when(col("id_unid") === 5, col("id_val") + 100)
          .otherwise(lit(null)))
    // ICD cleanup (sim.py:106-115): strip non-alphanumerics and a
    // trailing X; LINHAII is *-separated multi-cause.
    val withCauses = Seq("LINHAA", "LINHAB", "LINHAC", "LINHAD").foldLeft(withBase) { (d, c) =>
      d.withColumn(c, regexp_replace(regexp_replace(col(c), "[^A-Z0-9]", ""), "X$", ""))
    }
    withCauses
      .withColumn("LINHAII_clean", regexp_replace(col("LINHAII"), "[^A-Z0-9*]", ""))
      .withColumn("LINHAII_arr", split(col("LINHAII_clean"), "\\*"))
      .withColumn("LINHAII_arr", expr("filter(LINHAII_arr, x -> x != '')"))
      .withColumn("LINHAII_arr", expr("transform(LINHAII_arr, x -> regexp_replace(x, 'X$', ''))"))
      .withColumn("cod_mun_res", blankToNullInt(col("CODMUNRES"), digits6 = false))
      .withColumn("cod_mun_ocor", blankToNullInt(col("CODMUNOCOR"), digits6 = false))
      .withColumn("ocupacao_cbo", trim(col("OCUP")))
  }
}
