package graft.olapsus

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark-native dimension seeding — the re-expression of the reference's
  * PL/pgSQL generators (scripts/init.sql:3-659): `generate_series` →
  * `sequence`+`explode`, `CROSS JOIN` of VALUES lists → `crossJoin` of
  * literal Seqs, `COPY` staging → `spark.read.csv`.
  *
  * Surrogate keys: the reference's SERIAL keys are insertion-ordered
  * integers. Every join and serving query goes through *attributes*, so
  * only the sentinel key values (0, and −1 for dimHorario,
  * init.sql:106-107,585-652) are semantic; generated keys here are
  * deterministic functions (day ordinal, second-of-day) or row_numbers
  * over a stable order — no driver-side loops, no global state.
  *
  * Scale: the largest dim is 86,400 rows — generation is a single
  * driver-light job; dims are broadcast at join time (reference T3).
  */
object Dims {

  private val ptDays = Map(
    1 -> "Segunda-feira", 2 -> "Terça-feira", 3 -> "Quarta-feira",
    4 -> "Quinta-feira", 5 -> "Sexta-feira", 6 -> "Sábado", 7 -> "Domingo")
  private val ptMonths = Map(
    1 -> "Janeiro", 2 -> "Fevereiro", 3 -> "Março", 4 -> "Abril",
    5 -> "Maio", 6 -> "Junho", 7 -> "Julho", 8 -> "Agosto",
    9 -> "Setembro", 10 -> "Outubro", 11 -> "Novembro", 12 -> "Dezembro")

  private def decode(c: org.apache.spark.sql.Column, m: Map[Int, String]) =
    m.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(c === k, v).otherwise(acc)
    }

  /** Date spine 1900-01-01..2030-12-31 (init.sql:5-6,50-100);
    * chave_data = day ordinal from 1900-01-01 + 1 (equals the SERIAL
    * insertion order). */
  def dimData(spark: SparkSession): DataFrame = {
    val start = "1900-01-01"
    spark.range(1)
      .select(explode(expr(s"sequence(to_date('$start'), to_date('2030-12-31'), interval 1 day)")).as("data"))
      .select(
        (datediff(col("data"), to_date(lit(start))) + 1).cast("int").as("chave_data"),
        col("data"),
        (weekday(col("data")) + 1).as("numero_dia_semana"),
        decode(weekday(col("data")) + 1, ptDays).as("dia_semana"),
        dayofmonth(col("data")).as("numero_dia"),
        dayofyear(col("data")).as("dia_ano"),
        month(col("data")).as("numero_mes"),
        decode(month(col("data")), ptMonths).as("mes"),
        year(col("data")).as("ano"),
        ceil(month(col("data")) / 2.0).cast("int").as("bimestre"),
        ceil(month(col("data")) / 3.0).cast("int").as("trimestre"),
        ceil(month(col("data")) / 6.0).cast("int").as("semestre"))
  }

  /** Every second of the day + the −1 'Ignorado' sentinel
    * (init.sql:106-130); chave_tempo = second-of-day + 1. */
  def dimHorario(spark: SparkSession): DataFrame = {
    val spine = spark.range(0, 24L * 3600)
      .select(
        (col("id") + 1).cast("int").as("chave_tempo"),
        (col("id") / 3600).cast("int").as("hora"),
        ((col("id") % 3600) / 60).cast("int").as("minutos"),
        (col("id") % 60).cast("int").as("segundos"))
      .withColumn("tempo", format_string("%02d:%02d:%02d", col("hora"), col("minutos"), col("segundos")))
      .withColumn(
        "periodo",
        when(col("hora").between(0, 5), "madrugada")
          .when(col("hora").between(6, 11), "manhã")
          .when(col("hora").between(12, 17), "tarde")
          .otherwise("noite"))
      .select("chave_tempo", "tempo", "hora", "minutos", "segundos", "periodo")
    val sentinel = spark.sql(
      "SELECT -1 AS chave_tempo, CAST(NULL AS STRING) AS tempo, CAST(NULL AS INT) AS hora, " +
        "CAST(NULL AS INT) AS minutos, CAST(NULL AS INT) AS segundos, 'Ignorado' AS periodo")
    sentinel.union(spine)
  }

  // Shared label domains (init.sql:442-510 VALUES lists; identical strings
  // to the ETL decode outputs so the attribute joins hit).
  val racas = Seq("Branca", "Preta", "Amarela", "Parda", "Indígena", "Ignorado")
  val escolaridades = Seq(
    ("Nenhuma", 0), ("1 a 3 anos", 1), ("4 a 7 anos", 2),
    ("8 a 11 anos", 3), ("12 e mais", 4), ("Ignorado", 9))
  val estadosCivis = Seq(
    "Solteiro", "Casado", "Viúvo", "Separado judicialmente/divorciado",
    "União estável", "Ignorado")
  val sexos = Seq(("M", "Masculino"), ("F", "Feminino"), ("I", "Ignorado"))
  /** Age bands: 0-5, 6..96 by 5 (n..n+4), >100, Ignorado (init.sql:490-506). */
  val faixasEtarias: Seq[(String, Option[Int], Option[Int])] =
    ("0 a 5 anos", Some(0), Some(5)) +:
      (6 to 96 by 5).map(n => (s"$n a ${n + 4} anos", Some(n), Some(n + 4))) :+
      ("Mais de 100 anos", Some(101), Option.empty[Int]) :+
      ("Ignorado", Option.empty[Int], Option.empty[Int])
  val faixasPeso: Seq[(String, Option[Int], Option[Int])] = Seq(
    ("Extremo Baixo Peso", Some(0), Some(999)),
    ("Muito Baixo Peso", Some(1000), Some(1499)),
    ("Baixo Peso", Some(1500), Some(2499)),
    ("Normal", Some(2500), Some(3999)),
    ("Macrossômico", Some(4000), None),
    ("Ignorado", None, None))
  val tiposParto = Seq("Vaginal", "Cesário", "Ignorado")
  val temposGestacao: Seq[(String, Option[Int], Option[Int])] = Seq(
    ("Menos de 22 semanas", Some(0), Some(21)),
    ("22 a 27 semanas", Some(22), Some(27)),
    ("28 a 31 semanas", Some(28), Some(31)),
    ("32 a 36 semanas", Some(32), Some(36)),
    ("37 a 41 semanas", Some(37), Some(41)),
    ("42 semanas e mais", Some(42), None),
    ("Ignorado", None, None))
  val tiposGravidez = Seq("Única", "Dupla", "Tripla ou mais", "Ignorado")

  /** race × schooling × marital × sex × age-band cross product + sentinel 0
    * (init.sql:442-510, 602-624): 6·6·6·3·22 = 14,256 rows. */
  def dimDemografia(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cross = racas.toDF("raca")
      .crossJoin(escolaridades.toDF("escolaridade", "nivel_escolaridade"))
      .crossJoin(estadosCivis.toDF("estado_civil"))
      .crossJoin(sexos.toDF("sexo", "descricao_sexo"))
      .crossJoin(faixasEtarias.toDF("faixa_etaria", "idade_minima", "idade_maxima"))
    val keyed = cross.withColumn(
      "chave_demografia",
      row_number().over(Window.orderBy(
        "raca", "nivel_escolaridade", "estado_civil", "sexo", "faixa_etaria")))
    val sentinel = Seq(
      (0, "Ignorado", "Ignorado", Some(0), Some(0), "I", "Ignorado", "Ignorado", 0, "Ignorado"))
      .toDF("chave_demografia", "raca", "faixa_etaria", "idade_minima", "idade_maxima",
        "sexo", "descricao_sexo", "escolaridade", "nivel_escolaridade", "estado_civil")
    val cols = sentinel.columns.map(col)
    sentinel.union(keyed.select(cols: _*))
  }

  /** sex × race × weight-band × delivery × gestation × pregnancy cross
    * product + sentinel 0 (init.sql:512-579, 626-652): 9,072 rows. */
  def dimInfoNascimento(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cross = sexos.toDF("sexo", "descricao_sexo")
      .crossJoin(racas.toDF("raca_cor"))
      .crossJoin(faixasPeso.toDF("faixa_peso", "peso_min_gramas", "peso_max_gramas"))
      .crossJoin(tiposParto.toDF("tipo_parto"))
      .crossJoin(temposGestacao.toDF("tempo_gestacao", "semanas_gestacao_min", "semanas_gestacao_max"))
      .crossJoin(tiposGravidez.toDF("tipo_gravidez"))
    val keyed = cross.withColumn(
      "chave_info_nascimento",
      row_number().over(Window.orderBy(
        "sexo", "raca_cor", "faixa_peso", "tipo_parto", "tempo_gestacao", "tipo_gravidez")))
    val sentinel = Seq(
      (0, "I", "Ignorado", "Ignorado", "Ignorado", Some(0), Some(0), "Ignorado", "Ignorado", Some(0), Some(0), "Ignorado"))
      .toDF("chave_info_nascimento", "sexo", "descricao_sexo", "raca_cor",
        "faixa_peso", "peso_min_gramas", "peso_max_gramas", "tipo_parto",
        "tempo_gestacao", "semanas_gestacao_min", "semanas_gestacao_max", "tipo_gravidez")
    val cols = sentinel.columns.map(col)
    sentinel.union(keyed.select(cols: _*))
  }

  /** Seed-CSV dim: municipalities (init.sql:268-338). Reads the public
    * basedosdados municipio directory CSV schema; keeps the same 8
    * attributes; sentinel 0 = 'Ignorado'/'IG'. */
  def dimMunicipio(spark: SparkSession, csvPath: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(csvPath)
    val rows = raw
      .filter(col("id_municipio").isNotNull && col("id_municipio") =!= "")
      .select(
        col("id_municipio").cast("int").as("codigo_ibge"),
        col("nome").as("nome_municipio"),
        col("sigla_uf").as("uf"),
        col("nome_uf").as("estado"),
        col("nome_regiao").as("regiao"),
        col("nome_regiao_saude").as("regiao_saude"),
        col("nome_regiao_metropolitana").as("regiao_metropolitana"),
        (col("capital_uf") === "1").as("is_capital"))
      .withColumn("chave_municipio", row_number().over(Window.orderBy("codigo_ibge")))
    val sentinel = spark.sql(
      "SELECT 0 AS chave_municipio, 0 AS codigo_ibge, 'Ignorado' AS nome_municipio, 'IG' AS uf, " +
        "'Ignorado' AS estado, 'Ignorado' AS regiao, CAST(NULL AS STRING) AS regiao_saude, " +
        "CAST(NULL AS STRING) AS regiao_metropolitana, FALSE AS is_capital")
    val cols = sentinel.columns.map(col)
    sentinel.union(rows.select(cols: _*))
  }

  /** Seed-CSV dim: CBO-2002 occupations (init.sql:340-392), trimmed;
    * sentinel 0 = cbo '000000'. */
  def dimOcupacao(spark: SparkSession, csvPath: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(csvPath)
    val t = (c: String) => trim(col(c)).as(c)
    val rows = raw.select(
      t("cbo_2002"), t("descricao"), t("familia"), t("descricao_familia"),
      t("subgrupo"), t("descricao_subgrupo"), t("subgrupo_principal"),
      t("descricao_subgrupo_principal"), t("grande_grupo"), t("descricao_grande_grupo"),
      when(trim(col("indicador_cbo_2002_ativa")) === "1", 1).otherwise(0).as("indicador_cbo_2002_ativa"))
      .withColumn("chave_ocupacao", row_number().over(Window.orderBy("cbo_2002")))
    val sentinel = spark.sql(
      "SELECT 0 AS chave_ocupacao, '000000' AS cbo_2002, 'Ignorado' AS descricao, " +
        "CAST(NULL AS STRING) AS familia, CAST(NULL AS STRING) AS descricao_familia, " +
        "CAST(NULL AS STRING) AS subgrupo, CAST(NULL AS STRING) AS descricao_subgrupo, " +
        "CAST(NULL AS STRING) AS subgrupo_principal, CAST(NULL AS STRING) AS descricao_subgrupo_principal, " +
        "CAST(NULL AS STRING) AS grande_grupo, CAST(NULL AS STRING) AS descricao_grande_grupo, " +
        "0 AS indicador_cbo_2002_ativa")
    val cols = sentinel.columns.map(col)
    sentinel.union(rows.select(cols: _*))
  }

  /** Seed-CSV dim: ICD-10 causes (init.sql:394-440); codigo_CID is the
    * subcategoria code; sentinel 0 = '0000' 'Causa Ignorada'. */
  def dimCausa(spark: SparkSession, csvPath: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(csvPath)
    val rows = raw.select(
      col("subcategoria").as("codigo_CID"),
      col("subcategoria"),
      col("descricao_subcategoria"),
      col("categoria"),
      col("descricao_categoria"),
      col("capitulo"),
      col("descricao_capitulo"),
      (col("causa_violencia") === "1").as("causa_violencia"),
      (col("causa_overdose") === "1").as("causa_overdose"))
      .withColumn("chave_causa", row_number().over(Window.orderBy("codigo_CID")))
    val sentinel = spark.sql(
      "SELECT 0 AS chave_causa, '0000' AS codigo_CID, CAST(NULL AS STRING) AS subcategoria, " +
        "'Causa Ignorada' AS descricao_subcategoria, CAST(NULL AS STRING) AS categoria, " +
        "CAST(NULL AS STRING) AS descricao_categoria, CAST(NULL AS STRING) AS capitulo, " +
        "CAST(NULL AS STRING) AS descricao_capitulo, FALSE AS causa_violencia, FALSE AS causa_overdose")
    val cols = sentinel.columns.map(col)
    sentinel.union(rows.select(cols: _*))
  }

  /** Bridge seed: group 0 → cause 0, ordem 1 (init.sql:598-600). */
  def bridgeSeed(spark: SparkSession): DataFrame =
    spark.sql("SELECT 0 AS chave_grupo_causa, 0 AS chave_causa, 1 AS ordem_causa")

  /** Seed the full warehouse (the init.sql bootstrap, §3.3). */
  def seedAll(wh: Warehouse, municipioCsv: String, cboCsv: String, cidCsv: String): Unit = {
    // SIM/SINASC rows name a municipality by its 6-digit prefix
    // (codigo_ibge / 10, check digit dropped), so a repeated prefix would
    // fan every fact of that municipality out to each id sharing it.
    // Checked before anything is written.
    val mun = dimMunicipio(wh.spark, municipioCsv)
    mun.groupBy(floor(col("codigo_ibge") / 10).as("prefix")).count()
      .filter(col("count") > 1).limit(1).collect().headOption.foreach { r =>
        throw new IllegalArgumentException(s"$municipioCsv: 6-digit municipality " +
          s"prefix ${r.getLong(0)} is shared by ${r.getLong(1)} ids; nothing was seeded")
      }
    wh.write("dimData", dimData(wh.spark))
    wh.write("dimHorario", dimHorario(wh.spark))
    wh.write("dimMunicipio", mun)
    wh.write("dimOcupacao", dimOcupacao(wh.spark, cboCsv))
    wh.write("dimCausa", dimCausa(wh.spark, cidCsv))
    wh.write("dimDemografia", dimDemografia(wh.spark))
    wh.write("dimInfoNascimento", dimInfoNascimento(wh.spark))
    wh.write(Warehouse.Bridge, bridgeSeed(wh.spark))
  }
}
