package graft.olapsus

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The six serving queries (SURVEY.md §2.8) as Spark SQL over the
  * warehouse views — behavioral ports of queries/queries-scripts.py and
  * dashboard/app.py (the app.py variants where the script file has the
  * latent bugs noted in SURVEY §5). Call `wh.registerViews()` first.
  *
  * Each is a broadcast-dim star join + hash aggregate; the pivot uses
  * an explicit category list like the reference's CROSSTAB column spec
  * (app.py:112-141) so the output schema is fixed without a discovery
  * pass at plan time.
  */
object ServingQueries {

  /** Roll-up #1: deaths by occupation family × schooling
    * (queries-scripts.py:9-20). The SQL text is public so clients of the
    * Thrift endpoint ([[ServingEndpoint]]) can issue it verbatim. */
  val firstRollUpSql: String = """
    SELECT d_ocp.descricao_familia AS familia,
           d_dem.escolaridade AS escolaridade,
           SUM(f_obt.quantidade_obitos) AS quantidade_obitos
    FROM factobitos f_obt
    JOIN dimocupacao d_ocp ON d_ocp.chave_ocupacao = f_obt.chave_ocupacao
    JOIN dimdemografia d_dem ON d_dem.chave_demografia = f_obt.chave_demografia
    GROUP BY d_ocp.descricao_familia, d_dem.escolaridade
    ORDER BY familia, escolaridade
  """

  def firstRollUp(wh: Warehouse): DataFrame = wh.spark.sql(firstRollUpSql)

  /** Roll-up #2 / drill-down: births by state × mother age band
    * (queries-scripts.py:29-40, app.py:71-81). */
  def secondRollUp(wh: Warehouse): DataFrame = wh.spark.sql("""
    SELECT d_mun.estado AS estado,
           d_dem.faixa_etaria AS faixa_etaria_mae,
           SUM(f.quantidade_nascimentos) AS quantidade_nascimentos
    FROM factnascimentos f
    JOIN dimmunicipio d_mun ON d_mun.chave_municipio = f.chave_municipio_nascimento
    JOIN dimdemografia d_dem ON d_dem.chave_demografia = f.chave_demografia
    GROUP BY d_mun.estado, d_dem.faixa_etaria
    ORDER BY estado, faixa_etaria_mae
  """)

  /** Slice & dice: one city, year range, per month (the working
    * parameterized variant, app.py:84-109). */
  def sliceAndDice(wh: Warehouse, city: String, startYear: Int, endYear: Int): DataFrame =
    wh.spark.sql(
      """
      SELECT d_dat.mes, d_dat.ano, SUM(f_int.quantidade_obitos) AS obitos
      FROM factobitos f_int
      JOIN (SELECT ano, mes, numero_mes, chave_data FROM dimdata
            WHERE ano BETWEEN :start_year AND :end_year) AS d_dat
        ON d_dat.chave_data = f_int.chave_data_obito
      JOIN (SELECT chave_municipio FROM dimmunicipio WHERE nome_municipio = :city) AS d_mun
        ON d_mun.chave_municipio = f_int.chave_municipio_obito
      GROUP BY d_dat.mes, d_dat.ano, d_dat.numero_mes
      ORDER BY d_dat.ano, d_dat.numero_mes
      """,
      Map("start_year" -> startYear, "end_year" -> endYear, "city" -> city))

  /** Pivot: deaths year × UF matrix — the Postgres CROSSTAB
    * (app.py:112-141) as groupBy().pivot() with the UF list discovered
    * the same way the reference's category query does. */
  def pivotYearUf(wh: Warehouse): DataFrame = {
    val ufs = wh.spark.sql("SELECT DISTINCT uf FROM dimmunicipio ORDER BY uf")
      .collect().map(_.getString(0)).toSeq
    wh.spark.sql("""
      SELECT d_dat.ano AS ANO, d_mun.uf AS ESTADO, f_int.quantidade_obitos
      FROM factobitos f_int
      JOIN dimdata d_dat ON d_dat.chave_data = f_int.chave_data_obito
      JOIN dimmunicipio d_mun ON d_mun.chave_municipio = f_int.chave_municipio_obito
    """)
      .groupBy("ANO")
      .pivot("ESTADO", ufs)
      .sum("quantidade_obitos")
      .orderBy("ANO")
  }

  /** Drill-across: births ⋈ deaths per (city, year) over two facts,
    * restricted to three health regions (queries-scripts.py:113-147). */
  def drillAcross(wh: Warehouse,
      regioesSaude: Seq[String] = Seq("Coração do DRS III", "Central do DRS III", "Rio Claro")): DataFrame = {
    val regs = regioesSaude.map(r => "'" + r.replace("'", "''") + "'").mkString(", ")
    wh.spark.sql(s"""
      SELECT nasc.ano AS ano, nasc.municipio AS municipio,
             COALESCE(nasc.quantidade_nascimentos, 0) AS quantidade_nascimentos,
             COALESCE(obit.quantidade_obitos, 0) AS quantidade_obitos
      FROM (
        SELECT d_dat.ano AS ano, d_mun.nome_municipio AS municipio,
               SUM(f_nas.quantidade_nascimentos) AS quantidade_nascimentos
        FROM factnascimentos f_nas
        JOIN dimdata d_dat ON d_dat.chave_data = f_nas.chave_data
        JOIN dimmunicipio d_mun ON d_mun.chave_municipio = f_nas.chave_municipio_nascimento
        WHERE d_mun.regiao_saude IN ($regs)
        GROUP BY d_dat.ano, d_mun.nome_municipio
      ) AS nasc
      JOIN (
        SELECT d_dat.ano AS ano, d_mun.nome_municipio AS municipio,
               SUM(f_obt.quantidade_obitos) AS quantidade_obitos
        FROM factobitos f_obt
        JOIN dimdata d_dat ON d_dat.chave_data = f_obt.chave_data_obito
        JOIN dimmunicipio d_mun ON d_mun.chave_municipio = f_obt.chave_municipio_obito
        WHERE d_mun.regiao_saude IN ($regs)
        GROUP BY d_dat.ano, d_mun.nome_municipio
      ) AS obit
      ON nasc.ano = obit.ano AND nasc.municipio = obit.municipio
      ORDER BY municipio, ano
    """)
  }

  /** Dropdown domain for the dashboard's tab 1: the distinct occupation
    * families (dashboard/app.py:36-41, GET_OCUPACAO_FAMILIAS). */
  def familiaOptions(wh: Warehouse): DataFrame = wh.spark.sql("""
    SELECT DISTINCT descricao_familia
    FROM dimocupacao
    WHERE descricao_familia IS NOT NULL
    ORDER BY descricao_familia
  """)

  /** Grouped top-k: top-10 death causes within an occupation family
    * (app.py:44-68; primary cause only, unknown cause excluded). */
  def top10CausesByOccupation(wh: Warehouse, familia: String): DataFrame =
    wh.spark.sql(
      """
      WITH ClassificacaoCausas AS (
        SELECT d2.descricao_familia, d.descricao_subcategoria,
               SUM(f.quantidade_obitos) AS total_obitos,
               ROW_NUMBER() OVER (PARTITION BY d2.descricao_familia
                                  ORDER BY SUM(f.quantidade_obitos) DESC,
                                           d.descricao_subcategoria) AS ranking
        FROM factobitos f
        JOIN pontegrupocausas p ON p.chave_grupo_causa = f.chave_grupo_causa
        JOIN dimcausa d ON d.chave_causa = p.chave_causa
        JOIN dimocupacao d2 ON d2.chave_ocupacao = f.chave_ocupacao
        WHERE d2.descricao_familia = :familia AND p.ordem_causa = 1 AND d.codigo_cid != '0000'
        GROUP BY d2.descricao_familia, d.descricao_subcategoria
      )
      SELECT descricao_familia, descricao_subcategoria, total_obitos
      FROM ClassificacaoCausas
      WHERE ranking <= 10
      ORDER BY descricao_familia, total_obitos DESC, descricao_subcategoria
      """,
      Map("familia" -> familia))
}
