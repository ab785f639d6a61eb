"""Independent DuckDB oracle for the ingest and serve workloads, and the
output checks for all three workloads.

The oracle reads only the generated CSVs: it restates the decode rules
of `Transforms` and the join, fill and drop rules of `Pipeline` and
`CauseBridge` in SQL, as written (band joins included: a row that
matches two band rows is counted twice, exactly as the left join does).
The warehouse is read back with DuckDB too and mapped from surrogate
keys to natural keys, so the comparison never depends on how the
program numbers its keys.
"""
import json
import math
import os

import duckdb

DEM_SEXOS = [("M", "Masculino"), ("F", "Feminino"), ("I", "Ignorado")]
RACAS = ["Branca", "Preta", "Amarela", "Parda", "Indígena", "Ignorado"]
ESCOLARIDADES = ["Nenhuma", "1 a 3 anos", "4 a 7 anos", "8 a 11 anos", "12 e mais", "Ignorado"]
ESTADOS_CIVIS = ["Solteiro", "Casado", "Viúvo", "Separado judicialmente/divorciado",
                 "União estável", "Ignorado"]
FAIXAS_ETARIAS = ([("0 a 5 anos", 0, 5)] + [(f"{n} a {n + 4} anos", n, n + 4) for n in range(6, 97, 5)]
                  + [("Mais de 100 anos", 101, None), ("Ignorado", None, None)])
FAIXAS_PESO = [("Extremo Baixo Peso", 0, 999), ("Muito Baixo Peso", 1000, 1499),
               ("Baixo Peso", 1500, 2499), ("Normal", 2500, 3999), ("Macrossômico", 4000, None),
               ("Ignorado", None, None)]
PARTOS = ["Vaginal", "Cesário", "Ignorado"]
GESTACOES = ["Menos de 22 semanas", "22 a 27 semanas", "28 a 31 semanas", "32 a 36 semanas",
             "37 a 41 semanas", "42 semanas e mais", "Ignorado"]
GRAVIDEZES = ["Única", "Dupla", "Tripla ou mais", "Ignorado"]
MESES = ["Janeiro", "Fevereiro", "Março", "Abril", "Maio", "Junho", "Julho", "Agosto",
         "Setembro", "Outubro", "Novembro", "Dezembro"]

RACA_MAP = {"1": "Branca", "2": "Preta", "3": "Amarela", "4": "Parda", "5": "Indígena"}
ESC_MAP = {"1": "Nenhuma", "2": "1 a 3 anos", "3": "4 a 7 anos", "4": "8 a 11 anos", "5": "12 e mais"}
ESTCIV_MAP = {"1": "Solteiro", "2": "Casado", "3": "Viúvo", "4": "Separado judicialmente/divorciado",
              "5": "União estável"}
PARTO_MAP = {"1": "Vaginal", "2": "Cesário"}
GEST_MAP = {str(i + 1): g for i, g in enumerate(GESTACOES[:6])}
GRAV_MAP = {"1": "Única", "2": "Dupla", "3": "Tripla ou mais"}

# ServingQueries.drillAcross's default health regions.
DRILL_REGIONS = ["Coração do DRS III", "Central do DRS III", "Rio Claro"]
DATE_MIN, DATE_MAX = "1900-01-01", "2030-12-31"
TEMPO_OK = "'^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]$'"


def q(s):
    return "'" + str(s).replace("'", "''") + "'"


def decode(col, mapping):
    arms = " ".join(f"WHEN {col} = {q(k)} THEN {q(v)}" for k, v in mapping.items())
    return f"(CASE {arms} ELSE 'Ignorado' END)"


def nat_dem(t, sentinel):
    """Natural key of a demografia row; the sentinel row (key 0) is 'SENTINEL'."""
    return (f"CASE WHEN {sentinel} THEN 'SENTINEL' ELSE concat_ws('|', {t}.sexo, {t}.raca, {t}.estado_civil, "
            f"{t}.escolaridade, {t}.faixa_etaria, coalesce(CAST({t}.idade_minima AS VARCHAR), '-'), "
            f"coalesce(CAST({t}.idade_maxima AS VARCHAR), '-')) END")


def nat_info(t, sentinel):
    return (f"CASE WHEN {sentinel} THEN 'SENTINEL' ELSE concat_ws('|', {t}.sexo, {t}.raca_cor, {t}.faixa_peso, "
            f"coalesce(CAST({t}.peso_min_gramas AS VARCHAR), '-'), coalesce(CAST({t}.peso_max_gramas AS VARCHAR), '-'), "
            f"{t}.tipo_parto, {t}.tempo_gestacao, {t}.tipo_gravidez) END")


def values(rows):
    return ", ".join("(" + ", ".join("NULL" if v is None else q(v) if isinstance(v, str) else str(v)
                                     for v in r) + ")" for r in rows)


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def load_dims(con, seeds):
    """The oracle's own dimension tables, from the seed CSVs and the
    reference's label domains (sentinel rows included)."""
    con.execute(f"""CREATE OR REPLACE TABLE o_mun AS
      SELECT CAST(id_municipio AS BIGINT) AS ibge, CAST(id_municipio AS BIGINT) // 10 AS base6,
             nome, sigla_uf AS uf, nome_uf AS estado, nome_regiao_saude AS regiao_saude
      FROM read_csv('{seeds}/municipio.csv', header=true, all_varchar=true)
      WHERE id_municipio IS NOT NULL AND id_municipio != ''
      UNION ALL SELECT 0, NULL, 'Ignorado', 'IG', 'Ignorado', NULL""")
    con.execute(f"""CREATE OR REPLACE TABLE o_cbo AS
      SELECT trim(cbo_2002) AS cbo, trim(descricao_familia) AS descricao_familia
      FROM read_csv('{seeds}/cbo.csv', header=true, all_varchar=true)
      UNION ALL SELECT '000000', NULL""")
    con.execute(f"""CREATE OR REPLACE TABLE o_cid AS
      SELECT subcategoria AS code, descricao_subcategoria FROM read_csv('{seeds}/cid.csv', header=true, all_varchar=true)
      UNION ALL SELECT '0000', 'Causa Ignorada'""")
    dem = [(s, d, r, ec, e, f, lo, hi) for r in RACAS for e in ESCOLARIDADES for ec in ESTADOS_CIVIS
           for s, d in DEM_SEXOS for f, lo, hi in FAIXAS_ETARIAS]
    dem = [r + (False,) for r in dem] + [("I", "Ignorado", "Ignorado", "Ignorado", "Ignorado", "Ignorado", 0, 0, True)]
    con.execute(f"""CREATE OR REPLACE TABLE o_dem AS SELECT *, {nat_dem('t', 't.sentinel')} AS k FROM (VALUES {values(dem)})
      AS t(sexo, descricao_sexo, raca, estado_civil, escolaridade, faixa_etaria, idade_minima, idade_maxima, sentinel)""")
    info = [(s, r, f, lo, hi, p, g, gr) for s, _ in DEM_SEXOS for r in RACAS for f, lo, hi in FAIXAS_PESO
            for p in PARTOS for g in GESTACOES for gr in GRAVIDEZES]
    info = [r + (False,) for r in info] + [("I", "Ignorado", "Ignorado", 0, 0, "Ignorado", "Ignorado", "Ignorado", True)]
    con.execute(f"""CREATE OR REPLACE TABLE o_info AS SELECT *, {nat_info('t', 't.sentinel')} AS k FROM (VALUES {values(info)})
      AS t(sexo, raca_cor, faixa_peso, peso_min_gramas, peso_max_gramas, tipo_parto, tempo_gestacao, tipo_gravidez, sentinel)""")
    con.execute(f"CREATE OR REPLACE MACRO in_dim_date(d) AS d BETWEEN DATE '{DATE_MIN}' AND DATE '{DATE_MAX}'")


def read_landing(con, name, glob):
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS
      SELECT *, row_number() OVER () AS rid FROM read_csv('{glob}', delim=';', header=true,
        all_varchar=true, hive_partitioning=true, hive_types_autocast=false)""")


def oracle_sim(con):
    """Restated SIM ingest → natural-key fact `o_sim` plus per-row facts."""
    hora = "lpad(HORAOBITO, 4, '0')"
    idade = "lpad(IDADE, 3, '0')"
    cause = lambda c: f"regexp_replace(regexp_replace({c}, '[^A-Z0-9]', '', 'g'), 'X$', '')"
    con.execute(f"""CREATE OR REPLACE TABLE sim_clean AS SELECT rid, dt,
        CAST(try_strptime(DTOBITO, '%d%m%Y') AS DATE) AS data_obito,
        CAST(try_strptime(DTNASC, '%d%m%Y') AS DATE) AS data_nascimento,
        CASE WHEN {hora} IS NULL OR {hora} > '2359' THEN '00:00:00'
             ELSE substr({hora}, 1, 2) || ':' || substr({hora}, 3, 2) || ':00' END AS tempo,
        CASE WHEN SEXO IN ('1', 'M') THEN 'Masculino' WHEN SEXO IN ('2', 'F') THEN 'Feminino'
             ELSE 'Ignorado' END AS sexo_desc,
        {decode('RACACOR', RACA_MAP)} AS raca, {decode('ESTCIV', ESTCIV_MAP)} AS estciv,
        {decode('ESC', ESC_MAP)} AS esc,
        CASE WHEN CAST(substr({idade}, 1, 1) AS INT) < 4 THEN 0
             WHEN CAST(substr({idade}, 1, 1) AS INT) = 4 THEN CAST(substr({idade}, 2, 2) AS INT)
             WHEN CAST(substr({idade}, 1, 1) AS INT) = 5 THEN CAST(substr({idade}, 2, 2) AS INT) + 100
        END AS idade,
        CASE WHEN CODMUNRES IS NULL OR trim(CODMUNRES) = '' THEN NULL ELSE CAST(CODMUNRES AS INT) END AS cod_res,
        CASE WHEN CODMUNOCOR IS NULL OR trim(CODMUNOCOR) = '' THEN NULL ELSE CAST(CODMUNOCOR AS INT) END AS cod_ocor,
        trim(OCUP) AS ocup
      FROM sim_raw""")
    con.execute(f"""CREATE OR REPLACE TABLE sim_causes AS
      WITH items AS (
        SELECT rid, 1 AS ordem, {cause('LINHAA')} AS code FROM sim_raw
        UNION ALL SELECT rid, 2, {cause('LINHAB')} FROM sim_raw
        UNION ALL SELECT rid, 3, {cause('LINHAC')} FROM sim_raw
        UNION ALL SELECT rid, 4, {cause('LINHAD')} FROM sim_raw
        UNION ALL SELECT rid, CAST(i + 4 AS INT), code FROM (
          SELECT rid, unnest(arr) AS code, generate_subscripts(arr, 1) AS i FROM (
            SELECT rid, list_transform(list_filter(string_split(regexp_replace(LINHAII, '[^A-Z0-9*]', '', 'g'), '*'),
                                                   x -> x != ''), x -> regexp_replace(x, 'X$', '')) AS arr
            FROM sim_raw WHERE LINHAII IS NOT NULL)))
      SELECT i.rid, i.ordem, coalesce(c.code, '0000') AS code
      FROM items i LEFT JOIN o_cid c ON c.code = i.code
      WHERE i.code IS NOT NULL AND i.code != ''""")
    con.execute("""CREATE OR REPLACE TABLE sim_sig AS
      SELECT rid, string_agg(code || ':' || ordem, '|' ORDER BY ordem) AS sig FROM sim_causes GROUP BY rid""")
    con.execute(f"""CREATE OR REPLACE TABLE sim_rows AS
      SELECT s.rid, s.dt,
        CASE WHEN in_dim_date(s.data_nascimento) THEN s.data_nascimento END AS data_nascimento,
        CASE WHEN in_dim_date(s.data_obito) THEN s.data_obito END AS data_obito,
        CASE WHEN regexp_matches(s.tempo, {TEMPO_OK}) THEN s.tempo END AS tempo,
        CASE WHEN mr.ibge IS NOT NULL THEN mr.ibge WHEN s.cod_res IS NOT NULL THEN 0 END AS mun_res,
        CASE WHEN mo.ibge IS NOT NULL THEN mo.ibge WHEN s.cod_ocor IS NOT NULL THEN 0 END AS mun_ocor,
        d.k AS dem,
        coalesce(g.sig, '0000:1') AS sig,
        coalesce(c.cbo, '000000') AS cbo,
        count(*) OVER (PARTITION BY s.rid) AS fanout
      FROM sim_clean s
      LEFT JOIN o_mun mr ON mr.base6 = s.cod_res
      LEFT JOIN o_mun mo ON mo.base6 = s.cod_ocor
      LEFT JOIN o_cbo c ON c.cbo = s.ocup AND c.cbo != '000000'
      LEFT JOIN o_dem d ON s.sexo_desc = d.descricao_sexo AND s.raca = d.raca AND s.estciv = d.estado_civil
        AND s.esc = d.escolaridade AND s.idade >= d.idade_minima
        AND (d.idade_maxima IS NULL OR s.idade <= d.idade_maxima)
      LEFT JOIN sim_sig g ON g.rid = s.rid""")
    con.execute("""CREATE OR REPLACE TABLE o_sim AS
      SELECT dt, data_nascimento, data_obito, tempo, mun_res, mun_ocor, dem, sig, cbo, count(*) AS n
      FROM sim_rows
      WHERE data_nascimento IS NOT NULL AND data_obito IS NOT NULL AND tempo IS NOT NULL
        AND mun_res IS NOT NULL AND mun_ocor IS NOT NULL AND dem IS NOT NULL
      GROUP BY ALL""")


def oracle_sinasc(con):
    hora = "lpad(HORANASC, 4, '0')"
    mun = lambda c: f"CASE WHEN {c} IS NULL OR trim({c}) = '' THEN NULL ELSE CAST(substr({c}, 1, 6) AS INT) END"
    con.execute(f"""CREATE OR REPLACE TABLE sinasc_clean AS SELECT rid, dt,
        CAST(try_strptime(DTNASC, '%d%m%Y') AS DATE) AS data_nascimento,
        CASE WHEN {hora} IS NULL OR {hora} = '' OR {hora} > '2359' THEN '00:00:00'
             ELSE substr({hora}, 1, 2) || ':' || substr({hora}, 3, 2) || ':00' END AS tempo,
        {mun('CODMUNNASC')} AS cod_nasc, {mun('CODMUNRES')} AS cod_res,
        CAST(IDADEMAE AS INT) AS idade_mae,
        {decode('RACACORMAE', RACA_MAP)} AS raca_mae, {decode('ESCMAE', ESC_MAP)} AS esc_mae,
        {decode('ESTCIVMAE', ESTCIV_MAP)} AS estciv_mae,
        CASE WHEN SEXO = '1' THEN 'M' WHEN SEXO = '2' THEN 'F' ELSE 'I' END AS sexo_rn,
        {decode('RACACOR', RACA_MAP)} AS raca_rn, CAST(PESO AS INT) AS peso,
        {decode('PARTO', PARTO_MAP)} AS parto, {decode('GESTACAO', GEST_MAP)} AS gestacao,
        {decode('GRAVIDEZ', GRAV_MAP)} AS gravidez
      FROM sinasc_raw""")
    # The band joins match on their equality keys first and filter the
    # bands after (a LEFT JOIN on the whole band condition makes DuckDB
    # compare every row with every band row); joined back on the unique
    # rid, every match is kept, exactly as the program's left joins do.
    con.execute(f"""CREATE OR REPLACE TABLE sinasc_rows AS
      WITH dm AS (
        SELECT s.rid, d.k FROM sinasc_clean s
        JOIN o_dem d ON d.sexo = 'F' AND s.raca_mae = d.raca AND s.estciv_mae = d.estado_civil
          AND s.esc_mae = d.escolaridade
        WHERE ((s.idade_mae IS NOT NULL AND s.idade_mae >= d.idade_minima)
               OR (s.idade_mae IS NULL AND d.idade_minima IS NULL))
          AND (d.idade_maxima IS NULL OR s.idade_mae <= d.idade_maxima)),
      im AS (
        SELECT s.rid, i.k FROM sinasc_clean s
        JOIN o_info i ON s.sexo_rn = i.sexo AND s.raca_rn = i.raca_cor AND s.parto = i.tipo_parto
          AND s.gestacao = i.tempo_gestacao AND s.gravidez = i.tipo_gravidez
        WHERE ((s.peso IS NOT NULL AND s.peso >= i.peso_min_gramas)
               OR (s.peso IS NULL AND i.peso_min_gramas IS NULL))
          AND (i.peso_max_gramas IS NULL OR s.peso <= i.peso_max_gramas))
      SELECT s.rid, s.dt,
        CASE WHEN in_dim_date(s.data_nascimento) THEN s.data_nascimento END AS data_nascimento,
        CASE WHEN regexp_matches(s.tempo, {TEMPO_OK}) THEN s.tempo ELSE 'SENTINEL' END AS tempo,
        coalesce(mn.ibge, 0) AS mun_nasc, coalesce(mr.ibge, 0) AS mun_res,
        coalesce(dm.k, 'SENTINEL') AS dem, coalesce(im.k, 'SENTINEL') AS info,
        count(*) OVER (PARTITION BY s.rid) AS fanout
      FROM sinasc_clean s
      LEFT JOIN o_mun mn ON mn.base6 = s.cod_nasc
      LEFT JOIN o_mun mr ON mr.base6 = s.cod_res
      LEFT JOIN dm ON dm.rid = s.rid
      LEFT JOIN im ON im.rid = s.rid""")
    con.execute("""CREATE OR REPLACE TABLE o_sinasc AS
      SELECT dt, data_nascimento, tempo, mun_nasc, mun_res, dem, info, count(*) AS n
      FROM sinasc_rows WHERE data_nascimento IS NOT NULL GROUP BY ALL""")


def run_oracle(con, seeds, landing, datasets=("sim", "sinasc")):
    load_dims(con, seeds)
    for ds in datasets:
        read_landing(con, f"{ds}_raw", f"{landing}/{ds}/dt=*/*.csv")
        {"sim": oracle_sim, "sinasc": oracle_sinasc}[ds](con)
    counts = {}
    for ds in datasets:
        fact = f"o_{ds}"
        read = con.execute(f"SELECT count(*) FROM {ds}_raw").fetchone()[0]
        kept = con.execute(f"SELECT coalesce(sum(n), 0) FROM {fact}").fetchone()[0]
        multi = con.execute(f"SELECT count(DISTINCT rid) FROM {ds}_rows WHERE fanout > 1").fetchone()[0]
        counts[ds] = dict(rows_read=read, fact_count=kept, rows_multi_match=multi)
    if "sim" in counts:
        counts["sim"]["rows_sentinel"] = con.execute(
            "SELECT coalesce(sum(n), 0) FROM o_sim WHERE mun_res = 0 OR mun_ocor = 0 OR cbo = '000000' "
            "OR sig = '0000:1' OR dem = 'SENTINEL'").fetchone()[0]
        counts["sim"]["groups"] = con.execute(
            "SELECT count(*) FROM (SELECT sig FROM sim_sig UNION SELECT '0000:1')").fetchone()[0]
    if "sinasc" in counts:
        counts["sinasc"]["rows_sentinel"] = con.execute(
            "SELECT coalesce(sum(n), 0) FROM o_sinasc WHERE mun_nasc = 0 OR mun_res = 0 OR tempo = 'SENTINEL' "
            "OR dem = 'SENTINEL' OR info = 'SENTINEL'").fetchone()[0]
    for ds in counts:
        counts[ds]["rows_dropped"] = counts[ds]["rows_read"] - con.execute(
            f"SELECT count(DISTINCT rid) FROM {ds}_rows WHERE "
            + ("data_nascimento IS NOT NULL AND data_obito IS NOT NULL AND tempo IS NOT NULL AND "
               "mun_res IS NOT NULL AND mun_ocor IS NOT NULL AND dem IS NOT NULL" if ds == "sim"
               else "data_nascimento IS NOT NULL")).fetchone()[0]
    return counts


def new_group_shares(con):
    """Per SIM landing day, in date order: (day, distinct cause lists, how
    many of them no earlier day had), i.e. the groups that day's batch
    adds to the bridge."""
    return con.execute("""
      WITH d AS (SELECT DISTINCT r.dt, g.sig FROM sim_sig g JOIN sim_raw r USING (rid)),
           f AS (SELECT sig, min(dt) AS first_dt FROM d GROUP BY sig)
      SELECT d.dt, count(*), count(*) FILTER (WHERE f.first_dt = d.dt)
      FROM d JOIN f USING (sig) GROUP BY d.dt ORDER BY d.dt""").fetchall()


def load_warehouse(con, wh, datasets=("sim", "sinasc")):
    """The program's warehouse, read back and mapped to natural keys."""
    pq = lambda t: f"read_parquet('{wh}/{t}/*.parquet')"
    for t in ("dimData", "dimHorario", "dimMunicipio", "dimOcupacao", "dimCausa",
              "dimDemografia", "dimInfoNascimento", "ponteGrupoCausas"):
        con.execute(f"CREATE OR REPLACE VIEW w_{t.lower()} AS SELECT * FROM {pq(t)}")
    fact = lambda t: (f"read_parquet('{wh}/{t}/*/*.parquet', hive_partitioning=true, hive_types_autocast=false)")
    if "sim" in datasets:
        load_sim_facts(con, fact)
    if "sinasc" in datasets:
        load_sinasc_facts(con, fact)


def load_sim_facts(con, fact):
    con.execute("""CREATE OR REPLACE TABLE w_sig AS
      SELECT b.chave_grupo_causa AS g, string_agg(c.codigo_CID || ':' || b.ordem_causa, '|' ORDER BY b.ordem_causa) AS sig,
             count(*) AS items, count(c.codigo_CID) AS known
      FROM w_pontegrupocausas b LEFT JOIN w_dimcausa c ON c.chave_causa = b.chave_causa
      GROUP BY b.chave_grupo_causa""")
    con.execute(f"""CREATE OR REPLACE TABLE w_sim AS
      SELECT f.dt, dn.data AS data_nascimento, dob.data AS data_obito, h.tempo,
             mr.codigo_ibge AS mun_res, mo.codigo_ibge AS mun_ocor,
             {nat_dem('d', 'f.chave_demografia = 0')} AS dem,
             g.sig, o.cbo_2002 AS cbo, f.chave_grupo_causa AS g, sum(f.quantidade_obitos) AS n
      FROM {fact('factObitos')} f
      LEFT JOIN w_dimdata dn ON dn.chave_data = f.chave_data_nascimento
      LEFT JOIN w_dimdata dob ON dob.chave_data = f.chave_data_obito
      LEFT JOIN w_dimhorario h ON h.chave_tempo = f.chave_tempo_obito
      LEFT JOIN w_dimmunicipio mr ON mr.chave_municipio = f.chave_municipio_residencia
      LEFT JOIN w_dimmunicipio mo ON mo.chave_municipio = f.chave_municipio_obito
      LEFT JOIN w_dimdemografia d ON d.chave_demografia = f.chave_demografia
      LEFT JOIN w_sig g ON g.g = f.chave_grupo_causa
      LEFT JOIN w_dimocupacao o ON o.chave_ocupacao = f.chave_ocupacao
      GROUP BY ALL""")


def load_sinasc_facts(con, fact):
    con.execute(f"""CREATE OR REPLACE TABLE w_sinasc AS
      SELECT f.dt, dn.data AS data_nascimento, CASE WHEN f.chave_tempo = -1 THEN 'SENTINEL' ELSE h.tempo END AS tempo,
             mn.codigo_ibge AS mun_nasc, mr.codigo_ibge AS mun_res,
             {nat_dem('d', 'f.chave_demografia = 0')} AS dem,
             {nat_info('i', 'f.chave_info_nascimento = 0')} AS info,
             sum(f.quantidade_nascimentos) AS n
      FROM {fact('factNascimentos')} f
      LEFT JOIN w_dimdata dn ON dn.chave_data = f.chave_data
      LEFT JOIN w_dimhorario h ON h.chave_tempo = f.chave_tempo
      LEFT JOIN w_dimmunicipio mn ON mn.chave_municipio = f.chave_municipio_nascimento
      LEFT JOIN w_dimmunicipio mr ON mr.chave_municipio = f.chave_municipio_residencia
      LEFT JOIN w_dimdemografia d ON d.chave_demografia = f.chave_demografia
      LEFT JOIN w_diminfonascimento i ON i.chave_info_nascimento = f.chave_info_nascimento
      GROUP BY ALL""")


SIM_KEYS = "dt, data_nascimento, data_obito, tempo, mun_res, mun_ocor, dem, sig, cbo"
SINASC_KEYS = "dt, data_nascimento, tempo, mun_nasc, mun_res, dem, info"


def check_facts(con, datasets=("sim", "sinasc")):
    """Natural-key comparison of the warehouse facts with the oracle, plus
    the bridge invariants when SIM is among the datasets. Returns a list
    of failure strings."""
    fails = []
    for ds in datasets:
        keys = {"sim": SIM_KEYS, "sinasc": SINASC_KEYS}[ds]
        days = con.execute(f"""SELECT coalesce(o.dt, w.dt), o.n, w.n FROM
            (SELECT dt, sum(n) AS n FROM o_{ds} GROUP BY dt) o FULL JOIN
            (SELECT dt, sum(n) AS n FROM w_{ds} GROUP BY dt) w ON o.dt = w.dt
            WHERE o.n IS DISTINCT FROM w.n ORDER BY 1""").fetchall()
        for d, on, wn in days:
            fails.append(f"{ds} dt={d}: oracle count {on}, warehouse count {wn}")
        diff = con.execute(f"""SELECT count(*) FROM (
            (SELECT {keys}, sum(n) FROM o_{ds} GROUP BY ALL EXCEPT ALL SELECT {keys}, sum(n) FROM w_{ds} GROUP BY ALL)
            UNION ALL
            (SELECT {keys}, sum(n) FROM w_{ds} GROUP BY ALL EXCEPT ALL SELECT {keys}, sum(n) FROM o_{ds} GROUP BY ALL))
            """).fetchone()[0]
        if diff:
            fails.append(f"{ds}: {diff} natural-key fact rows differ from the oracle")
    if "sim" in datasets:
        fails += check_bridge(con)
    return fails


def check_bridge(con):
    fails = []
    groups, sigs, unknown_items = con.execute(
        "SELECT count(*), count(DISTINCT sig), sum(items - known) FROM w_sig").fetchone()
    if groups != sigs:
        fails.append(f"bridge: {groups} group ids but {sigs} distinct signatures")
    if unknown_items:
        fails.append(f"bridge: {unknown_items} items reference causes missing from dimCausa")
    orphans = con.execute("SELECT count(*) FROM w_sim WHERE sig IS NULL").fetchone()[0]
    if orphans:
        fails.append(f"bridge: {orphans} fact rows carry group ids missing from the bridge")
    expect = con.execute("SELECT count(*) FROM (SELECT sig FROM sim_sig UNION SELECT '0000:1')").fetchone()[0]
    if groups != expect:
        fails.append(f"bridge: {groups} groups, oracle expects {expect}")
    return fails


# ---------------------------------------------------------------------------
# Serving answers from the oracle's facts.

def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _key(v):
    return (v is not None, v)


def serving_answer(con, route, params):
    """Expected (columns, rows) of one Dashboard route, rows in the
    route's ORDER BY (NULLs first, as Spark sorts ascending)."""
    if route == "familias":
        rows = _rows(con, "SELECT DISTINCT descricao_familia FROM o_cbo WHERE descricao_familia IS NOT NULL")
        return ["descricao_familia"], sorted(rows, key=lambda r: r["descricao_familia"])
    if route == "rollup1":
        rows = _rows(con, """SELECT c.descricao_familia AS familia, d.escolaridade, sum(f.n) AS quantidade_obitos
            FROM o_sim f JOIN o_cbo c ON c.cbo = f.cbo
            JOIN o_dem d ON d.k = f.dem GROUP BY ALL""")
        return (["familia", "escolaridade", "quantidade_obitos"],
                sorted(rows, key=lambda r: (_key(r["familia"]), _key(r["escolaridade"]))))
    if route == "rollup2":
        rows = _rows(con, """SELECT m.estado, d.faixa_etaria AS faixa_etaria_mae, sum(f.n) AS quantidade_nascimentos
            FROM o_sinasc f JOIN o_mun m ON m.ibge = f.mun_nasc
            JOIN o_dem d ON d.k = f.dem GROUP BY ALL""")
        return (["estado", "faixa_etaria_mae", "quantidade_nascimentos"],
                sorted(rows, key=lambda r: (_key(r["estado"]), _key(r["faixa_etaria_mae"]))))
    if route == "slice":
        rows = _rows(con, f"""SELECT month(f.data_obito) AS m, year(f.data_obito) AS ano, sum(f.n) AS obitos
            FROM o_sim f JOIN o_mun mo ON mo.ibge = f.mun_ocor
            WHERE mo.nome = {q(params['city'])} AND year(f.data_obito) BETWEEN {int(params['start'])} AND {int(params['end'])}
            GROUP BY ALL""")
        rows = sorted(rows, key=lambda r: (r["ano"], r["m"]))
        return ["mes", "ano", "obitos"], [dict(mes=MESES[r["m"] - 1], ano=r["ano"], obitos=r["obitos"]) for r in rows]
    if route == "pivot":
        ufs = sorted(r[0] for r in con.execute("SELECT DISTINCT uf FROM o_mun").fetchall())
        cells = con.execute("""SELECT year(f.data_obito), m.uf, sum(f.n) FROM o_sim f
            JOIN o_mun m ON m.ibge = f.mun_ocor GROUP BY ALL""").fetchall()
        years = sorted({c[0] for c in cells})
        rows = []
        for y in years:
            r = {"ANO": y}
            r.update({u: None for u in ufs})
            rows.append(r)
        by_year = {r["ANO"]: r for r in rows}
        for y, u, n in cells:
            by_year[y][u] = n
        return ["ANO"] + ufs, rows
    if route == "drill":
        regs = ", ".join(q(r) for r in DRILL_REGIONS)
        rows = _rows(con, f"""SELECT nasc.ano, nasc.municipio, nasc.n AS quantidade_nascimentos,
                   obit.n AS quantidade_obitos FROM
            (SELECT year(f.data_nascimento) AS ano, m.nome AS municipio, sum(f.n) AS n FROM o_sinasc f
             JOIN o_mun m ON m.ibge = f.mun_nasc WHERE m.regiao_saude IN ({regs}) GROUP BY ALL) nasc
            JOIN (SELECT year(f.data_obito) AS ano, m.nome AS municipio, sum(f.n) AS n FROM o_sim f
             JOIN o_mun m ON m.ibge = f.mun_ocor WHERE m.regiao_saude IN ({regs}) GROUP BY ALL) obit
            ON nasc.ano = obit.ano AND nasc.municipio = obit.municipio""")
        return (["ano", "municipio", "quantidade_nascimentos", "quantidade_obitos"],
                sorted(rows, key=lambda r: (r["municipio"], r["ano"])))
    if route == "top_causes":
        rows = _rows(con, f"""SELECT c.descricao_familia, x.descricao_subcategoria, sum(f.n) AS total_obitos
            FROM o_sim f JOIN o_cbo c ON c.cbo = f.cbo
            JOIN o_cid x ON x.code = split_part(f.sig, ':', 1)
            WHERE c.descricao_familia = {q(params['familia'])} AND split_part(split_part(f.sig, '|', 1), ':', 2) = '1'
              AND x.code != '0000'
            GROUP BY ALL""")
        return ["descricao_familia", "descricao_subcategoria", "total_obitos"], rows
    raise ValueError(f"unknown route {route}")


def check_body(con, route, params, body):
    """Compares one Dashboard JSON body with the oracle's answer. Returns
    None when it matches, else a failure string. `top_causes` is checked
    tie-aware: ROW_NUMBER over tied sums makes the members that tie at the
    10th place arbitrary, so the check fixes the ranked totals and every
    member strictly above the cut, and accepts any tied member at it."""
    try:
        got = json.loads(body)
    except ValueError as e:
        return f"{route}: body is not JSON ({e})"
    if "error" in got:
        return f"{route}: error body {got['error'][:200]}"
    cols, rows = serving_answer(con, route, params)
    if got.get("columns") != cols:
        return f"{route}: columns {got.get('columns')} != {cols}"
    grows = [{c: r.get(c) for c in cols} for r in got["rows"]]
    if route != "top_causes":
        if grows != rows:
            i = next((i for i, (g, w) in enumerate(zip(grows, rows)) if g != w), min(len(grows), len(rows)))
            return f"{route}{params}: {len(grows)} rows, oracle {len(rows)}; first difference at row {i}"
        return None
    ranked = sorted(rows, key=lambda r: -r["total_obitos"])
    top = ranked[:10]
    want_totals = [r["total_obitos"] for r in top]
    if [r["total_obitos"] for r in grows] != want_totals:
        return f"top_causes{params}: totals {[r['total_obitos'] for r in grows]} != {want_totals}"
    allowed = {(r["descricao_subcategoria"], r["total_obitos"]) for r in rows}
    if any((r["descricao_subcategoria"], r["total_obitos"]) not in allowed for r in grows):
        return f"top_causes{params}: a row is not one of the oracle's (cause, total) pairs"
    if len({r["descricao_subcategoria"] for r in grows}) != len(grows):
        return f"top_causes{params}: a cause appears twice"
    if top:
        cut = top[-1]["total_obitos"]
        must = {r["descricao_subcategoria"] for r in rows if r["total_obitos"] > cut}
        if not must <= {r["descricao_subcategoria"] for r in grows}:
            return f"top_causes{params}: a cause above the 10th-place total is missing"
    if any(r["descricao_familia"] != params["familia"] for r in grows):
        return f"top_causes{params}: wrong familia"
    return None


# ---------------------------------------------------------------------------
# Sweep: each query's Spark result against the declared DuckDB oracle SQL
# over the same generated tables (the same comparison rules as the repo's
# correctness gate: columns by name, doubles exactly).

SWEEP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    if hasattr(a, "tolist"):
        a = a.tolist()
    if hasattr(b, "tolist"):
        b = b.tolist()
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return str(a) == str(b) if (a is not None and b is not None) else a is b


def check_sweep(data_dir, results_dir, oracle_sql):
    """Returns {query: failure string or None} for every query with an
    oracle; queries without one must still have produced a result."""
    import pyarrow.parquet as pq

    con = connect()
    for t in SWEEP_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in sorted(os.listdir(results_dir)):
        path = os.path.join(results_dir, name)
        try:
            got = pq.read_table(path).to_pylist()
        except Exception as e:  # noqa: BLE001 - any read failure is a failed query
            out[name] = f"unreadable result: {type(e).__name__}: {e}"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = None if got is not None else "no rows"
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            want = [dict(zip(cols, r)) for r in cur.fetchall()]
        except Exception as e:  # noqa: BLE001
            out[name] = f"oracle failed: {type(e).__name__}: {e}"
            continue
        gcols = sorted(got[0]) if got else None
        if got and want and gcols != sorted(want[0]):
            out[name] = f"columns {gcols} != {sorted(want[0])}"
        elif len(got) != len(want):
            out[name] = f"{len(got)} rows, oracle {len(want)}"
        else:
            bad = next((i for i, (g, w) in enumerate(zip(got, want))
                        if any(not _same(g[c], w[c]) for c in w)), None)
            out[name] = None if bad is None else f"row {bad} differs: {got[bad]} vs {want[bad]}"
    con.close()
    return out
