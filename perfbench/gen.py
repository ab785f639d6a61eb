"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the IBGE-shaped
municipality CSV, the SIM and SINASC landing CSVs (`;`-separated, the
DATASUS column layout the reference reads) and the testdata-layout
Parquet tables the operator sweep reads. CBO and ICD-10 seed rows come
from the program's own `SeedGen` (written by the harness's `seedcsv`
mode); this module only reads their codes.

The rates below (cause-list popularity and repetition, Zipf skews, and
every blank, unknown and out-of-range rate) are assumptions, not
measured from DATASUS files; README.md lists them, and the benchmark
reports the share of each SIM batch's cause lists that are new to the
bridge (`cause_bridge.<phase>.new_group_share`).
"""
import csv
import datetime as dt
import os

import numpy as np

from oracle import DRILL_REGIONS

# The 27 federative units: (IBGE code, sigla, name, region). Public facts.
UFS = [
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"), (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"), (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"), (25, "PB", "Paraíba", "Nordeste"),
    (26, "PE", "Pernambuco", "Nordeste"), (27, "AL", "Alagoas", "Nordeste"),
    (28, "SE", "Sergipe", "Nordeste"), (29, "BA", "Bahia", "Nordeste"),
    (31, "MG", "Minas Gerais", "Sudeste"), (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"),
    (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"),
    (52, "GO", "Goiás", "Centro-Oeste"), (53, "DF", "Distrito Federal", "Centro-Oeste")]

MUNICIPIOS = 5570

SIM_HEADER = ("DTOBITO;DTNASC;HORAOBITO;SEXO;RACACOR;ESTCIV;ESC;IDADE;LINHAA;LINHAB;"
              "LINHAC;LINHAD;LINHAII;CODMUNRES;CODMUNOCOR;OCUP")
SINASC_HEADER = ("DTNASC;HORANASC;CODMUNNASC;CODMUNRES;IDADEMAE;RACACORMAE;ESCMAE;"
                 "ESTCIVMAE;SEXO;RACACOR;PESO;PARTO;GESTACAO;GRAVIDEZ")


def ibge_check_digit(base6):
    """IBGE's municipality check digit: weights 1,2,1,2,1,2, digit sums."""
    total = 0
    for i, d in enumerate(f"{base6:06d}"):
        p = int(d) * (1 if i % 2 == 0 else 2)
        total += p // 10 + p % 10
    return (10 - total % 10) % 10


def write_municipio(path, rng):
    """IBGE-shaped directory CSV: each id is a unique 6-digit base plus a
    check digit. Returns the rows as dicts."""
    weights = rng.dirichlet(np.full(len(UFS), 4.0))
    counts = np.maximum(1, np.round(weights * MUNICIPIOS)).astype(int)
    counts[np.argmax(counts)] += MUNICIPIOS - counts.sum()
    rows = []
    for (code, sigla, nome_uf, regiao), n in zip(UFS, counts):
        for j in range(n):
            base = code * 10000 + 10 + 7 * j
            if sigla == "SP" and j < 3 * 8:
                saude = DRILL_REGIONS[j // 8]
            else:
                saude = f"Regional {sigla} {j % 20 + 1}"
            rows.append(dict(
                id_municipio=base * 10 + ibge_check_digit(base),
                nome=f"Município {sigla} {j + 1:04d}", capital_uf=int(j == 0),
                nome_regiao_saude=saude,
                nome_regiao_metropolitana=f"Região Metropolitana {sigla}" if j % 10 == 0 else "",
                sigla_uf=sigla, nome_uf=nome_uf, nome_regiao=regiao))
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
    return rows


def check_municipio_prefixes(path):
    """The invariant the ingest joins rely on: the 6-digit prefix the SIM
    and SINASC files carry identifies exactly one municipality. Returns
    the list of prefixes shared by more than one id."""
    seen = {}
    with open(path, encoding="utf-8") as f:
        for r in csv.DictReader(f):
            v = (r["id_municipio"] or "").strip()
            if v:
                seen.setdefault(int(v) // 10, []).append(v)
    return sorted(p for p, ids in seen.items() if len(ids) > 1)


def read_codes(path, column):
    with open(path, encoding="utf-8") as f:
        return [r[column].strip() for r in csv.DictReader(f)]


def zipf_p(n, s, rng):
    """Zipf(s) probabilities over n items in a seeded random rank order."""
    p = 1.0 / np.arange(1, n + 1) ** s
    p /= p.sum()
    return p[rng.permutation(n)]


def pick(rng, values, p, size):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=size, p=p)]


def coded(rng, n, codes, weights, blank=0.0, unknown=0.0, unknown_code="9"):
    """Categorical codes with blank and unknown-code injection."""
    out = pick(rng, codes, np.asarray(weights) / np.sum(weights), n)
    u = rng.random(n)
    out[u < unknown + blank] = unknown_code
    out[u < blank] = ""
    return out


def fmt_dates(days):
    base = dt.date(1970, 1, 1)
    return [(base + dt.timedelta(days=int(d))).strftime("%d%m%Y") for d in days]


def epoch_day(d):
    return (d - dt.date(1970, 1, 1)).days


class Context:
    """Seed-derived lookup data shared by every file of one run."""

    def __init__(self, rng, seeds_dir):
        mun = write_municipio(os.path.join(seeds_dir, "municipio.csv"), rng)
        self.mun7 = np.array([m["id_municipio"] for m in mun])
        self.mun_p = zipf_p(len(mun), 1.05, rng)
        self.mun_names = [m["nome"] for m in mun]
        self.cbo = read_codes(os.path.join(seeds_dir, "cbo.csv"), "cbo_2002")
        self.cbo_p = zipf_p(len(self.cbo), 1.1, rng)
        self.cid = read_codes(os.path.join(seeds_dir, "cid.csv"), "subcategoria")
        self.cid_p = zipf_p(len(self.cid), 1.15, rng)
        # Popular cause lists: shared by many deaths, so the bridge merge
        # mostly resolves to existing groups once it is warm.
        self.popular = [self.cause_list(rng) for _ in range(300)]
        self.popular_p = zipf_p(len(self.popular), 1.0, rng)

    def cause_list(self, rng):
        n = rng.choice(6, p=[0.22, 0.30, 0.22, 0.13, 0.08, 0.05]) + 1
        return list(pick(rng, self.cid, self.cid_p, n))


def sim_lines(ctx, rng, n, first_day, n_days):
    """SIM death records whose DTOBITO falls in [first_day, first_day+n_days).

    Injected at fixed rates: blank and out-of-range dates, short, blank and
    out-of-range hours, unknown and blank municipality codes, blank and
    unknown occupations, unknown ICD codes, unknown age units, and
    all-unknown infant deaths (the demografia band double-match)."""
    obito = epoch_day(first_day) + rng.integers(0, n_days, n)
    u = rng.random(n)
    # Coded age: 4xx years, 5xx 100+ years, 0xx-3xx under one year, 9xx unknown.
    years = np.clip(rng.normal(68, 17, n), 1, 99).astype(int)
    idade = np.array([f"4{y:02d}" for y in years], dtype=object)
    infant = u < 0.03
    idade[infant] = [f"{rng.integers(0, 4)}{rng.integers(0, 60):02d}" for _ in range(infant.sum())]
    idade[(u >= 0.03) & (u < 0.035)] = "502"
    idade[(u >= 0.035) & (u < 0.045)] = "999"
    idade[(u >= 0.045) & (u < 0.05)] = ""
    age = np.where(infant, 0, years)
    nasc = obito - age * 365 - rng.integers(0, 365, n)
    dtobito = np.array(fmt_dates(obito), dtype=object)
    dtnasc = np.array(fmt_dates(nasc), dtype=object)
    v = rng.random(n)
    dtobito[v < 0.004] = ""
    dtnasc[(v >= 0.004) & (v < 0.012)] = ""
    dtnasc[(v >= 0.012) & (v < 0.014)] = "15061899"  # before the date dimension
    hh = rng.integers(0, 24, n)
    mm = rng.integers(0, 60, n)
    hora = np.array([f"{h:02d}{m:02d}" for h, m in zip(hh, mm)], dtype=object)
    w = rng.random(n)
    hora[w < 0.02] = [f"{h}{m:02d}" for h, m in zip(rng.integers(0, 10, (w < 0.02).sum()),
                                                    rng.integers(0, 60, (w < 0.02).sum()))]
    hora[(w >= 0.02) & (w < 0.03)] = "2460"
    hora[(w >= 0.03) & (w < 0.035)] = "1275"
    hora[(w >= 0.035) & (w < 0.05)] = ""
    sexo = coded(rng, n, ["1", "2", "M", "F"], [55, 44, 0.5, 0.5], blank=0.002, unknown=0.003)
    raca = coded(rng, n, ["1", "2", "3", "4", "5"], [45, 10, 1, 43, 1], blank=0.01, unknown=0.02)
    estciv = coded(rng, n, ["1", "2", "3", "4", "5"], [30, 35, 20, 8, 7], blank=0.01, unknown=0.05)
    esc = coded(rng, n, ["1", "2", "3", "4", "5"], [20, 30, 25, 15, 10], blank=0.02, unknown=0.1)
    # All-unknown infant deaths: age 0 and every demographic Ignorado.
    allunk = rng.random(n) < 0.003
    for a in (sexo, raca, estciv, esc):
        a[allunk] = "9"
    idade[allunk] = "310"
    codres = pick(rng, ctx.mun7 // 10, ctx.mun_p, n).astype(object)
    codocor = np.where(rng.random(n) < 0.8, codres, pick(rng, ctx.mun7 // 10, ctx.mun_p, n)).astype(object)
    codres = np.array([str(c) for c in codres], dtype=object)
    codocor = np.array([str(c) for c in codocor], dtype=object)
    x = rng.random(n)
    codres[x < 0.004] = ""
    codres[(x >= 0.004) & (x < 0.009)] = "999999"
    codocor[(x >= 0.009) & (x < 0.013)] = ""
    codocor[(x >= 0.013) & (x < 0.018)] = "999990"
    ocup = pick(rng, ctx.cbo, ctx.cbo_p, n)
    y = rng.random(n)
    ocup[y < 0.3] = ""
    ocup[(y >= 0.3) & (y < 0.31)] = "999993"

    out = [SIM_HEADER]
    for i in range(n):
        r = rng.random()
        if r < 0.005:
            causes = []
        elif r < 0.55:
            causes = list(ctx.popular[rng.choice(len(ctx.popular), p=ctx.popular_p)])
            if rng.random() < 0.1:
                causes = list(rng.permutation(causes))
        else:
            causes = ctx.cause_list(rng)
        causes = [c if rng.random() >= 0.02 else f"{c[:3]}{rng.integers(5, 9)}" for c in causes]
        causes = [c + "X" if len(c) == 3 else c for c in causes]
        lines = ["", "", "", ""]
        head, tail = causes[:4], causes[4:]
        slots = sorted(rng.choice(4, len(head), replace=False)) if rng.random() < 0.1 else range(len(head))
        for s, c in zip(slots, head):
            lines[s] = "*" + c
        linhaii = "".join("*" + c for c in tail)
        out.append(";".join([dtobito[i], dtnasc[i], hora[i], sexo[i], raca[i], estciv[i], esc[i],
                             idade[i], *lines, linhaii, codres[i], codocor[i], ocup[i]]))
    return out


def sinasc_lines(ctx, rng, n, first_day, n_days):
    """SINASC birth records born in [first_day, first_day+n_days).

    Injected: blank and out-of-range birth dates, blank and out-of-range
    hours, unknown and blank municipality codes, blank mother ages and
    weights, and zero-weight all-unknown births (the info band
    double-match)."""
    born = epoch_day(first_day) + rng.integers(0, n_days, n)
    dtnasc = np.array(fmt_dates(born), dtype=object)
    v = rng.random(n)
    dtnasc[v < 0.003] = ""
    dtnasc[(v >= 0.003) & (v < 0.004)] = "01012031"  # after the date dimension
    hh = rng.integers(0, 24, n)
    mm = rng.integers(0, 60, n)
    hora = np.array([f"{h:02d}{m:02d}" for h, m in zip(hh, mm)], dtype=object)
    w = rng.random(n)
    hora[w < 0.02] = ""
    hora[(w >= 0.02) & (w < 0.025)] = "2400"
    hora[(w >= 0.025) & (w < 0.03)] = "0961"
    nascm = np.array([str(c) for c in pick(rng, ctx.mun7, ctx.mun_p, n)], dtype=object)
    resm = np.where(rng.random(n) < 0.85, nascm,
                    np.array([str(c) for c in pick(rng, ctx.mun7, ctx.mun_p, n)], dtype=object))
    x = rng.random(n)
    nascm[x < 0.003] = "9999999"
    nascm[(x >= 0.003) & (x < 0.005)] = ""
    resm[(x >= 0.005) & (x < 0.008)] = "9999990"
    idademae = np.array([str(a) for a in np.clip(rng.normal(27, 6.5, n), 12, 52).astype(int)], dtype=object)
    idademae[rng.random(n) < 0.01] = ""
    racamae = coded(rng, n, ["1", "2", "3", "4", "5"], [40, 8, 1, 50, 1], blank=0.01, unknown=0.03)
    escmae = coded(rng, n, ["1", "2", "3", "4", "5"], [3, 10, 25, 45, 17], blank=0.01, unknown=0.03)
    estcivmae = coded(rng, n, ["1", "2", "3", "4", "5"], [45, 25, 1, 2, 27], blank=0.01, unknown=0.02)
    sexo = coded(rng, n, ["1", "2"], [51, 49], blank=0.001, unknown=0.002)
    raca = coded(rng, n, ["1", "2", "3", "4", "5"], [40, 8, 1, 50, 1], blank=0.01, unknown=0.03)
    peso = np.array([str(p) for p in np.clip(rng.normal(3200, 550, n), 300, 5600).astype(int)], dtype=object)
    peso[rng.random(n) < 0.005] = ""
    parto = coded(rng, n, ["1", "2"], [43, 57], blank=0.002, unknown=0.003)
    gest = coded(rng, n, ["1", "2", "3", "4", "5", "6"], [0.2, 0.8, 1.5, 9, 85, 3.5], blank=0.01, unknown=0.01)
    grav = coded(rng, n, ["1", "2", "3"], [97.5, 2.3, 0.2], blank=0.002, unknown=0.003)
    allunk = rng.random(n) < 0.002
    for a in (sexo, raca, parto, gest, grav):
        a[allunk] = "9"
    peso[allunk] = "0"
    out = [SINASC_HEADER]
    for i in range(n):
        out.append(";".join([dtnasc[i], hora[i], nascm[i], resm[i], idademae[i], racamae[i],
                             escmae[i], estcivmae[i], sexo[i], raca[i], peso[i], parto[i],
                             gest[i], grav[i]]))
    return out


def write_day(root, dataset, day, lines):
    d = os.path.join(root, dataset, f"dt={day.isoformat()}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return len(lines) - 1


# ---------------------------------------------------------------------------
# Sweep tables: the testdata layout (TPC-H-like star, events, documents,
# embeddings), one Parquet file per table, scaled by `sf`.

WORDS = ("a the data query table row column key value join agg sort scan hash merge "
         "batch stream window group order filter part line customer spark fast slow "
         "big small vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def write_sweep_tables(out, sf, rng):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def save(name, cols, schema):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))

    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = max(100, int(50000 * sf))
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)

    save("region", [np.arange(5, dtype=np.int32),
                    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
         pa.schema([("r_regionkey", i32), ("r_name", s)]))
    save("nation", [np.arange(25, dtype=np.int32), [f"NATION_{i}" for i in range(25)],
                    (np.arange(25) % 5).astype(np.int32)],
         pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    save("customer", [np.arange(n_cust), [f"Customer#{i:09d}" for i in range(n_cust)],
                      rng.integers(0, 25, n_cust).astype(np.int32), money(-999.99, 9999.99, n_cust),
                      pick(rng, segs, None, n_cust)],
         pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                    ("c_acctbal", f64), ("c_mktsegment", s)]))
    save("supplier", [np.arange(n_supp), [f"Supplier#{i:09d}" for i in range(n_supp)],
                      rng.integers(0, 25, n_supp).astype(np.int32), money(-999.99, 9999.99, n_supp)],
         pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    colors = ["red", "blue", "green", "small", "large", "shiny", "matte"]
    nouns = ["widget", "bolt", "ring", "gear", "panel", "spring"]
    types = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
    price = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    save("part", [np.arange(n_part),
                  [f"{c} {w}" for c, w in zip(pick(rng, colors, None, n_part), pick(rng, nouns, None, n_part))],
                  [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pick(rng, types, None, n_part),
                  rng.integers(1, 51, n_part).astype(np.int32), price],
         pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                    ("p_size", i32), ("p_retailprice", f64)]))
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    save("orders", [np.arange(n_ord), rng.integers(0, n_cust, n_ord), pick(rng, ["F", "O", "P"], None, n_ord),
                    money(1000, 500000, n_ord), odate.astype("datetime64[us]"), pick(rng, prios, None, n_ord)],
         pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                    ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    lo = rng.integers(0, n_ord, n_line)
    lp = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[lo] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    save("lineitem", [lo, lp, rng.integers(0, n_supp, n_line), rng.integers(1, 8, n_line).astype(np.int32),
                      qty, np.round(qty * price[lp], 2), rng.integers(0, 11, n_line) / 100.0,
                      rng.integers(0, 9, n_line) / 100.0, pick(rng, ["A", "N", "R"], None, n_line),
                      pick(rng, ["F", "O"], None, n_line), ship.astype("datetime64[us]")],
         pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                    ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                    ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    evts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    save("events", [np.arange(n_ev), evts, rng.integers(0, max(10, int(15000 * sf)), n_ev),
                    pick(rng, ["click", "view", "purchase", "signup", "error"], None, n_ev),
                    money(0, 100, n_ev), [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]],
         pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                    ("value", f64), ("props", s)]))
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words changed
            words = rng.choice(texts).split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 90))))
    save("documents", [np.arange(n_doc), texts, pick(rng, LANGS, np.array([.5, .15, .15, .1, .1]), n_doc),
                       [f"src{k}" for k in rng.integers(0, 20, n_doc)], np.array([len(t) for t in texts])],
         pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_doc)
    vec = centers[label] + rng.normal(0, 0.6, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", [np.arange(n_doc), pa.array(list(vec), type=pa.list_(pa.float32())),
                        label.astype(np.int32)],
         pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
