#!/usr/bin/env python3
"""Self-tests of the benchmark's output checks: each check must fail on a
fabricated fault.

    python3 perfbench/selftest.py

Run from the repository root after one run of each workload of
perfbench/run.py (`ingest`, `lifecycle` and `sweep`) with --trace 0: the
tests mutate copies of those runs' artifacts under .perfbench_work/
(seeds, warehouse, response bodies, sweep results) and never the
originals. Exit code 0 when every check caught its fault.
"""
import glob
import json
import os
import shutil
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(os.getcwd(), ".perfbench_work")
INGEST = os.path.join(WORK, "ingest")
LIFE = os.path.join(WORK, "lifecycle")
SWEEP = os.path.join(WORK, "sweep")
results = []
skipped = []


def expect(name, caught, info=""):
    results.append((name, caught))
    print(f"{'ok  ' if caught else 'MISS'} {name}{': ' + info if info else ''}")


def duplicated_prefix(tmp):
    src = os.path.join(INGEST, "seeds", "municipio.csv")
    lines = open(src, encoding="utf-8").read().splitlines()
    a = lines[1].split(",")
    b = lines[2].split(",")
    b[0] = str(int(a[0]) // 10 * 10 + (int(a[0]) + 1) % 10)  # same 6-digit base, other check digit
    lines[2] = ",".join(b)
    dst = os.path.join(tmp, "municipio.csv")
    open(dst, "w", encoding="utf-8").write("\n".join(lines) + "\n")
    expect("municipio prefix invariant vs a duplicated 6-digit prefix",
           bool(gen.check_municipio_prefixes(dst)) and not gen.check_municipio_prefixes(src))
    # The program's own synthetic directory violates the invariant.
    seedgen = os.path.join(HERE, "target", "seedgen", "municipio.csv")
    if os.path.exists(seedgen):
        shared = gen.check_municipio_prefixes(seedgen)
        rows = sum(1 for _ in open(seedgen, encoding="utf-8")) - 1
        prefixes = len({int(l.split(",")[0]) // 10 for l in open(seedgen, encoding="utf-8").read().splitlines()[1:]})
        expect("municipio prefix invariant vs SeedGen.municipio", bool(shared),
               f"{rows} rows, {prefixes} distinct 6-digit prefixes, {len(shared)} shared")


def dropped_day(tmp):
    wh = os.path.join(tmp, "wh")
    shutil.copytree(os.path.join(INGEST, "wh"), wh)
    day = sorted(glob.glob(os.path.join(wh, "factNascimentos", "dt=*")))[-1]
    shutil.rmtree(day)
    only = ("sinasc",)
    con = oracle.connect()
    oracle.run_oracle(con, os.path.join(INGEST, "seeds"), os.path.join(INGEST, "landing"), datasets=only)
    oracle.load_warehouse(con, os.path.join(INGEST, "wh"), datasets=only)
    before = oracle.check_facts(con, datasets=only)
    oracle.load_warehouse(con, wh, datasets=only)
    after = oracle.check_facts(con, datasets=only)
    con.close()
    expect("fact check vs a dropped SINASC day", not before and any(os.path.basename(day)[3:] in f for f in after),
           "; ".join(after))


def bodies():
    """Every stored response body as (route, path, body)."""
    with open(os.path.join(LIFE, "lifecycle.result.json")) as f:
        res = json.load(f)
    return sorted((b["path"].split("?")[0].rsplit("/", 1)[-1], b["path"],
                   open(os.path.join(LIFE, "bodies", b["body"] + ".json"), encoding="utf-8").read())
                  for b in res["serve"]["warm_bodies"])


def mutated_body():
    import urllib.parse
    con = oracle.connect()
    oracle.run_oracle(con, os.path.join(LIFE, "seeds"), os.path.join(LIFE, "landing"))
    params = lambda path: {k: v[0] for k, v in urllib.parse.parse_qs(urllib.parse.urlparse(path).query).items()}
    # Mutate only a body the check passes unmutated, or a "caught" proves
    # nothing: some top_causes answers are already wrong (see README.md).
    # A route with no such stored body gets one built from the oracle.
    check = lambda route, path, body: oracle.check_body(con, route, params(path), body)
    chosen = {}
    for route, path, body in bodies():
        if route not in chosen and json.loads(body)["rows"] and check(route, path, body) is None:
            chosen[route] = (path, body, "stored")
    for route, path, _ in bodies():
        if route not in chosen:
            cols, rows = oracle.serving_answer(con, route, params(path))
            if route == "top_causes":
                rows = sorted(rows, key=lambda r: -r["total_obitos"])[:10]
            body = json.dumps({"columns": cols, "rows": rows}, default=str)
            if rows and check(route, path, body) is None:
                chosen[route] = (path, body, "oracle-built")
    for route, (path, body, origin) in sorted(chosen.items()):
        doc = json.loads(body)
        mutated = json.loads(body)
        row = mutated["rows"][-1]
        key = next((k for k, v in row.items() if isinstance(v, int) and not isinstance(v, bool)), None)
        if key is None:
            row[next(iter(row))] = "mutated"
        else:
            row[key] += 1
        verdict = check(route, path, json.dumps(mutated))
        expect(f"{route} body check vs a mutated value ({origin} body)", verdict is not None, verdict or "")
        dropped = dict(doc, rows=doc["rows"][:-1])
        expect(f"{route} body check vs a dropped row ({origin} body)",
               check(route, path, json.dumps(dropped)) is not None)
    for route in sorted({route for route, _, _ in bodies()} - set(chosen)):
        print(f"skip {route}: no body passes the check unmutated")
        skipped.append(route)
    # Tie-awareness, the other way: an answer built from the oracle whose
    # 10th place is another member of the tie at the cut must pass, and
    # one whose 10th place is below the cut must not.
    fams = [r[0] for r in con.execute("SELECT DISTINCT descricao_familia FROM o_cbo WHERE descricao_familia IS NOT NULL "
                                      "ORDER BY 1").fetchall()]
    for fam in fams:
        cols, rows = oracle.serving_answer(con, "top_causes", {"familia": fam})
        ranked = sorted(rows, key=lambda r: -r["total_obitos"])
        if len(ranked) < 12:
            continue
        cut = ranked[9]["total_obitos"]
        tied = [r for r in ranked[10:] if r["total_obitos"] == cut]
        below = [r for r in ranked[10:] if r["total_obitos"] < cut]
        if not tied or not below:
            continue
        body = lambda last: json.dumps({"columns": cols, "rows": ranked[:9] + [last]})
        expect("top_causes accepts another member of the tie at 10th place",
               oracle.check_body(con, "top_causes", {"familia": fam}, body(tied[0])) is None, fam)
        expect("top_causes rejects a member below the 10th-place total",
               oracle.check_body(con, "top_causes", {"familia": fam}, body(below[0])) is not None, fam)
        break
    con.close()


def pruned_column(tmp):
    import pyarrow.parquet as pq
    res = os.path.join(tmp, "results")
    shutil.copytree(os.path.join(SWEEP, "results"), res)
    oracle_sql = json.load(open(os.path.join(SWEEP, "oracle_sql.json")))
    data = os.path.join(SWEEP, "data")
    base = oracle.check_sweep(data, res, oracle_sql)
    name = next(n for n in sorted(base) if base[n] is None and n in oracle_sql
                and len(pq.read_table(os.path.join(res, n)).column_names) > 1)
    t = pq.read_table(os.path.join(res, name))
    shutil.rmtree(os.path.join(res, name))
    os.makedirs(os.path.join(res, name))
    pq.write_table(t.drop([t.column_names[-1]]), os.path.join(res, name, "part-0.parquet"))
    after = oracle.check_sweep(data, res, oracle_sql)
    expect(f"sweep check vs a pruned column ({name})", after[name] is not None, after[name] or "")


def main():
    if not all(os.path.isdir(d) for d in (INGEST, LIFE, SWEEP)):
        print("run one ingest, one lifecycle and one sweep run of perfbench/run.py first")
        return 2
    # A traced run lands one more day after the bodies were served, so the
    # oracle over the landing no longer describes them.
    if not glob.glob(os.path.join(LIFE, "staged", "sim", "dt=*")):
        print("the last lifecycle run was traced: rerun it with --trace 0")
        return 2
    with tempfile.TemporaryDirectory(dir=WORK) as tmp:
        duplicated_prefix(tmp)
        dropped_day(tmp)
        mutated_body()
        pruned_column(tmp)
    missed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(missed)}/{len(results)} checks caught their fault"
          + (f"; routes skipped: {', '.join(skipped)}" if skipped else ""))
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
