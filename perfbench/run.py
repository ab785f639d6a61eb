#!/usr/bin/env python3
"""Repository benchmark: the paper's daily ingest, its ingest → serve
lifecycle and the 112-operator sweep, every output checked against an
independent oracle.

    python3 perfbench/run.py --workload ingest|lifecycle|sweep --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
source together with the harness (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed under `.perfbench_work/` in the current directory. The last stdout
line is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer ones with --trace 1).
Every named metric is printed above it, and the full record of
the run goes to `.perfbench_work/detail-<workload>.json`. See README.md.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.parse

import numpy as np

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
TARGET = os.path.join(HERE, "target")
CPUS = str(os.cpu_count() or 4)
HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Workload sizes. Daily files follow the national daily averages (about
# 4k deaths and 7k births); the bulk drop is one historical file.
BULK = {"sim": 5000, "sinasc": 10000}
DAY = {"sim": 4000, "sinasc": 7000}
BACKLOG_DAYS = 1
# The ingest workload (SINASC only, see README.md): a bulk file large
# enough for per-row cost to dominate, then a backlog of one daily file
# per DAY_S of --seconds (a warm SINASC day takes 2.5-3 s on a 4-core
# machine; 10 s gives five days, an odd count, so the median is one
# day's time), and SEED_REPS set-ups, of which setup_s reports the median.
INGEST_BULK = 100000
DAY_S = 2.0
SEED_REPS = 3
SWEEP_SF = 0.005
# One query per OpModule: the one with the lowest first-evaluation plus
# timed cost in a full 112-query sweep of these tables on a 4-core
# machine. Two modules are left out because their first query alone costs
# about as much as the rest of this subset: Maintenance (11-13 s per op
# on first evaluation) and AnnIndex (its first query builds the shared
# IVF/PQ index, about 10 s).
SWEEP_QUERIES = ["c3_split_leakage", "d1_dedup_exact", "q33_purchase_attribution", "q28_percentiles",
                 "m4_media_resize_plan", "q6_drilldown", "q2_filter_project", "q16_scalar_funcs",
                 "q14_anti_join", "s6_ann_lsh_multiprobe", "t24_token_stats", "q18_sessionize"]
# Serve: the light phase sends LIGHT_ROUNDS page visits (8 requests
# each) one request at a time; the busy phase (traced runs) sends visits
# for about 0.6 of --seconds as an open loop at BUSY_RPS, about two
# thirds of the closed-loop capacity
# (4 clients) measured on a 4-core machine, frozen here so the offered
# load never depends on the code under test.
LIGHT_ROUNDS = 1
BUSY_RPS = 2.75
SLO_MS = 2000.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Build

def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt unless the stamped build matches."""
    stamp_f, cp_f = os.path.join(TARGET, "perfbench.stamp"), os.path.join(TARGET, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read().strip()
    log("building program and harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env, capture_output=True,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.path.join(TARGET, "scala-2.13"))]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:], p.stderr[-2000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    seedgen = os.path.join(TARGET, "seedgen")
    shutil.rmtree(seedgen, ignore_errors=True)
    java(cp, ["perfbench.Main", "seedcsv", seedgen], "seedcsv", os.path.join(WORK, "build"))
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


CHILD = None


def stop_child(signum, frame):
    """On SIGTERM or SIGINT, stop the running JVM's process group first."""
    if CHILD is not None:
        try:
            os.killpg(CHILD.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        CHILD.wait()
    sys.exit(128 + signum)


def java(cp, args, name, cwd):
    """Runs one JVM under a hard timeout, in its own process group, and
    waits for it. Returns (returncode, wall seconds, stderr tail)."""
    os.makedirs(cwd, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    errf = os.path.join(WORK, f"{name}.stderr")
    t0 = time.perf_counter()
    global CHILD
    with open(errf, "w") as err:
        p = CHILD = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err, stderr=err, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            CHILD = None
    wall = time.perf_counter() - t0
    with open(errf, errors="replace") as f:
        tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][-5:]
    return ("timeout" if rc is None else rc), wall, "\n".join(tail)


def harness(cp, mode, work, trace, **kv):
    out = os.path.join(work, f"{mode}.result.json")
    args = ["perfbench.Main", mode, f"work={work}", f"out={out}", f"trace={trace}", f"cpus={CPUS}"]
    args += [f"{k}={v}" for k, v in kv.items()]
    rc, wall, tail = java(cp, args, mode, os.path.join(work, "cwd"))
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"{mode} harness JVM failed (rc={rc}): {tail}")
    with open(out) as f:
        res = json.load(f)
    res["jvm_wall_s"] = wall
    return res


# ---------------------------------------------------------------------------
# Helpers

def pct(xs, p):
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if xs else float("nan")


def tail_pct(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, pct(xs, p)
    return 50, pct(xs, 50)


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def seed_dir(work, rng):
    seeds = fresh(os.path.join(work, "seeds"))
    for f in ("cbo.csv", "cid.csv"):
        shutil.copy(os.path.join(TARGET, "seedgen", f), seeds)
    ctx = gen.Context(rng, seeds)
    dup = gen.check_municipio_prefixes(os.path.join(seeds, "municipio.csv"))
    if dup:
        raise RuntimeError(f"municipio seed shares {len(dup)} 6-digit prefixes, e.g. {dup[:3]}")
    return seeds, ctx


def layer_metrics(s):
    """The per-layer metrics every workload reports, from summed spans."""
    return {
        "spark_jobs": (s["jobs"], "count"), "spark_stages": (s["stages"], "count"),
        "spark_tasks": (s["tasks"], "count"), "spark_actions": (s["actions"], "count"),
        "catalyst_plan_ms": (s["plan_ms"], "ms"), "spark_exec_ms": (s["exec_ms"], "ms"),
        "driver_gap_ms": (s["driver_gap_ms"], "ms"), "task_cpu_ms": (s["task_cpu_ms"], "ms"),
        "task_gc_ms": (s["gc_ms"], "ms"), "shuffle_mb": (s["shuffle_mb"], "MB"),
    }


def sum_layers(layers, *prefixes):
    keys = ["wall_ms", "actions", "action_ms", "plan_ms", "jobs", "stages", "tasks", "task_cpu_ms",
            "gc_ms", "shuffle_mb", "spill_mb", "files_written", "exec_ms", "driver_gap_ms"]
    sel = [v for k, v in layers.items() if k.startswith(prefixes)]
    return {k: sum(v.get(k, 0.0) for v in sel) for k in keys}


def run_ingest(cp, seed, seconds, trace):
    """SINASC only: set-up (session, then SEED_REPS seeds) → one bulk
    file → a backlog of daily files through `Pipeline.backfill`, in one
    JVM; then the next day as a fresh `graft.olapsus.Ingest` JVM."""
    rng = np.random.default_rng(seed)
    work = fresh(os.path.join(WORK, "ingest"))
    seeds, ctx = seed_dir(work, rng)
    landing, staged = os.path.join(work, "landing"), os.path.join(work, "staged")
    bulk_dt = dt.date(2020, 1, 1)
    days = [bulk_dt + dt.timedelta(days=i + 1) for i in range(max(3, round(seconds / DAY_S)) + 1)]
    rows = gen.write_day(landing, "sinasc", bulk_dt,
                         gen.sinasc_lines(ctx, rng, INGEST_BULK, dt.date(2018, 1, 1), 730))
    for d in days:
        gen.write_day(staged, "sinasc", d, gen.sinasc_lines(ctx, rng, DAY["sinasc"], d - dt.timedelta(days=1), 2))
    backlog, cold_day = days[:-1], days[-1]
    res = harness(cp, "ingest", work, trace, datasets="sinasc", seed_reps=SEED_REPS,
                  bulk_dt=bulk_dt.isoformat(), days=",".join(d.isoformat() for d in backlog))
    ing = res["ingest"]
    attempted = ing["attempted"] + 1
    fails = [f"{e['op']}: {e['class']}: {e['message']}" for e in ing["errors"]]
    shutil.move(os.path.join(staged, "sinasc", f"dt={cold_day.isoformat()}"),
                os.path.join(landing, "sinasc", f"dt={cold_day.isoformat()}"))
    rc, cold, tail = java(cp, ["graft.olapsus.Ingest", "--dataset", "sinasc", "--date", cold_day.isoformat(),
                               "--prefix", landing, "--warehouse", os.path.join(work, "wh")],
                          "cold-sinasc", os.path.join(work, "cwd"))
    if rc != 0:
        fails.append(f"cold sinasc Ingest JVM rc={rc}: {tail}")
    con = oracle.connect()
    counts = oracle.run_oracle(con, seeds, landing, datasets=("sinasc",))
    oracle.load_warehouse(con, os.path.join(work, "wh"), datasets=("sinasc",))
    fails += oracle.check_facts(con, datasets=("sinasc",))
    con.close()

    daily = ing["daily_ms"]["sinasc"]
    bulk_s = ing["bulk"]["sinasc"].get("wall_ms", float("nan")) / 1e3
    e2e = {
        "setup_s": (res["session_s"] + statistics.median(ing["seed_s"]), "s"),
        "p50_ms": (statistics.median(daily), "ms"),
        "throughput_per_s": (rows / bulk_s, "1/s"),
        "cold_s": (cold, "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    named = {
        "bulk_sinasc_rows_per_s": (rows / bulk_s, "1/s"),
        "daily_sinasc_p50_s": (statistics.median(daily) / 1e3, "s"),
        "cold_sinasc_day_s": (cold, "s"),
        "ingest.cold_overhead_s": (cold - statistics.median(daily) / 1e3, "s"),
        "dims.seed_all_first_s": (ing["seed_s"][0], "s"),
        "landing.list_ms": (statistics.median(ing["landing_list_ms"]), "ms"),
        "calib_ms": (res["calib_ms"], "ms"),
    }
    for k, v in counts["sinasc"].items():
        named[f"ingest.sinasc.{k}"] = (v, "count")
    layers = res["layers"]
    if trace:
        for k in ("sinasc.bulk", "sinasc.daily"):
            v = sum_layers(layers, f"ingest.{k}")
            for m, (val, unit) in layer_metrics(v).items():
                named[f"ingest.{k}.{m}"] = (val, unit)
            named[f"ingest.{k}.files_written"] = (v["files_written"], "count")
            named[f"ingest.{k}.spill_mb"] = (v["spill_mb"], "MB")
    named["warehouse.meta_files"] = (sum(len(fs) for _, _, fs in os.walk(os.path.join(work, "wh", "_ingest_log"))),
                                     "count")
    layer = layer_metrics(sum_layers(layers, "ingest."))
    # Every other backlog day ran with the listeners detached.
    untraced = ing["untraced_daily_ms"]["sinasc"]
    layer["tracing_overhead_pct"] = (
        100.0 * (statistics.median(daily) / statistics.median(untraced) - 1.0) if trace else 0.0, "%")
    detail = dict(res=res, rows=rows, cold_s=cold, oracle_counts=counts)
    return attempted, len(fails), fails, e2e, layer, named, detail


def run_lifecycle(cp, seed, seconds, trace):
    """Seed → bulk file → daily backlog → Dashboard under light and busy
    open-loop load, all in one JVM; with --trace 1 also the next day per
    dataset as a fresh `graft.olapsus.Ingest` JVM."""
    rng = np.random.default_rng(seed)
    work = fresh(os.path.join(WORK, "lifecycle"))
    seeds, ctx = seed_dir(work, rng)
    landing, staged = os.path.join(work, "landing"), os.path.join(work, "staged")
    bulk_dt = dt.date(2020, 1, 1)
    days = [bulk_dt + dt.timedelta(days=i + 1) for i in range(BACKLOG_DAYS + 1)]
    rows = {"sim": 0, "sinasc": 0}
    for ds, lines in (("sim", gen.sim_lines), ("sinasc", gen.sinasc_lines)):
        rows[ds] = gen.write_day(landing, ds, bulk_dt, lines(ctx, rng, BULK[ds], dt.date(2018, 1, 1), 730))
        for d in days:
            gen.write_day(staged, ds, d, lines(ctx, rng, DAY[ds], d - dt.timedelta(days=1), 2))
    backlog, cold_day = days[:-1], days[-1]
    fams = oracle_familias(seeds)
    light = os.path.join(work, "light.txt")
    with open(light, "w") as f:
        f.writelines(p + "\n" for p in serve_requests(ctx, rng, fams, LIGHT_ROUNDS))
    # Open loop: one arrival in each of n equal slots, at a seeded
    # uniform offset within its slot, so every run offers the same
    # number of requests at the same average rate.
    rounds = max(1, round(0.6 * seconds * BUSY_RPS / 8))
    n_busy = rounds * 8
    slot = 1000.0 / BUSY_RPS
    due = (np.arange(n_busy) + rng.uniform(0, 1, n_busy)) * slot
    busy = os.path.join(work, "busy.tsv")
    with open(busy, "w") as f:
        f.writelines(f"{d:.3f}\t{p}\n" for d, p in zip(due, serve_requests(ctx, rng, fams, rounds)))
    res = harness(cp, "lifecycle", work, trace, datasets="sim,sinasc", seed_reps=1, bulk_dt=bulk_dt.isoformat(),
                  days=",".join(d.isoformat() for d in backlog), light=light, busy=busy)
    ing, srv = res["ingest"], res["serve"]
    attempted = ing["attempted"]
    fails = [f"{e['op']}: {e['class']}: {e['message']}" for e in ing["errors"]]
    con = oracle.connect()
    counts = oracle.run_oracle(con, seeds, landing)
    verdict = {}
    for b in srv["warm_bodies"]:
        route, params = route_of(b["path"])
        with open(os.path.join(work, "bodies", b["body"] + ".json"), encoding="utf-8") as f:
            verdict[(b["path"], b["body"])] = oracle.check_body(con, route, params, f.read())
    bad_bodies = sorted({f"{p}: {v}" for (p, _), v in verdict.items() if v})
    cold = {}
    if trace:
        for ds in ("sim", "sinasc"):
            shutil.move(os.path.join(staged, ds, f"dt={cold_day.isoformat()}"),
                        os.path.join(landing, ds, f"dt={cold_day.isoformat()}"))
            rc, cold[ds], tail = java(cp, ["graft.olapsus.Ingest", "--dataset", ds, "--date", cold_day.isoformat(),
                                           "--prefix", landing, "--warehouse", os.path.join(work, "wh")],
                                      f"cold-{ds}", os.path.join(work, "cwd"))
            attempted += 1
            if rc != 0:
                fails.append(f"cold {ds} Ingest JVM rc={rc}: {tail}")
        counts = oracle.run_oracle(con, seeds, landing)
    oracle.load_warehouse(con, os.path.join(work, "wh"))
    checks = oracle.check_facts(con)
    shares = oracle.new_group_shares(con)
    con.close()
    fails += checks

    # Every request of every phase is one attempted operation, and one
    # failed operation if it did not answer 200 with a correct body.
    reqs = srv["requests"]
    by_phase = {"cold": [], "light": [], "busy": [], "capacity": []}
    ok_in_slo = 0
    for r in reqs:
        lat = r["done_ms"] - r["due_ms"]
        wrong = verdict.get((r["path"], r["body"])) if r["status"] == 200 else None
        if r["status"] != 200:
            fails.append(f"{r['phase']} {r['path']}: status {r['status']} {r['error'] or r['body']}")
        elif wrong:
            fails.append(f"{r['phase']} {r['path']}: {wrong}")
        by_phase[r["phase"]].append(lat)
        if r["phase"] == "busy" and r["status"] == 200 and not wrong and lat <= SLO_MS:
            ok_in_slo += 1
    attempted += len(reqs)
    busy_tail_p, busy_tail = tail_pct(by_phase["busy"])
    daily = ing["daily_ms"]
    day_ms = [a + b for a, b in zip(daily["sim"], daily["sinasc"])]
    bulk = ing["bulk"]
    bulk_ms = sum(bulk[ds].get("wall_ms", float("nan")) for ds in bulk)
    capacity = len(by_phase["capacity"]) / srv["capacity_wall_s"] if trace else float("nan")
    e2e = {
        "setup_s": (res["session_s"] + ing["seed_s"][0], "s"),
        "p50_ms": (pct(by_phase["light"], 50), "ms"),
        "throughput_per_s": ((rows["sim"] + rows["sinasc"]) / (bulk_ms / 1e3), "1/s"),
        "cold_s": (srv["cold_s"], "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    queue = [r["sent_ms"] - r["due_ms"] for r in reqs if r["phase"] == "busy"]
    named = {
        "daily_batch_s": (statistics.median(day_ms) / 1e3, "s"),
        "bulk_sim_rows_per_s": (rows["sim"] / (bulk["sim"]["wall_ms"] / 1e3), "1/s"),
        "bulk_sinasc_rows_per_s": (rows["sinasc"] / (bulk["sinasc"]["wall_ms"] / 1e3), "1/s"),
        "daily_sim_p50_s": (statistics.median(daily["sim"]) / 1e3, "s"),
        "daily_sinasc_p50_s": (statistics.median(daily["sinasc"]) / 1e3, "s"),
        "landing.list_ms": (statistics.median(ing["landing_list_ms"]), "ms"),
        "calib_ms": (res["calib_ms"], "ms"),
    }
    if not trace:
        named["serve_light_p50_ms"] = (pct(by_phase["light"], 50), "ms")
    else:
        named.update({
            "serve_busy_p50_ms": (pct(by_phase["busy"], 50), "ms"),
            f"serve_busy_tail_ms (p{busy_tail_p:g}, n={n_busy})": (busy_tail, "ms"),
            "serve_slo_frac": (ok_in_slo / n_busy, "fraction"),
            "serve.busy_queue_ms": (pct(queue, 50), "ms"),
            "serve.generator_late_ms": (max(srv["generator_late_ms"]["busy"]), "ms"),
        })
        named["serve.capacity_rps"] = (capacity, "1/s")
        named["cold_sim_day_s"] = (cold["sim"], "s")
        named["cold_sinasc_day_s"] = (cold["sinasc"], "s")
        named["ingest.cold_overhead_s"] = (cold["sim"] + cold["sinasc"] - statistics.median(day_ms) / 1e3, "s")
    for ds in ("sim", "sinasc"):
        for k, v in counts[ds].items():
            named[f"ingest.{ds}.{k}"] = (v, "count")
    # Share of each SIM batch's distinct cause lists that are new to the
    # bridge: the input mix decides how much merge work CauseBridge does.
    for phase, (_, lists, new) in zip(("bulk", "daily", "cold"), shares):
        named[f"cause_bridge.{phase}.new_group_share"] = (new / lists, "fraction")
    layers = res["layers"]
    if trace:
        g = ing["bridge_groups"]
        named["cause_bridge.new_groups"] = (g["daily"] - g["bulk"], "count")
        named["cause_bridge.groups_total"] = (g["daily"], "count")
        for k in ("sim.bulk", "sim.daily", "sinasc.bulk", "sinasc.daily"):
            v = sum_layers(layers, f"ingest.{k}")
            for m, (val, unit) in layer_metrics(v).items():
                named[f"ingest.{k}.{m}"] = (val, unit)
            named[f"ingest.{k}.files_written"] = (v["files_written"], "count")
            named[f"ingest.{k}.spill_mb"] = (v["spill_mb"], "MB")
        named.update(route_layers(layers))
    named["warehouse.meta_files"] = (sum(len(fs) for t in ("ponteGrupoCausas", "ponteAssinaturas", "_ingest_log")
                                         for _, _, fs in os.walk(os.path.join(work, "wh", t))), "count")
    layer = layer_metrics(sum_layers(layers, "ingest.", "serving_queries."))
    tr = srv.get("tracing") or {}
    layer["tracing_overhead_pct"] = (100.0 * (tr["traced_ms"] / tr["untraced_ms"] - 1.0) if trace else 0.0, "%")
    detail = dict(res=dict(res, serve={k: v for k, v in srv.items() if k != "requests"}), rows=rows,
                  cold_s=cold, oracle_counts=counts, new_groups_per_day=shares, checks=checks,
                  bad_bodies=bad_bodies, n_requests=len(reqs))
    return attempted, len(fails), fails, e2e, layer, named, detail


def route_layers(layers):
    """Per-route serving layers from the traced pass, per call."""
    out = {}
    routes = sorted({k.split(".")[1] for k in layers if k.startswith("serving_queries.")})
    for rt in routes:
        c, e = layers.get(f"serving_queries.{rt}.construct", {}), layers.get(f"serving_queries.{rt}.exec", {})
        uc, ue = layers.get(f"untraced.{rt}.construct", {}), layers.get(f"untraced.{rt}.exec", {})
        h = layers.get(f"dashboard.{rt}.http", {})
        calls = max(1.0, e.get("calls", 1.0))
        out[f"serving_queries.{rt}.construct_ms"] = (c.get("wall_ms", 0) / calls, "ms")
        out[f"serving_queries.{rt}.plan_ms"] = ((c.get("plan_ms", 0) + e.get("plan_ms", 0)) / calls, "ms")
        out[f"serving_queries.{rt}.exec_ms"] = (e.get("exec_ms", 0) / calls, "ms")
        out[f"serving_queries.{rt}.jobs"] = ((c.get("jobs", 0) + e.get("jobs", 0)) / calls, "count")
        # HTTP request minus the same call made directly, both untraced.
        out[f"dashboard.{rt}.overhead_ms"] = (
            (h.get("wall_ms", 0) - uc.get("wall_ms", 0) - ue.get("wall_ms", 0)) / calls, "ms")
    return out


def serve_requests(ctx, rng, fams, rounds):
    """`rounds` page visits in a seeded order. Each visit is the page's
    mix: the page load (familias, top_causes for the first familia,
    rollup2, pivot, drill) and three interactions (two slices and one
    top_causes), with Zipf-skewed cities and occupation families (the
    same skew the generated deaths have). Every run sends the same
    number of requests of each kind; only parameters and order vary."""
    fam_p = {}
    for code, p in zip(ctx.cbo, ctx.cbo_p):
        fam_p[code[:4]] = fam_p.get(code[:4], 0.0) + p
    fam_names = [f for f in fams if f.split()[-1] in fam_p]
    fp = np.array([fam_p[f.split()[-1]] for f in fam_names])
    fp /= fp.sum()
    first = sorted(fams)[0]
    q = urllib.parse.quote
    kinds = ["familias", "first", "rollup2", "pivot", "drill", "slice", "slice", "top"]
    out = []
    for k in np.concatenate([rng.permutation(kinds) for _ in range(rounds)]):
        if k == "first":
            out.append("/api/top_causes?familia=" + q(first))
        elif k == "slice":
            city = ctx.mun_names[rng.choice(len(ctx.mun_names), p=ctx.mun_p)]
            a = int(rng.integers(2018, 2020))
            out.append(f"/api/slice?city={q(city)}&start={a}&end={a + int(rng.integers(0, 2))}")
        elif k == "top":
            out.append("/api/top_causes?familia=" + q(fam_names[rng.choice(len(fam_names), p=fp)]))
        else:
            out.append(f"/api/{k}")
    return out


def route_of(path):
    parsed = urllib.parse.urlparse(path)
    params = {k: v[0] for k, v in urllib.parse.parse_qs(parsed.query).items()}
    return parsed.path.rsplit("/", 1)[-1], params


def oracle_familias(seeds):
    import csv
    with open(os.path.join(seeds, "cbo.csv"), encoding="utf-8") as f:
        return [r["descricao_familia"].strip() for r in csv.DictReader(f) if r["descricao_familia"].strip()]


def run_sweep(cp, seed, seconds, trace):
    rng = np.random.default_rng(seed)
    work = fresh(os.path.join(WORK, "sweep"))
    data = os.path.join(work, "data")
    gen.write_sweep_tables(data, SWEEP_SF, rng)
    passes = max(1, round(0.2 * seconds))
    res = harness(cp, "sweep", work, trace, data=data, passes=passes, queries=",".join(SWEEP_QUERIES))
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    verdict = oracle.check_sweep(data, os.path.join(work, "results"), oracle_sql)
    names = res["queries"]
    fails = [f"{n}: {e['class']}: {e['message']}" for n, e in res["errors"].items()]
    fails += [f"{n}: {v}" for n, v in verdict.items() if v]
    fails += [f"{n}: no result" for n in names if n not in verdict and n not in res["errors"]]
    ok = [n for n in names if all(n in p for p in res["passes"])]
    per_q = {n: statistics.median([p[n]["wall_ms"] for p in res["passes"]]) for n in ok}
    totals = [sum(p[n]["wall_ms"] for n in ok) / 1e3 for p in res["passes"]]
    total = statistics.median(totals)
    e2e = {
        "setup_s": (res["session_s"], "s"),
        "p50_ms": (statistics.median(per_q.values()), "ms"),
        "throughput_per_s": (len(per_q) / total, "1/s"),
        "cold_s": (res["warm_s"], "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    named = {"sweep_total_s": (total, "s"), "sweep_p50_s": (statistics.median(per_q.values()) / 1e3, "s"),
             "sweep.queries": (len(names), "count"), "sweep.cpus": (int(CPUS), "count"),
             "calib_ms": (res["calib_ms"], "ms")}
    layers = res["layers"]
    s = sum_layers(layers, "sweep.")
    if trace:
        for m in sorted({k.split(".")[1] for k in layers if k.startswith("sweep.")}):
            named[f"sweep.{m}_s"] = (sum_layers(layers, f"sweep.{m}.")["wall_ms"] / 1e3, "s")
        named["sweep.construct_s"] = (sum(v["wall_ms"] for k, v in layers.items() if k.endswith(".construct")) / 1e3, "s")
        for k, scale, unit in (("plan_ms", 1e3, "s"), ("exec_ms", 1e3, "s"), ("jobs", 1, "count"),
                               ("stages", 1, "count"), ("task_cpu_ms", 1e3, "s"), ("gc_ms", 1e3, "s"),
                               ("shuffle_mb", 1, "MB"), ("spill_mb", 1, "MB")):
            named["sweep." + k.replace("_ms", "_s")] = (s[k] / scale, unit)
    layer = layer_metrics(s)
    # Overhead against the pass just before the traced one, the nearest
    # in JIT and cache state.
    traced = res.get("traced_pass") or {}
    traced_total = sum(v["wall_ms"] for v in traced.values()) / 1e3
    layer["tracing_overhead_pct"] = (100.0 * (traced_total / totals[-1] - 1.0) if trace else 0.0, "%")
    detail = dict(res=res, per_query_ms=per_q, verdict=verdict)
    return len(names), len(fails), fails, e2e, layer, named, detail


WORKLOADS = {"ingest": run_ingest, "lifecycle": run_lifecycle, "sweep": run_sweep}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("no program sources here (build.sbt, src/main): run from the repository root")
        return 2
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    attempted, failed, fails, e2e, layer, named, detail = WORKLOADS[a.workload](cp, a.seed, a.seconds, a.trace)
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace, cpus=CPUS, failures=fails,
                  end_to_end=e2e, per_layer=layer, named=named)
    with open(os.path.join(WORK, f"detail-{a.workload}{'-trace' if a.trace else ''}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for k, (v, u) in {**e2e, **named, **(layer if a.trace else {})}.items():
        print(f"{a.workload:9s} {k:48s} {v:14.4f} {u}")
    for fl in fails[:20]:
        print(f"FAIL {fl}")
    metrics = layer if a.trace else e2e
    print(json.dumps({"correct": not fails, "attempted": int(attempted), "failed": int(min(failed, attempted)),
                      "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
