#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <gold_refresh|dashboard>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (once per
source state), generates the seeded inputs, runs the JVM harness
(perfbench/scala), checks every pass against the DuckDB oracle, and prints
each metric with its unit; the last stdout line is the JSON result.
"""
import argparse
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("gold_refresh", "dashboard")
QUERIES = ("monthly_agg", "demand_by_zone", "revenue_tips", "duration_percentiles",
           "hourly_matrix", "speed_band", "coverage_matrix", "clustered_monthly_agg")
GOLD_REPLICAS = 4       # gold_refresh input = sf base replicated this many times
MAX_PASSES = 16         # gold_refresh pass directories (a window stops when they run out)
LATENCY_BLOCKS = 5      # dashboard windows run at least this many 8-query blocks
# the tables the dashboard queries read
DASHBOARD_TABLES = ("lineitem", "orders", "customer", "nation", "region", "events")
JVM_TIMEOUT_S = 150

E2E_UNITS = {"setup_s": "s", "run_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms",
             "queries_per_s": "1/s", "cpu_s": "s", "retained_heap_mb": "MB",
             "stored_bytes_per_input_byte": "ratio"}


# base input per workload: a scale-factor directory of the read-only
# TPC-H-shaped test data
BASES = {"gold_refresh": "sf0.01", "dashboard": "sf0.1"}


def data_root():
    """$PERFBENCH_DATA, else the test-data root that TESTDATA.md lists."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    with open(f"{ROOT}/TESTDATA.md") as f:
        m = re.search(r"`([^`]+)/sf0\.1/`", f.read())
    if not m:
        raise SystemExit("TESTDATA.md lists no sf0.1 directory")
    return m.group(1)


def base_dir(workload):
    return f"{data_root()}/{BASES[workload]}"


def load_checker():
    """The repository's oracle canonicalisation (tools/check_oracle.py)."""
    path = f"{ROOT}/tools/check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prepare(workload, seed, work, sf):
    """Seeded inputs (timed, part of set-up). Returns (generation seconds,
    {table: (rows, bytes)})."""
    t0 = time.perf_counter()
    dirs, queries = [], []
    if workload == "gold_refresh":
        d = f"{work}/gen"
        input_stats = gen.gold_input(sf, d, seed, GOLD_REPLICAS)
        # a fresh path per pass: PipelineRunner, Staged and the layout
        # writer all see a table set they have never seen before
        # the warm-up pass runs on the same input, so the JIT compiles the
        # loops a full-size pass keeps hot
        dirs = [f"{work}/pass_{i}" for i in range(MAX_PASSES)]
        for p in dirs + [f"{work}/warm"]:
            gen.link_dir(d, p)
    else:
        queries = gen.query_sequence(list(QUERIES), seed, 200)
        input_stats = {t: (pq.ParquetFile(f"{sf}/{t}.parquet").metadata.num_rows,
                           os.path.getsize(f"{sf}/{t}.parquet")) for t in DASHBOARD_TABLES}
    for name, items in (("pass_dirs", dirs), ("warm_dirs", [f"{work}/warm"]),
                        ("queries", queries)):
        with open(f"{work}/{name}.txt", "w") as f:
            f.write("\n".join(items) + "\n")
    return time.perf_counter() - t0, input_stats


def run_jvm(args, work, sf, classes_cp, out):
    cores = os.cpu_count() or 1
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={work}/spark-local", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    # class-data sharing: map the archive if a run already dumped it, else
    # dump it when this run's JVM exits
    jsa = build.archive(out)
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}.tmp")
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes_cp, "perfbench.Main", "--workload", args.workload,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--sf", sf, "--cores", str(cores), "--blocks", str(LATENCY_BLOCKS)]
    log = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("JVM harness timed out")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if rc != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-3000:])
        raise SystemExit(f"JVM harness exited with {rc}")
    if os.path.exists(f"{jsa}.tmp"):
        os.replace(f"{jsa}.tmp", jsa)
    with open(f"{work}/raw.json") as f:
        return json.load(f)


# ---- correctness -----------------------------------------------------------

def duck(sf):
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(sf)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{sf}/{t}')")
    return con


def check(workload, raw, work, sf):
    """Oracle checks; returns {pass or query index: reason} for failures."""
    import pandas as pd
    con = duck(sf)
    fails = {}
    osql = raw["oracle_sql"]
    if workload == "dashboard":
        co = load_checker()
        bad = set()
        for n in QUERIES:
            sql = osql["dashboard"]["q_monthly_agg" if n == "clustered_monthly_agg" else f"q_{n}"]
            got, want = co.canon(pd.read_parquet(f"{work}/ref/{n}")), co.canon(con.execute(sql).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want) \
                    or co.table_hash(got) != co.table_hash(want):
                bad.add(n)
        for i, q in enumerate(raw["queries"]):
            if not q["ok"] or q["name"] in bad:
                fails[i] = f"{q['name']}: result differs from the oracle"
        return fails
    if workload == "gold_refresh":
        count = lambda sql: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        want = {"stg_trips_unified": GOLD_REPLICAS * count(osql["silver"]),
                "fct_trips": GOLD_REPLICAS * count(osql["fct"])}
        for m in ("dim_date", "dim_zone", "dim_payment_type", "dim_rate_code"):
            want[m] = count(osql[m])
        for p in raw["passes"]:
            got = dict(p["extra"].get("counts", []))
            if got != want:
                fails[p["idx"]] = f"model row counts {got} != {want}"
    for p in raw["passes"]:
        if not p["ok"]:
            fails[p["idx"]] = p["why"]
        elif not p["staged"]:
            fails[p["idx"]] = "no new Staged build: the pass hit the cache"
    return fails


# ---- metrics -----------------------------------------------------------------

def e2e_metrics(workload, raw, gen_s, input_stats):
    spans = raw["spans"]
    m = {"setup_s": gen_s + sum(raw["setup_s"].values())}
    passes = raw["passes"]
    # bytes a pass materializes (tables and shuffle files) per byte of its
    # source tables on disk (per 8-query block on the dashboard)
    source = sum(b for _, b in input_stats.values())
    ops = len([q for q in raw["queries"] if q["pass"] == passes[0]["idx"]]) / len(QUERIES) \
        if workload == "dashboard" else 1
    m["stored_bytes_per_input_byte"] = stats.median(
        [(stats.rollup(spans, p["span"], "out_bytes") +
          stats.rollup(spans, p["span"], "shuffle_write")) / ops / source for p in passes])
    m["retained_heap_mb"] = stats.median([p["retained_heap"] for p in passes]) / 2**20
    if workload == "dashboard":
        qs = [q for q in raw["queries"] if q["pass"] == passes[0]["idx"]]
        window = (max(q["end"] for q in qs) - min(q["start"] for q in qs)) / 1e3
        # percentiles over the window's first LATENCY_BLOCKS blocks, so every
        # run ranks the same number of samples
        first = min(q["idx"] for q in qs)
        lat = [q["end"] - q["start"] for q in qs
               if q["idx"] < first + LATENCY_BLOCKS * len(QUERIES)]
        if len(lat) != LATENCY_BLOCKS * len(QUERIES):
            raise SystemExit(f"the window ran {len(lat)} of the "
                             f"{LATENCY_BLOCKS * len(QUERIES)} queries its percentiles rank")
        blocks = len(qs) / len(QUERIES)
        m["run_s"] = window / blocks
        m["cpu_s"] = passes[0]["cpu_s"] / blocks
        m["queries_per_s"] = len(qs) / window
    else:
        # one operation is one pass: with one pass per run these three are
        # aliases of run_s (see README)
        lat = [p["wall_s"] * 1e3 for p in passes]
        m["run_s"] = stats.median([p["wall_s"] for p in passes])
        m["cpu_s"] = stats.median([p["cpu_s"] for p in passes])
        m["queries_per_s"] = len(passes) / sum(p["wall_s"] for p in passes)
    rank = stats.tail_rank(len(lat))
    m["query_p50_ms"] = stats.percentile(lat, 50)
    m["query_p90_ms"] = stats.percentile(lat, rank)
    return m, {"query_p90_ms": f"p{rank} of {len(lat)}"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(f"{ROOT}/src/main/scala"):
        raise SystemExit("program sources missing; nothing to measure")
    sf = base_dir(args.workload)
    if not os.path.isdir(sf):
        raise SystemExit(f"base data {sf} missing; nothing to measure")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", f"{ROOT}/.bench_build"))
    classes_cp = build.classpath(ROOT, out)
    build.build(ROOT, out)

    work = f"{ROOT}/.bench_work/{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        phase = {"start": time.perf_counter()}
        gen_s, input_stats = prepare(args.workload, args.seed, work, sf)
        phase["generate"] = time.perf_counter()
        raw = run_jvm(args, work, sf, classes_cp, out)
        phase["jvm"] = time.perf_counter()
        stem = f"{ROOT}/.bench_work/results/{args.workload}-s{args.seed}-t{args.trace}"
        os.makedirs(f"{ROOT}/.bench_work/results", exist_ok=True)
        shutil.copyfile(f"{work}/raw.json", f"{stem}.raw.json")
        fails = check(args.workload, raw, work, sf)
        phase["check"] = time.perf_counter()
        if args.trace:
            import layers
            metrics, notes = layers.per_layer(args.workload, raw), {}
        else:
            metrics, notes = e2e_metrics(args.workload, raw, gen_s, input_stats)
        attempted = len(raw["queries"]) if args.workload == "dashboard" else len(raw["passes"])
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "attempted": attempted, "failed": len(fails),
                  "failed_ratio": len(fails) / max(1, attempted), "failures": fails,
                  "inputs": {t: {"rows": r, "bytes": b} for t, (r, b) in input_stats.items()},
                  "notes": notes, "env": raw["info"], "metrics": metrics,
                  "setup_parts_s": {"generate": gen_s, **raw["setup_s"]},
                  "wall_s": {k: phase[k] - phase["start"] for k in ("generate", "jvm", "check")}}
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True).stdout.strip()
        except OSError:
            sha = ""
        record["env"]["git_sha"] = sha or "unknown"
        with open(f"{stem}.json", "w") as f:
            json.dump(record, f, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in fails.items():
        print(f"FAILED {k}: {v}")
    print(f"failed_ratio = {record['failed_ratio']:.4f}  ({len(fails)}/{attempted})")
    for name, v in metrics.items():
        print(f"{name} = {v['value'] if isinstance(v, dict) else v:.6g} "
              f"{v['unit'] if isinstance(v, dict) else E2E_UNITS[name]}"
              + (f"  [{notes[name]}]" if name in notes else ""))
    if not args.trace:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": len(fails),
                      "metrics": metrics}))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
