"""Per-layer metrics of a traced run, reduced from the raw spans, queries
and Spark counters the JVM harness records. Each value is the median over
the run's traced passes; a layer a workload never calls reports 0."""
import statistics

import stats

ANALYTICS = ("monthly_agg", "demand_by_zone", "revenue_tips", "duration_percentiles",
             "hourly_matrix", "speed_band", "coverage_matrix")
LAYERS = ("operators", "functions", "plans")

# name → (unit, better)
METRICS = {
    "operators.Silver.build_s": ("s", "lower"),
    "operators.GoldDims.build_s": ("s", "lower"),
    "operators.GoldFact.build_s": ("s", "lower"),
    "operators.PipelineRunner.overlap": ("ratio", "higher"),
    "operators.Quality.report_s": ("s", "lower"),
    "operators.ClusteredLayout.write_s": ("s", "lower"),
    "functions.Staged.build_s": ("s", "lower"),
    "functions.Staged.builds": ("count", "lower"),
    **{f"operators.Analytics.{q}_ms": ("ms", "lower") for q in ANALYTICS},
    "operators.ClusteredLayout.monthly_agg_ms": ("ms", "lower"),
    "plans.planning_ms": ("ms", "lower"),
    "plans.codegen_classes": ("count", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.busy_ratio": ("ratio", "higher"),
    "spark.output_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "sources.Tables.scan_bytes": ("bytes", "lower"),
    "sources.Tables.scan_rows": ("count", "lower"),
    **{f"self.{layer}_s": ("s", "lower") for layer in LAYERS},
    "trace.overhead_s": ("s", "lower"),
}


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def staged_spans(p, sub, staged_end):
    """The pass's Staged builds as spans: each ends when the SQL execution
    writing its artifact ended and lasts the seconds the program recorded
    for it; its parent is the innermost span that contains it."""
    out = []
    for i, (key, secs) in enumerate(sorted(p["staged"].items())):
        if key in staged_end:
            end = staged_end[key]
            out.append({"id": -1 - i, "name": "functions.Staged.build", "pass": p["idx"],
                        "start": end - secs * 1e3, "end": end, "counters": {}})
    for s in out:
        holders = [h for h in sub + out if h is not s
                   and h["start"] <= s["start"] and s["end"] <= h["end"]]
        s["parent"] = min(holders, key=lambda h: h["end"] - h["start"])["id"] \
            if holders else p["span"]
    return out


def pass_layers(p, spans, staged_end, cores, ops):
    """Layer values of one traced pass; ``ops`` normalises the counters
    (1 for a pass, the number of 8-query blocks for a dashboard window)."""
    sub = stats.subtree(spans, p["span"])
    sub += staged_spans(p, sub, staged_end)
    dur = lambda name: sum(s["end"] - s["start"] for s in sub if s["name"] == name) / 1e3
    roll = lambda key: stats.rollup(spans, p["span"], key)
    v = {
        "operators.Silver.build_s": dur("operators.Silver.build"),
        "operators.GoldDims.build_s": dur("operators.GoldDims.build"),
        "operators.GoldFact.build_s": dur("operators.GoldFact.build"),
        "operators.Quality.report_s": dur("operators.Quality.report"),
        "operators.ClusteredLayout.write_s": dur("operators.ClusteredLayout.write"),
        # Staged builds as the program records them (key → build seconds)
        "functions.Staged.builds": len(p["staged"]),
        "functions.Staged.build_s": stats.union_length(
            [(s["start"], s["end"]) for s in sub if s["name"] == "functions.Staged.build"]) / 1e3,
        "plans.codegen_classes": p["codegen"] / ops,
        "jvm.jit_s": p["jit_ms"] / 1e3 / ops,
        "jvm.gc_s": p["gc_ms"] / 1e3 / ops,
    }
    models = sum(dur(n) for n in ("operators.Silver.build", "operators.GoldDims.build",
                                  "operators.GoldFact.build"))
    run = dur("operators.PipelineRunner.run")
    v["operators.PipelineRunner.overlap"] = models / run if run else 0.0
    v["spark.busy_ratio"] = roll("run_ms") / 1e3 / (p["wall_s"] * cores)
    for name, key, scale in (("spark.output_bytes", "out_bytes", 1),
                             ("spark.shuffle_write_bytes", "shuffle_write", 1),
                             ("spark.spill_bytes", "spill", 1), ("spark.gc_s", "gc_ms", 1e3),
                             ("sources.Tables.scan_bytes", "in_bytes", 1),
                             ("sources.Tables.scan_rows", "in_rows", 1),
                             ("spark.jobs", "jobs", 1), ("spark.tasks", "tasks", 1)):
        v[name] = roll(key) / scale / ops
    own, names = stats.self_times(sub), {s["id"]: s["name"] for s in sub}
    for layer in LAYERS:
        v[f"self.{layer}_s"] = sum(t for i, t in own.items()
                                   if stats.layer_of(names[i]) == layer) / 1e3 / ops
    return v


def per_layer(workload, raw):
    spans, cores = raw["spans"], raw["info"]["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    queries = raw["queries"]
    per_pass = []
    for p in traced:
        ops = 1
        if workload == "dashboard":
            ops = sum(1 for q in queries if q["pass"] == p["idx"]) / 8
        per_pass.append(pass_layers(p, spans, raw["staged_end"], cores, max(ops, 1e-9)))
    out = {k: _med([v[k] for v in per_pass if k in v]) for k in METRICS}
    if workload == "dashboard":
        q = [x for x in queries if x["pass"] in {p["idx"] for p in traced}]
        for name in ANALYTICS:
            out[f"operators.Analytics.{name}_ms"] = _med(
                [x["end"] - x["start"] for x in q if x["name"] == name])
        out["operators.ClusteredLayout.monthly_agg_ms"] = _med(
            [x["end"] - x["start"] for x in q if x["name"] == "clustered_monthly_agg"])
        out["plans.planning_ms"] = _med([x["plan_ms"] for x in q])
        out["spark.jobs"] /= 8
        out["spark.tasks"] /= 8
        # per 8-query block, as run_s is
        wall = lambda ps: _med([p["wall_s"] / max(1e-9, sum(
            1 for x in queries if x["pass"] == p["idx"]) / 8) for p in ps])
    else:
        wall = lambda ps: _med([p["wall_s"] for p in ps])
    out["trace.overhead_s"] = wall(traced) - wall(plain) if traced and plain else 0.0
    return {k: {"value": float(v), "unit": METRICS[k][0]} for k, v in out.items()}
