"""Metrics of one benchmark run, computed from the raw artifact the
benchmark JVM writes (run.json), and the untimed output check.

The names here are the names in BENCHMARK.json.
"""
import glob
import hashlib
import json
import os
import sys

from benchstats import (layer_gap, layer_sum_check, median, overhead, per_query_medians,
                        percentile, unaccounted_ms)

WORKLOADS = ("suite_sf0.01", "routing_sf0.001")

# The modules the suite runs; <module>.cold_s / .warm_s per module.
MODULES = (
    "queries.Relational", "queries.JoinVariants", "queries.Extended",
    "streaming.EventStreams",
    "pipeline.Dedup", "pipeline.Similarity", "pipeline.TextAnalysis",
    "pipeline.Multimodal", "pipeline.CorpusIO", "pipeline.Graph",
    "pipeline.Clustering", "pipeline.EntityResolution")

END_TO_END = {"setup_s": "s", "cold_total_s": "s", "warm_total_s": "s"}

# name -> (unit, sample field summed over per-query medians of the
# steady passes)
STEADY_SUMS = {
    "build.ms": ("ms", "build_ms"), "build.jobs": ("count", "build_jobs"),
    "catalyst.analysis_ms": ("ms", "analysis_ms"),
    "catalyst.optimization_ms": ("ms", "optimization_ms"),
    "catalyst.planning_ms": ("ms", "planning_ms"),
    "exec.ms": ("ms", "exec_ms"), "exec.jobs": ("count", "exec_jobs"),
    "exec.stages": ("count", "exec_stages"), "exec.tasks": ("count", "tasks"),
    "exec.task_run_ms": ("ms", "task_run_ms"), "exec.task_cpu_ms": ("ms", "task_cpu_ms"),
    "exec.task_wait_ms": ("ms", "task_wait_ms"),
    "shuffle.write_bytes": ("bytes", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("bytes", "shuffle_read_bytes"),
    "shuffle.fetch_wait_ms": ("ms", "shuffle_fetch_wait_ms"),
    "shuffle.write_ms": ("ms", "shuffle_write_ms"),
    "mem.spill_bytes": ("bytes", "spill_bytes"),
    "gc.task_ms": ("ms", "gc_task_ms"), "gc.jvm_ms": ("ms", "gc_jvm_ms"),
    "op.scan_ms": ("ms", "op_scan_ms"), "op.agg_ms": ("ms", "op_agg_ms"),
    "op.sort_ms": ("ms", "op_sort_ms"),
}


def is_routing(art):
    return art["workload"].startswith("routing")


def steady_pass(art):
    return "routed" if is_routing(art) else "warm"


def cold_pass(art):
    return "routed_cold" if is_routing(art) else "cold"


def rows(art, pass_name):
    return [r for r in art["samples"] if r["pass"] == pass_name]


def setup_median(art, key):
    vals = [s[key] for s in art["setup"] if key in s]
    return median(vals) if vals else 0.0




def end_to_end(art):
    cold = rows(art, cold_pass(art))
    steady = rows(art, steady_pass(art))
    vals = {
        "setup_s": (setup_median(art, "total_ms") / 1000, len(art["setup"])),
        "cold_total_s": (sum(per_query_medians(cold, "wall_ms").values()) / 1000, len(cold)),
        "warm_total_s": (sum(per_query_medians(steady, "wall_ms").values()) / 1000, len(steady)),
    }
    return {k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in vals.items()}


def per_layer(art, failed_frac):
    steady = rows(art, steady_pass(art))
    cold = rows(art, cold_pass(art))
    out = {}

    def put(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    put("engine.register_ms", setup_median(art, "register_ms"), "ms")
    put("engine.prewarm_ms", art["prewarm_ms"], "ms")
    put("planopt.install_ms", setup_median(art, "install_ms"), "ms")
    for name, (unit, key) in STEADY_SUMS.items():
        put(name, sum(per_query_medians(steady, key).values()), unit)
    leftover = [dict(r, unaccounted_ms=unaccounted_ms(r)) for r in steady]
    put("write.dispatch_ms", sum(per_query_medians(leftover, "unaccounted_ms").values()), "ms")
    busy = sum(r["exec_task_ms"] for r in steady)
    span = sum(r["exec_ms"] * r["slots"] for r in steady)
    put("exec.slot_util", busy / span if span else 0.0, "ratio")
    put("mem.heap_peak_mb", art["heap_peak_bytes"] / 2 ** 20, "MB")
    walls = [r["wall_ms"] for r in steady]
    put("warm.p50_ms", percentile(walls, 50)[0], "ms")
    put("codegen.compile_ms", sum(r["codegen_compile_ms"] for r in cold), "ms")
    put("codegen.classes", sum(r["codegen_classes"] for r in cold), "count")
    for m in MODULES:
        put(f"{m}.cold_s", sum(r["wall_ms"] for r in cold if r["module"] == m) / 1000, "s")
        warm = per_query_medians([r for r in steady if r["module"] == m], "wall_ms")
        put(f"{m}.warm_s", sum(warm.values()) / 1000, "s")
    for name, value in routing_layer(art).items():
        put(name, *value)

    # tracing overhead: each query's traced steady samples against its
    # untraced ones; raises when a run has no untraced samples
    over_ms, over_frac = overhead(steady, rows(art, steady_pass(art) + "_untraced"))
    put("trace.overhead_ms", over_ms, "ms")
    put("trace.overhead_frac", over_frac, "ratio")

    traced_rows = [r for r in art["samples"] if "exec_ms" in r and r["ok"]]
    put("layer_sum.violations", len(layer_sum_failures(art)), "count")
    put("layer_sum.max_gap_frac", max((abs(layer_gap(r)) for r in traced_rows), default=0.0),
        "ratio")
    put("check.failed_frac", failed_frac, "ratio")
    return out


def layer_sum_failures(art):
    """{"<pass> <query>": reason} for every traced sample whose layers
    miss its wall time by more than 5%. Empty for untraced runs."""
    traced_rows = [r for r in art["samples"] if "exec_ms" in r]
    return {f"{r['pass']} {r['query']}":
            f"layer sum misses wall {r['wall_ms']:.1f} ms by {unaccounted_ms(r):.1f} ms "
            f"({100 * layer_gap(r):.1f}%)"
            for r in layer_sum_check(traced_rows)}


def routing_layer(art):
    """plans.* and planopt.score_ms; zero where the workload does not route."""
    names = {"plans.native_total_s": "s", "plans.route_overhead_ms": "ms",
             "plans.sweep_ms": "ms", "plans.routed": "count", "plans.declined": "count",
             "plans.bypassed": "count", "plans.cache_hit_frac": "ratio",
             "plans.candidates_mean": "count", "planopt.score_ms": "ms"}
    if not is_routing(art):
        return {k: (0.0, u) for k, u in names.items()}
    native = rows(art, "native")
    routed = rows(art, "routed")
    first = rows(art, "routed_cold")
    first_passes = len({r["pass_no"] for r in first})
    native_plan = per_query_medians(native, "planning_ms")
    routed_plan = per_query_medians(routed, "planning_ms")
    first_plan = per_query_medians(first, "planning_ms")
    qs = sorted(native_plan)
    routed_first = [r for r in first if r["routed"]]
    score = art.get("score") or []
    v = {
        "plans.native_total_s": sum(per_query_medians(native, "wall_ms").values()) / 1000,
        "plans.route_overhead_ms": sum(routed_plan[q] - native_plan[q] for q in qs) / len(qs),
        "plans.sweep_ms": sum(first_plan[q] - native_plan[q] for q in qs) / len(qs),
        "plans.routed": len(routed_first) / first_passes,
        "plans.declined": sum(1 for r in first if not r["routed"] and r["declines"] > 0)
        / first_passes,
        "plans.bypassed": sum(r["bypasses"] for r in first) / first_passes,
        "plans.cache_hit_frac": (sum(1 for r in routed if r["cache_growth"] == 0) / len(routed)),
        "plans.candidates_mean": (sum(r["candidates"] for r in routed_first) / len(routed_first)
                                  if routed_first else 0.0),
        "planopt.score_ms": (sum(s["score_ms"] for s in score) / len(score) if score else 0.0),
    }
    return {k: (v[k], u) for k, u in names.items()}


def digest(cols, rows_):
    return hashlib.sha256(json.dumps([cols, rows_]).encode()).hexdigest()


def result_digests(result_dir, names, root):
    """{query: (rows, digest)} of the Spark results written by the
    check pass, in the canonical form of tools/compare_oracle.py."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    from compare_oracle import canon
    con = duckdb.connect()
    out = {}
    for name in names:
        files = glob.glob(os.path.join(result_dir, name, "*.parquet"))
        if not files:
            continue
        res = con.execute(f"SELECT * FROM read_parquet('{result_dir}/{name}/*.parquet')")
        cols = [d[0] for d in res.description]
        c, r = canon(cols, res.fetchall())
        out[name] = (len(r), digest(c, r))
    con.close()
    return out


def check_outputs(art, run_dir, expected_dir, root):
    """{query: reason} for every query that raised in any pass or whose
    output does not match. Never excludes a query."""
    failures = {}
    for r in art["samples"]:
        if not r["ok"] and r["query"] not in failures:
            failures[r["query"]] = f"{r['pass']} pass: {r['error']}"
    check = art["check"]
    for q, e in check["errors"].items():
        failures.setdefault(q, f"check: {e}")
    if check["kind"] == "digest":
        sf = os.path.basename(art["provenance"]["data_dir"])
        with open(os.path.join(expected_dir, f"{sf}.json")) as f:
            expected = json.load(f)
        names = sorted({r["query"] for r in rows(art, cold_pass(art))})
        got = result_digests(os.path.join(run_dir, "results"), names, root)
        for q in names:
            if q in failures:
                continue
            if q not in expected:
                failures[q] = "no expected digest"
            elif q not in got:
                failures[q] = "no result written"
            elif list(got[q]) != expected[q]:
                failures[q] = f"digest mismatch: got {got[q]}, expected {expected[q]}"
    return failures


def result(art, failures, violations):
    """The result line. A traced run whose layers do not add up to a
    query's wall time (`violations`) is not correct either."""
    attempted = len({r["query"] for r in art["samples"]})
    failed = len(failures)
    if art["trace"]:
        metrics = per_layer(art, failed / attempted)
    else:
        metrics = end_to_end(art)
    return {"correct": failed == 0 and not violations, "attempted": attempted,
            "failed": failed, "metrics": metrics}
