"""Metric definitions and the arithmetic that turns one run's raw records
into them. BENCHMARK.json lists the same names (checked by selftest.py).
"""
import statistics

# A second seed that no change is tuned on: a claimed gain must also hold
# on it.
HOLDOUT_SEED = 424242

# end-to-end metrics, reported for every workload: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "mem_retained_mb": ("MB", "lower"),
    "p50_ms": ("ms", "lower"),
    "tail_ms": ("ms", "lower"),
}

# the operations whose latency p50_ms / tail_ms summarise, per workload
PRIMARY = {
    "api_mixed": ("tabular", "raster", "aoi_read"),
    "batch_catalog": ("pass",),
}

# The batch set: two queries from the registry's most construction-heavy
# (a streaming gate's start, drain and stop; corpus tokenizing for BM25)
# and one from its most execution-heavy (a decimal GROUP BY), as measured
# in a warm, fully materialized 0.1 pass on 4 cores. Frozen by name.
BATCH = sorted(["sg6_stream_session", "t33_bm25", "a1_agg_groupby"])

# per-layer metrics of the traced run: name -> (unit, better)
PER_LAYER = {
    "api.self_ms": ("ms", "lower"),
    "api.queue_ms": ("ms", "lower"),
    "api.reject_ms": ("ms", "lower"),
    "sqlgate.scrutinize_ms": ("ms", "lower"),
    "sqlgate.fncheck_ms": ("ms", "lower"),
    "catalyst.analyze_ms": ("ms", "lower"),
    "catalyst.optimize_ms": ("ms", "lower"),
    "catalyst.plan_ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.job_ms": ("ms", "lower"),
    "exec.task_cpu_ms": ("ms", "lower"),
    "exec.input_kb": ("KiB", "lower"),
    "exec.shuffle_kb": ("KiB", "lower"),
    "exec.spill_kb": ("KiB", "lower"),
    "codegen.compiles": ("count", "lower"),
    "codegen.compile_ms": ("ms", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "raster.build_ms": ("ms", "lower"),
    "raster.env_ms": ("ms", "lower"),
    "raster.compile_ms": ("ms", "lower"),
    "raster.tiles_scanned": ("count", "lower"),
    "raster.tile_yield": ("ratio", "higher"),
    "sinks.encode_ms": ("ms", "lower"),
    "sinks.stream_mb_s": ("MB/s", "higher"),
    "etl.create_s": ("s", "lower"),
    "etl.write_amp": ("ratio", "lower"),
    "etl.files": ("count", "lower"),
    "jobs.wait_ms": ("ms", "lower"),
    "batch.construct_s": ("s", "lower"),
    "batch.eager_jobs": ("count", "lower"),
    **{f"construct_s.{q}": ("s", "lower") for q in BATCH},
    **{f"exec_s.{q}": ("s", "lower") for q in BATCH},
    "blocks.mem_mb_end": ("MB", "lower"),
    "jvm.rss_peak_mb": ("MB", "lower"),
    "views.count_end": ("count", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
    "load.ops_per_s": ("1/s", "higher"),
    "load.cpu_ms_per_op": ("ms", "lower"),
    "fail_share": ("ratio", "lower"),
    "class.read_qps": ("1/s", "higher"),
    "class.tabular_p50_ms": ("ms", "lower"),
    "class.tabular_tail_ms": ("ms", "lower"),
    "class.raster_p50_ms": ("ms", "lower"),
    "class.raster_tail_ms": ("ms", "lower"),
    "class.aoi_read_p50_ms": ("ms", "lower"),
    "class.aoi_read_tail_ms": ("ms", "lower"),
    "ingest.ready_s": ("s", "lower"),
    "ingest.mb_s": ("MB/s", "higher"),
}


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count). With `beyond` samples or fewer no
    percentile qualifies and the maximum is returned at 100."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def p50(values):
    return statistics.median(values) if values else 0.0


def accounting(ops, bad_keys, fail_calls):
    """(attempted, failed): an operation fails when it erred, when its
    answer differed from the first answer to the same request, or when
    DuckDB disagrees with that answer. Failures recorded outside timed
    operations (set-up, warm-up) count too."""
    attempted = len(ops)
    timed_bad = sum(1 for o in ops if not o["ok"])
    wrong = sum(1 for o in ops if o["ok"] and o["key"] in bad_keys)
    outside = max(0, fail_calls - timed_bad)
    return attempted, timed_bad + wrong + outside


def lat(ops, classes):
    return [o["ms"] for o in ops if o["cls"] in classes]


def report(workload, res, bad, trace):
    bad_keys = {k for k, _ in bad}
    if bad and workload == "batch_catalog":
        bad_keys.add("pass")  # a pass fails when any of its answers is wrong
    parts = [p for p in ("loaded", "single") if p in res]
    ops = [o for p in parts for o in res[p]["ops"]] + res.get("traced", [])
    attempted, failed = accounting(ops, bad_keys, res.get("failed_count", 0))
    loaded = res["loaded"]
    lops = loaded["ops"]
    prim = lat(lops, PRIMARY[workload])
    t_val, t_pct, t_n = tail(prim)
    metrics = {
        "setup_s": res["setup_s"],
        "mem_retained_mb": res["mem_retained_mb"],
        "p50_ms": p50(prim),
        "tail_ms": t_val,
    }
    classes = {}
    for c in ("tabular", "raster", "rejected", "aoi_read", "ingest", "pass"):
        xs = lat(lops, (c,))
        if xs:
            v, pct, n = tail(xs)
            classes[c] = {"n": n, "p50_ms": p50(xs), "tail_ms": v, "tail_pct": pct}
    ingests = res.get("ingests", [])
    ready = [i["ms"] / 1000 for i in ingests]
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({k: v for k, v in res.get("layers", {}).items() if k in layers})
    layers.update({
        "fail_share": failed / max(1, attempted),
        "load.ops_per_s": len(lops) / loaded["wall_s"],
        "load.cpu_ms_per_op": loaded["cpu_ms"] / max(1, len(lops)),
        "class.read_qps": len(lat(lops, ("tabular", "raster", "rejected"))) / loaded["wall_s"],
        "class.tabular_p50_ms": classes.get("tabular", {}).get("p50_ms", 0.0),
        "class.tabular_tail_ms": classes.get("tabular", {}).get("tail_ms", 0.0),
        "class.raster_p50_ms": classes.get("raster", {}).get("p50_ms", 0.0),
        "class.raster_tail_ms": classes.get("raster", {}).get("tail_ms", 0.0),
        "class.aoi_read_p50_ms": classes.get("aoi_read", {}).get("p50_ms", 0.0),
        "class.aoi_read_tail_ms": classes.get("aoi_read", {}).get("tail_ms", 0.0),
        "ingest.ready_s": p50(ready),
        "ingest.mb_s": (sum(i["bytes"] for i in ingests) / 1e6 / sum(ready)) if ready else 0.0,
        "jvm.rss_peak_mb": res.get("rss_peak_mb", 0.0),
    })
    if "single" in res:
        single = p50(lat(res["single"]["ops"], PRIMARY[workload]))
        layers["api.queue_ms"] = metrics["p50_ms"] - single
        layers["trace.overhead_ms"] = p50(lat(res.get("traced", []), PRIMARY[workload])) - single
    return {
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in metrics.items()},
        "trace_metrics": {k: {"value": layers[k], "unit": u}
                          for k, (u, _) in PER_LAYER.items()} if trace else None,
        "classes": classes,
        "tail_rule": {"value": t_val, "percentile": t_pct, "samples": t_n},
        "problems": bad + [("run", f) for f in res.get("failures", [])],
        "span_cover": res.get("span_cover"),
    }
