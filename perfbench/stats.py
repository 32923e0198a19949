"""Percentiles and metric summaries for the benchmark (pure Python, no deps)."""
import math
import statistics


def percentile(samples, p, min_beyond=10):
    """Nearest-rank p-th percentile of `samples`, or None when fewer than
    `min_beyond` samples lie beyond it (the tail is too thin to report)."""
    xs = sorted(samples)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def summary(values):
    """Median, quartiles and spread ((q3 - q1) / median) of run values, with
    quartiles as `statistics.quantiles(values, n=4)` gives them."""
    values = list(values)
    med = statistics.median(values)
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def end_to_end(setups, passes):
    """The untraced run's end-to-end metrics as {name: (value, unit, n)}.

    `passes` are the harness's pass records; the first is the cold pass.
    `heap_peak_mb` is the most heap any pass left in use after a full
    collection. `query_p90_s` is left out when fewer than 10 samples lie
    beyond it.
    """
    cold, warm = passes[0], passes[1:]
    latencies = [s["secs"] for p in warm for s in p["samples"]]
    executions = [s for p in passes for s in p["samples"]]
    failed = sum(1 for s in executions if not s["ok"])
    out = {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "cold_pass_s": (cold["wall_s"], "s", 1),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s", len(warm)),
        "query_p50_s": (statistics.median(latencies), "s", len(latencies)),
        "failed_frac": (failed / len(executions), "ratio", len(executions)),
        "heap_peak_mb": (max(p["heap_retained_mb"] for p in passes), "MB", len(passes)),
    }
    p90 = percentile(latencies, 90)
    if p90 is not None:
        out["query_p90_s"] = (p90, "s", len(latencies))
    return out


# Per-layer metric name -> (counter in a traced pass's "layers", unit).
LAYERS = {
    "queries.build_s": ("build.s", "s"),
    "queries.build_jobs": ("build.jobs", "count"),
    "plans.plan_s": ("plan.s", "s"),
    "exec.exec_s": ("exec.s", "s"),
    "exec.jobs": ("jobs", "count"),
    "exec.stages": ("stages", "count"),
    "exec.tasks": ("tasks", "count"),
    "exec.single_task_stages": ("single_task_stages", "count"),
    "exec.failed_tasks": ("failed_tasks", "count"),
    "exec.task_run_s": ("task_run_s", "s"),
    "exec.task_cpu_s": ("task_cpu_s", "s"),
    "exec.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "exec.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "exec.spill_mb": ("spill_mb", "MB"),
    "exec.input_mb": ("input_mb", "MB"),
    "exec.output_mb": ("output_mb", "MB"),
    "ArtifactMemo.publishes": ("publishes", "count"),
    "ArtifactMemo.store_mb": ("store_mb", "MB"),
    "CacheDrain.drain_s": ("drain.s", "s"),
    "CacheDrain.persisted_rdds": ("persisted_rdds", "count"),
}
# Layer metrics also reported for the cold pass, under a "cold." prefix.
COLD_LAYERS = ["queries.build_s", "queries.build_jobs", "exec.exec_s", "exec.jobs",
               "ArtifactMemo.publishes", "ArtifactMemo.store_mb"]


def per_layer(passes, calib_s, cores):
    """The traced run's per-layer metrics as {name: (value, unit, n)}: the
    median over warm passes of each per-pass total, plus cold-pass values."""
    cold, warm = passes[0], passes[1:]

    def value(p, name):
        if name == "exec.core_busy_frac":
            return p["layers"].get("task_run_s", 0.0) / (p["wall_s"] * cores)
        if name == "jvm.gc_s":
            return p["gc_s"]
        return p["layers"].get(LAYERS[name][0], 0.0)

    units = {k: u for k, (_, u) in LAYERS.items()}
    units.update({"exec.core_busy_frac": "ratio", "jvm.gc_s": "s"})
    out = {name: (statistics.median(value(p, name) for p in warm), unit, len(warm))
           for name, unit in units.items()}
    for name in COLD_LAYERS:
        out["cold." + name] = (value(cold, name), units[name], 1)
    out["host.calib_s"] = (statistics.median(calib_s), "s", len(calib_s))
    out["trace.cold_pass_s"] = (cold["wall_s"], "s", 1)
    out["trace.warm_pass_s"] = (statistics.median(p["wall_s"] for p in warm), "s", len(warm))
    return out
