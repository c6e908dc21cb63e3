"""Metric arithmetic of the warehouse benchmark: percentiles, span self
time, and the end-to-end and per-layer metrics of one run's records.

All record times are epoch microseconds from one clock (the harness's).
"""
import math
import statistics

END_TO_END = {  # name -> unit
    "setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s",
    "store_mb": "MB", "peak_rss_mb": "MB",
}

SPARK_SUMS = {  # per-layer name -> (job record field, scale, unit)
    "spark.jobs": (None, 1, "count"),
    "spark.stages": ("stages", 1, "count"),
    "spark.tasks": ("tasks", 1, "count"),
    "spark.task_s": ("task_ms", 1e-3, "s"),
    "spark.cpu_s": ("cpu_ns", 1e-9, "s"),
    "spark.gc_s": ("gc_ms", 1e-3, "s"),
    "spark.sched_delay_s": ("sched_delay_ms", 1e-3, "s"),
    "spark.shuffle_write_mb": ("shuffle_write_bytes", 1e-6, "MB"),
    "spark.shuffle_read_mb": ("shuffle_read_bytes", 1e-6, "MB"),
    "spark.spill_mb": ("spill_bytes", 1e-6, "MB"),
    "spark.input_mb": ("input_bytes", 1e-6, "MB"),
    "spark.output_mb": ("output_bytes", 1e-6, "MB"),
    "spark.failed_tasks": ("failed_tasks", 1, "count"),
    "spark.failed_stages": ("failed_stages", 1, "count"),
}

STREAMING = {  # per-layer name -> durationMs keys summed
    "streaming.trigger_ms": ("triggerExecution",),
    "streaming.add_batch_ms": ("addBatch",),
    "streaming.query_planning_ms": ("queryPlanning",),
    "streaming.get_batch_ms": ("getBatch",),
    "streaming.wal_commit_ms": ("walCommit", "commitOffsets"),
}

API_ENDPOINTS = ("sites", "summary", "hourly", "raw", "metrics")
TABLES = ("bronze", "silver", "mart_features", "mart_kpis")
# span name -> the layer its self time is reported under
SPAN_LAYERS = {
    "op": "benchmark", "Pipeline.runStreaming": "pipeline",
    "ResultCache.apply": "result_cache",
    **{f"WeatherApi.{e}": "weather_api" for e in API_ENDPOINTS},
}

PER_LAYER = {
    **{f"pipeline.{s}_s": "s" for s in ("bronze", "silver", "marts")},
    "pipeline.run_s": "s", "pipeline.run_jobs": "count",
    "forecast.s": "s", "forecast.jobs": "count",
    "upsert.partitions_rewritten": "count", "upsert.write_amp": "ratio",
    "upsert.rows_reread_per_row_landed": "ratio",
    **{f"store.files_per_partition.{t}": "count" for t in TABLES},
    "streaming.start_ms": "ms", **{k: "ms" for k in STREAMING},
    "streaming.batches": "count",
    **{f"api.miss_ms.{e}": "ms" for e in API_ENDPOINTS + ("not_found",)},
    "api.jobs_per_miss": "count",
    "cache.hit_ratio": "ratio", "cache.hit_ms": "ms", "cache.oversized": "count",
    **{k: v[2] for k, v in SPARK_SUMS.items()},
    "spark.plan_ms": "ms", "spark.driver_gap_s": "s",
    "spark.slot_busy_frac": "ratio",
    **{f"self_s.{layer}": "s" for layer in sorted(set(SPAN_LAYERS.values()))},
    "trace.overhead_frac": "ratio",
}


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def median(values):
    return statistics.median(values) if values else None


def tail_percentile(values, q, beyond=10):
    """The q-th percentile (nearest rank) of ``values``, or None unless at
    least ``beyond`` samples lie above it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if len(xs) - rank < beyond:
        return None
    return xs[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    spans = []
    for s, e in intervals:
        s = s if lo is None else max(s, lo)
        e = e if hi is None else min(e, hi)
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_us"] - s["start_us"]) - union_length(
                [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])],
                s["start_us"], s["end_us"])
            for s in spans}


# ---------------------------------------------------------------------------
# End-to-end metrics (untraced runs)
# ---------------------------------------------------------------------------

def ok_ops(result):
    return [o for o in result["measure"]["ops"] if "error" not in o]


def latency_us(op):
    return op["end_us"] - op["start_us"]


def store_bytes(store):
    return sum(store[t]["bytes"] for t in TABLES)


def end_to_end(result, launch_s):
    """Every end-to-end metric; ``launch_s`` is the time from process
    start to a ready engine session, paid once per run."""
    ops = ok_ops(result)
    m = result["measure"]
    lat = [latency_us(o) / 1e3 for o in ops]
    last_end = max((o["end_us"] for o in ops), default=m["window_end_us"])
    return {
        "setup_s": launch_s + median(result["setup"]["reps_s"])
        + result["setup"]["warmup_s"],
        "latency_p50_ms": median(lat),
        "ops_per_s": len(ops) / ((last_end - m["window_start_us"]) / 1e6),
        "store_mb": store_bytes(result["store"]) / 1e6,
        "peak_rss_mb": result["peak_rss_mb"],
    }


def workload_report(workload, result, e2e):
    """The workload's own metric names, on a line of their own."""
    ops = ok_ops(result)
    lat = [latency_us(o) / 1e3 for o in ops]
    rep = {"samples": len(lat), "store_mb": e2e["store_mb"],
           "peak_rss_mb": e2e["peak_rss_mb"], "setup_s": e2e["setup_s"]}
    if workload == "trickle":
        rep["trickle_p50_s"] = median(lat) / 1e3
    elif workload == "dashboard":
        rep["api_p50_ms"] = median(lat)
        p95 = tail_percentile(lat, 95)
        if p95 is not None:
            rep["api_p95_ms"] = p95
        rep["api_rps"] = e2e["ops_per_s"]
    return rep


# ---------------------------------------------------------------------------
# Per-layer metrics (traced runs)
# ---------------------------------------------------------------------------

def _within(t, lo, hi):
    return lo <= t < hi


def per_layer(workload, result):
    m = result["measure"]
    lis = m.get("listeners") or {}
    ops = [o for o in ok_ops(result) if o["traced"]]
    untraced = [o for o in ok_ops(result) if not o["traced"]]
    n = len(ops)
    out = {k: 0.0 for k in PER_LAYER}
    if not n:
        return out
    spans = m["spans"]
    by_op = {o["op"]: o for o in ops}
    op_of = lambda t: next((o["op"] for o in ops
                            if _within(t, o["start_us"], o["end_us"])), 0)

    jobs = [j for j in lis.get("jobs", [])]
    for j in jobs:
        if not j["op"] or j["op"] not in by_op:
            j["op"] = op_of(j["start_us"])
    jobs = [j for j in jobs if j["op"] in by_op]
    execs = [e for e in lis.get("executions", [])
             if op_of(e["start_us"]) in by_op]
    progress = [p for p in lis.get("progress", []) if op_of(p["start_us"]) in by_op]

    for name, (field, scale, _) in SPARK_SUMS.items():
        total = len(jobs) if field is None else sum(j.get(field, 0) for j in jobs)
        out[name] = total * scale / n
    out["spark.plan_ms"] = sum(e["plan_ms"] for e in execs) / n
    gaps = []
    for o in ops:
        iv = [(j["start_us"], j["end_us"]) for j in jobs if j["op"] == o["op"]]
        gaps.append((o["end_us"] - o["start_us"]
                     - union_length(iv, o["start_us"], o["end_us"])) / 1e6)
    out["spark.driver_gap_s"] = sum(gaps) / n
    busy_wall = union_length([(o["start_us"], o["end_us"]) for o in ops]) / 1e6
    task_s = sum(j.get("task_ms", 0) for j in jobs) / 1e3
    out["spark.slot_busy_frac"] = task_s / (busy_wall * result["cores"])

    # pipeline stages: executions inside the pipeline's spans, attributed
    # by the store each one writes or reads
    pipe = [s for s in spans if s["name"] == "Pipeline.runStreaming"]
    stage_s = {"bronze": 0.0, "silver": 0.0, "marts": 0.0}
    for e in execs:
        if not any(_within(e["start_us"], s["start_us"], s["end_us"]) for s in pipe):
            continue
        stage_s[pipeline_stage(e)] += (e["end_us"] - e["start_us"]) / 1e6
    for k, v in stage_s.items():
        out[f"pipeline.{k}_s"] = v / n

    # Pipeline.run and Forecast are called only by the set-up backfills:
    # their metrics are per backfill, the first (cold) one excluded
    setup_jobs = result["setup"]["listeners"].get("jobs", [])
    for name, secs, jobs_name in (
            ("Pipeline.run", "pipeline.run_s", "pipeline.run_jobs"),
            ("Forecast.forecastMl", "forecast.s", "forecast.jobs")):
        warm = sorted((s for s in spans if s["name"] == name),
                      key=lambda s: s["start_us"])[1:]
        if warm:
            out[secs] = median([(s["end_us"] - s["start_us"]) / 1e6 for s in warm])
            out[jobs_name] = sum(
                1 for j in setup_jobs for s in warm
                if _within(j["start_us"], s["start_us"], s["end_us"])) / len(warm)

    ups = [o["upsert"] for o in ops if "upsert" in o]
    if ups:
        landed = sum(o["rows_landed"] for o in ops if "upsert" in o)
        out["upsert.partitions_rewritten"] = \
            sum(u["bronze_partitions_rewritten"] for u in ups) / len(ups)
        out["upsert.write_amp"] = sum(u["bytes_written"] for u in ups) / \
            max(1, sum(u["bytes_landed"] for u in ups))
        read = sum(j.get("input_records", 0) for j in jobs if "upsert" in by_op[j["op"]])
        out["upsert.rows_reread_per_row_landed"] = (read - landed) / max(1, landed)
    for t in TABLES:
        store = result["store"][t]
        out[f"store.files_per_partition.{t}"] = \
            store["data_files"] / max(1, store["partitions"])

    if progress:
        for name, keys in STREAMING.items():
            out[name] = sum(p["duration_ms"].get(k, 0) for p in progress
                            for k in keys) / n
        out["streaming.batches"] = len(progress) / n
        starts = []
        for o in ops:
            firsts = [p["start_us"] for p in progress if op_of(p["start_us"]) == o["op"]]
            if firsts:
                starts.append((min(firsts) - o["start_us"]) / 1e3)
        out["streaming.start_ms"] = sum(starts) / len(starts) if starts else 0.0

    if workload == "dashboard":
        lat = lambda o: (o["end_us"] - o["start_us"]) / 1e3
        misses = [o for o in ops if not o["hit"]]
        for ep in API_ENDPOINTS:
            out[f"api.miss_ms.{ep}"] = median(
                [lat(o) for o in misses if o["endpoint"] == ep
                 and "not_found" not in o]) or 0.0
        out["api.miss_ms.not_found"] = median(
            [lat(o) for o in misses if "not_found" in o]) or 0.0
        miss_ids = {o["op"] for o in misses}
        out["api.jobs_per_miss"] = sum(1 for j in jobs if j["op"] in miss_ids) / \
            max(1, len(miss_ids))
        cache = result["cache"]
        out["cache.hit_ratio"] = cache["hits"] / max(1, cache["hits"] + cache["misses"])
        out["cache.hit_ms"] = median([lat(o) for o in ops if o["hit"]]) or 0.0
        out["cache.oversized"] = cache["oversized"]

    selfs = self_times(spans)
    for s in spans:
        layer = SPAN_LAYERS.get(s["name"])
        if layer and s["op"] in by_op:
            out[f"self_s.{layer}"] += selfs[s["id"]] / 1e6 / n

    lat_t = median([latency_us(o) for o in ops])
    lat_u = median([latency_us(o) for o in untraced])
    out["trace.overhead_frac"] = lat_t / lat_u - 1 if lat_u else 0.0
    return out


def pipeline_stage(execution):
    """The medallion stage one query execution belongs to, from the store
    paths it writes, else the ones it reads."""
    for p in execution["writes"]:
        for stage, marker in (("bronze", "/bronze/"), ("silver", "/silver/"),
                              ("marts", "/gold/")):
            if marker in p:
                return stage
    reads = " ".join(execution["reads"])
    if "/silver/" in reads:
        return "marts"
    if "/bronze/" in reads:
        return "silver"
    return "bronze"
