"""Metrics from one run's raw samples (the JSON `harness/Main.scala` writes).

`end_to_end(raw)` gives the untraced run's metrics and `per_layer(raw)` the
traced run's; both return {name: (value, unit)}. The names and units match
BENCHMARK.json, and every run reports every name: a layer the workload does
not exercise reads 0.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
LADDER = (99, 95, 90, 75, 50)
MIN_BEYOND = 10

# per-module wall metrics, one per QueryModule the batch workloads run
MODULES = ("operators.Retail", "operators.Nested", "operators.TextStats", "operators.Events",
           "operators.AsOfJoin", "operators.RangeJoin", "operators.BloomJoin",
           "operators.SkewJoin", "pipeline.Dedup", "operators.FuzzyJoin")
KERNELS = ("hash60_array", "minhash_sig", "simhash_sig", "jaccard_sorted", "lev_within", "vec_dot")
# the unit kind whose wall is `wall_s`, and the one whose wall is `steady_s`
# (also the kind whose traced and untraced units give the tracing overhead)
MAIN_KIND = {"relational_warm": "pass", "pipeline_dag": "cold", "sensor_stream": "block"}
STEADY_KIND = {"relational_warm": "pass", "pipeline_dag": "steady", "sensor_stream": "block"}


def latencies(raw) -> list:
    """Operation latencies in ms: per query; for the stream, per drop and
    query, from the drop's arrival to that query's commit of it."""
    if raw["workload"] == "sensor_stream":
        return [ms for o in raw["ops"] for ms in o.get("commit_ms", [])]
    return [o["ms"] for o in raw["ops"]]


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(p / 100 * n))


def beyond(n: int, p: float) -> int:
    """Samples strictly above the p-th percentile's rank."""
    return n - rank(n, p)


def percentile(values, p: float) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[rank(len(xs), p) - 1]


def highest_supported(n: int, ladder=LADDER):
    """The highest percentile of `ladder` with at least MIN_BEYOND samples
    beyond it, or None when even the lowest has fewer."""
    for p in sorted(ladder, reverse=True):
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def min_samples(p: float) -> int:
    """Fewest samples for which the p-th percentile has MIN_BEYOND beyond it."""
    n = 1
    while beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def tail(values, p: float) -> float:
    """The p-th percentile, refused unless the samples support it."""
    if beyond(len(values), p) < MIN_BEYOND:
        raise ValueError(f"p{p:g} needs {min_samples(p)} samples, run has {len(values)}")
    return percentile(values, p)


def count_ops(raw) -> tuple:
    """(attempted, failed): every query and every drop is one operation; a
    failure counts against the attempts, and a run that attempted nothing
    counts as one failed attempt."""
    attempted = int(raw.get("attempted", 0))
    failed = int(raw.get("failed", 0))
    if attempted < 1:
        return 1, 1
    return attempted, min(failed, attempted)


def _units(raw, kind, traced=None):
    return [u["unit"] for u in raw["units"] if u["kind"] == kind
            and (traced is None or u["traced"] == traced)]


def _ops_in(raw, units):
    s = set(units)
    return [o for o in raw["ops"] if o["unit"] in s]


def _unit_sum(raw, unit, key, scale=1.0):
    return sum(o[key] for o in raw["ops"] if o["unit"] == unit) * scale


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw) -> dict:
    w = raw["workload"]
    main = _units(raw, MAIN_KIND[w])
    steady = _units(raw, STEADY_KIND[w])
    return {
        "setup_s": (statistics.median(s["total_s"] for s in raw["setups"]), "s"),
        "wall_s": (statistics.median(_unit_sum(raw, u, "ms", 1e-3) for u in main), "s"),
        "cpu_s": (statistics.median(_unit_sum(raw, u, "cpu_s") for u in main), "s"),
        "steady_s": (statistics.median(_unit_sum(raw, u, "ms", 1e-3) for u in steady), "s"),
        "op_p50_ms": (tail(latencies(raw), 50), "ms"),
    }


def per_layer(raw) -> dict:
    w = raw["workload"]
    cpus = raw["cpus"]
    kind = MAIN_KIND[w]
    main = _units(raw, kind)
    traced = _units(raw, kind, traced=True)
    t_ops = _ops_in(raw, traced)

    def per_unit(key, scale=1.0):
        return _mean(sum(o["layers"].get(key, 0) for o in raw["ops"] if o["unit"] == u) * scale
                     for u in traced)

    def per_op(key, scale=1.0):
        return _mean(o["layers"].get(key, 0) * scale for o in t_ops)

    wall = {u: _unit_sum(raw, u, "ms", 1e-3) for u in main}
    construct = {u: _unit_sum(raw, u, "construct_ms", 1e-3) for u in main}
    busy = {u: sum(o["layers"].get("busy_ms", 0) for o in raw["ops"] if o["unit"] == u) / 1e3
            for u in traced}
    rule_inv = sum(o["layers"].get("graft_rule_inv", 0) for o in t_ops)
    rule_eff = sum(o["layers"].get("graft_rule_eff", 0) for o in t_ops)
    jobs_per_op = [o["layers"].get("jobs", 0) for o in t_ops if o["module"] != "streaming.SensorStreams"]

    m = {
        "exec.jobs": (per_unit("jobs"), "count"),
        "exec.jobs_per_query_p50": (statistics.median(jobs_per_op) if jobs_per_op else 0.0, "count"),
        "exec.stages": (per_unit("stages"), "count"),
        "exec.one_task_stages": (per_unit("one_task_stages"), "count"),
        "exec.tasks": (per_unit("tasks"), "count"),
        "exec.busy_s": (per_unit("busy_ms", 1e-3), "s"),
        "exec.task_cpu_s": (per_unit("task_cpu_ns", 1e-9), "s"),
        "exec.shuffle_mb": (per_unit("shuffle_bytes", 1e-6), "MB"),
        "exec.spill_mb": (per_unit("spill_bytes", 1e-6), "MB"),
        "exec.gc_s": (per_unit("task_gc_ms", 1e-3), "s"),
        "exec.idle_share": (_mean(1 - busy[u] / (wall[u] * cpus) for u in traced if wall[u] > 0), "share"),
        "scratch.construct_s": (_mean(construct.values()), "s"),
        "scratch.construct_share": (_mean(construct[u] / wall[u] for u in main if wall[u] > 0), "share"),
        "scratch.builds": (_mean(_unit_sum(raw, u, "builds") for u in main), "count"),
        "scratch.written_mb": (per_unit("scratch_bytes", 1e-6), "MB"),
        "scratch.steady_builds": (sum(_unit_sum(raw, u, "builds") for u in _units(raw, "steady")), "count"),
        "catalyst.analysis_ms": (per_op("analysis_ms"), "ms"),
        "catalyst.optimizer_ms": (per_op("optimizer_ms"), "ms"),
        "catalyst.planning_ms": (per_op("planning_ms"), "ms"),
        "plans.rule_ms": (per_op("graft_rule_ns", 1e-6), "ms"),
        "plans.rule_effective_share": (rule_eff / rule_inv if rule_inv else 0.0, "share"),
        "tables.input_mb": (per_unit("input_bytes", 1e-6), "MB"),
    }
    for mod in MODULES:
        m[f"{mod}.wall_s"] = (_mean(sum(o["ms"] for o in raw["ops"] if o["unit"] == u
                                        and o["module"] == mod) / 1e3 for u in main), "s")
    probe = raw.get("probe") or {}
    for k in KERNELS:
        m[f"functions.{k}_ms"] = (float(probe.get(k, 0.0)), "ms")
    m.update(_streaming(raw))
    setups = raw["setups"]
    jvm = raw["jvm"]
    m.update({
        "jvm.jit_s": (jvm["jit_s"], "s"),
        "jvm.gc_s": (jvm["gc_s"], "s"),
        "jvm.peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        "jvm.warmup_s": (jvm["warmup_s"], "s"),
        "sessions.start_ms": (statistics.median(s["session_ms"] for s in setups), "ms"),
        "sessions.first_setup_s": (setups[0]["total_s"], "s"),
    })
    steady = STEADY_KIND[w]
    t = [_unit_sum(raw, u, "ms") for u in _units(raw, steady, traced=True)]
    n = [_unit_sum(raw, u, "ms") for u in _units(raw, steady, traced=False)]
    overhead = statistics.median(t) / statistics.median(n) - 1 if t and n else 0.0
    m["trace.overhead_share"] = (overhead, "share")
    return m


def _streaming(raw) -> dict:
    s = raw.get("stream") or {}
    data = [b for b in s.get("batches", []) if b["rows"] > 0]

    def p50(f):
        xs = [f(b["durations"]) for b in data]
        return percentile(xs, 50) if xs else 0.0

    last = {}
    for b in s.get("batches", []):
        last[b["query"]] = b
    drops = [o for o in raw["ops"] if o["module"] == "streaming.SensorStreams"]
    drop_s = sum(o["ms"] for o in drops) / 1e3
    return {
        "streaming.add_batch_ms_p50": (p50(lambda d: d.get("addBatch", 0)), "ms"),
        "streaming.commit_ms_p50": (p50(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)), "ms"),
        "streaming.latest_offset_ms_p50": (p50(lambda d: d.get("latestOffset", 0)), "ms"),
        "streaming.planning_ms_p50": (p50(lambda d: d.get("queryPlanning", 0)), "ms"),
        "streaming.state_rows": (sum(b["state_rows"] for b in last.values()), "count"),
        "streaming.state_mb": (sum(b["state_bytes"] for b in last.values()) / 1e6, "MB"),
        "streaming.rows_dropped_late": (sum(b["dropped_late"] for b in s.get("batches", [])), "count"),
        "streaming.batches": (len(s.get("batches", [])) / len(drops) if drops else 0.0, "count"),
        "streaming.events_per_s": (sum(o["events"] for o in drops) / drop_s if drop_s else 0.0, "1/s"),
    }
