"""Pure helpers of the benchmark: summary statistics, span arithmetic,
job attribution, the per-layer metric table and metric-name validation.
Everything here works on plain dicts and lists, so it is tested without
a JVM (see tests/test_metrics.py).
"""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128

# Spans that only group others; a job submitted under one of them and
# under a layer span at the same time belongs to the layer span.
STRUCTURAL = ("pass", "pipeline.run")


def median(xs):
    if not xs:
        raise ValueError("median of no values")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def overlap(a, b):
    return max(0, min(a["end_us"], b["end_us"]) - max(a["start_us"], b["start_us"]))


def self_time(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(s["start_us"], s["end_us"]) for s in spans
            if s["parent"] == span["id"]]
    dur = span["end_us"] - span["start_us"]
    return dur - union_length(kids, span["start_us"], span["end_us"])


def structural(name):
    return name in STRUCTURAL or name.startswith("pipeline.task.")


def owner(t_us, spans):
    """The innermost span open at t_us: layer spans before structural
    ones, then the latest-started. None if no span is open."""
    open_ = [s for s in spans if s["start_us"] <= t_us < s["end_us"]]
    if not open_:
        return None
    return min(open_, key=lambda s: (structural(s["name"]), -s["start_us"]))


def attribute(jobs, spans):
    """span id -> jobs submitted while it was the innermost open span."""
    out = {}
    for j in jobs:
        s = owner(j["submit_ms"] * 1000, spans)
        if s is not None:
            out.setdefault(s["id"], []).append(j)
    return out


def validate_benchmark(bench):
    """Problems with BENCHMARK.json's metric names and caps, as text."""
    errs = []
    e2e, layers = bench.get("end_to_end", []), bench.get("per_layer", [])
    if not 1 <= len(e2e) <= MAX_END_TO_END:
        errs.append(f"{len(e2e)} end_to_end metrics, want 1..{MAX_END_TO_END}")
    if not 1 <= len(layers) <= MAX_PER_LAYER:
        errs.append(f"{len(layers)} per_layer metrics, want 1..{MAX_PER_LAYER}")
    seen = set()
    for m in e2e + layers + bench.get("workloads", []):
        n = m.get("name", "")
        if not NAME_RE.match(n):
            errs.append(f"bad name {n!r}")
        if n in seen:
            errs.append(f"duplicate name {n!r}")
        seen.add(n)
    for m in e2e + layers:
        if not UNIT_RE.match(m.get("unit", "")):
            errs.append(f"bad unit {m.get('unit')!r} on {m.get('name')}")
        if m.get("better") not in ("lower", "higher"):
            errs.append(f"bad 'better' on {m.get('name')}")
    for m in e2e:
        if not 0 < m.get("bound", 0) <= 0.25:
            errs.append(f"bound of {m['name']} outside (0, 0.25]")
    return errs


def _dur(spans, name):
    return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1e6


def pass_layers(p, spans, jobs, counters, peak_storage, cores, graph_rounds,
                gates):
    """Per-layer values of one traced pass."""
    sp = [s for s in spans if s["pass"] == p["idx"]]
    root = next(s for s in sp if s["name"] == "pass")
    lo, hi = root["start_us"], root["end_us"]
    pj = [j for j in jobs if lo <= j["submit_ms"] * 1000 < hi]
    by_span = attribute(pj, sp)
    cnt = {c["name"]: c["value"] for c in counters if c["pass"] == p["idx"]}
    named = {}
    for s in sp:
        named.setdefault(s["name"], []).append(s)

    def jobs_in(name):
        return sum(len(by_span.get(s["id"], [])) for s in named.get(name, []))

    def total(key):
        return sum(j[key] for j in pj)

    wall_us = hi - lo
    v = {}
    v["ingest.extract_s"] = _dur(sp, "ingest.extract")
    v["etl.json_to_parquet_s"] = _dur(sp, "etl.json_to_parquet")
    v["etl.transform_s"] = _dur(sp, "etl.transform")
    v["pipeline.self_s"] = sum(self_time(s, sp) for s in named.get("pipeline.run", [])) / 1e6
    wait = 0
    for s in named.get("pipeline.task.job_sensor", []):
        job = named.get("etl.json_to_parquet", [])
        wait += (s["end_us"] - s["start_us"]) - sum(overlap(s, j) for j in job)
    v["pipeline.sensor_wait_s"] = wait / 1e6
    v["pipeline.retries"] = cnt.get("pipeline.retries", 0.0)
    v["checks.count_check_s"] = _dur(sp, "checks.count_check")
    v["checks.quarantine_s"] = _dur(sp, "checks.quarantine")
    v["io.load_table_s"] = _dur(sp, "io.load_table")
    v["io.shard_write_s"] = _dur(sp, "io.shard_write")
    v["io.result_write_s"] = _dur(sp, "io.result_write")
    v["io.bytes_written"] = p["stored_bytes"]
    v["io.files_written"] = p["files_written"]
    v["dedup.lsh_s"] = _dur(sp, "dedup.lsh")
    v["dedup.lsh_pairs"] = cnt.get("dedup.lsh_pairs", 0.0)
    v["dedup.resolve_s"] = _dur(sp, "dedup.resolve")
    v["dedup.resolve_jobs"] = jobs_in("dedup.resolve")
    v["dedup.keep_s"] = _dur(sp, "dedup.keep")
    valid = cnt.get("checks.valid_rows", 0.0)
    v["dedup.kept_frac"] = cnt.get("dedup.kept_rows", 0.0) / valid if valid else 0.0
    v["sample.split_s"] = _dur(sp, "sample.split")
    for g, r in graph_rounds.items():
        v[f"graph.{g}_s"] = _dur(sp, f"graph.{g}")
        v[f"graph.{g}_jobs_per_round"] = jobs_in(f"graph.{g}") / r
    plan = 0
    for g in gates:
        v[f"queries.{g}_s"] = _dur(sp, f"queries.{g}")
        for s in named.get(f"queries.{g}", []):
            first = min((j["submit_ms"] * 1000 for j in by_span.get(s["id"], [])),
                        default=s["end_us"])
            plan += max(0, first - s["start_us"])
    v["queries.plan_s"] = plan / 1e6
    v["spark.jobs"] = len(pj)
    busy = union_length([(j["submit_ms"] * 1000, j["end_ms"] * 1000) for j in pj],
                        lo, hi)
    v["spark.driver_gap_s"] = (wall_us - busy) / 1e6
    v["spark.task_busy_frac"] = total("task_ms") * 1000 / (wall_us * cores)
    v["spark.shuffle_write_bytes"] = total("shuffle_write")
    v["spark.shuffle_read_bytes"] = total("shuffle_read")
    v["spark.fetch_wait_s"] = total("fetch_wait_ms") / 1e3
    v["spark.spill_bytes"] = total("spill")
    v["spark.input_bytes"] = total("input")
    v["spark.output_bytes"] = total("output")
    v["spark.stages"] = total("stages")
    v["spark.stages_skipped"] = total("stages_skipped")
    v["spark.tasks"] = total("tasks")
    v["spark.failed_tasks"] = total("failed_tasks")
    v["spark.peak_storage_bytes"] = peak_storage.get(p["idx"], 0)
    v["jvm.gc_s"] = p["gc_s"]
    layer = [(s["start_us"], s["end_us"]) for s in sp if not structural(s["name"])]
    v["trace.uncovered_s"] = (wall_us - union_length(layer, lo, hi)) / 1e6
    return v
