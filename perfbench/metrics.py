"""Turns the JVM runner's raw measurements into the benchmark's metrics.

Pure functions over the JSON the JVM writes, so the statistics are unit
tested without Spark (see tests/test_metrics.py).
"""
import statistics

WORKLOADS = ("graph_query", "mutate_read")
CORES = 4
MB = float(1 << 20)
MODULES = ("olap", "query", "traverse", "index", "pipeline", "stream")
# Spark counters summed per module (counter name -> (metric suffix, scale))
COUNTERS = {
    "jobs": ("jobs", 1),
    "busy_ms": ("task_busy_s", 1e-3),
    "wait_ms": ("wait_s", 1e-3),
    "shuffle_write_bytes": ("shuffle_write_mb", 1 / MB),
    "shuffle_read_bytes": ("shuffle_read_mb", 1 / MB),
    "spill_bytes": ("spill_mb", 1 / MB),
    "broadcast_builds": ("broadcast_builds", 1),
    "broadcast_bytes": ("broadcast_mb", 1 / MB),
    "failed_tasks": ("failed_tasks", 1),
}
MIN_COVERAGE = 0.9


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n); (0.0, 0.0, n) when n <= beyond.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return 0.0, 0.0, n
    i = n - beyond - 1
    return s[i], 100.0 * (i + 1) / n, n


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def self_times(spans):
    """Span id -> its duration minus the part its children cover (seconds)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, edge = 0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], edge), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def coverage(spans, selft):
    """(op root span, share of its wall covered by module self times)."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def below(sid):
        return sum(selft[c["id"]] + below(c["id"]) for c in by_parent.get(sid, []))

    out = []
    for s in spans:
        if s["phase"] == "op":
            wall = (s["end_ns"] - s["start_ns"]) / 1e9
            out.append((s, below(s["id"]) / wall if wall > 0 else 1.0))
    return out


def layer_metrics(raw):
    """Per-layer metrics: medians over the traced warm passes."""
    passes = [p for p in raw["passes"] if p["traced"]]
    spans = raw["spans"]
    selft = self_times(spans)
    per_pass = []
    for p in passes:
        ps = [s for s in spans if s["pass"] == p["index"]]
        m = {}
        for mod in MODULES:
            mine = [s for s in ps if s["module"] == mod]
            t = {ph: sum(selft[s["id"]] for s in mine if s["phase"] == ph)
                 for ph in ("call", "plan", "exec")}
            wall = sum(selft[s["id"]] for s in mine)
            m[f"{mod}.call_s"], m[f"{mod}.plan_s"], m[f"{mod}.exec_s"] = t["call"], t["plan"], t["exec"]
            for key, (suffix, scale) in COUNTERS.items():
                m[f"{mod}.{suffix}"] = scale * sum((s["counters"] or {}).get(key, 0) for s in mine)
            m[f"{mod}.core_util"] = m[f"{mod}.task_busy_s"] / (wall * CORES) if wall > 0 else 0.0
        counted = [s["counters"] for s in ps if s["counters"]]
        records = sum(c["input_records"] for c in counted)
        rows = sum(o["rows"] for o in p["ops"])
        m["data.scan_mb"] = sum(c["input_bytes"] for c in counted) / MB
        m["data.rows_examined_per_row"] = records / rows if rows else 0.0
        m["core.plancache_entries"] = p["plancache_entries"]
        m["core.storage_mb"] = p["storage_bytes"] / MB
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in (per_pass[0] if per_pass else {})}
    ops = [o for p in passes for o in p["ops"]]
    for name in sorted({o["name"] for o in ops}):
        out[f"op.{name}.wall_s"] = median([o["wall_s"] for o in ops if o["name"] == name])
    out["data.commit_s"] = median([o["wall_s"] for o in ops if not o["read"]])
    out["data.load_s"] = median([s["load_s"] for s in raw["setups"]])
    out["data.layout_mb"] = raw["layout_bytes"] / MB
    untraced = [p["wall_s"] for p in raw["passes"][1:] if not p["traced"]]
    traced = [p["wall_s"] for p in passes]
    out["trace.overhead_ratio"] = median(traced) / median(untraced) if untraced and traced else 0.0
    cov = [c for s, c in coverage(spans, selft) if s["pass"] in {p["index"] for p in passes}]
    out["trace.coverage_min"] = min(cov) if cov else 0.0
    return out


def end_to_end(raw):
    warm = raw["passes"][1:]
    reads = [o["wall_s"] for p in warm for o in p["ops"] if o["read"]]
    tail_s, pct, n = tail(reads)
    return {
        "setup_s": median([s["setup_s"] for s in raw["setups"]]),
        "first_pass_s": raw["passes"][0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "op_p50_s": median(reads),
        "heap_live_mb": raw["heap_live_bytes"] / MB,
    }, (f"read-op tail: p{pct:.1f} = {tail_s:.4f} s of n={n} read ops over "
        f"{len(warm)} warm passes; storage held {raw['storage_bytes'] / MB:.3f} MB; "
        f"CPU steal {median([p['steal_share'] for p in warm]):.1%}; run phases "
        + ", ".join(f"{k} {v:.1f} s" for k, v in raw["phases_s"].items()))


def summarize(raw, spec):
    """Return (result line object, report lines) for one run."""
    ops = [o for p in raw["passes"] for o in p["ops"]]
    failed = [o for o in ops if o["error"]]
    report = [f"FAILED {o['name']}: {o['error']}" for o in failed]
    if raw["trace"]:
        values = layer_metrics(raw)
        wanted = spec["per_layer"]
        report.append(f"tracing overhead {values['trace.overhead_ratio']:.3f}x; "
                      f"min op coverage {values['trace.coverage_min']:.3f}")
        if values["trace.coverage_min"] < MIN_COVERAGE:
            report.append(f"WARNING: an op's module self times cover < {MIN_COVERAGE:.0%} of its wall")
    else:
        values, line = end_to_end(raw)
        wanted = spec["end_to_end"]
        report.append(line)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
              "metrics": metrics}
    return result, report
