"""Metric arithmetic over one run's raw samples.

The JVM harness (src/main/scala/perfbench) records ops, spans, Spark events
and store counters; everything computed from them lives here, as pure
functions over plain dicts and lists, so it can be tested without Spark
(tests/test_metrics.py).
"""
import math
import statistics

# Which ops make up one cycle (their rows are the cycle's work done), which
# op is the workload's read, and which op the per-layer split is taken over.
CYCLE_KINDS = {
    "commit_sync": {"tick"},
    "store_serve": {"commit", "lookup", "feed", "compact"},
    "query_suite": {"query"},
}
READ_KIND = {"commit_sync": "lookup", "store_serve": "lookup", "query_suite": "query"}
FOCUS_KIND = {"commit_sync": "tick", "store_serve": "lookup", "query_suite": "query"}

TAIL_BEYOND = 10

QUERY_ENTRIES = ["q9_snowflake_profit", "q_llm_dedup_substrings", "stream_session_window"]

# Per-layer metrics that cannot be measured from outside the program.
UNMEASURED = {
    "util.sweep_s": "the benchmark never calls RunCache.sweep (README, defect b)",
}


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n): the (beyond+1)-th largest sample and the
    share of samples at or below it. With too few samples for that to lie
    above the median, the largest sample, at percentile 100.
    """
    n = len(samples)
    if n == 0:
        return None
    if n <= 2 * beyond:
        return max(samples), 100.0, n
    k = n - beyond - 1
    return sorted(samples)[k], 100.0 * (k + 1) / n, n


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (t0, t1) intervals, clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for t0, t1 in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if t1 <= t0:
            continue
        if t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def self_times(spans):
    """Span id -> its duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"])
            - union_ms(children.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def ratio(num, den):
    """num / den, or 0 when there is no base to divide by."""
    return num / den if den else 0.0


class Attribution:
    """Maps Spark events to the span that caused them: by the job group the
    harness set (`pb-<span id>`), else by time, to the innermost span open
    at the event's start. Spark stamps events in whole milliseconds, so a
    span's bounds are widened to whole milliseconds."""

    def __init__(self, spans):
        self.spans = {s["id"]: s for s in spans}
        self.by_start = sorted(spans, key=lambda s: s["t0"])

    def span_of(self, group, t):
        if group and group.startswith("pb-"):
            sid = int(group[3:])
            if sid in self.spans:
                return sid
        best = None
        for s in self.by_start:
            if s["t0"] > t + 1:
                break
            if math.floor(s["t0"]) <= t <= math.ceil(s["t1"]):
                best = s["id"]
        return best


def op_records(raw):
    """Per traced op: its wall time, the spans under it, and everything the
    listeners and store listings attributed to it."""
    spans = raw.get("spans", [])
    attr = Attribution(spans)
    selfs = self_times(spans)
    ops = {o["span"]: dict(o, jobs=[], plan_ms=0.0, task_ms=0.0,
                           shuffle_bytes=0.0, spill_bytes=0.0, records=0.0,
                           scan_rows=0.0, trigger_ms=0.0, addbatch_ms=0.0,
                           counters={}, named={}, self_ms=0.0, span_jobs={})
           for o in raw["ops"] if o["traced"] and o["span"]}
    span_op = {s["id"]: s["op"] for s in spans}
    span_name = {s["id"]: s["name"] for s in spans}

    def target(group, t):
        sid = attr.span_of(group, t)
        return (ops.get(span_op.get(sid)), sid) if sid else (None, None)

    for s in spans:
        o = ops.get(s["op"])
        if o is None:
            continue
        o["named"][s["name"]] = o["named"].get(s["name"], 0.0) + (s["t1"] - s["t0"])
        if s["id"] == s["op"]:
            o["self_ms"] = selfs[s["id"]]
    for j in raw.get("jobs", []):
        o, sid = target(j["group"], j["t0"])
        if o is not None:
            o["jobs"].append((j["t0"], j["t1"]))
            n = span_name[sid]
            o["span_jobs"][n] = o["span_jobs"].get(n, 0) + 1
    for st in raw.get("stages", []):
        o, sid = target(st["group"], st["t0"])
        if o is not None:
            o["task_ms"] += st["task_ms"]
            o["shuffle_bytes"] += st["shuffle_write_bytes"]
            o["spill_bytes"] += st["spill_bytes"]
            o["records"] += st["records_read"]
    for p in raw.get("phases", []):
        o, _ = target(None, p["t0"])
        if o is not None:
            o["plan_ms"] += p["ms"]
    for sc in raw.get("scans", []):
        o, _ = target(None, sc["t0"])
        if o is not None:
            o["scan_rows"] += sc["rows"]
    for tr in raw.get("triggers", []):
        o, _ = target(None, tr["t0"])
        if o is not None:
            o["trigger_ms"] += tr["trigger_ms"]
            o["addbatch_ms"] += tr["addbatch_ms"]
    for c in raw.get("counters", []):
        o = ops.get(span_op.get(c["span"]))
        if o is not None:
            o["counters"][c["name"]] = c["value"]
    for o in ops.values():
        o["covered_ms"] = union_ms(o["jobs"], o["t0"], o["t0"] + o["ms"])
    return [o for o in ops.values() if o["cycle"] > 0]


def per_key(ops, value):
    """Sum over op keys of the median per key: one op's value for a single
    kind of op, one pass's value when each key is a suite entry. Ops for
    which `value` returns None are left out."""
    keys = {}
    for o in ops:
        v = value(o)
        if v is not None:
            keys.setdefault(o["key"], []).append(v)
    return sum(median(v) for v in keys.values())


def timed_ops(raw, kind=None, kinds=None):
    return [o for o in raw["ops"] if o["ok"] and o["cycle"] > 0
            and (kind is None or o["kind"] == kind)
            and (kinds is None or o["kind"] in kinds)]


def end_to_end(raw):
    w = raw["workload"]
    cycles = {}
    for o in timed_ops(raw, kinds=CYCLE_KINDS[w]):
        ms, rows = cycles.get(o["cycle"], (0.0, 0))
        cycles[o["cycle"]] = (ms + o["ms"], rows + o["rows"])
    read_ops = timed_ops(raw, kind=READ_KIND[w])
    reads = [o["ms"] for o in read_ops]
    by_key = {}
    for o in read_ops:
        by_key.setdefault(o["key"], []).append(o["ms"])
    t = tail(reads)
    if t and t[1] == 100.0 and len(by_key) > 1:
        # too few reads for a percentile above the median: the slowest
        # key's median read (query_suite: its slowest entry), not one max
        t = (max(median(v) for v in by_key.values()), "slowest key", t[2])
    setup = median(raw["setup_reps_s"]) + (raw["session_ready_ms"] - raw["launch_ms"]) / 1000.0
    return {
        "setup_s": (setup, "s"),
        "cycle_p50_s": (median(ms for ms, _ in cycles.values()) / 1000.0, "s"),
        # a throughput over all timed cycles: rows per cycle vary by design
        "rows_per_s": (ratio(sum(rows for _, rows in cycles.values()),
                             sum(ms for ms, _ in cycles.values()) / 1000.0), "1/s"),
        "read_p50_ms": (median(median(v) for v in by_key.values()), "ms"),
        "read_tail_ms": (t[0] if t else 0.0, "ms"),
    }, ({"read_tail_pct": t[1], "reads": t[2]} if t else {"reads": len(reads)})


def overhead_pct(raw):
    """Traced over untraced wall time of the focus op, per key, in percent."""
    focus = timed_ops(raw, kind=FOCUS_KIND[raw["workload"]])
    on = per_key([o for o in focus if o["traced"]], lambda o: o["ms"])
    off = per_key([o for o in focus if not o["traced"]], lambda o: o["ms"])
    return 100.0 * (ratio(on, off) - 1.0) if off else 0.0


def per_layer(raw):
    w = raw["workload"]
    ops = op_records(raw)
    focus = [o for o in ops if o["kind"] == FOCUS_KIND[w]]
    cores = raw.get("cores", 1)

    def focus_sum(f):
        return per_key(focus, f)

    def named(name, scale=1.0):
        return per_key([o for o in ops if name in o["named"]],
                       lambda o: o["named"][name] * scale)

    def counter(name, ops_=ops):
        return per_key([o for o in ops_ if name in o["counters"]],
                       lambda o: o["counters"][name])

    def write_amp(o):
        c = o["counters"]
        if "sinks.bytes_written" not in c or not c.get("sinks.store_rows_before"):
            return None
        per_row = c["sinks.store_bytes_before"] / c["sinks.store_rows_before"]
        return ratio(c["sinks.bytes_written"], o["rows"] * per_row)

    def pushdown(o):
        newer = o["counters"].get("sources.newer_rows")
        return ratio(o["scan_rows"], newer) if newer else None

    def bytes_per_row(o):
        c = o["counters"]
        return ratio(c["sinks.store_bytes"], c["sinks.store_rows"]) \
            if c.get("sinks.store_rows") else None

    wall = focus_sum(lambda o: o["ms"])
    task_ms = focus_sum(lambda o: o["task_ms"])
    stream_ops = [o for o in ops if o["key"].startswith("stream_")]
    m = {
        "bench.wall_ms": (wall, "ms"),
        "bench.self_ms": (focus_sum(lambda o: o["self_ms"]), "ms"),
        "trace.overhead_pct": (overhead_pct(raw), "pct"),
        "heap_peak_mb": (raw["heap_peak_mb"], "MB"),
        "catalyst.plan_ms": (focus_sum(lambda o: o["plan_ms"]), "ms"),
        "spark.jobs": (focus_sum(lambda o: len(o["jobs"])), "count"),
        "spark.task_s": (task_ms / 1000.0, "s"),
        "spark.core_util": (ratio(task_ms, wall * cores), "ratio"),
        "spark.shuffle_write_mb": (focus_sum(lambda o: o["shuffle_bytes"]) / 2**20, "MB"),
        "spark.spill_mb": (focus_sum(lambda o: o["spill_bytes"]) / 2**20, "MB"),
        "spark.records_read": (focus_sum(lambda o: o["records"]), "count"),
        "driver_ms": (focus_sum(lambda o: o["ms"] - o["covered_ms"]), "ms"),
        "ingest.watermark_ms": (named("ingest.watermark"), "ms"),
        "ingest.parse_ms": (named("ingest.parse"), "ms"),
        "sources.fetch_ms": (named("sources.fetch"), "ms"),
        "sources.pushdown_ratio": (per_key(ops, pushdown), "ratio"),
        "sinks.merge_ms": (named("sinks.merge"), "ms"),
        "sinks.merge_jobs": (per_key([o for o in ops if "sinks.merge" in o["named"]],
                                     lambda o: o["span_jobs"].get("sinks.merge", 0)), "count"),
        "sinks.buckets_rewritten": (counter("sinks.buckets_rewritten"), "count"),
        "sinks.write_amp": (per_key(ops, write_amp), "ratio"),
        "sinks.store_files": (counter("sinks.store_files"), "count"),
        "store_bytes_per_row": (per_key(ops, bytes_per_row), "B"),
        "store.lookup_ms": (named("store.lookup"), "ms"),
        "sinks.commit_version_ms": (named("sinks.commit_version"), "ms"),
        "sinks.snapshot_ms": (named("sinks.snapshot"), "ms"),
        "sinks.changes_ms": (named("sinks.changes"), "ms"),
        "sinks.compact_ms": (named("sinks.compact"), "ms"),
        "sinks.read_fanin": (counter("sinks.read_fanin"), "count"),
        "sinks.lookup_rows_read": (per_key([o for o in ops if o["kind"] == "lookup"],
                                           lambda o: o["records"]), "count"),
        "ops.query_s": (named("ops.query", 1e-3), "s"),
        "llm.query_s": (named("llm.query", 1e-3), "s"),
        "streaming.query_s": (named("streaming.query", 1e-3), "s"),
        "streaming.trigger_ms": (per_key(stream_ops, lambda o: o["trigger_ms"]), "ms"),
        "streaming.addbatch_ms": (per_key(stream_ops, lambda o: o["addbatch_ms"]), "ms"),
    }
    for e in QUERY_ENTRIES:
        m[f"query.{e}_s"] = (per_key([o for o in ops if o["key"] == e],
                                     lambda o: o["ms"] / 1000.0), "s")
    return m
