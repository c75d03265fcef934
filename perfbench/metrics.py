"""Statistics, output checks and metric assembly for the graft benchmark.

Pure functions over the runner's records, so each rule is testable
without a JVM (see `tests/`).
"""

import math
import statistics

# Operation kinds whose latency is a workload's `op_p50_gmean_ms` (None: all).
TIMED_KINDS = {
    "graph_query": None,  # every query
    "table_churn": {"append", "merge_cow", "merge_mor", "delete", "compact"},
    "curate": {"curate"},
}

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def kind_p50_gmean(ops):
    """Geometric mean over operation kinds of each kind's median latency (ms).

    Every kind weighs the same however often it runs, so a change in any
    one kind's latency moves the result by the same share: doubling one of
    k kinds multiplies it by 2 ** (1 / k)."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    if not by_kind:
        return 0.0
    return math.exp(_mean([math.log(statistics.median(xs)) for xs in by_kind.values()]))


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond). The sample at sorted
    position n-1-beyond has exactly `beyond` samples after it. With fewer
    than 2*beyond+1 samples that position falls at or below the median; the
    median is then the highest percentile the sample supports, and
    `samples_beyond` says how many lie above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 1 - beyond
    if i < n // 2:
        return statistics.median(xs), 50.0, n // 2
    return xs[i], 100.0 * (i + 1) / n, beyond


def covered(intervals):
    """Total length covered by a union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Map span id -> self time in ns: its duration minus the part of its
    interval that its children's spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = [(max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered([(a, b) for a, b in iv if b > a])
    return out


def account(ops, expected_of):
    """Count attempted and failed operations.

    `expected_of(op)` gives the expected result (or None when the op has no
    checked result). An operation fails once, for the first of: an error,
    a timeout, or a result that differs from the ledger's."""
    failed = {"error": 0, "timeout": 0, "mismatch": 0}
    bad = []
    for op in ops:
        if op["status"] in ("error", "timeout"):
            why = op["status"]
        else:
            exp = expected_of(op)
            why = None if exp is None or exp == op["actual"] else "mismatch"
        if why:
            failed[why] += 1
            bad.append({"id": op.get("id"), "kind": op.get("kind"), "why": why,
                        "error": op.get("error")})
    return len(ops), sum(failed.values()), failed, bad


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def span_stats(spans):
    """Per-name list of self times (s) and per-op sum of self times by name."""
    st = self_times(spans)
    by_name, by_op = {}, {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(st[s["id"]] / 1e9)
        key = (s["op"], s["name"])
        by_op[key] = by_op.get(key, 0.0) + st[s["id"]] / 1e9
    return by_name, by_op


PER_LAYER = [
    ("spark.plan_ms", "ms"), ("spark.driver_gap_ms", "ms"), ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.slot_util", "ratio"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("wikidata.parse_s", "s"), ("wikidata.shred_s", "s"), ("wikidata.layout_write_s", "s"),
    ("wikidata.layout_files", "count"),
    ("wikidata.layout_bytes", "bytes"), ("wikidata.layout_open_ms", "ms"),
    ("wikidata.files_scanned_per_lookup", "count"), ("wikidata.bytes_scanned_per_row", "bytes"),
    ("plans.topk_ms", "ms"),
    ("sources.append_ms", "ms"), ("sources.merge_cow_ms", "ms"), ("sources.merge_mor_ms", "ms"),
    ("sources.delete_ms", "ms"), ("sources.manifest_ms", "ms"), ("sources.head_read_ms", "ms"),
    ("sources.read_files", "count"), ("sources.dv_outstanding", "count"),
    ("sources.incremental_ms", "ms"), ("sources.change_feed_ms", "ms"),
    ("sources.stream_drain_ms", "ms"), ("sources.compact_s", "s"),
    ("sources.compact_bytes_rewritten", "bytes"), ("sources.write_amp", "ratio"),
    ("pipeline.quality_s", "s"), ("dedup.exact_s", "s"), ("dedup.near_dup_s", "s"),
    ("pipeline.split_write_s", "s"), ("dedup.near_dup_recall", "ratio"),
    ("dedup.lsh_dropped_bucket_rows", "count"),
    ("trace.overhead_frac", "ratio"),
]

# Layers only the curate pipeline drives.
CURATE_LAYERS = ["pipeline.quality_s", "dedup.exact_s", "dedup.near_dup_s", "pipeline.split_write_s",
                 "dedup.near_dup_recall", "dedup.lsh_dropped_bucket_rows"]


def per_layer(workload, plan, ledger, nproc, warmup, plain, traced, spans, setup_ops, summary):
    """Per-layer metrics from the traced operations; 0 where a layer does no
    work on this workload."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    timed = TIMED_KINDS[workload]
    sel = (lambda ops: ops) if timed is None else (lambda ops: [o for o in ops if o["kind"] in timed])
    counters = [o["counters"] for o in traced if o.get("counters")]
    n = max(1, len(counters))
    if counters:
        tot = lambda k: sum(c[k] for c in counters)
        m["spark.plan_ms"] = tot("plan_ms") / n
        m["spark.driver_gap_ms"] = tot("gap_ms") / n
        m["spark.jobs_per_op"] = tot("jobs") / n
        m["spark.tasks_per_op"] = tot("tasks") / n
        m["spark.slot_util"] = tot("run_ms") / max(1e-9, sum(o["ms"] for o in traced) * nproc)
        m["spark.task_cpu_s"] = tot("cpu_ns") / 1e9 / n
        m["spark.gc_s"] = tot("gc_ms") / 1e3 / n
        m["spark.shuffle_write_bytes"] = tot("shuffle_write") / n
        m["spark.spill_bytes"] = tot("spill") / n
        m["spark.input_bytes"] = tot("input") / n
    by_name, by_op = span_stats(spans)
    mean_s = lambda name: _mean(by_name.get(name, []))
    if workload == "graph_query":
        # the ingest layers run in set-up, whose last repetition is traced
        m["wikidata.parse_s"] = mean_s("wikidata.parse")
        m["wikidata.shred_s"] = mean_s("wikidata.shred")
        m["wikidata.layout_write_s"] = mean_s("wikidata.layout_write")
        last = setup_ops[-1]["facts"]
        m["wikidata.layout_files"] = last["layout_files"]
        m["wikidata.layout_bytes"] = last["layout_bytes"]
        opens = [by_op.get((o["seq"], "wikidata.layout_open"), 0.0) for o in traced]
        m["wikidata.layout_open_ms"] = 1e3 * _mean(opens)
        lookups = [o["counters"]["scan_files"] for o in traced if o["kind"] == "lookup"]
        m["wikidata.files_scanned_per_lookup"] = _mean(lookups)
        rows = sum(int(o["actual"].split(":")[0]) for o in traced if o["status"] == "ok")
        m["wikidata.bytes_scanned_per_row"] = sum(c["scan_bytes"] for c in counters) / max(1, rows)
        m["plans.topk_ms"] = 1e3 * mean_s("plans.topk")
    if workload == "table_churn":
        for name in ("append", "merge_cow", "merge_mor", "delete", "incremental", "change_feed",
                     "stream_drain", "head_read"):
            m[f"sources.{name}_ms"] = 1e3 * mean_s(f"sources.{name}")
        m["sources.compact_s"] = mean_s("sources.compact")
        m["sources.manifest_ms"] = _mean([o["facts"]["manifest_ms"] for o in traced if o["facts"]])
        heads = [o for o in traced if o["kind"] == "head_read" and o["facts"]]
        m["sources.read_files"] = _mean([o["facts"]["files"] for o in heads])
        m["sources.dv_outstanding"] = _mean([o["facts"]["dv_outstanding"] for o in heads])
        # the warm-up cycle's commits are in the table too
        every = sorted(warmup + plain + traced, key=lambda o: o["seq"])
        rewritten = [prev["facts"]["data_bytes"] for prev, o in zip(every, every[1:])
                     if o["kind"] == "compact" and o["phase"] == "traced" and prev["facts"]]
        m["sources.compact_bytes_rewritten"] = _mean(rewritten)
        user_rows = ledger["initial_rows"]
        by_id = {op["id"]: op for op in plan["ops"]}
        for o in every:
            if o["kind"] == "append" or o["kind"].startswith("merge"):
                user_rows += sum(1 for r in by_id[o["id"]]["rows"] if len(r) == 3 or not r[3])
        m["sources.write_amp"] = summary["facts"]["table_bytes"] / (user_rows * ledger["row_width"])
    if workload == "curate":
        m["pipeline.quality_s"] = mean_s("pipeline.quality")
        m["dedup.exact_s"] = mean_s("dedup.exact")
        m["dedup.near_dup_s"] = mean_s("dedup.near_dup")
        m["pipeline.split_write_s"] = mean_s("pipeline.split_write")
        recalls = []
        for o in traced:
            dropped = set(o["facts"].get("near_dropped", []))
            pairs = ledger["near_pairs"]
            recalls.append(sum(1 for p in pairs if max(p) in dropped) / max(1, len(pairs)))
        m["dedup.near_dup_recall"] = _mean(recalls)
        lsh = [o["facts"]["lsh_dropped_bucket_rows"] for o in traced
               if o["facts"].get("lsh_dropped_bucket_rows") is not None]
        m["dedup.lsh_dropped_bucket_rows"] = _mean(lsh)
    a, b = sel(plain), sel(traced)
    if a and b:
        m["trace.overhead_frac"] = kind_p50_gmean(b) / kind_p50_gmean(a) - 1.0
    return m


def end_to_end(workload, ledger, plain, setup_s, setup_ops, summary):
    """End-to-end metrics from the untraced operations, plus the tail's
    percentile and sample count for the report."""
    timed = TIMED_KINDS[workload]
    timed_ops = [o for o in plain if timed is None or o["kind"] in timed]
    t_val, t_pct, t_beyond = tail([o["ms"] for o in timed_ops])
    secs = sum(o["ms"] for o in plain) / 1e3
    items = ledger["docs"] if workload == "curate" else 1
    if workload == "graph_query":
        stored = median([o["facts"]["layout_bytes"] / ledger["input_bytes"] for o in setup_ops])
    elif workload == "table_churn":
        stored = median([o["facts"]["head_bytes"] / o["facts"]["live_bytes"]
                         for o in plain if o["facts"] and o["facts"]["live_bytes"] > 0])
    else:
        stored = median([o["facts"]["out_bytes"] / ledger["input_bytes"] for o in plain])
    metrics = {
        "setup_s": setup_s,
        "op_p50_gmean_ms": kind_p50_gmean(timed_ops),
        "items_per_s": len(plain) * items / secs if secs else 0.0,
        "peak_rss_mb": summary["rss_peak_kb"] / 1024.0,
        "stored_bytes_per_input_byte": stored,
    }
    return metrics, {"op_tail_ms": t_val, "op_tail_percentile": t_pct, "op_tail_samples_beyond": t_beyond,
                     "timed_ops": len(timed_ops), "all_ops": len(plain)}


E2E_UNITS = {"setup_s": "s", "op_p50_gmean_ms": "ms", "items_per_s": "1/s",
             "peak_rss_mb": "MB", "stored_bytes_per_input_byte": "ratio"}
PER_LAYER_UNITS = dict(PER_LAYER)
