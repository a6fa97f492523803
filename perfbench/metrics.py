"""Metric derivations for the converter benchmark.

Pure functions over what the JVM side records: span intervals, job
intervals with their task totals, and per-operation results. Times are
milliseconds on one epoch clock unless a name ends in ``_s``.
"""

import statistics

PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)
SPAN_GROUP = "perfbench-span-"  # the job-group prefix Spans.group sets (Trace.scala)


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap_ms(span, jobs):
    """Span wall time during which no Spark job of the span was running."""
    start, end = span
    return (end - start) - union_length(clip(jobs, start, end))


def scan_passes(input_bytes, listed_bytes):
    """How many times the tasks read the listed source bytes."""
    return input_bytes / listed_bytes if listed_bytes > 0 else 0.0


def supported_percentile(n, beyond=10):
    """Highest reportable percentile with at least `beyond` samples above it
    out of `n`; None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= beyond:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(rank) - 1]


def children_of(spans):
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append(s)
    return kids


def self_times_ms(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = children_of(spans)
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length([(c["start_ms"], c["end_ms"]) for c in kids[s["id"]]])
            for s in spans}


def subtree(spans, root_id):
    kids = children_of(spans)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c["id"] for c in kids[sid])
    return out


def attribute_jobs(spans, jobs, slack_ms=1.0):
    """Map job id -> span id. A job carrying a span's job group belongs to
    that span; any other job (one whose group the program set itself)
    belongs to the innermost span open when it started."""
    ids = {s["id"] for s in spans}
    out = {}
    for j in jobs:
        group = j.get("group") or ""
        if group.startswith(SPAN_GROUP) and int(group[len(SPAN_GROUP):]) in ids:
            out[j["id"]] = int(group[len(SPAN_GROUP):])
            continue
        t = j["start_ms"]
        open_spans = ([s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
                      or [s for s in spans
                          if s["start_ms"] - slack_ms <= t <= s["end_ms"] + slack_ms])
        if open_spans:
            out[j["id"]] = max(open_spans, key=lambda s: (s["start_ms"], s["id"]))["id"]
    return out
