"""Arithmetic of the benchmark: percentiles, interval unions, span self
time and the `metrics.log` parser. Pure functions, tested by
`perfbench/tests/test_stats.py`."""

import json
import math


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50.0)


def tail_percentile(n, beyond=10):
    """The highest whole percentile that leaves at least `beyond` of `n`
    samples above it, or None when even p50 would leave fewer."""
    if n < 2 * beyond:
        return None
    return math.floor(100.0 * (1.0 - beyond / n))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    each first clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
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


def self_time(start, end, child_intervals):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(child_intervals, start, end)


def add_self_times(spans):
    """Sets `self_ms` on every span dict (keys id, parent, start_ms,
    end_ms) from its direct children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_ms"] = self_time(s["start_ms"], s["end_ms"], kids.get(s["id"], []))
    return spans


def parse_metrics_log(lines):
    """Parses `<ts> [INFO] <logger>: apdb_metrics: {json}` lines into
    {visit: [(name, table, values), ...]} in file order."""
    out = {}
    for line in lines:
        i = line.find("apdb_metrics: ")
        if i < 0:
            continue
        rec = json.loads(line[i + len("apdb_metrics: "):])
        tags = rec.get("tags", {})
        visit = int(tags["visit"])
        out.setdefault(visit, []).append((rec["name"], tags.get("table", ""), rec["values"]))
    return out


APPEND_TABLES = ("DiaObject", "DiaSource", "DiaForcedSource")
CHUNK_TABLES = ("DiaObjectChunks", "DiaSourceChunks", "DiaForcedSourceChunks")


def visit_phases(records):
    """Per-visit phase seconds and counts from one visit's metrics.log
    records (the output of parse_metrics_log for that visit)."""
    ph = {"detect_s": 0.0, "read_obj_s": 0.0, "read_src_s": 0.0, "read_fsrc_s": 0.0,
          "store_s": 0.0, "insert_append_s": 0.0, "insert_chunks_s": 0.0,
          "merge_objlast_s": 0.0, "visit_s": 0.0, "objects_read": 0.0,
          "objects_filtered": 0.0, "select_queries": 0.0, "rows_stored": 0.0}
    for name, table, v in records:
        real = v.get("real", 0.0)
        if name == "detect_time":
            ph["detect_s"] += real
        elif name == "select_time":
            key = {"DiaObject": "read_obj_s", "DiaSource": "read_src_s",
                   "DiaForcedSource": "read_fsrc_s"}.get(table)
            if key:
                ph[key] += real
        elif name == "tile_store_time":
            ph["store_s"] += real
        elif name == "insert_time":
            if table in APPEND_TABLES:
                ph["insert_append_s"] += real
            elif table in CHUNK_TABLES:
                ph["insert_chunks_s"] += real
            elif table == "DiaObjectLast":
                ph["merge_objlast_s"] += real
        elif name == "total_visit_time":
            ph["visit_s"] += real
        elif name == "read_counts" and table == "DiaObject":
            ph["objects_read"] += v.get("objects", 0.0)
            ph["objects_filtered"] += v.get("objects_filtered", 0.0)
        elif name == "select_query_stats":
            ph["select_queries"] += v.get("num_queries", 0.0)
        elif name == "store_counts":
            ph["rows_stored"] += v.get("row_count", 0.0)
    ph["other_s"] = ph["visit_s"] - (ph["detect_s"] + ph["read_obj_s"] + ph["read_src_s"]
                                     + ph["read_fsrc_s"] + ph["store_s"])
    return ph


# pipeline order of the phase timers inside one visit, for laying the
# duration-only timers out as child spans
PHASE_ORDER = ("detect_s", "read_obj_s", "read_src_s", "read_fsrc_s", "store_s")
STORE_ORDER = ("insert_append_s", "insert_chunks_s", "merge_objlast_s")


def phase_spans(ph, start_ms):
    """Child spans for one visit's phases. metrics.log gives durations
    only, so phases are laid end to end in pipeline order from the
    visit's start, and the store's parts end to end inside the store."""
    out = []
    t = start_ms
    for key in PHASE_ORDER:
        d = ph[key] * 1000.0
        out.append(("apdb." + key[:-2], None, t, t + d))
        if key == "store_s":
            u = t
            for sub in STORE_ORDER:
                sd = ph[sub] * 1000.0
                out.append(("apdb." + sub[:-2], "apdb.store", u, u + sd))
                u += sd
        t += d
    return out
