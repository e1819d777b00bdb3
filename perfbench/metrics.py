"""Pure metric rules: medians, the tail percentile, span self times and
the end-to-end and per-layer figures of one run."""
import statistics
from collections import defaultdict


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: the (n - beyond)-th smallest value, at percentile
    100*(n-beyond)/n. None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond
    return {"value": sorted(values)[k - 1], "pct": 100.0 * k / n, "n": n}


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover
    (children may overlap each other: their union is subtracted)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def mean_self_by_name(spans):
    """Span name -> mean self time (s) over its occurrences."""
    st = self_times(spans)
    acc = defaultdict(list)
    for s in spans:
        acc[s["name"]].append(st[s["id"]])
    return {k: sum(v) / len(v) for k, v in acc.items()}


def judge(passes, oracle_failures):
    """Timed ops with their verdict: an op fails on an error, a hash
    that differs from the checked pass, or an oracle mismatch of its
    check output. Failed ops keep their time."""
    ops = []
    for p in passes:
        for o in p["ops"]:
            err = o["error"] or oracle_failures.get(o["name"])
            ops.append(dict(o, error=err))
    return ops


def end_to_end(passes, ops, setup_s, peak_rss_mb):
    walls = [p["wall_s"] for p in passes]
    items = sum(p["items"] for p in passes)
    cpu = sum(p["host"]["cpu_s"] for p in passes)
    ok = sum(1 for o in ops if not o["error"])
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "items_per_s": (items / sum(walls), "1/s"),
        "op_p50_s": (statistics.median(o["secs"] for o in ops), "s"),
        "cpu_s_per_item": (cpu / items, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "ok_ratio": (ok / len(ops), "ratio"),
    }
