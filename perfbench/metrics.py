"""Pure metric rules of the benchmark (unit-tested in perfbench/tests)."""
import math
import statistics

TAILS = (0.90, 0.99, 0.999)


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    `p` of the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def beyond(n, p):
    """Samples strictly above the nearest-rank `p` percentile of n."""
    return n - max(1, math.ceil(p * n))


def tail(xs):
    """The highest of p90/p99/p99.9 with at least ten samples beyond it,
    as (label, value); None when even p90 has fewer than ten."""
    best = None
    for p in TAILS:
        if beyond(len(xs), p) >= 10:
            best = (f"p{p * 100:g}", percentile(xs, p))
    return best


def merged(intervals):
    """Union of [a, b) intervals as sorted, disjoint intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(intervals, lo, hi):
    """Length of [lo, hi) covered by the union of `intervals`."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in merged(intervals))


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its children cover, overlapping children counted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - covered(kids.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def driver_gap(t0, t1, jobs):
    """Operation wall time not covered by any Spark job interval."""
    return (t1 - t0) - covered(jobs, t0, t1)


def op_failed(op, oracle_ok, first_digest):
    """An operation fails when it threw, when its result differs from the
    generator's answer (`expect`), or — for oracle-checked keys — when the
    key's first result disagrees with the DuckDB oracle or this execution's
    digest differs from that first, oracle-checked result."""
    if op.get("error") or "got" not in op:
        return True
    if op.get("expect"):
        return op["expect"] != op["got"]
    return not oracle_ok.get(op["op"], False) or op["got"] != first_digest.get(op["op"])


def cycle_seconds(ops):
    """Seconds one cycle of the workload's mix takes: for each operation
    type, its median latency times how often it occurs per cycle."""
    by = {}
    per_cycle = {}
    for o in ops:
        by.setdefault(o["op"], []).append(o["wall_ms"])
        if o["cycle"] == 0:
            per_cycle[o["op"]] = per_cycle.get(o["op"], 0) + 1
    return sum(median(by[k]) * n for k, n in per_cycle.items()) / 1e3
