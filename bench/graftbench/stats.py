"""Summary statistics for the benchmark: percentiles, span self time,
tracing overhead and run-to-run spread. Pure functions, unit-tested in
bench/tests/test_stats.py.
"""
import math
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values):
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def kind_medians(ops):
    """{kind: (median latency in s, median input records)} over ops,
    which are dicts with kind, dur_s and records."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    return {k: (statistics.median(o["dur_s"] for o in v), statistics.median(o["records"] for o in v))
            for k, v in by_kind.items()}


def typical_latency(ops):
    """Geometric mean over op kinds of each kind's median latency: every
    kind weighs the same, however often it ran, so the figure does not
    jump between kinds as the mix of a short run shifts."""
    meds = [lat for lat, _ in kind_medians(ops).values()]
    return math.exp(sum(math.log(x) for x in meds) / len(meds))


def closed_loop_rates(ops, clients):
    """(ops/s, records/s) of `clients` closed-loop clients, each of
    which issues every op kind in turn and so completes one op of each
    kind per sum over kinds of the kind's median latency. Ops that
    failed scale both rates by the share that succeeded."""
    meds = kind_medians(ops).values()
    round_s = sum(lat for lat, _ in meds)
    ok_share = sum(1 for o in ops if o["ok"]) / len(ops)
    return (clients * len(meds) / round_s * ok_share,
            clients * sum(rec for _, rec in meds) / round_s * ok_share)


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover (overlapping children counted
    once). `spans` are dicts with id, parent, start_ns and end_ns;
    returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def tracing_overhead(ops):
    """Relative cost of tracing: for each op kind run both ways, the
    ratio of its median traced latency to its median untraced latency;
    returns the median of those ratios minus one (0.05 = 5% slower when
    traced), or None when no kind ran both ways."""
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], ([], []))[1 if o["traced"] else 0].append(o["dur_s"])
    ratios = [statistics.median(t) / statistics.median(u) for u, t in by_kind.values() if u and t]
    return statistics.median(ratios) - 1.0 if ratios else None
