"""Arithmetic behind the benchmark's metrics, kept free of I/O so that
perfbench/tests can check it directly."""

import math


def nearest_rank(values, p):
    """The nearest-rank p-quantile (0 < p <= 1) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    r = max(1, math.ceil(p * len(xs)))
    return xs[r - 1]


def tail_percentile(values, p, min_beyond=10):
    """The nearest-rank p-quantile, only when at least `min_beyond`
    samples lie above its rank; None otherwise. A tail percentile read
    from fewer samples than that is the sample maximum in disguise."""
    n = len(values)
    if n == 0:
        return None
    r = max(1, math.ceil(p * n))
    if n - r < min_beyond:
        return None
    return sorted(values)[r - 1]


def union_length(intervals):
    """Total length covered by the union of [start, end] intervals, so
    overlapping jobs are counted once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((min(a, b), max(a, b)) for a, b in intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def account(ops, expected):
    """Closed-loop accounting over op records.

    An op fails when it raised, got a non-200 reply, or its result
    fingerprint differs from `expected[cls][param]` (a missing expectation
    is a failure too). Failed ops count in `failed` and never contribute a
    latency sample, so a fast error cannot improve the percentiles.
    Returns (attempted, failed, latencies of successful ops, mismatches).
    """
    latencies, mismatches, failed = [], [], 0
    for op in ops:
        want = expected.get(op["cls"], {}).get(op["param"])
        ok = bool(op.get("ok")) and op.get("fp") is not None and op["fp"] == want
        if ok:
            latencies.append(op["end_s"] - op["start_s"])
        else:
            failed += 1
            mismatches.append({"id": op["id"], "cls": op["cls"], "param": op["param"],
                               "got": op.get("fp"), "want": want,
                               "error": op.get("error")})
    return len(ops), failed, latencies, mismatches


def match_collects(requests, executions):
    """Pair each Serve request with the SQL execution of its collect.

    requests: (id, start_ms, end_ms) measured at the client.
    executions: (execution id, start_ms, end_ms, duration_s).
    Requests are taken in order of completion; each takes the unclaimed
    execution that lies inside its interval and ended last (the reply is
    written right after the collect ends). Returns {request id: duration_s}.
    """
    free = sorted(executions, key=lambda e: e[2])
    claimed = set()
    out = {}
    for rid, s, e in sorted(requests, key=lambda r: r[2]):
        best = None
        for ex in free:
            if ex[0] in claimed or ex[1] < s or ex[2] > e:
                continue
            if best is None or ex[2] >= best[2]:
                best = ex
        if best is not None:
            claimed.add(best[0])
            out[rid] = best[3]
    return out
