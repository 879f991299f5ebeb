"""Pure functions that turn recorded operations into reported metrics.

An operation is a dict with at least `lat_ms`, `ok`, `items`, `start_ms`
and `traced`, as written by the JVM side (see scala/PerfBench.scala).
"""
import math

def tail_quantile(n):
    """The highest percentile with at least ten samples beyond it among
    `n` samples: (n - 10) / n, so the tail is the 11th-slowest sample.
    Below 20 samples that would fall under the median, so the median is
    reported instead."""
    return (n - 10) / n if n >= 20 else 0.5


def percentile(values, q):
    """Nearest-rank percentile of `values` (q in (0, 1])."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def failed(op, bad_checks):
    """An operation fails when it raised, or when the oracle rejected the
    output it produced."""
    return (not op["ok"]) or op.get("check") in bad_checks


def latencies(ops, bad_checks, missing_ms):
    """Latency samples in which every failed operation counts as missing
    any limit: it is recorded as `missing_ms`, at least as slow as the
    slowest operation that succeeded."""
    worst = max([o["lat_ms"] for o in ops if not failed(o, bad_checks)], default=0.0)
    miss = max(missing_ms, worst)
    return [miss if failed(o, bad_checks) else o["lat_ms"] for o in ops]


def window_s(ops, start_ms):
    """Seconds from the start of timing to the end of the last operation."""
    return (max(o["start_ms"] + (o["lat_ms"] or 0.0) for o in ops) - start_ms) / 1e3


def end_to_end(ops, bad_checks, start_ms, setup_s, heap_mb):
    """The end-to-end metric values of one run; latency samples and
    counts are returned alongside for the log."""
    n = len(ops)
    n_failed = sum(1 for o in ops if failed(o, bad_checks))
    win = window_s([o for o in ops if o["lat_ms"] is not None] or ops, start_ms)
    lats = latencies(ops, bad_checks, missing_ms=win * 1e3)
    q = tail_quantile(n)
    done = sum(o["items"] for o in ops if not failed(o, bad_checks))
    metrics = {
        "setup_s": setup_s,
        "ok_frac": (n - n_failed) / n,
        "items_per_s": done / win,
        "op_p50_ms": percentile(lats, 0.5),
        "op_tail_ms": percentile(lats, q),
        "heap_mb": heap_mb,
    }
    return metrics, {"attempted": n, "failed": n_failed, "tail_quantile": q}


def overhead_frac(ops):
    """Traced against untraced median latency, minus one."""
    t = [o["lat_ms"] for o in ops if o["traced"] and o["ok"]]
    u = [o["lat_ms"] for o in ops if not o["traced"] and o["ok"]]
    if not t or not u:
        return 0.0
    return percentile(t, 0.5) / percentile(u, 0.5) - 1.0


def by_kind(ops):
    """Operation count and median latency (ms) per kind, for the log."""
    kinds = {}
    for o in ops:
        if o["ok"]:
            kinds.setdefault(o["kind"], []).append(o["lat_ms"])
    return {k: [len(v), round(percentile(v, 0.5), 1)] for k, v in sorted(kinds.items())}
