"""Pure helpers for the benchmark's statistics and trace arithmetic."""
import math
import statistics


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile with at least ten of `n` samples beyond
    it; 100 (the maximum) when even the median would have fewer.
    """
    return 100.0 * (1.0 - 10.0 / n) if n >= 20 else 100.0


def tail(values):
    """(percentile, value) of the tail by [[tail_percentile]]."""
    p = tail_percentile(len(values))
    return p, (max(values) if p == 100.0 else percentile(values, p))


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= max(s, end):  # outside [lo, hi], or already covered
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. A child is a span of the same
    operation whose `parent` names this span's kind and which overlaps
    it. Returns a list parallel to `spans`.
    """
    by_parent = {}
    for s in spans:
        by_parent.setdefault((s["op"], s["parent"]), []).append(s)
    out = []
    for s in spans:
        kids = by_parent.get((s["op"], s["name"]), [])
        iv = [(k["start_ms"], k["end_ms"]) for k in kids if k is not s]
        out.append((s["end_ms"] - s["start_ms"]) -
                   covered(iv, s["start_ms"], s["end_ms"]))
    return out


def generator_lateness_ms(start_ns, sched_us, push_ns):
    """How late the generator pushed each message: push time minus the
    time it was due, in ms; never negative (a message is never pushed
    early).
    """
    return [max(0.0, (p - (start_ns + s * 1000)) / 1e6)
            for s, p in zip(sched_us, push_ns)]


def open_loop_latency_ms(start_ns, sched_us, emit_ns):
    """Latency of each message from when it was due to be sent, not
    from when it was sent, so a stall also counts against the messages
    queued behind it.
    """
    return [(e - (start_ns + s * 1000)) / 1e6 for s, e in zip(sched_us, emit_ns)]
