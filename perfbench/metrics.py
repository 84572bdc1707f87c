"""The benchmark's arithmetic: percentiles, open-loop freshness, generator
lateness and backlog. Pure functions over the raw
result file the JVM harness writes; `test_metrics.py` covers them.

Times are integer nanoseconds on the harness's monotonic clock unless a
name says otherwise.
"""
import statistics
from datetime import datetime

# A percentile is reported only if at least this many samples lie beyond it.
MIN_BEYOND = 10
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(p, n):
    """1-based nearest rank of percentile `p` among `n` samples, computed in
    tenths of a percent so 99.9 of 10000 is exactly rank 9990."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in (0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[rank(p, len(xs)) - 1]


def tail_percentile(n):
    """The highest percentile in PERCENTILES with at least MIN_BEYOND of `n`
    samples beyond it, or None."""
    for p in PERCENTILES:
        if n - rank(p, n) >= MIN_BEYOND:
            return p
    return None


def due_ns(rung, i):
    """When row `i` of the replay was due: rung start + offset / rate."""
    return rung["start_ns"] + (i - rung["first"]) * 1e9 / rung["rate"]


def freshness_ms(legs, rungs, name):
    """Freshness of every leg whose last input row belongs to rung `name`:
    emit time minus that row's due time (not its send time), in ms."""
    rung = next(r for r in rungs if r["name"] == name)
    out = []
    for due_index, emit_ns in legs:
        if rung["first"] <= due_index < rung["first"] + rung["rows"]:
            out.append((emit_ns - due_ns(rung, due_index)) / 1e6)
    return out


def generator_late_ms(sends, rungs, name):
    """How late the generator ran in rung `name`: the largest send time minus
    due time over the rung's rows, in ms (0 if always on time). `sends` is
    [(rows sent so far, send ns)]; a send carries rows [previous, until)."""
    rung = next(r for r in rungs if r["name"] == name)
    lo, hi = rung["first"], rung["first"] + rung["rows"]
    worst, prev = 0.0, 0
    for until, sent_ns in sends:
        first = max(prev, lo)
        if first < min(until, hi):
            # the earliest row of the send is the one that waited longest
            worst = max(worst, (sent_ns - due_ns(rung, first)) / 1e6)
        prev = until
    return worst


def sent_by(sends, t_ns):
    """Rows the generator had sent by time `t_ns`."""
    n = 0
    for until, sent_ns in sends:
        if sent_ns <= t_ns:
            n = until
        else:
            break
    return n


def parse_wall_ms(ts):
    """Epoch ms of a streaming-progress timestamp such as
    '2026-01-02T03:04:05.678Z'."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def triggers(progress, epoch_wall_ms):
    """Data-carrying triggers as dicts with start/end ns on the harness clock."""
    out = []
    for p in progress:
        start = (parse_wall_ms(p["timestamp"]) - epoch_wall_ms) * 1e6
        dur = p.get("durationMs", {})
        out.append({"batch": p["batchId"], "start_ns": start,
                    "end_ns": start + dur.get("triggerExecution", 0) * 1e6,
                    "rows": p.get("numInputRows", 0), "p": p})
    return out


def backlog_samples(trigs, sends, t_from, t_to):
    """(t, rows sent but not yet in a completed trigger) at t_from, at every
    trigger completion within (t_from, t_to), and at t_to."""
    done = sorted((t["end_ns"], t["rows"]) for t in trigs)
    points = [t_from] + [t for t, _ in done if t_from < t < t_to] + [t_to]
    out = []
    for t in points:
        consumed = sum(rows for end, rows in done if end <= t)
        out.append((t, sent_by(sends, t) - consumed))
    return out

