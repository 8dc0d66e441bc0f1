"""Pure helpers that turn a workload's raw record into metrics.

Kept free of I/O so that tests/test_stats.py can pin each rule.
"""
import math
import statistics

# Percentile levels tried for the tail, highest first.
TAIL_LEVELS = (99.0, 95.0, 90.0, 75.0)
# A percentile is only reported when at least this many samples lie beyond it.
MIN_BEYOND = 10
# Listener timestamps have millisecond resolution; containment allows this slack.
SLACK_NS = 1_000_000


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(samples, levels=TAIL_LEVELS, min_beyond=MIN_BEYOND):
    """(level, value) of the highest percentile with at least
    `min_beyond` samples beyond it, or None when there are too few."""
    for p in levels:
        if beyond(len(samples), p) >= min_beyond:
            return p, percentile(samples, p)
    return None


def recall(pairs):
    """Mean recall of (got, exact) id lists: the share of each exact
    list that was returned."""
    scores = [len(set(got) & set(exact)) / len(exact) for got, exact in pairs if exact]
    if not scores:
        raise ValueError("no recall samples")
    return sum(scores) / len(scores)


def accounting(ops):
    """(attempted, failed, wrong) over timed-phase operations. A failed
    operation is an error, a timeout or a failed check; `wrong` counts
    the failed checks alone."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    wrong = sum(1 for o in ops if not o["ok"] and o.get("wrong"))
    return attempted, failed, wrong


def throughput(ops, t0_ns):
    """Items of work completed per second, summed over lanes (the
    clients that run side by side). Each lane's completed items count
    over the time from the phase start to the end of its own last
    operation, so requests still in flight on other lanes when the time
    is up do not dilute the rate."""
    lanes = {}
    for o in ops:
        n, last = lanes.get(o["lane"], (0, t0_ns))
        end = o["start_ns"] + o["lat_ms"] * 1e6
        lanes[o["lane"]] = (n + (o["items"] if o["ok"] else 0), max(last, end))
    return sum(n / ((last - t0_ns) / 1e9) for n, last in lanes.values() if last > t0_ns)


def failed_share(ops):
    attempted, failed, _ = accounting(ops)
    return failed / attempted if attempted else 1.0


# Spans synthesized from Spark events nest in this order under the
# benchmark's own spans: SQL executions contain jobs.
_DEPTH = {"spark.sql": 1, "spark.job": 2}


def assign_parents(spans):
    """Gives every span synthesized from Spark events (parent -1) the
    innermost span of the same operation that contains it and may hold
    it (a job may sit in an SQL execution, never the reverse). A span
    no other span contains becomes a root (parent 0)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for s in spans:
        if s["parent"] != -1:
            out.append(s)
            continue
        depth = _DEPTH.get(s["name"], 0)
        best = None
        for c in by_op[s["op"]]:
            if _DEPTH.get(c["name"], 0) >= depth or not _contains(c, s):
                continue
            key = (c["end_ns"] - c["start_ns"], -_DEPTH.get(c["name"], 0))
            if best is None or key < best[0]:
                best = (key, c)
        out.append(dict(s, parent=best[1]["id"] if best else 0))
    return out


def _contains(outer, inner):
    return (outer["start_ns"] - SLACK_NS <= inner["start_ns"]
            and inner["end_ns"] <= outer["end_ns"] + SLACK_NS)


def self_times(spans):
    """Self time of every span in ns: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
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
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    return name.split(".", 1)[0]


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default
