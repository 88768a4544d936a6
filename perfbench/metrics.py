"""Pure helpers behind the benchmark's numbers (no Spark, no I/O).

Every function here has a test in test_metrics.py.
"""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median (0 for a zero median)."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, n). With n sorted samples the value is the
    one at 1-based rank n - beyond, so exactly `beyond` samples lie above it
    and the percentile is 100 * (n - beyond) / n. With `beyond` samples or
    fewer no such percentile exists and the maximum is returned at 100.
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(values)
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
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


def job_accounting(op_wall, jobs):
    """Scheduler view of one op from its (start, end) job intervals.

    busy: time at least one job ran (the union of the intervals);
    gap: op wall time with no job running (driver-side work and waits);
    overlap: summed job time over busy time (1 = jobs ran one at a time).
    """
    busy = union_length(jobs)
    summed = sum(max(0.0, e - s) for s, e in jobs)
    return {"job_busy": busy, "driver_gap": max(0.0, op_wall - busy),
            "job_overlap": summed / busy if busy else 0.0}


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (children may overlap each other).

    `spans` is a list of dicts with "id", "parent" (None for roots),
    "start" and "end". Returns {id: self_time}.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], []))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def attribute(ops, t, strict=False):
    """Index of the op whose slot holds time t, or None.

    An op's slot runs from its start to the next op's start (the last op's
    slot ends a second after its end), so events stamped on arrival that
    the listener bus delivers late, during the untimed gap after an op,
    still land on the op that caused them. With `strict`, for events that
    carry their own start time, t must fall inside the op itself: work the
    benchmark does between ops is nobody's. `ops` must be sorted by start.
    """
    lo, hi = 0, len(ops)
    while lo < hi:
        mid = (lo + hi) // 2
        if ops[mid]["start_ms"] <= t:
            lo = mid + 1
        else:
            hi = mid
    i = lo - 1
    if i < 0:
        return None
    limit = 1 if strict else (1000 if i == len(ops) - 1 else None)
    if limit is not None and t > ops[i]["end_ms"] + limit:
        return None
    return i


def compare(parent, change, better, bound, parent_failed=0, change_failed=0):
    """Verdict for one metric from alternating parent/change pairs.

    `parent` and `change` are equal-length lists of per-run values, pair i
    being parent[i] and change[i]; `parent_failed` and `change_failed` are
    the failed operations summed over each side's runs. A change that fails
    more operations than the parent is "failed", whatever its figures: a
    failed op misses every latency limit. Otherwise a gain needs the change
    to win at least nine tenths of the pairs (ties count for neither side)
    and the medians to differ by more than the parent's interquartile
    distance. When either side's spread exceeds the bound the verdict is
    "unresolved", unless every change run beats every parent run; a change
    whose median is worse than the parent's by more than the bound is a
    "regression"; anything else is "no change".
    """
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gain = sign * (cm - pm)
    row = {"pairs": len(parent), "wins": wins,
           "parent": {"q1": p1, "median": pm, "q3": p3},
           "change": {"q1": c1, "median": cm, "q3": c3},
           "delta": (cm - pm) / pm if pm else 0.0}
    if change_failed > parent_failed:
        row["verdict"] = "failed"
    elif len(parent) and wins >= 0.9 * len(parent) and gain > (p3 - p1):
        row["verdict"] = "gain"
    elif max(spread(parent), spread(change)) > bound and not (
            all(sign * (c - p) > 0 for c in change for p in parent)):
        row["verdict"] = "unresolved"
    elif pm and -gain / abs(pm) > bound:
        row["verdict"] = "regression"
    else:
        row["verdict"] = "no change"
    return row
