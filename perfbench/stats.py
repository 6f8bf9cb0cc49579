"""Statistics of the benchmark: medians with sample counts, the tail
percentile, span self time and fail ratio."""

import math
import statistics


def median(values):
    """Median of a non-empty sequence."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values, beyond=10):
    """The highest whole percentile that has at least `beyond` samples above
    it, as (percentile, value) by the nearest-rank rule; None below
    2 * `beyond` samples."""
    n = len(values)
    if n < 2 * beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = math.ceil(p * n / 100)
    return p, sorted(values)[rank - 1]


def summary(values):
    """A timing as the report gives it: median, sample count and, from 20
    samples on, the tail percentile."""
    out = {"median": median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out["p"], out["p_value"] = tail
    return out


def fail_ratio(failed, attempted):
    """Operations that threw or failed their check over those attempted."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of each span (by id): its duration less the part of it its
    child spans cover. Spans are dicts with id, parent, start_ns, end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {
        s["id"]: (s["end_ns"] - s["start_ns"])
        - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
        for s in spans
    }

