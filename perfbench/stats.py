"""Arithmetic of the benchmark: medians and the self time of a span."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def coverage(intervals, start, end):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - coverage(children, start, end)
