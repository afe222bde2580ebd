"""Harness arithmetic: percentiles, interval unions, span trees.

Pure functions over plain numbers and dicts, so they can be tested on
synthetic inputs (perfbench/tests/test_stats.py). Times are in any one
unit; spans and jobs are dicts with at least `start` and `end`.
"""
import math
import statistics

TAIL_CANDIDATES = (99.9, 99.5, 99.0, 98.0, 97.5, 95.0, 90.0, 85.0, 80.0,
                   75.0, 70.0, 60.0, 50.0)


def median(values):
    return statistics.median(values) if values else 0.0


def nearest_rank(values, pct):
    """The nearest-rank percentile: the smallest sample with at least
    `pct` % of the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values, min_beyond=10):
    """The highest percentile from TAIL_CANDIDATES that still has
    `min_beyond` samples beyond it. Returns (percentile, value, samples).
    A sample too small to support any tail reports its median (the 50th
    percentile, nearest rank): its maximum would be one outlier."""
    n = len(values)
    if n == 0:
        return 50.0, 0.0, 0
    for pct in TAIL_CANDIDATES:
        if n - math.ceil(pct / 100.0 * n) >= min_beyond:
            return pct, nearest_rank(values, pct), n
    return 50.0, nearest_rank(values, 50.0), n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def uncovered(span, intervals):
    """Length of `span` not covered by any of `intervals`."""
    start, end = span["start"], span["end"]
    return (end - start) - union_length(clip(intervals, start, end))


def self_time(span, children):
    """A span's self time: its wall minus the union of its children."""
    return uncovered(span, [(c["start"], c["end"]) for c in children])


def attach(items, spans, slack=0.0):
    """Parent each item to the innermost span whose interval contains the
    item's start (widened by `slack` on both sides, for clocks that tick
    in whole milliseconds). Returns one span id, or None, per item."""
    parents = []
    for item in items:
        best = None
        for s in spans:
            if s["start"] - slack <= item["start"] <= s["end"] + slack and (
                    best is None or s["end"] - s["start"] <
                    best["end"] - best["start"]):
                best = s
        parents.append(best["id"] if best else None)
    return parents


def descendants(spans, root_id):
    """Ids of every span below `root_id` (by `parent`)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], list(children.get(root_id, []))
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(children.get(sid, []))
    return out


def empty_task_frac(jobs):
    """Tasks that read no records ÷ all tasks."""
    tasks = sum(j["tasks"] for j in jobs)
    return sum(j["empty_tasks"] for j in jobs) / tasks if tasks else 0.0
