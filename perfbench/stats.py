"""Sample statistics and span arithmetic for the benchmark."""

import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p, min_beyond=10):
    """Nearest-rank ``p``-th percentile (0 < p < 100) of ``values``.

    Returns None when fewer than ``min_beyond`` samples lie beyond the
    selected rank: a tail percentile resting on a handful of samples is
    noise, so it is refused rather than reported."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def quietest_window(values, ends, span, k, min_samples=10):
    """Split ``span`` seconds into ``k`` equal windows, put each sample
    in the window its end time ``ends[i]`` falls in, and return
    ``(median, count, width)`` of the window with the lowest median,
    among the windows holding at least ``min_samples`` samples; None if
    no window holds that many.

    On a shared host whose slow stretches last seconds, this is the
    window the host disturbed least."""
    width = span / k
    windows = [[] for _ in range(k)]
    for v, t in zip(values, ends):
        windows[min(k - 1, max(0, int(t / width)))].append(v)
    full = [w for w in windows if len(w) >= min_samples]
    if not full:
        return None
    best = min(full, key=statistics.median)
    return statistics.median(best), len(best), width


def quartile_spread(values):
    """(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives
    the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover.

    ``spans`` are ``(id, parent, name, req, start, end)`` tuples (parent
    0 for a root). Returns ``{id: self_ns}``."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, _, _, start, end in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(sid, []), key=lambda c: c[4]):
            lo, hi = max(c[4], start), min(c[5], end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sid] = (end - start) - covered
    return out


def layer_table(spans, skip_reqs=()):
    """Per span name: count, total and self nanoseconds, and which root
    span names it ran under. Spans of the requests in ``skip_reqs``
    (check and warm-up calls) are left out."""
    spans = [s for s in spans if s[3] not in skip_reqs]
    selfs = self_times(spans)
    by_id = {s[0]: s for s in spans}
    table = {}
    for s in spans:
        root = s
        while root[1] in by_id:
            root = by_id[root[1]]
        row = table.setdefault(s[2], {"count": 0, "total_ns": 0, "self_ns": 0, "roots": set()})
        row["count"] += 1
        row["total_ns"] += s[5] - s[4]
        row["self_ns"] += selfs[s[0]]
        row["roots"].add(root[2])
    for row in table.values():
        row["roots"] = sorted(row["roots"])
    return table
