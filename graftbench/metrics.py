"""Pure arithmetic behind the benchmark's numbers: percentiles, interval
unions, span self time, and the reduction of one run's raw records into
its end-to-end and per-layer metrics."""
import math
import statistics


def tail_percentile(samples, min_beyond=10):
    """The highest whole percentile p (<= 99) that has at least
    `min_beyond` samples strictly above its rank, with its value.

    A p-th percentile leaves n * (100 - p) / 100 samples beyond it, so with
    n samples the answer is the largest p with n * (100 - p) >= 100 *
    min_beyond; the value is the nearest-rank percentile.  Returns None when
    even the median lacks that many samples beyond it."""
    n = len(samples)
    best = None
    for p in range(50, 100):
        if n * (100 - p) >= 100 * min_beyond:
            best = p
    if best is None:
        return None
    ordered = sorted(samples)
    rank = max(1, math.ceil(best / 100 * n))
    return best, ordered[rank - 1]


def median_phase(timings):
    """The length of a timed phase of repeated operations with each timing
    replaced by the median of its operation's timings: the sum over
    operations of median x repeats.  `timings` is a list of (name, time)
    pairs.  One slow repeat, from a burst of host load or a collection,
    then moves the phase by no more than it moves its operation's median."""
    by = {}
    for name, t in timings:
        by.setdefault(name, []).append(t)
    return sum(statistics.median(v) * len(v) for v in by.values())


def geomean_of_medians(timings):
    """The geometric mean, over operations, of each operation's median
    time: a typical operation's latency that counts every operation once,
    however long it runs (the TPC-H power metric's mean).  `timings` is a
    list of (name, time) pairs with times above 0."""
    by = {}
    for name, t in timings:
        by.setdefault(name, []).append(t)
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in by.values()))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), optionally
    clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
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


def layer_self_times(spans, layer_of):
    """Self time by layer.  A span's self time is its duration minus the
    part its children cover; computed here by giving each instant to the
    deepest span open at that instant, so the layers add up to the roots'
    total time even where sibling spans (parallel stages) overlap.
    `spans` maps id -> dict(start, end, parent); `layer_of(span)` names a
    span's layer."""
    depth = {}

    def d(sid):
        if sid not in depth:
            p = spans[sid].get("parent")
            depth[sid] = 0 if p is None else d(p) + 1
        return depth[sid]

    edges = sorted({t for sp in spans.values() for t in (sp["start"], sp["end"])})
    out = {}
    for a, b in zip(edges, edges[1:]):
        open_ = [sid for sid, sp in spans.items()
                 if sp["start"] <= a and sp["end"] >= b]
        if not open_:
            continue
        deepest = max(open_, key=lambda sid: (d(sid), str(sid)))
        layer = layer_of(spans[deepest])
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def nest(spans):
    """Give every span that has no parent and is not a root the smallest
    `container` span that contains it (1 ms of slack for millisecond
    clocks).  Spans are placed from the longest down and may only land in
    an already-placed container, so the result has no cycles."""
    order = sorted(spans, key=lambda s: spans[s]["start"] - spans[s]["end"])
    placed = []
    for sid in order:
        sp = spans[sid]
        if sp.get("parent") is None and not sp.get("root"):
            inside = [c for c in placed
                      if spans[c]["start"] - 1 <= sp["start"]
                      and sp["end"] <= spans[c]["end"] + 1]
            if inside:
                sp["parent"] = min(
                    inside, key=lambda c: spans[c]["end"] - spans[c]["start"])
        if sp.get("container"):
            placed.append(sid)
    return spans


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (0 for fewer than two values)."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
