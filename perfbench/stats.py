"""Arithmetic behind the benchmark's numbers: rank-selected percentiles with
their sample counts, span self time and the failed ratio. Pure functions
over plain lists, tested by test_stats.py."""
import math


def percentile(values, q):
    """Nearest-rank percentile: the ceil(q*n)-th smallest value (q in (0, 1]).
    Returns (value, n, beyond) where `beyond` counts samples ranked above it;
    value is None for an empty sample."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0, 0
    k = min(n, max(1, math.ceil(q * n - 1e-9)))
    return xs[k - 1], n, n - k


def median(values):
    return percentile(values, 0.5)[0]


def window_median(values, q, k):
    """Median over k contiguous, near-equal groups of `values` (in time
    order) of each group's q-percentile: a slow stretch moves at most the
    groups it falls in. Returns (value, n, groups)."""
    n = len(values)
    if n == 0:
        return None, 0, 0
    k = max(1, min(k, n))
    groups = [values[n * g // k:n * (g + 1) // k] for g in range(k)]
    return median([percentile(g, q)[0] for g in groups]), n, k


def stratified_pick(times, k):
    """A subset that spans a measured time distribution: sort the items by
    time (ties by name), cut them into k contiguous strata of near-equal
    count, and take each stratum's middle item (the lower one of an even
    stratum). Returns [(name, stratum_size)] from fastest to slowest, so
    sum(size * time) estimates the whole set's total."""
    names = sorted(times, key=lambda n: (times[n], n))
    n = len(names)
    if not 1 <= k <= n:
        raise ValueError(f"cannot cut {n} items into {k} strata")
    out = []
    for h in range(k):
        lo, hi = n * h // k, n * (h + 1) // k
        out.append((names[(lo + hi - 1) // 2], hi - lo))
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, slack=1000):
    """Per-layer self time: each span's duration minus the part of it that
    its direct children cover. Spans are (layer, depth, id, start, end); a
    span's parent is the innermost span with the same id, a smaller depth and
    an interval enclosing it (within `slack`, for millisecond-stamped spans).
    Returns {layer: (self_total, span_count)}."""
    by_id = {}
    for sp in spans:
        by_id.setdefault(sp[2], []).append(sp)
    out = {}
    for group in by_id.values():
        children = {}
        depths = sorted({sp[1] for sp in group})
        lower = {d: [j for j, sp in enumerate(group) if sp[1] < d] for d in depths}
        for i, (_, d, _, s, e) in enumerate(group):
            best = None
            for j in lower[d]:
                _, pd, _, ps, pe = group[j]
                if ps - slack <= s and e <= pe + slack:
                    if best is None or pd > group[best][1] or (
                            pd == group[best][1] and pe - ps < group[best][4] - group[best][3]):
                        best = j
            if best is not None:
                children.setdefault(best, []).append((s, e))
        for i, (layer, _, _, s, e) in enumerate(group):
            covered = union_length([(max(s, cs), min(e, ce)) for cs, ce in children.get(i, [])
                                    if min(e, ce) > max(s, cs)])
            tot, cnt = out.get(layer, (0, 0))
            out[layer] = (tot + (e - s) - covered, cnt + 1)
    return out


def failed_ratio(checks):
    """Failed or incorrect operations over attempted ones, across checks of
    the form {"attempted": a, "failed": f}."""
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    return (failed / attempted if attempted else 1.0), attempted, failed
