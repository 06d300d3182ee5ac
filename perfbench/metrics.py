"""Pure functions behind the benchmark's metrics (no Spark, no I/O).

``run.py`` feeds them the harness's raw record; ``test_metrics.py`` tests
them. Times are milliseconds on the epoch clock unless a name says
otherwise.
"""
import math
import statistics

LAYERS = ["ml", "stats", "ensemble", "text", "sim", "multimodal", "ops",
          "pipelines", "io"]
_PREFIX_LAYER = [("mm", "multimodal"), ("pipe_", "pipelines"),
                 ("p_ep", "pipelines"), ("l", "ml"), ("m", "ml"),
                 ("t", "stats"), ("e", "ensemble"), ("x", "text"),
                 ("v", "sim")]
_OPS_LETTERS = set("ajwsugpoq")


def layer_of(op):
    """The repo package an op exercises, by its catalog-name prefix."""
    if op.startswith("io:"):
        return "io"
    if not op.startswith("q_"):
        raise ValueError(f"op {op!r} names no catalog entry")
    rest = op[2:]
    for prefix, layer in _PREFIX_LAYER:
        if rest.startswith(prefix):
            return layer
    if rest[:1] in _OPS_LETTERS:
        return "ops"
    raise ValueError(f"op {op!r} has no layer")


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, q):
    """How many of ``n`` samples lie strictly above the nearest-rank q-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def min_samples(q, tail=10):
    """Fewest samples for which at least ``tail`` lie beyond percentile q."""
    n = 1
    while beyond(n, q) < tail:
        n += 1
    return n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` (pairs of start, end), clipped
    to [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).
    ``spans`` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def driver_ms(pass_start, pass_end, jobs):
    """Pass wall minus the union of its job-active intervals."""
    active = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                          pass_start, pass_end)
    return (pass_end - pass_start) - active


def iqr_spread(values):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives
    them; the spread is the benchmark's steadiness measure."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, ((q3 - q1) / med if med else float("inf"))


def verdict(parent, change, bound, better="lower"):
    """Noise-aware comparison of two sets of runs of one metric.

    ``parent`` and ``change`` are equally long lists of run values, paired
    by index. Returns (verdict, detail). The rules:
      * unresolved: either side's spread (IQR over median) exceeds the
        bound, unless every change run beats every parent run;
      * worse: the change's median is worse than the parent's by more than
        ``bound`` (a share of the parent median);
      * improved: the change wins at least 9 of 10 pairs (ties count for
        neither side) and the medians differ by more than the parent's
        interquartile range;
      * unchanged: otherwise.
    """
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("verdict needs two equally long sets of >= 2 runs")
    sign = 1.0 if better == "lower" else -1.0
    pq1, pmed, pq3, pspread = iqr_spread(parent)
    _, cmed, _, cspread = iqr_spread(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    detail = {"parent_median": pmed, "change_median": cmed, "wins": wins,
              "losses": losses, "pairs": len(parent), "parent_spread": pspread,
              "change_spread": cspread}
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if max(pspread, cspread) > bound and not all_better:
        return "unresolved", detail
    if sign * (cmed - pmed) > bound * abs(pmed):
        return "worse", detail
    if wins * 10 >= 9 * len(parent) and sign * (pmed - cmed) > (pq3 - pq1):
        return "improved", detail
    return "unchanged", detail
