"""Pure statistics of the benchmark: percentiles with sample counts,
the layer-sum check and the A/B diff rule.

Nothing here touches files or processes, so tests/test_benchstats.py
can pin every rule directly.
"""
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, with the sample count: (value, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    pos = (n - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# Layers of a query's wall time in the traced ledger, each measured on
# its own: the builder call on the benchmark's clock, the Catalyst
# phases by Spark's planning tracker, execution from the SQL execution
# events. Together they must account for the wall time the benchmark
# measured from outside.
LAYER_PARTS = ("build_ms", "analysis_ms", "optimization_ms", "planning_ms", "exec_ms")


def unaccounted_ms(row):
    """Wall time no layer accounts for (negative when they over-count):
    the writer's own dispatch around the SQL execution."""
    return row["wall_ms"] - sum(row[k] for k in LAYER_PARTS)


def layer_gap(row):
    """unaccounted_ms as a share of the wall time."""
    return unaccounted_ms(row) / row["wall_ms"] if row["wall_ms"] else 0.0


def layer_sum_check(rows, tolerance=0.05, floor_ms=3.0):
    """Rows whose layers miss the wall time by more than `tolerance`
    of it. Spark stamps phase and execution times in whole
    milliseconds, so a miss within `floor_ms` is clock resolution, not
    a missing layer."""
    return [r for r in rows if r.get("ok", True)
            and abs(unaccounted_ms(r)) > max(tolerance * r["wall_ms"], floor_ms)]


def per_query_medians(rows, key):
    """{query: median of `key` over the rows of that query}."""
    by = {}
    for r in rows:
        by.setdefault(r["query"], []).append(r[key])
    return {q: median(v) for q, v in by.items()}


def overhead(traced, untraced):
    """Tracing overhead (ms, share): summed per-query median wall time
    of the traced samples minus that of the untraced ones. Both must
    cover the same queries."""
    t = per_query_medians(traced, "wall_ms")
    u = per_query_medians(untraced, "wall_ms")
    if not t or set(t) != set(u):
        raise ValueError(f"tracing overhead needs traced and untraced samples of the same "
                         f"queries; traced {sorted(t)}, untraced {sorted(u)}")
    over = sum(t.values()) - sum(u.values())
    return over, over / sum(u.values())


def pair_wins(base, change, better):
    """Pairs (i-th run of each side) the change wins, loses and ties,
    where `better` is "lower" or "higher"."""
    wins = losses = ties = 0
    for a, b in zip(base, change):
        if a == b:
            ties += 1
        elif (b < a) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties


def verdict(base, change, better, bound):
    """The A/B rule for one metric on one workload.

    - "gain": the change wins at least 9/10 of the pairs and the
      medians differ by more than the base's own inter-quartile
      distance.
    - "regression": the change's median is worse than the base's by
      more than `bound` (a share of the base median).
    - "unresolved": the base's own spread is wider than `bound`, and
      not every change run beats every base run.
    - "same" otherwise.
    """
    mb, mc = median(base), median(change)
    q1, _, q3 = quartiles(base)
    wins, losses, ties = pair_wins(base, change, better)
    pairs = wins + losses + ties
    worse = (mc - mb) if better == "lower" else (mb - mc)
    if pairs and wins >= 0.9 * pairs and -worse > (q3 - q1):
        return "gain"
    if mb and worse > bound * abs(mb):
        return "regression"
    all_better = all((c < b) if better == "lower" else (c > b)
                     for c in change for b in base)
    if mb and (q3 - q1) / abs(mb) > bound and not all_better:
        return "unresolved"
    return "same"
