"""Pure functions behind the benchmark's numbers; test_metrics.py covers them."""
import math
import statistics

TAIL_MIN_BEYOND = 10


def tail_percentile(values):
    """The highest whole percentile with at least ten samples beyond it.

    Percentiles are nearest-rank: percentile p of n sorted samples is the
    ceil(p * n / 100)-th smallest. Returns (p, value, n), or None when there
    are too few samples for any percentile to have ten beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n
    return None


def count_failures(samples, checked, check_failures):
    """Timed executions that failed.

    `samples` are the timed executions ({"query", "rows", "error"?}),
    `checked` maps each query to its checked-pass row count, and
    `check_failures` maps a query that failed the output check to the
    reason. An execution fails when it threw, when its row count differs
    from the checked pass, or when its query failed the output check.
    Returns (failed count, {query: first reason}).
    """
    failed = 0
    reasons = {}
    for s in samples:
        q = s["query"]
        why = None
        if s.get("error"):
            why = s["error"]
        elif q in check_failures:
            why = "output check: " + check_failures[q]
        elif q not in checked or s["rows"] != checked[q]:
            why = f"row count {s['rows']} != checked pass {checked.get(q)}"
        if why is not None:
            failed += 1
            reasons.setdefault(q, why)
    return failed, reasons


def order_dependent(fingerprints):
    """Queries whose plan fingerprint in their first recorded pass differs
    from their last; `fingerprints` maps query -> {pass: fingerprint}."""
    return sorted(q for q, by in fingerprints.items()
                  if by[min(by)] != by[max(by)])


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worsening(before, after, better):
    """How much worse the median of `after` is than that of `before`, as a
    share of the `before` median (negative when it improved)."""
    a, b = statistics.median(before), statistics.median(after)
    change = (b - a) / a
    return change if better == "lower" else -change


def aa_verdict(runs_a, runs_b, specs):
    """Compare two sets of runs of the same code against the bounds.

    `runs_a`/`runs_b` are lists of {metric: value}; `specs` are the
    BENCHMARK.json end-to-end entries. A metric passes when the spread of
    each set is within its bound and the second median is not worse than
    the first by more than the bound. Returns
    [(metric, spread_a, spread_b, worsening, ok)].
    """
    rows = []
    for spec in specs:
        name, bound = spec["name"], spec["bound"]
        a = [r[name] for r in runs_a]
        b = [r[name] for r in runs_b]
        sa, sb = spread(a), spread(b)
        w = worsening(a, b, spec["better"])
        ok = w <= bound and sa <= bound and sb <= bound
        rows.append((name, sa, sb, w, ok))
    return rows
