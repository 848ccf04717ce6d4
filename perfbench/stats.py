"""Statistics shared by the benchmark runner and the diff tool.

Every helper here is pure and has a self-check in `diff.py --self-test`.
"""
import statistics

# Percentiles op_tail_s may report, highest first.
TAIL_PERCENTILES = (99, 95, 90)
# Share of busy CPU time the host may take away (steal, /proc/stat)
# during a run before its times are not comparable with other runs.
STEAL_LIMIT = 0.03


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p % of
    the sample at or below it."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail(xs):
    """(value, percentile, samples beyond it) for the highest percentile
    in TAIL_PERCENTILES with at least ten samples strictly beyond it.
    When none has ten beyond it (fewer than about 100 samples for p90),
    p90 is reported with however many lie beyond it."""
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        v = percentile(s, p)
        beyond = sum(1 for x in s if x > v)
        if beyond >= 10:
            return v, p, beyond
    v = percentile(s, 90)
    return v, 90, sum(1 for x in s if x > v)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def slope(ys):
    """Least-squares slope of ys against 0, 1, 2, ..."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


def drift(series, bound):
    """Drift of a per-round series: (fitted change from the first to the
    last round as a share of the median, flagged). Flagged when that
    change exceeds `bound`; series shorter than three rounds never flag."""
    if len(series) < 3:
        return 0.0, False
    m = median(series)
    rel = slope(series) * (len(series) - 1) / m if m else 0.0
    return rel, abs(rel) > bound


def op_failures(ops, expected, warmup):
    """Checks one run's ops against the workload's expected fingerprints.

    `ops` are the harness's op records (name, round, fp or error; round
    -1 is warm-up), `expected` maps every op of a timed round to its
    fingerprint, `warmup` names the warm-up ops. An op that was expected
    but did not run counts as attempted and failed, so dropping an op
    cannot make a run faster and still correct. Returns (attempted,
    failed, detail, observed fingerprints by name)."""
    observed = {}
    for o in ops:
        if o.get("fp"):
            observed.setdefault(o["name"], []).append(o["fp"])
    bad = fingerprint_failures(observed, expected)
    errors = [(o["name"], o["error"]) for o in ops if o.get("error")]
    ran = {(o["name"], o["round"]) for o in ops}
    rounds = sorted({o["round"] for o in ops if o["round"] >= 0}) or [0]
    missing = [(n, r) for r in rounds for n in sorted(expected) if (n, r) not in ran]
    missing += [(n, -1) for n in warmup if (n, -1) not in ran]
    wrong = sum(1 for o in ops if o.get("fp") and o["fp"] != expected.get(o["name"]))
    detail = {"errors": errors, "fingerprints": bad, "not_run": missing}
    return len(ops) + len(missing), len(errors) + len(missing) + wrong, detail, observed


def fingerprint_failures(observed, expected):
    """Names whose observed fingerprint differs from the expected one or
    has no expected entry. `observed` maps name -> list of fingerprints."""
    bad = {}
    for name, fps in observed.items():
        want = expected.get(name)
        wrong = [fp for fp in fps if fp != want]
        if wrong:
            bad[name] = {"expected": want, "observed": sorted(set(wrong))}
    return bad
