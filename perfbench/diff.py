#!/usr/bin/env python3
"""Compare benchmark result files, or check one file's steadiness.

A result file is the JSON-lines file `run.py --record FILE` appends to,
one line per run.

    python3 perfbench/diff.py A.jsonl            # spreads, drift, determinism
    python3 perfbench/diff.py A.jsonl B.jsonl    # what moved from A to B
    python3 perfbench/diff.py --self-test

For each workload x metric it prints the median and quartiles of each
file. With two files it marks an end-to-end metric `WORSE` when B's
median is worse than A's by more than the metric's bound in
BENCHMARK.json, and lists the per-layer metrics of traced runs whose
medians moved by more than both files' spreads. With one file it marks
end-to-end spreads of a third of the bound or more (`NOISY`), ops whose
fingerprint differs between runs, and ops whose time drifts across the
runs in file order. When a file holds traced and untraced runs of a
workload, the tracing overhead is the traced run_s minus the untraced.

A run during which the host took more than 3 % (stats.STEAL_LIMIT) of
the busy CPU time away (steal, from /proc/stat) is invalid: it is
counted and left out of every statistic, and a workload with fewer than
MIN_RUNS valid runs on a side gets no verdict.
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
MIN_RUNS = 3


def steal(r):
    d = r.get("detail", {})
    return max(d.get("steal_setup", 0.0), d.get("steal_run", 0.0))


def valid(rs):
    """(runs under the steal limit, number left out)."""
    ok = [r for r in rs if steal(r) <= stats.STEAL_LIMIT]
    return ok, len(rs) - len(ok)


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def series(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def fmt(q):
    return f"{q[1]:10.4f} [{q[0]:.4f}, {q[2]:.4f}]"


def steadiness(runs, spec):
    """Lines about one file: spreads, nondeterministic ops, drift."""
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = []
    for (workload, trace), all_rs in sorted(runs.items()):
        rs, dropped = valid(all_rs)
        failed = sum(r["failed"] for r in all_rs)
        out.append(f"{workload} trace={trace}: {len(all_rs)} runs, "
                   f"{sum(r['attempted'] for r in all_rs)} ops, {failed} failed, "
                   f"{dropped} invalid (steal > {stats.STEAL_LIMIT:.0%})")
        for name in sorted({m for r in rs for m in r["metrics"]}):
            xs = series(rs, name)
            sp = stats.spread(xs)
            mark = ""
            if name in bounds and name != "setup_s" and sp >= bounds[name] / 3:
                mark = "  NOISY"
            out.append(f"  {name:44s} {fmt(stats.quartiles(xs))}  spread {sp:6.1%}{mark}")
        fps = {}
        for r in rs:
            for op, vs in r.get("fingerprints", {}).items():
                fps.setdefault(op, set()).update(vs)
        for op, vs in sorted(fps.items()):
            if len(vs) > 1:
                out.append(f"  nondeterministic: {op} gave {len(vs)} fingerprints")
        per_op = {}
        for r in rs:
            for name, _, warm, s in r.get("ops", []):
                if not warm:
                    per_op.setdefault(name, []).append(s)
        for op, ys in sorted(per_op.items()):
            rel, flagged = stats.drift(ys, bounds["run_s"])
            if flagged:
                out.append(f"  drift: {op} {rel:+.1%} over its {len(ys)} timed rounds")
    for (workload, trace), rs in sorted(runs.items()):
        if trace == 1 and (workload, 0) in runs:
            on = stats.median(series(valid(rs)[0], "trace.run_s"))
            off = stats.median(series(valid(runs[(workload, 0)])[0], "run_s"))
            if not on or not off:
                continue
            out.append(f"{workload}: tracing overhead {on - off:+.3f} s on run_s "
                       f"({(on - off) / off:+.1%})")
    return out


def compare(a, b, spec):
    """Lines about what moved from file A to file B."""
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    out = []
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        (ra, da), (rb, db) = valid(a[key]), valid(b[key])
        fa, fb = (sum(r["failed"] for r in x[key]) for x in (a, b))
        out.append(f"{workload} trace={trace}: "
                   f"A {len(a[key])} runs ({da} invalid), "
                   f"{sum(r['attempted'] for r in a[key])} ops, {fa} failed; "
                   f"B {len(b[key])} runs ({db} invalid), "
                   f"{sum(r['attempted'] for r in b[key])} ops, {fb} failed")
        if min(len(ra), len(rb)) < MIN_RUNS:
            out.append(f"  no verdict: fewer than {MIN_RUNS} valid runs on a side")
            continue
        names = sorted({m for r in ra + rb for m in r["metrics"]})
        moved = []
        for name in names:
            xa, xb = series(ra, name), series(rb, name)
            if not xa or not xb:
                continue
            qa, qb = stats.quartiles(xa), stats.quartiles(xb)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            if name in e2e:
                m = e2e[name]
                worse = change if m["better"] == "lower" else -change
                verdict = ("WORSE" if worse > m["bound"] else
                           "better" if worse < -m["bound"] and fb <= fa else
                           "within bound")
                out.append(f"  {name:14s} A {fmt(qa)}  B {fmt(qb)}  {change:+7.1%}  "
                           f"{verdict} (bound {m['bound']:.0%})")
            elif abs(change) > max(stats.spread(xa), stats.spread(xb)):
                moved.append((abs(change), name, qa, qb, change))
        if moved:
            out.append("  layer metrics that moved beyond both spreads:")
            for _, name, qa, qb, change in sorted(moved, reverse=True):
                out.append(f"    {name:44s} A {fmt(qa)}  B {fmt(qb)}  {change:+7.1%}")
    return out


def self_test():
    """Checks of the helpers run.py and this tool rely on."""
    p = stats.percentile
    assert p([5, 1, 3, 2, 4], 50) == 3
    assert p(list(range(1, 101)), 90) == 90
    assert p(list(range(1, 101)), 99) == 99
    assert p([7], 99) == 7
    assert stats.median([1, 2, 3, 4]) == 2.5
    assert stats.tail(list(range(1, 101))) == (90, 90, 10)
    assert stats.tail(list(range(1, 201))) == (190, 95, 10)
    assert stats.tail(list(range(1, 1001))) == (990, 99, 10)
    assert stats.tail(list(range(1, 23))) == (20, 90, 2)  # too few beyond
    q = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert q == (2.75, 5.5, 8.25), q
    assert abs(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) - 1.0) < 1e-12
    assert stats.slope([1, 2, 3, 4]) == 1.0
    assert stats.slope([4, 4, 4]) == 0.0
    rel, flagged = stats.drift([3.04, 3.2, 3.5, 3.71], 0.10)
    assert flagged and 0.2 < rel < 0.25, rel
    assert not stats.drift([1.0, 1.01, 0.99, 1.0], 0.10)[1]
    assert stats.drift([1.0, 2.0], 0.10) == (0.0, False)
    bad = stats.fingerprint_failures(
        {"q1": ["aa", "aa"], "q2": ["bb", "cc"], "q3": ["dd"]},
        {"q1": "aa", "q2": "bb"})
    assert set(bad) == {"q2", "q3"}
    assert bad["q2"] == {"expected": "bb", "observed": ["cc"]}
    assert bad["q3"]["expected"] is None
    exp = {"q1": "aa", "q2": "bb"}
    ops = [{"name": "q1", "round": -1, "fp": "aa"},
           {"name": "q1", "round": 0, "fp": "aa"},
           {"name": "q2", "round": 0, "fp": "cc"},
           {"name": "q1", "round": 1, "error": "boom"}]
    att, fail, detail, _ = stats.op_failures(ops, exp, ["q1"])
    # round 1 lacks q2: attempted 4 + 1 not run; failed: wrong fp,
    # error, not run
    assert (att, fail) == (5, 3), (att, fail)
    assert detail["not_run"] == [("q2", 1)]
    assert stats.op_failures(ops[:2], exp, ["q1", "q2"])[:2] == (4, 2)
    r = {"detail": {"steal_setup": 0.01, "steal_run": 0.05}}
    assert valid([r, {"detail": {}}]) == ([{"detail": {}}], 1)
    print("self-test: all checks pass")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="*")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        self_test()
        return
    if len(args.files) not in (1, 2):
        ap.error("give one or two result files")
    with open(SPEC) as f:
        spec = json.load(f)
    runs = [load(p) for p in args.files]
    lines = steadiness(runs[0], spec) if len(runs) == 1 else compare(runs[0], runs[1], spec)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
