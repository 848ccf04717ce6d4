#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload, check and report.

    python3 perfbench/run.py --workload semantic_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) together with the harness (`perfbench/src`) into
`.bench_build/classes-<hash>`; later runs reuse it. The input tables are
`perfbench/data/sf0.01`; the seed permutes the order of the ops. Each
run gets its own scratch directory for `java.io.tmpdir`,
`spark.local.dir` and the warehouse, and deletes it at the end. The last
line of standard output is one JSON object: `correct`, `attempted`,
`failed`, `metrics`. Everything else goes to standard error.

Extra flags: `--record FILE` appends the run (metrics plus per-op detail)
to a JSON-lines file that `diff.py` reads; `--write-fingerprints` stores
the observed fingerprints as the expected ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

# The input tables: a verbatim copy of the project's sf0.01 test data
# (15 000 orders, 60 000 line items, 10 000 events).
DATA = os.path.join(HERE, "data", "sf0.01")
# Build output and per-run scratch, relative to the checkout.
BUILD_DIR = ".bench_build"
# Untimed ops before the timed rounds. None: a whole round of the timed
# ops. The first stateful stream of a JVM pays about 10 s of engine start
# whichever it is, the next a few seconds more; two cheap streams take
# that outside the timed rounds, whose op order varies with the seed.
WARMUP = {"semantic_queries": None,
          "stream_ingest": ["stream_windowed_counts", "stream_sessions_multibatch"]}
# A run must end within this many seconds once the program is built.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        for line in f:
            if line.strip().startswith("unmanagedBase"):
                return line.split('file("', 1)[1].split('"', 1)[0]
    raise SystemExit("no Spark jars: set SPARK_HOME")


def build(root, out_base, jars):
    """Compile the program and the harness once per source hash."""
    main_src = os.path.join(root, "src", "main", "scala")
    srcs = []
    for d in (main_src, os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            srcs += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    srcs.sort()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    dest = os.path.join(out_base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(dest):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", tmp, "@" + args],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("compilation failed")
    os.remove(args)
    try:
        os.rename(tmp, dest)
    except OSError:  # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s")
    return dest


def launch(classes, jars, scratch, args, ops, warmup, deadline):
    """Run the harness JVM; returns its raw record, or None on failure."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(scratch, "record.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={dirs['tmp']}",
            f"-Dspark.local.dir={dirs['local']}",
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Harness", "--workload", args.workload,
            "--data", DATA, "--out", out, "--seconds", str(args.seconds),
            "--seed", str(args.seed), "--trace", str(args.trace),
            "--deadline-s", str(int(deadline - time.time()) - 10),
            "--ops", ",".join(ops), "--warmup", ",".join(warmup)]
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=scratch)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log_path, errors="replace") as lf:
            tail = lf.readlines()[-40:]
        log(f"harness exited with {code}; last lines of its log:\n" + "".join(tail))
    if not os.path.exists(out):
        return None
    with open(out) as f:
        return json.load(f)


def end_to_end(raw):
    secs = [o["s"] for o in raw["ops"] if not o["warmup"]]
    tail, tail_p, beyond = stats.tail(secs)
    m = {"setup_s": raw["setup_s"], "run_s": stats.median(raw["round_s"]),
         "op_p50_s": stats.median(secs), "op_tail_s": tail,
         "live_heap_mb": raw["live_heap_mb"]}
    return m, {"timed_ops": len(secs), "op_tail_percentile": tail_p,
               "ops_beyond_tail": beyond,
               "round_s": [round(x, 3) for x in raw["round_s"]],
               "build_s": [round(b["wall_s"], 3) for b in raw["builds"]],
               "steal_setup": round(raw["steal_setup"], 4),
               "steal_run": round(raw["steal_run"], 4)}


def main():
    # turn SIGTERM into SystemExit so the cleanup in `finally` runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="perfbench runner")
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    ap.add_argument("--write-fingerprints", action="store_true")
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the root of a checkout: src/main/scala not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(FINGERPRINTS) as f:
        fingerprints = json.load(f)
    expected = fingerprints[args.workload]
    ops = sorted(expected)
    warmup = ops if WARMUP[args.workload] is None else WARMUP[args.workload]
    out_base = os.path.abspath(BUILD_DIR)
    os.makedirs(out_base, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, out_base, jars)
    deadline = time.time() + RUN_LIMIT_S
    scratch = os.path.join(out_base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(scratch)
    assert not os.listdir(scratch), f"scratch dir {scratch} is not empty"
    try:
        raw = launch(classes, jars, scratch, args, ops, warmup, deadline)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if raw is None:
        raise SystemExit("harness produced no record")

    attempted, failed, failures, observed = stats.op_failures(raw["ops"], expected, warmup)
    if args.write_fingerprints:
        consistent = {k: v[0] for k, v in observed.items()
                      if k in expected and len(set(v)) == 1}
        fingerprints[args.workload] = dict(sorted({**expected, **consistent}.items()))
        with open(FINGERPRINTS, "w") as f:
            json.dump(fingerprints, f, indent=1, sort_keys=True)
            f.write("\n")
        attempted, failed, failures, _ = stats.op_failures(
            raw["ops"], fingerprints[args.workload], warmup)
    if raw.get("fatal"):
        failed = max(failed, 1)
        failures["fatal"] = raw["fatal"]

    e2e, e2e_detail = end_to_end(raw)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    values = layers.layers(raw, e2e["run_s"]) if args.trace else e2e
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    correct = failed == 0 and not raw.get("fatal")
    log(f"{args.workload} seed={args.seed} trace={args.trace}: "
        + ", ".join(f"{k}={v:.4f}" for k, v in e2e.items())
        + f", {e2e_detail}, total {time.time() - t_start:.1f} s")
    steal = max(raw["steal_setup"], raw["steal_run"])
    if steal > stats.STEAL_LIMIT:
        log(f"the host took {steal:.1%} of the busy CPU time (steal): this run's "
            f"times are not comparable with other runs (diff.py leaves it out)")
    if not correct:
        log("failures:", json.dumps(failures)[:2000])
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps({
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics, "end_to_end": e2e, "detail": e2e_detail,
                "failures": failures,
                "ops": [[o["name"], o["round"], o["warmup"], round(o["s"], 4)]
                        for o in raw["ops"]],
                "builds": [{k: b[k] for k in ("label", "wall_s", "self_s")}
                           for b in raw["builds"]],
                "fingerprints": {k: sorted(set(v)) for k, v in observed.items()}}) + "\n")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
