#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: taxi_ingest_dml, pipeline_iter (see README.md).

The first run in a checkout builds the engine and the measuring JVM's
code with sbt (offline); later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed, runs the
measuring JVM (set-up, warm-up, closed-loop measured cycles), checks
every result against DuckDB, and prints as its last stdout line one
JSON object with the keys correct, attempted, failed and metrics: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1. The line before it
holds the details (sample counts, percentiles, input record). All
scratch output stays under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("taxi_ingest_dml", "pipeline_iter")
SETUP_REPS = 3
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 700
JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    a for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            paths += [os.path.join(d, n) for n in sorted(names)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Build with sbt unless the last build used the same sources; returns
    the measuring JVM's classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found under {ROOT}: "
                             "run from the root of a repository checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # the same offline settings the repository's own test command uses
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-Dsbt.log.noformat=true", "--batch", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] sbt build failed ({proc.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(classpath, plan, run_dir, deadline):
    plan_file = os.path.join(run_dir, "plan.json")
    out_file = os.path.join(run_dir, "out.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                  "perfbench.Main", plan_file, out_file])
    with subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL) as proc:
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] measuring JVM timed out")
    if code != 0:
        raise SystemExit(f"[perfbench] measuring JVM failed ({code})")
    with open(out_file) as f:
        return json.load(f)


def untraced_cycle_s(results, workload, seed):
    """Median cycle time of the untraced runs of `workload` made earlier
    in this checkout: the run with the same seed if there is one, else
    all of them; None if there are none."""
    if not os.path.isdir(results):
        return None
    runs = {}
    for name in os.listdir(results):
        w, _, rest = name.rpartition("-")[0].rpartition("-")
        if name.endswith("-0.json") and w == workload:
            with open(os.path.join(results, name)) as f:
                runs[int(rest)] = json.load(f)["detail"]["cycles"]["median"]
    if seed in runs:
        return runs[seed]
    return statistics.median(runs.values()) if runs else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    classpath = build(started + BUILD_TIMEOUT_S)
    deadline = time.time() + RUN_TIMEOUT_S

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    t0 = time.perf_counter()
    record = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.perf_counter() - t0

    plan = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": len(os.sched_getaffinity(0)), "setup_reps": SETUP_REPS,
            "inputs": inputs, "work": os.path.join(run_dir, "work")}
    out = run_jvm(classpath, plan, run_dir, deadline)

    out["cores"] = plan["cores"]
    bad, extra_ops, msgs = checks.check(args.workload, inputs, out)
    for m in out["errors"] + msgs:
        log(f"FAILED {m}")
    attempted = out["attempted"] + extra_ops
    failed = min(attempted, out["failed"] + bad)

    results = os.path.join(WORK, "results")
    if args.trace:
        values, detail = metrics.per_layer(
            args.workload, out, untraced_cycle_s(results, args.workload,
                                                 args.seed))
    else:
        values, detail = metrics.end_to_end(out, gen_s, attempted, failed)
    detail["inputs"] = gen.summary(record)
    detail["inputs_sha256"] = hashlib.sha256(
        json.dumps(record, sort_keys=True).encode()).hexdigest()
    detail.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace,
                  cores=plan["cores"], wall_s=round(time.time() - started, 3))
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-{args.seed}-{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"detail": detail, "spans": out["spans"]}, f)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
