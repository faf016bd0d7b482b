#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload tuktu_ops --seed 1 --seconds 10 --trace 0

Builds the harness (and with it graft) from the checkout's sources on first
use, generates the workload's inputs from the seed, runs the harness JVM
(warm-up, settling and timed passes), checks the outputs against DuckDB
oracles and prints a report. The last line of stdout is one JSON object:
with --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer metrics.

Exit codes: 0 ok, 2 not a graft checkout / build failed, 3 harness failed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

RUN_LIMIT_S = 170  # the whole run, set-up included, must end within 180 s
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    def __init__(self, code, msg):
        super().__init__(msg)
        self.code = code


# ------------------------------------------------------------------ build

def source_stamp(root):
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile graft and the harness with sbt; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError(2, "not run from the root of a graft checkout (no build.sbt / src)")
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError(2, f"build did not run: {e}")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-2000:])
        raise BenchError(2, "build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ run

def run_harness(cp, plan, work, deadline):
    """Runs the harness JVM to its end; returns its result.json."""
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", plan_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as errlog:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=errlog, stderr=errlog,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except BaseException:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except OSError:
                pass
            proc.wait()
            raise BenchError(3, "harness timed out or was interrupted")
    if proc.returncode != 0:
        raise BenchError(3, f"harness exit code {proc.returncode} (see {work}/jvm.log)")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-query", action="store_true",
                    help="add a query that always fails (the benchmark's own tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        cp = build(root, build_dir)
        # the run-time limit starts once the program is built
        deadline = time.monotonic() + RUN_LIMIT_S
        work = os.path.join(build_dir, "runs", args.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        wall_setup = time.time()
        w = workloads.WORKLOADS[args.workload]
        inputs = w.generate(os.path.join(work, "inputs"), args.seed)
        wall_inputs = time.time()
        plan = w.plan(work, inputs, args.seed, args.seconds, bool(args.trace))
        if args.fail_query:
            plan["tasks"].append({"name": "perfbench_failing_query", "kind": "suite"})
        result = run_harness(cp, plan, work, deadline)
        t0 = time.time()
        checks = oracle.check(work, plan, inputs)
        oracle_s = time.time() - t0
        with open(os.path.join(work, "warm.json")) as f:
            warm = json.load(f)
        setup = {"setup.inputs_s": wall_inputs - wall_setup,
                 "setup.jvm_session_s": warm["_session_ready_ms"] / 1000.0 - wall_inputs,
                 "setup.warmup_s": (warm["_warm_end_ms"] - warm["_session_ready_ms"]) / 1000.0,
                 "setup.oracle_s": oracle_s}
        # set-up: inputs, JVM and session start, warm-up and settling passes,
        # oracle check
        setup_s = sum(setup.values())
    except BenchError as e:
        log(f"error: {e}")
        return e.code
    report = metrics.compute(w, plan, inputs, result, checks, setup_s, bool(args.trace))
    report["end_to_end_extra"].update(setup)
    metrics.print_report(report, args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
