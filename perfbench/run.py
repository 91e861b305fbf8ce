#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, inputs generated from a
seed, a closed loop with one client thread calling into a local Spark
session with one task slot per core, output checks, and one JSON result
line on stdout.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 3 --trace 0

Run from the repository root. The first run builds the engine together
with the harness (sbt, offline) and caches the classpath under
.bench_build/perfbench; later runs start the JVM directly. Every run works
in its own scratch directory there and deletes it on exit. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones and keeps
the run's spans, jobs and phases in .bench_build/perfbench/traces/.
BENCHMARK.json lists every metric; the harness's own tests run with
`python3 -m unittest discover -s perfbench/tests`.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170
HEAP = "2g"
# The engine's own JVM settings (its build's javaOptions): module opens
# for Spark on JDK 17 and the whole-stage codegen cache size.
JVM_OPTS = [
    f"-Xmx{HEAP}",
    # no hsperfdata file under the system temp directory
    "-XX:-UsePerfData",
    "-Dspark.sql.codegen.cache.maxEntries=20000",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness when their sources changed; return the
    runtime classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath"), os.path.join(WORK, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1, deadline - time.time()))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, run_dir, deadline):
    """Run the harness JVM to completion (or kill it at the deadline)."""
    tmp = os.path.join(run_dir, "scratch", "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(WORK, "last-jvm.log"))
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("harness JVM timed out" if code is None else f"harness JVM exited {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}: run from a checkout of the repository")
        return 2

    os.makedirs(WORK, exist_ok=True)
    # a first run in a fresh checkout also builds: allow for that
    cp = build(start + 840)
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    try:
        inputs = os.path.join(run_dir, "inputs")
        t0 = time.time()
        gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        out = os.path.join(run_dir, "out")
        os.makedirs(out)
        run_jvm(cp, ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--inputs", inputs,
                     "--scratch", os.path.join(run_dir, "scratch"), "--out", out],
                run_dir, deadline)
        shutil.copy(os.path.join(out, "result.json"), os.path.join(WORK, "last-result.json"))
        with open(os.path.join(out, "result.json")) as f:
            rec = json.load(f)

        failed_checks = checks.compare(rec["checks"])
        n_checks = len(rec["checks"])
        if a.workload == "query_mix":
            bad, n = checks.oracle_failures(inputs, out)
            failed_checks += [f"oracle:{q}" for q in bad]
            n_checks += n
        for name in failed_checks:
            log(f"check failed: {name}")
        ops = rec["ops"]
        errors = [o for o in ops if o["error"] is not None]
        for o in errors:
            log(f"op failed: {o['kind']} {o['name']}: {o['error']}")

        m = metrics.end_to_end(rec, gen_s, a.workload) if a.trace == 0 \
            else metrics.per_layer(rec, a.workload)
        log(f"{a.workload} seed={a.seed}: {len(ops)} ops, {n_checks} checks, "
            f"{len(failed_checks)} failed; inputs {gen_s:.1f}s, session {rec['session_s']:.1f}s, "
            f"set-ups {[round(x, 1) for x in rec['setup_s']]}s, timed {rec['timed_s']:.1f}s, "
            f"checks {rec['checks_s']:.1f}s, total {time.time() - start:.1f}s")
        if a.trace == 1:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({k: rec[k] for k in ("ops", "spans", "jobs", "phases")}, f)
        result = {
            "correct": not failed_checks and n_checks > 0,
            "attempted": len(ops),
            "failed": len(errors),
            "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in m.items()},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
