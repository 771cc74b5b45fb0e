#!/usr/bin/env python3
"""Benchmark of the engine's stream -> table -> query path.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (cached under .bench_build/ until a source
file changes). Each run then generates the workload's inputs from the
seed, runs the workload in one JVM for at least S seconds, checks every
output, and prints one JSON line: the end-to-end metrics (--trace 0) or
the per-layer metrics (--trace 1). It exits non-zero when an output is
wrong.
See perfbench/RESULTS.md for what each workload and metric means.
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

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.dont_write_bytecode = True  # write nothing into the source tree
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["ingest", "maintain", "queries"]
GEN_REPEATS = 3
# metric names and units: BENCHMARK.json is their one definition
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    METRICS = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in METRICS["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in METRICS["per_layer"]}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a run must end within 180 s, or 900 s when it also builds
DEADLINE_S, BUILD_DEADLINE_S = 170, 880


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    for rel in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the engine plus harness, built from source by sbt, and
    whether this run built it."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources (build.sbt, src/main/scala) next to perfbench/; nothing to build")
        sys.exit(2)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log("building engine and harness with sbt")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_DEADLINE_S - 120 - (time.time() - T_START))
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(1)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log("build failed:\n" + "\n".join(lines[-40:]))
        sys.exit(1)
    classpath = lines[-1].strip().split(os.pathsep)
    if not all(os.path.exists(p) for p in classpath):
        log("build printed no usable classpath:\n" + "\n".join(lines[-10:]))
        sys.exit(1)
    with open(cp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath, True


def dir_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, work):
    """Generate the inputs GEN_REPEATS times: the median time counts toward
    set-up, and every copy must be byte-identical."""
    times, digests = [], []
    for r in range(GEN_REPEATS):
        d = os.path.join(work, f"inputs{r}")
        t0 = time.perf_counter()
        gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        digests.append(dir_digest(d))
    if len(set(digests)) != 1:
        log("the generator gave different bytes for one seed")
        sys.exit(1)
    inputs = os.path.join(work, "inputs")
    os.rename(os.path.join(work, "inputs0"), inputs)
    for r in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(work, f"inputs{r}"))
    return inputs, statistics.median(times)


def run_jvm(classpath, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    # a fixed, pre-touched heap: no heap resizing or first-touch page
    # faults inside the measured units
    cmd = [java, *JVM_OPENS, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(classpath), "perfbench.Main", *args,
           "--work", work, "--out", out]
    spawned = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f"engine run failed ({code}):\n" + "".join(f.readlines()[-40:]))
        sys.exit(1)
    with open(out) as f:
        res = json.load(f)
    res["launch_s"] = res["ready_ms"] / 1e3 - spawned
    return res


def quantile(xs, q):
    if not xs:
        return 0.0
    v = sorted(xs)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    classpath, built = build()
    deadline = T_START + (BUILD_DEADLINE_S if built else DEADLINE_S)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s = generate(a.workload, a.seed, work)
        res = run_jvm(classpath, ["--workload", a.workload, "--seconds", str(a.seconds),
                                  "--trace", str(a.trace), "--inputs", inputs], work, deadline)
        t_check = time.time()
        try:
            check = checks.CHECKS[a.workload](res, inputs, work)
        except Exception as e:  # an output too broken to read is a wrong output
            check = checks.Check(problems=[f"outputs unreadable: {e!r}"[:500]],
                                 failed=int(res["attempted"]))
        t_check = time.time() - t_check
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"{a.workload} seed {a.seed}: gen {gen_s:.2f}s launch {res['launch_s']:.2f}s "
        f"fixture {res['fixture_s']:.2f}s warmup {res['warmup_s']:.2f}s "
        f"measured {res['measured_s']:.2f}s check {t_check:.2f}s "
        f"units {[(round(u['s'], 2), round(u['steal'], 3)) for u in res['units']]} "
        f"clean {res['clean']} ops {len(res['op_ms'])} total {time.time() - T_START:.1f}s")
    if check.failed and not check.problems:
        check.problems.append(f"{check.failed} operations failed")
    for problem in check.problems:
        log("check failed: " + problem)
    if a.trace:
        layers = {**{k: 0.0 for k in PER_LAYER}, **res["layers"], **check.layers}
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": gen_s + res["launch_s"] + res["fixture_s"] + res["warmup_s"],
            "pass_s": quantile(res["units_s"], 0.5),
            "op_p50_ms": quantile(res["op_ms"], 0.5),
            "op_p90_ms": quantile(res["op_ms"], 0.9),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    if res["clean"] < len(res["units_s"]):
        log(f"only {res['clean']} units had a steal share of at most {res['max_steal']}; "
            f"the figures use the {len(res['units_s'])} least-stolen units")
    correct = not check.problems
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": int(check.failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
