#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from src/main/scala plus the harness in
perfbench/harness (scalac from the Spark distribution, into
.bench_build), generates the workload's inputs from the seed, runs the
harness in one JVM on local[4], checks every output, and prints the
metrics: one human-readable line per metric, then as the last line one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("batch_course", "ann_mixed", "stream_ingest")


def spark_home():
    """$SPARK_HOME, else the pip-installed pyspark, which ships the same
    jars/ layout."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    import pyspark
    return os.path.dirname(pyspark.__file__)


SPARK_HOME = spark_home()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
DEADLINE_S = 170
GEN_REPEATS = 3
# No -XX:+UsePerfData: its per-JVM file goes to the system temp dir,
# outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the engine and the harness once per source state."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail(f"no engine sources under {ROOT}/src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256(" ".join(JVM_FLAGS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    jar = os.path.join(BUILD, "engine.jar")
    jsa = os.path.join(BUILD, "engine.jsa")
    stamp = os.path.join(BUILD, "engine.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(SPARK_HOME, "jars", "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", jar, "-classpath", jars, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    # A class data sharing archive of a session start-up's classes cuts
    # each run's session start from about 7 s to about 2.5 s.
    warm = os.path.join(BUILD, "cds-warmup")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(os.path.join(warm, "tmp"))
    r = subprocess.run(jvm_cmd(warm, [f"-XX:ArchiveClassesAtExit={jsa}"]) +
                       ["graft.perfbench.CdsWarmup", warm],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=jvm_env(warm))
    shutil.rmtree(warm, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        print(r.stdout[-4000:], file=sys.stderr)
        fail("class data sharing archive dump failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def jvm_env(work):
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in
    # the run's work dir.
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def jvm_cmd(work, flags=()):
    jsa = os.path.join(BUILD, "engine.jsa")
    cmd = ["java", *JVM_FLAGS, *(flags or [f"-XX:SharedArchiveFile={jsa}"])]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.scratch.dir={work}/scratch"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.path.join(BUILD, "engine.jar") + os.pathsep +
                  os.path.join(SPARK_HOME, "jars", "*")]


def run_jvm(workload, inp, work, seconds, trace, budget_s):
    out = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    for d in ("scratch", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = jvm_cmd(work) + ["graft.perfbench.Harness", workload, inp, work, str(seconds),
                           "1" if trace else "0", out]
    env = jvm_env(work)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    try:
        # Set-up part 1, repeated: input generation. The repeats must
        # agree byte for byte (the generator's determinism check).
        gen_s, manifests = [], []
        for _ in range(GEN_REPEATS):
            shutil.rmtree(inp, ignore_errors=True)
            t0 = time.time()
            manifests.append(gen.generate(a.workload, a.seed, inp))
            gen_s.append(time.time() - t0)
        deterministic = len({m["sha256"] for m in manifests}) == 1
        # Set-up part 2, once: JVM, Spark session, staging or index
        # build, warm-up. The harness stamps its first timed op.
        t_launch = time.time()
        raw = run_jvm(a.workload, inp, work, a.seconds, a.trace,
                      DEADLINE_S - (t_launch - t_start))
        report = layers.report(raw, a.workload, inp, work,
                               gen_s=sorted(gen_s)[len(gen_s) // 2], gen_repeats=GEN_REPEATS,
                               jvm_setup_s=raw["setup"]["first_op"] / 1000.0 - t_launch)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not deterministic:
        report["failures"].append(("generator", "repeated generation differed"))
    m = manifests[0]
    print(f"# workload {a.workload} seed {a.seed} inputs {m['bytes']} bytes "
          f"sha256 {m['sha256'][:16]}")
    for rel, info in sorted(m["files"].items()):
        print(f"#   input {rel}: {info['rows']} rows, {info['bytes']} bytes")
    for name, why in report["failures"]:
        print(f"# FAIL {name}: {why}")
    metrics = report["trace" if a.trace else "e2e"]
    for name, (value, unit, note) in metrics.items():
        print(f"{name} {value:.6g} {unit}{'  ' + note if note else ''}")
    attempted = report["attempted"]
    failed = min(attempted, len(report["failures"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
