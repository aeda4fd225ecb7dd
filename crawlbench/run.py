#!/usr/bin/env python3
"""graft crawl benchmark.

Builds the engine (src/main/scala) and the harness (crawlbench/src) from
source with the Scala compiler that ships in Spark's jars, runs one workload
in a local[4] JVM, and prints one JSON result line as the last line of
standard output:

    python3 crawlbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones and writes the run's spans to crawlbench/.spans/.
--smoke shrinks every input (used by test_crawlbench.py). Exits non-zero on a
failed build, run or correctness check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
WORKLOADS = ("crawl_steady", "deep_queue", "frontier_round")
CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170.0
# A crawl round is bound by Spark's driver-side planning code. At the JIT's
# default thresholds it took six rounds to compile and the early rounds varied
# with it from run to run; at a tenth of them crawl rounds are at their steady
# time from round 3 on. frontier_round's hot code is per-row loops, which its
# warm-up round compiles at the default thresholds.
CRAWL_JIT = ["-XX:CompileThresholdScaling=0.1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    """Jars of $SPARK_HOME, else of the first Spark distribution on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = sorted(Path(home, "jars").glob("*.jar"))
        if jars:
            return [str(j) for j in jars]
    fail("no Spark jars: set SPARK_HOME or put Spark's bin/ on PATH")


def build():
    """Compile engine + harness into .build/classes unless the sources are unchanged."""
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found at {engine}")
    srcs = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    classes, stamp = BUILD / "classes", BUILD / "stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(spark_jars())
    r = subprocess.run([java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
                        "-d", str(classes), f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    stamp.write_text(digest.hexdigest())
    return classes


def run_jvm(classes, args, cores, cpus, deadline, log, jit):
    """Run graftbench.Main; return its parsed GRAFTBENCH_RESULT object."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["taskset", "-c", ",".join(map(str, cpus))] if shutil.which("taskset") else []
    cmd += [java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    cmd += ["-XX:-UsePerfData"] + jit + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={cores}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([str(classes)] + spark_jars()),
            "graftbench.Main", "--cores", str(cores), "--work", str(WORK)] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir inside WORK
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S:.0f} s; log in {log}", 1)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"JVM exited with {p.returncode} and no result; log in {log}", 1)
    return json.loads(lines[-1].split(" ", 1)[1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    start = time.monotonic()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_path.read_text())
    classes = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    log = WORK / "jvm.log"
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--smoke"] if a.smoke else [])
    spans = HERE / ".spans" / f"{a.workload}-seed{a.seed}.jsonl"
    jit = [] if a.workload == "frontier_round" else CRAWL_JIT
    res = run_jvm(classes, args + ["--spans", str(spans)], CORES, cpus, deadline, log, jit)
    metrics = res["metrics"]

    if a.trace and a.workload == "frontier_round":
        # single-core baseline in a child JVM pinned to one CPU
        one = run_jvm(classes, args + ["--t1"], 1, cpus[:1], deadline, log, jit)
        res["correct"] = res["correct"] and one["correct"]
        t1, t4 = one["metrics"]["round_s"]["value"], metrics["frontier.round_s_4core"]["value"]
        metrics["frontier.round_s_1core"] = {"value": t1, "unit": "s"}
        metrics["frontier.scaling_efficiency_1to4"] = {"value": t1 / t4 / CORES, "unit": "ratio"}

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out, correct = {}, res["correct"]
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None and a.trace:
            # a layer this workload does not exercise
            got = {"value": 0.0, "unit": m["unit"]}
        if got is None or got["unit"] != m["unit"] or got["value"] is None \
                or not math.isfinite(got["value"]):
            print(f"crawlbench: metric {m['name']} missing or malformed: {got}", file=sys.stderr)
            correct = False
            continue
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    (WORK / "result.json").write_text(json.dumps(res, indent=1))
    for d in [*WORK.glob("state-*"), *WORK.glob("sink-*"), WORK / "spark-local", WORK / "tmp"]:
        shutil.rmtree(d, ignore_errors=True)
    for e in res.get("errors", []):
        print(f"crawlbench: {e}", file=sys.stderr)
    print(f"crawlbench: {a.workload} seed={a.seed} trace={a.trace} "
          f"{time.monotonic() - start:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
