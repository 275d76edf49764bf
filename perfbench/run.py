#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs one
benchmark JVM (perfbench/scala/perfbench/Main.scala), checks the outputs
(perfbench/check.py) and prints one JSON object as the last line of
stdout. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build   # noqa: E402
import check   # noqa: E402
import gen     # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return t[7], sum(t)


def run_jvm(jar, workload, seconds, trace, inputs, work):
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run of a workload on a build dumps the
    # classes it loaded into an archive, later runs map it instead of
    # loading the Spark classes one by one from the jars (about 6 s less
    # JVM start and first session build per run on 4 cores).
    stem = os.path.basename(jar)[:-len(".jar")]
    jsa = f"{build.BUILD}/cds-{stem}-{workload}.jsa"
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}.tmp")
    # a fixed, pre-touched heap keeps the resident set a property of the
    # program, not of how far the collector happened to grow or touch the heap
    cmd = ["java", cds, "-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}/derby", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{jar}:{build.SPARK_JARS}/*", "perfbench.Main",
            "--workload", workload, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--inputs", inputs, "--work", work]
    # scratch space stays inside the checkout: these would override spark.local.dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    env["TMPDIR"] = tmp
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    if os.path.exists(f"{jsa}.tmp"):
        os.replace(f"{jsa}.tmp", jsa)
    with open(f"{work}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jar = build.build()
    work = f"{build.BUILD}/runs/{a.workload}-{a.seed}-{os.getpid()}"
    inputs = f"{work}/inputs"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(inputs)
    try:
        gen.generate(a.workload, a.seed, inputs, a.seconds)
        c0 = cpu_times()
        res = run_jvm(jar, a.workload, a.seconds, a.trace, inputs, work)
        c1 = cpu_times()
        if c0 and c1 and c1[1] > c0[1]:
            steal = (c1[0] - c0[0]) / (c1[1] - c0[1])
            sys.stderr.write(f"cpu steal {steal:.1%}\n")
        sys.stderr.write("set-up, warm-up, timed, dump seconds: "
                         + " ".join(f"{x:.1f}" for x in res["phase_s"]) + "\n")
        for k in ("setup_s", "warmup_s"):
            sys.stderr.write(f"{k}: " + " ".join(f"{x:.2f}" for x in res[k]) + "\n")
        for k, v in res["samples"].items():
            sys.stderr.write(f"{k}: " + " ".join(f"{x:.2f}" for x in v) + "\n")
        for e in res["errors"]:
            sys.stderr.write(f"failed {e}\n")
        problems = check.check(a.workload, inputs, f"{work}/out", res, build.BUILD, a.seed)
        ms = metrics.trace_metrics(res) if a.trace else metrics.e2e_metrics(res)
        if a.trace and ms["trace.self_sum_err"]["value"] > metrics.SELF_TOLERANCE:
            problems.append("layer self times do not sum to op wall time")
        if problems:
            for p in problems:
                sys.stderr.write(f"check failed: {p}\n")
            print(json.dumps({"correct": False, "attempted": max(1, res["attempted"]),
                              "failed": res["attempted"], "metrics": {}}))
            return 1
        print(json.dumps({"correct": True, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": ms}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
