#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload <cli_compare|follow_cron>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source, runs one workload in a JVM of its own and
prints, as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics. Everything it writes stays under
.bench_build/ in the repository root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cli_compare", "follow_cron")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java(work, main_class, args):
    """The command that runs `main_class` of the benchmark build in a JVM
    whose scratch files all stay under `work`."""
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-faulted heap with a fixed layout: steadier timings, and
    # Spark's page size (derived from the heap) no longer moves between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    return cmd + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
        # the repository's own runs disable the UI too (build.sbt)
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.extraListeners=perfbench.JobProbe",
        "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamProbe",
        "-cp", build.classpath(), main_class,
    ] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    cmd = java(work, "perfbench.Harness", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--results", os.path.join(build.BUILD, "results"),
    ])
    log_path = os.path.join(build.BUILD, f"{a.workload}.log")
    with open(log_path, "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                           timeout=170)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")
    for l in lines[:-1]:
        print(l)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    if result["correct"]:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
