#!/usr/bin/env python3
"""graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload <query_mix|dicom_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run first calls the build step
(build.py), which compiles graft and the harness once and reuses that
build while the sources are unchanged. Each run gets a
fresh work directory under .bench_work, which it deletes at the end.
Traced runs write their spans to .bench_out.

The last line of stdout is one JSON object: correct, attempted, failed,
and the metrics BENCHMARK.json names (end_to_end with --trace 0,
per_layer with --trace 1). Lines before it, prefixed "perfbench", give
the run's environment, every end-to-end metric and every failed check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

from build import HERE, ROOT, build, fail, spark_jars

WORKLOADS = ("query_mix", "dicom_ingest")
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = spec()
    jars = spark_jars()
    classes, digest = build(jars)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "stage", "derby"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, GRAFT_STAGE_DIR=os.path.join(work, "stage"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby', 'derby.log')}",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--work", work, "--data", os.path.join(HERE, "data"),
           "--out", out, "--source", digest]
    log_path = os.path.join(out, f"jvm-{a.workload}-{a.seed}-t{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                               cwd=work, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {os.path.relpath(log_path, ROOT)})")
    shutil.rmtree(work, ignore_errors=True)

    metric, layer, result = {}, {}, None
    for line in r.stdout.splitlines():
        if not line.startswith("perfbench "):
            continue
        parts = line.split()
        if parts[1] == "metric":
            metric[parts[2]] = (float(parts[3]), parts[4])
        elif parts[1] == "layer":
            layer[parts[2]] = float(parts[3])
        elif parts[1] == "result":
            result = (parts[2] == "true", int(parts[3]), int(parts[4]))
        print(line)
    if r.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited {r.returncode} (log: {os.path.relpath(log_path, ROOT)})")
    correct, attempted, failed = result
    if a.trace == 0:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in metric]
        if missing:
            fail(f"harness did not report {missing}")
        values = {m["name"]: {"value": metric[m["name"]][0], "unit": m["unit"]}
                  for m in bench["end_to_end"]}
    else:
        # a layer the workload does not exercise reads 0
        values = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                  for m in bench["per_layer"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": values}))


if __name__ == "__main__":
    main()
