"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload cdc_quorum_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program once per source tree
(perfbench/build.py), then runs one workload in a fresh JVM on
local[min(4, nproc)] with a fixed heap, and prints one JSON object as the
last line of standard output. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics and writes spans as JSONL under
.bench_build/perfbench/traces/. --cores overrides the core count (the
reference figures in README.md use it). Exits non-zero, printing no
result, when the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_quorum_tail", "neardup_batch", "vector_serve")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    a = ap.parse_args()

    classes = build.ensure_built()
    base = os.path.join(build.ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.jsonl")

    tmp = os.path.join(work, "tmp")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(a.cores),
            "--work", work, "--trace-out", trace_out,
            "--launch-ms", repr(time.time() * 1000.0)]
    log_path = os.path.join(base, "work", f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=work)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: run failed (exit {proc.returncode}); log: {log_path}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
