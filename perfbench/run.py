#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <extract-media|queries>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py) into $CARGO_TARGET_DIR (default
.bench_build), runs one workload in one JVM with Spark at local[nproc],
and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything it writes
stays under the build directory; the per-run scratch directory is
removed before it exits.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
REF = HERE / "ref" / "query_digests_sf0.01.json"
WORKLOADS = ("extract-media", "queries")
RUN_LIMIT_S = 170      # one run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # the first run in a checkout also compiles
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(classes, jars, work, main, args):
    """A JVM running `main` whose temp, Spark local and warehouse
    directories all sit under `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]), main] + args


def check_result(line):
    """The result line must be exactly the contract's JSON object."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool):
            raise ValueError(f"{k} is not a whole number")
    if res["attempted"] < 1:
        raise ValueError("attempted < 1")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name} is malformed")
    return res


def main():
    start = time.monotonic()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    fresh = not (build_dir / "classes.stamp").exists()
    classes, jars = build.build(build_dir)
    if not DATA.is_dir() or not REF.is_file():
        sys.exit(f"run: benchmark data missing ({DATA}, {REF})")

    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    logs = build_dir / "logs"
    logs.mkdir(exist_ok=True)
    cmd = jvm_cmd(classes, jars, work, "perfbench.PerfBench", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(DATA), "--work", str(work), "--ref", str(REF),
        "--traces", str(build_dir / "traces")])

    limit = (FIRST_RUN_LIMIT_S if fresh else RUN_LIMIT_S) - (time.monotonic() - start)
    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"run: timed out after {limit:.0f} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"run: benchmark JVM exited with {proc.returncode} (log: {log_path})")
    try:
        res = check_result(lines[-1])
    except ValueError as e:
        sys.exit(f"run: malformed result line: {e}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
