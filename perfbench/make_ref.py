#!/usr/bin/env python3
"""Regenerate perfbench/ref/query_digests_sf0.01.json.

    python3 perfbench/make_ref.py

Dumps every SparkEntry.queries result over perfbench/data/sf0.01 with
graft.Verify, grades the dump against the DuckDB oracle with
tools/parity.py (needs python3 with duckdb and pandas), and only when
every query is graded OK writes the per-query digests the `queries`
workload checks against.
"""
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def main():
    build_dir = (run.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    classes, jars = build.build(build_dir)
    work = build_dir / "work" / "make_ref"
    shutil.rmtree(work, ignore_errors=True)
    dump = work / "verify_out"
    subprocess.run(run.jvm_cmd(classes, jars, work, "graft.Verify", [str(run.DATA), str(dump)]),
                   cwd=work.parent, check=True)
    graded = subprocess.run([sys.executable, str(run.ROOT / "tools" / "parity.py"), str(run.DATA),
                             str(dump)], capture_output=True, text=True, check=True).stdout
    print(graded)
    oks = sum(1 for l in graded.splitlines() if " OK rows=" in l)
    dirs = sum(1 for d in dump.iterdir() if d.is_dir())
    if "FAILURES: 0" not in graded or oks != dirs:
        sys.exit(f"make_ref: parity graded {oks}/{dirs} OK; reference not written")
    subprocess.run(run.jvm_cmd(classes, jars, work, "perfbench.PerfBench",
                               ["--mode", "digest-ref", "--out", str(dump), "--ref", str(run.REF)]),
                   cwd=work.parent, check=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
