#!/usr/bin/env python3
"""Fast self-test of the benchmark: tiny runs of every workload named
in BENCHMARK.json, untraced and traced.

    python3 perfbench/selftest.py [--sf-dir DIR] [--seconds 1]

With ``--sf-dir`` the registry workloads read that corpus (e.g. the
package's sf0.001 test corpus) instead of a generated one.  Asserts
that every metric of BENCHMARK.json is printed with its unit, that no
operation failed, that a traced run writes spans carrying
name/start/end/parent/op, and that the benchmark exits non-zero
without printing a result when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_run(spec: dict, workload: str, trace: int, extra: list[str], spans: str) -> None:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
            "--spans-out", spans, *extra]
    out = bench(args)
    assert out.returncode == 0, f"{workload} trace={trace} exit {out.returncode}:\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result, info = json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and info["failed_ratio"] == 0, (result, info)
    assert result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}, set(result["metrics"]) ^ {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)
    if trace:
        with open(spans) as f:
            recs = [json.loads(line) for line in f]
        assert recs and all({"name", "start", "end", "parent", "op"} <= set(r) for r in recs)
        assert any(r["op"].startswith("op-") for r in recs)
    print(f"ok  {workload:14s} trace={trace} ops={info['ops']}", flush=True)


def check_missing_package() -> None:
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench_out"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = bench(["--workload", "etl_roundtrip", "--seed", "1", "--seconds", "1"], cwd=bare)
        assert out.returncode != 0 and not out.stdout.strip(), (out.returncode, out.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  exits non-zero without the package", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", help="corpus for the registry workloads")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    extra = ["--sf-dir", os.path.abspath(args.sf_dir)] if args.sf_dir else []
    check_missing_package()
    for w in spec["workloads"]:
        for trace in (0, 1):
            spans = os.path.join(ROOT, ".perfbench_out", f"selftest_{w['name']}.jsonl")
            check_run(spec, w["name"], trace, extra, spans)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
