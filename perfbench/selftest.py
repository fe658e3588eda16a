"""Self-test of the benchmark's output format.

    python3 perfbench/selftest.py

Runs every workload at a tiny size, untraced and traced, and parses stdout
exactly as BENCHMARK.json implies: one line, one JSON
object with exactly the keys correct/attempted/failed/metrics, and exactly
the end-to-end (untraced) or per-layer (traced) metric names with their
units. It also checks that the benchmark exits non-zero without printing a
result when the program under test is missing, that perfbench/layers.json
and BENCHMARK.json name the same per-layer metrics, and that the NumPy
curate reference agrees with the repo's DuckDB curate oracle.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.05"


def parse_result(stdout: str, metrics: dict) -> dict:
    lines = stdout.splitlines()
    assert len(lines) == 1, f"stdout must be exactly one line, got {len(lines)}"
    obj = json.loads(lines[0])
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}, sorted(obj)
    assert obj["correct"] is True, obj
    assert type(obj["attempted"]) is int and obj["attempted"] >= 1, obj["attempted"]
    assert type(obj["failed"]) is int and obj["failed"] == 0, obj["failed"]
    assert set(obj["metrics"]) == set(metrics), set(obj["metrics"]) ^ set(metrics)
    for name, m in obj["metrics"].items():
        assert set(m) == {"value", "unit"}, (name, m)
        assert type(m["value"]) in (int, float) and math.isfinite(m["value"]), (name, m)
        assert m["unit"] == metrics[name], (name, m["unit"], metrics[name])
    return obj


def run(args: list[str], cwd: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, CurateDedup, curate_reference

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    assert set(listed) == set(WORKLOADS), listed
    assert [m["name"] for m in bench["per_layer"]] == list(layers["per_layer"])
    for m in bench["per_layer"]:
        spec = layers["per_layer"][m["name"]]
        assert (m["unit"], m["better"]) == (spec["unit"], spec["better"]), m
    assert set(layers["workloads"]) == set(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    docs = CurateDedup(None, 0.15).generate(7)["docs"]
    got, oracle = curate_reference(docs), CurateDedup.duckdb_oracle(docs)
    assert got == oracle, f"curate reference {got} != DuckDB oracle {oracle}"
    print(f"ok  curate reference == DuckDB oracle {oracle}", flush=True)

    failures = 0
    for name in WORKLOADS:
        for trace, metrics in (("0", e2e), ("1", per_layer)):
            p = run(["--workload", name, "--seed", "5", "--seconds", "1", "--trace", trace,
                     "--scale", SCALE], ROOT)
            try:
                assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-2000:]}"
                obj = parse_result(p.stdout, metrics)
                print(f"ok  {name} trace={trace} attempted={obj['attempted']}", flush=True)
            except (AssertionError, json.JSONDecodeError) as e:
                failures += 1
                print(f"FAIL {name} trace={trace}: {e}", flush=True)

    # without the program under test: non-zero exit and no result line
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        p = run(["--workload", listed[0], "--seed", "1", "--seconds", "1", "--trace", "0"], bare, env)
        if p.returncode != 0 and not p.stdout.strip():
            print(f"ok  without the program: exit {p.returncode}, no result", flush=True)
        else:
            failures += 1
            print(f"FAIL without the program: exit {p.returncode}, stdout {p.stdout!r}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
