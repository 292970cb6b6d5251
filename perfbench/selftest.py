#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py [--workload NAME ...]

For every workload (default: all, including those not in
BENCHMARK.json) it checks that

* an untraced run prints every end-to-end metric with its unit, and a
  traced run every per-layer metric, with zero failed operations;
* the traced run's ``# layers`` report carries every per-layer metric
  the workload documents;
* a run with one expected answer corrupted (``--corrupt``) counts a
  failed operation and reports ``correct: false``;

and that the benchmark, copied alone into an empty directory (no
``corkscrew_spark`` beside it), exits non-zero without a result line.
Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

#: per-layer report keys each workload must print on its ``# layers`` line
REPORT_KEYS = {
    "estate_reads": (
        "server.execute_query_ms.lookup", "server.execute_query_ms.filter",
        "server.execute_query_ms.groupby", "engine.validate_ms",
        "engine.exec_ms", "skipping.plan_ms", "skipping.files_kept_ratio",
        "kql.compile_ms", "compliance.run_pack_ms"),
    "graph_blast": (
        "graph.k_hop_s", "graph.k_hop_jobs", "graph.shortest_path_s",
        "graph.shortest_path_jobs", "graph.cc_star_s", "graph.cc_star_jobs",
        "graph.pagerank_s", "graph.pagerank_jobs", "dedup.resolve_s",
        "dedup.resolve_jobs", "ckpt.rounds_per_op", "ckpt.round_ms"),
    "scan_ingest": (
        "ingest.run_scan_s", "ingest.scan_s", "ingest.api_pages",
        "warehouse.merge_s.resources", "warehouse.merge_s.relationships",
        "warehouse.append_s", "warehouse.rewrite_fraction",
        "warehouse.files_per_partition", "skipping.refresh_s",
        "changes.drift_s", "engine.validate_ms"),
}
COMMON_REPORT_KEYS = tuple(LAYER_UNITS) + (
    "self_ms_per_op.unattributed", "e2e_traced.cycle_s", "e2e_untraced.cycle_s")


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    return res


def _check_metrics(res: dict, units: dict) -> None:
    assert set(res["metrics"]) == set(units), sorted(res["metrics"])
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"}, m
        assert m["unit"] == units[name], (name, m)
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (name, m)


def check_workload(name: str) -> None:
    base = ["--workload", name, "--seed", "7", "--seconds", "1", "--size", "tiny"]

    code, lines = _run(base + ["--trace", "0"])
    assert code == 0, (name, code)
    res = _result(lines)
    assert res["correct"] and res["failed"] == 0, res
    _check_metrics(res, E2E_UNITS)

    code, lines = _run(base + ["--trace", "1"])
    assert code == 0, (name, code)
    res = _result(lines)
    assert res["correct"] and res["failed"] == 0, res
    _check_metrics(res, LAYER_UNITS)
    report = next(json.loads(x[len("# layers "):]) for x in lines
                  if x.startswith("# layers "))
    missing = [k for k in COMMON_REPORT_KEYS + REPORT_KEYS[name] if k not in report]
    assert not missing, (name, missing)

    code, lines = _run(base + ["--trace", "0", "--corrupt"])
    assert code == 0, (name, code)
    res = _result(lines)
    assert res["failed"] >= 1 and not res["correct"], res
    print(f"selftest: {name} ok")


def check_bare_directory() -> None:
    """Only BENCHMARK.json and the benchmark's files: must fail cleanly."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = _run(["--workload", WORKLOADS[0], "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0, code
    assert not any(x.startswith("{") for x in lines), lines
    print("selftest: bare directory fails cleanly")


def main() -> int:
    p = argparse.ArgumentParser(description="benchmark self-test")
    p.add_argument("--workload", action="append", choices=WORKLOADS)
    args = p.parse_args()
    check_bare_directory()
    for name in args.workload or WORKLOADS:
        check_workload(name)
    return 0


if __name__ == "__main__":
    sys.exit(main())
