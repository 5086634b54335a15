"""Smoke test of the benchmark itself: each workload, one short run
untraced and one traced, plus the refusal to run without the program.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Checks that every metric ``BENCHMARK.json`` declares is printed with
its unit, that ``ops_ok_ratio`` is 1.0, and that the traced run's spans
nest inside their parents. Runs take the benchmark's own data sizes
with ``--seconds 1`` (one measured pass); most of a run is session
start and the warm-up pass, which a smaller input would not shorten.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import check_nesting  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_declared(result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def check_workload(workload: str) -> None:
    r = _result(_run(workload, 0))
    _assert_declared(r, "end_to_end")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert r["metrics"]["ops_ok_ratio"]["value"] == 1.0

    r = _result(_run(workload, 1))
    _assert_declared(r, "per_layer")
    assert r["correct"]
    with open(os.path.join(REPO, ".perfbench_traces", f"{workload}-seed7.json")) as f:
        spans = json.load(f)["spans"]
    assert any(s["name"] == "op" for s in spans)
    assert any(s["parent"] is not None and s["name"] != "op" for s in spans)
    assert check_nesting(spans) == []


def test_tsdb_query():
    check_workload("tsdb_query")


def test_stream_ingest():
    check_workload("stream_ingest")


def test_refuses_without_program():
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    os.makedirs(os.path.join(REPO, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(REPO, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(REPO, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(WORKLOADS[0], 0, cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    test_refuses_without_program()
    for w in WORKLOADS:
        check_workload(w)
        print(f"ok {w}")
    print("smoke test passed")
