"""Smoke test of the benchmark at sf0.001 with one-second run lengths.

  python3 perfbench/smoke_test.py        (about five minutes on 4 cores)

Proves that every workload prints every metric ``BENCHMARK.json`` names,
with its unit, in both modes; that a deliberately wrong expected digest is
counted as a failed operation; and that the command refuses to run where
the program is missing.  Also collectable with pytest.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_interactive", "curation_batch", "flatfile_etl")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(workload: str, trace: int, *extra: str) -> dict:
    proc = _bench(workload, trace, "--sf", "0.001", *extra)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, (sorted(set(want) ^ set(got)), result["metrics"])
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)), v


def test_end_to_end_metrics() -> None:
    for w in WORKLOADS:
        res = _result(w, 0)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, res)
        _assert_metrics(res, _spec()["end_to_end"])
        assert all(v["value"] > 0 for v in res["metrics"].values()), (w, res)


def test_per_layer_metrics() -> None:
    for w in WORKLOADS:
        res = _result(w, 1)
        assert res["correct"] and res["failed"] == 0, (w, res)
        _assert_metrics(res, _spec()["per_layer"])


def test_wrong_digest_is_a_failure() -> None:
    for w in ("sql_interactive", "curation_batch"):
        res = _result(w, 0, "--corrupt-digest")
        assert res["failed"] >= 1 and not res["correct"], (w, res)


def test_refuses_without_program() -> None:
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _bench("flatfile_etl", 0, cwd=bare)
        assert proc.returncode != 0 and '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print(f"PASS {name}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {name}: {str(e)[:2000]}")
    sys.exit(1 if failed else 0)
