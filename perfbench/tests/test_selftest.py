"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench/tests -q

Checks that a run leaves the repository tree as it found it, that a
corrupted op result is counted as a failure, and that the benchmark
refuses to run without the engine's sources. The workloads run on
small subclasses with tiny inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class TinyStream(workloads.StreamIngest):
    ORDERS_PER_EPOCH = 3
    EVENTS_PER_EPOCH = 30


class TinyBi(workloads.BiDashboard):
    N_ORDERS = 300
    N_EVENTS = 200


TINY = {"stream_ingest": TinyStream, "bi_dashboard": TinyBi}


def _tree(root: str) -> dict[str, tuple[int, int]]:
    """Every file under ``root`` but the benchmark's own output dir and
    git's metadata, with its size and modification time."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not (d == root and x in (".git", ".perfbench"))]
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _git_status() -> str | None:
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                              text=True, check=True, timeout=60).stdout
    except (OSError, subprocess.SubprocessError):
        return None  # not a git checkout


@pytest.mark.parametrize("workload", sorted(TINY))
def test_run_leaves_repo_tree_unchanged(workload, monkeypatch, capsys):
    monkeypatch.setitem(workloads.WORKLOADS, workload, TINY[workload])
    before, status = _tree(ROOT), _git_status()
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0"]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert _tree(ROOT) == before
    assert _git_status() == status
    assert not os.listdir(os.path.join(ROOT, ".perfbench", "work"))


class CorruptedBi(TinyBi):
    def op(self, spark, i, tracer):
        q, cols, rows = super().op(spark, i, tracer)
        bad = [tuple(r) for r in rows] or [tuple(None for _ in cols)]
        bad[0] = ("corrupted",) + bad[0][1:]
        return q, cols, bad


class CorruptedStream(TinyStream):
    def op(self, spark, i, tracer):
        return super().op(spark, i, tracer)[:-1]


@pytest.mark.parametrize("cls", [CorruptedBi, CorruptedStream])
def test_corrupted_result_counts_as_failure(cls):
    work = os.path.join(ROOT, ".perfbench", "work", f"selftest-{cls.__name__}")
    try:
        result = harness.run(cls, seed=4, seconds=1, trace=False, work=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert result["attempted"] >= 1
    assert result["failed"] == result["attempted"]
    assert not result["correct"]
    assert result["metrics"]["ok_frac"]["value"] == 0.0


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench", "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__", "tests"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bi_dashboard", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
