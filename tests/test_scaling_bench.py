"""Spark-free checks of the scaling harness (tools/scaling_bench.py): sweep
grouping for the per-core envelope, and refusal of legs this process cannot
pin."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import scaling_bench  # noqa: E402


def _write_rows(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_latest_sweep_groups_by_sweep_id(tmp_path, monkeypatch):
    # an old sweep ending ...,8,32 followed by a new sweep 32,16,8: the new
    # sweep's first leg repeats the old sweep's last core count, which the
    # adjacency rule merged into one envelope
    n = 2_000_000
    rows = [
        {"n_docs": n, "cpus": 8, "seconds": 500.0, "docs_per_sec": 4000.0, "sweep_id": "old"},
        {"n_docs": n, "cpus": 32, "seconds": 4000.0, "docs_per_sec": 500.0, "sweep_id": "old"},
        {"n_docs": n, "cpus": 32, "seconds": 8000.0, "docs_per_sec": 250.0, "sweep_id": "new"},
        {"n_docs": n, "cpus": 16, "seconds": 16000.0, "docs_per_sec": 125.0, "sweep_id": "new"},
        {"n_docs": n, "cpus": 8, "seconds": 32000.0, "docs_per_sec": 62.5, "sweep_id": "new"},
    ]
    runs = tmp_path / "runs.jsonl"
    _write_rows(runs, rows)
    monkeypatch.setattr(scaling_bench, "RUNS_PATH", str(runs))
    sweep = scaling_bench._latest_sweep(n)
    assert sorted(sweep) == [8, 16, 32]
    assert sweep[32]["docs_per_sec"] == 250.0
    assert sweep[8]["docs_per_sec"] == 62.5


def test_impossible_legs_rejected_before_any_leg(tmp_path, monkeypatch):
    for name in ("RUNS_PATH", "CLUSTER_RUNS_PATH", "CURATION_RUNS_PATH"):
        monkeypatch.setattr(scaling_bench, name, str(tmp_path / f"{name}.jsonl"))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})

    def no_process(*a, **k):
        raise AssertionError("a leg process was started")

    monkeypatch.setattr(scaling_bench.subprocess, "run", no_process)
    monkeypatch.setattr(scaling_bench, "sweep", no_process)

    argvs = [
        ["--job", "extract", "--legs", "1,4"],
        ["--job", "curation", "--shape", "executors", "--legs", "2,8",
         "--cores-per-executor", "2"],
        # fits the mask but does not divide into executors
        ["--job", "extract", "--shape", "executors", "--legs", "1,2",
         "--cores-per-executor", "2"],
    ]
    for argv in argvs:
        with pytest.raises(SystemExit) as exc:
            scaling_bench.main(argv)
        assert exc.value.code not in (0, None), argv
    assert list(tmp_path.iterdir()) == []


def test_curation_only_flags_rejected_for_extract():
    for flags in (["--dup-mod", "2"], ["--unhinted"], ["--shuffle-partitions", "8"]):
        with pytest.raises(SystemExit) as exc:
            scaling_bench.parse_args(["--job", "extract", *flags])
        assert exc.value.code == 2
