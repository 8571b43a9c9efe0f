"""Tests for the benchmark itself; run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _write_all(out: str, seed: int, scale: float = 0.1) -> None:
    gen.gen_linkage(out, seed, scale)
    gen.gen_corpus(out, seed, scale)
    days = gen.QaDays(seed, scale)
    for _ in range(3):
        gen.gen_qa_day(days, out)


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def _rows(root: str) -> dict[str, int]:
    out = {}
    for rel in _digests(root):
        p = os.path.join(root, rel)
        if rel.endswith(".parquet"):
            out[rel] = pq.read_metadata(p).num_rows
        elif rel.endswith(".csv"):
            with open(p) as f:
                out[rel] = sum(1 for _ in f)
        else:
            with open(p) as f:
                out[rel] = len(json.load(f))
    return out


def test_generator_same_seed_same_bytes_other_seed_same_sizes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert da == db
    assert set(da) == set(dc)
    # inputs differ; the QA sidecars hold only counts, which a different
    # seed keeps equal by design
    assert all(da[k] != dc[k] for k in da if not k.startswith("truth/qa_day"))
    assert _rows(a) == _rows(c)


def test_qa_day_counts_are_exact(tmp_path):
    days = gen.QaDays(3, 0.1)
    first = gen.gen_qa_day(days, str(tmp_path))
    second = gen.gen_qa_day(days, str(tmp_path))
    assert first["added"] == days.n
    assert second["added"] == second["removed"] == days.r
    assert second["changed"] == days.c
    assert len(days.cols["SEQUENCE_ACCESSION"]) == days.n


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1", "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == run.per_layer_names()
    assert result["metrics"]["trace.overhead_s"]["unit"] == "s"


def test_exits_nonzero_outside_a_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "scheduled_day", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
