"""Self-tests of the kgforge benchmark.

    python3 -m pytest perfbench/tests -q      (about 6 minutes on 4 cores)

The fast tests cover the pure helpers. The slow ones run the command at a
tiny document count: each workload untraced and traced, and the build
workload traced twice with one seed, to check that the count metrics
repeat exactly and that the traced layer times account for the traced
pipeline wall time.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from run import _tail  # noqa: E402
from tracing import self_times  # noqa: E402
from workloads import ANCHOR, graph_oracle  # noqa: E402

DOCS = "200"
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int, seed: int = 7, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--docs", DOCS],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    return p


_cache: dict = {}


def result(workload: str, trace: int, rep: int = 0):
    key = (workload, trace, rep)
    if key not in _cache:
        p = _run(workload, trace)
        assert p.returncode == 0, p.stderr[-4000:]
        _cache[key] = (json.loads(p.stdout.strip().splitlines()[-1]), p.stderr)
    return _cache[key]


# ------------------------------------------------------------ fast tests


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 9.0},
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    assert math.isclose(sum(st.values()), 10.0)


def test_tail_needs_ten_samples_beyond():
    assert _tail([1.0] * 10) is None
    pct, value = _tail([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0  # ten samples (10..19) lie beyond it


def test_graph_oracle_small_graph():
    d = "2025-01-12"
    edges = [
        ("A", "acquired", "B", "u", "t", d),
        ("B", "located in", ANCHOR, "u", "t", d),
        ("B", "works at", "C", "u", "t", "2025-03-01"),
        ("C", "works at", "A", "u", "t", d),
        ("A", "works at", "B", "u", "t", d),
        ("B", "acquired", "C", "u", "t", d),
        (ANCHOR, "founded", "A", "u", "t", d),
    ]
    got = graph_oracle(edges)
    assert got["bgp_anchored"] == [("A", "B")]
    assert got["bgp_chain"] == [("A", "B", "C"), ("B", "C", "A")]
    assert got["bgp_cycle"] == [("A", "B", "C"), ("C", "A", "B")]
    assert got["path_reach"] == [("A", "1"), ("B", "2"), ("C", "3"), (ANCHOR, "3")]
    assert ("B", "works at", "C", "1") not in got["window_topk"]  # outside window
    assert got["entity_profile"][0][:4] == ("B", "3", "2", "3")


def test_missing_program_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("build", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


# ------------------------------------------------------- end-to-end runs


def _check_names(res, stderr, spec_key):
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    lines = stderr.splitlines()
    for name, unit in want.items():
        assert any(ln.split()[:1] == [name] and ln.split()[-1] == unit for ln in lines), name


@pytest.mark.parametrize("workload", ["build", "serve"])
def test_untraced_smoke_prints_end_to_end_metrics(workload):
    res, stderr = result(workload, 0)
    _check_names(res, stderr, "end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["build", "serve"])
def test_traced_smoke_prints_per_layer_metrics(workload):
    res, stderr = result(workload, 1)
    _check_names(res, stderr, "per_layer")


def test_counts_repeat_exactly():
    a = result("build", 1, rep=0)[0]["metrics"]
    b = result("build", 1, rep=1)[0]["metrics"]
    counts = [k for k in a if k.endswith((".rows_out", ".partitions_read"))] + [
        "extract.triples_per_doc",
        "textnorm.chunks_per_doc",
        "io.tables.bytes_written",
        "io.tables.files_written",
        "linking.pair_score_rows",
    ]
    assert len(counts) > 12
    for k in counts:
        assert a[k]["value"] == b[k]["value"], k


def test_layer_self_times_account_for_traced_wall():
    m = {k: v["value"] for k, v in result("build", 1)[0]["metrics"].items()}
    parts = m["pipeline.driver_s"] + sum(
        v for k, v in m.items() if k.startswith("stages.") and k.endswith(".run_s")
    ) + sum(m[f"io.tables.{k}"] for k in ("checksum_s", "lineage_s", "manifest_s", "read_s"))
    assert math.isclose(parts, m["pipeline.wall_s"], rel_tol=1e-6)
    assert m["pipeline.driver_s"] < 0.5 * m["pipeline.wall_s"]
