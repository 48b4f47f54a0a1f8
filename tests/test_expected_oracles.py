"""Gate: the materialized kg_* oracles (kgforge.fixtures.expected — the
pure-Python twins the driver's DuckDB check reads) stay equivalent to the
distributed Spark pipeline, at the sf0.001 tier. The full 40-query sweep
at sf0.01 lives in tools/check_correctness.py; this locks the mechanism
into the pytest suite."""

import math
import os
import shutil

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from kgforge.fixtures.expected import _fingerprint, ensure_expected

TIER = "sf0.001"
SF_DIR = f"/root/testdata/{TIER}"


@pytest.fixture(scope="module")
def expected_paths():
    return ensure_expected(TIER, SF_DIR)


def test_fingerprint_ignores_documents_mtime(tmp_path):
    """A copied or re-checked-out documents.parquet keeps the stamp, so the
    committed tables are neither regenerated nor re-stamped."""
    copy = tmp_path / "documents.parquet"
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), copy)
    os.utime(copy, (0, 0))
    assert _fingerprint(TIER, str(tmp_path)) == _fingerprint(TIER, SF_DIR)


def _expected_rows(path: str) -> set[tuple]:
    tbl = pq.read_table(path)
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    return set(zip(*cols)) if cols else set()


def _spark_rows(df) -> set[tuple]:
    names = sorted(df.columns)
    return {tuple(r[n] for n in names) for r in df.collect()}


@pytest.mark.parametrize(
    "name",
    [
        "kg_normalize",
        "kg_triples",
        "kg_edges_topk",
        "kg_token_tag_corpus",
        "kg_mentions",
        "kg_linked_fuzzy",
        "kg_cooccur",
        "kg_daily_nodes",
        "kg_entity_profile",
        "kg_two_hop",
        "kg_triangles",
        "kg_communities",
        "kg_edge_latest",
        "kg_pred_canon",
        "kg_components",
        "kg_kcore",
        "kg_sameas_candidates",
        "kg_bgp",
    ],
)
def test_spark_matches_expected_parquet(spark, expected_paths, name):
    got = _spark_rows(entry.queries()[name](spark, SF_DIR))
    want = _expected_rows(expected_paths[name])
    assert got == want


def test_pagerank_matches_expected_to_8dp(spark, expected_paths):
    got = {
        r["node"]: r["rank"]
        for r in entry.queries()["kg_pagerank_topk"](spark, SF_DIR).collect()
    }
    want = {
        n: r
        for n, r in zip(
            *(
                pq.read_table(expected_paths["kg_pagerank_topk"]).column(c).to_pylist()
                for c in ("node", "rank")
            )
        )
    }
    assert set(got) == set(want)
    assert all(math.isclose(got[n], want[n], abs_tol=1e-12) for n in got)
