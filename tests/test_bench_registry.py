"""The bench phase registry (bench.py::PHASES) without Spark: its default
order is the recorded headline order, every plan the earlier plan dumpers
captured still resolves, and an unknown name fails before any session
starts."""

import importlib.util
import json
import os

import pytest
from pyspark import SparkContext

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# plans captured by the retired round-6 dumper (plans/r06/<name>_*.txt)
R06_PLANS = [
    "kg_two_hop_sketch",
    "kg_triangles",
    "kg_communities",
    "kg_entity_profile",
    "kg_path_reach",
    "kg_bgp_chain",
    "kg_bgp_cycle_wcoj",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "embedding_near_dup",
    "lsh_bucketed_ann",
    "ann_cosine_topk",
    "revenue_topk",
    "kg_refdata",
    "simhash_buckets",
    "kg_window_subgraph",
    "kg_pred_canon",
    "kg_profile_sketch",
    "kg_daily_nodes_sketch",
]

# sections of the retired PLANS.md → the phase or contract query now
# holding that plan
PLANS_MD_SECTIONS = {
    "KG document stream (fused) + canonical rewrite": "kg_docstream",
    "revenue_topk (3-way join + grouped top-k)": "revenue_topk",
    "scan_dropna (filter + projection pushdown)": "scan_dropna",
    "embedding_near_dup (LSH-bucketed, no cartesian)": "embedding_near_dup",
    "gazetteer mention scan (kg_mentions core)": "kg_mentions",
    "kg_window_subgraph (day-partitioned read, pruned)": "kg_window_subgraph",
    "kg_pred_canon (distinct-set broadcast map)": "kg_pred_canon",
    "kg_entity_profile (single-shuffle rollup)": "kg_entity_profile",
    "kg_triangles (degree-ordered orientation)": "kg_triangles",
    "kg_two_hop_sketch (HLL, one sketch row per edge)": "kg_two_hop_sketch",
    "match_bgp chain (keyed joins, pushed predicates)": "kg_bgp_chain",
    "match_bgp_cycle (HyperCube + cell-local generic join)": "kg_bgp_cycle_wcoj",
}

# kg_profile_sketch times both HLL rollups; its plan file holds both
RENAMED = {"kg_daily_nodes_sketch": "kg_profile_sketch"}


def _dump_plans():
    spec = importlib.util.spec_from_file_location(
        "dump_plans", os.path.join(REPO, "tools", "dump_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_default_order_is_recorded_headline_order():
    with open(os.path.join(REPO, "BENCH_r06.json")) as fh:
        recorded = list(json.load(fh)["parsed"]["queries"])
    assert list(bench.PHASES) == recorded


def test_every_captured_plan_resolves():
    known = set(bench.PHASES) | set(bench.contract_queries())
    names = [RENAMED.get(n, n) for n in R06_PLANS] + list(PLANS_MD_SECTIONS.values())
    assert [n for n in names if n not in known] == []
    # and the default capture (`make plans`) writes every one of them
    default = set(bench.PHASES) | set(_dump_plans().CONTRACT_PLANS)
    assert [n for n in names if n not in default] == []


def test_unknown_name_exits_nonzero_before_spark(tmp_path):
    active = SparkContext._active_spark_context
    with pytest.raises(SystemExit) as exc:
        bench.main(["kg_docstream", "no_such_phase"])
    assert exc.value.code != 0
    with pytest.raises(SystemExit) as exc:
        _dump_plans().main([str(tmp_path), "no_such_plan"])
    assert exc.value.code != 0
    assert SparkContext._active_spark_context is active
