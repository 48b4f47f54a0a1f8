#!/usr/bin/env python
"""Benchmark harness: one registry of named phases, one JSON line on stdout.

Each phase is declared once in ``PHASES``: a plan builder, its action
(``count()`` unless the phase says otherwise) and the shared state it needs
built first. Three tools read the registry:

- ``python bench.py`` runs every phase once, in registry order.
- ``python bench.py PHASE [PHASE ...] [--repeat N]`` runs only those phases
  (in registry order) plus, untimed, whatever they need; ``queries`` holds
  the minimum over the repeats and each repeat's times go to stderr.
- ``tools/dump_plans.py`` writes each phase's (or contract query's) plan.

Phases:
1. Representative operator queries from the driver contract at
   ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1), plus unbounded
   near-dup variants over the full documents table.
2. The KG document stream (fused normalize → sentences → triples →
   canonical rewrite) over a parquet webdocs fixture of
   ``$KGFORGE_BENCH_DOCS`` docs (default 30000), generated once into a temp
   dir or read from ``--fixture-dir`` (generation is timed separately, as
   ``kg_fixture_gen_sec``), then graph reads over the day-partitioned edges.

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); every Spark job carries
its phase name as job description. Scaling (N vs 4N cores) is
tools/run_scaling.py, which runs this file once per core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import cached_property
from types import SimpleNamespace
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.dataset as pads  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import queries  # noqa: E402
from kgforge.extract.predicates import canonicalize_predicates  # noqa: E402
from kgforge.fixtures.gen import write_fixture_tables  # noqa: E402
from kgforge.graph.analytics import (  # noqa: E402
    daily_active_nodes_approx,
    entity_profile,
    entity_profile_table_approx,
    label_propagation,
    triangle_counts,
    two_hop_reach_approx,
)
from kgforge.graph.bgp import match_bgp  # noqa: E402
from kgforge.graph.paths import reachable_from  # noqa: E402
from kgforge.graph.temporal import (  # noqa: E402
    WINDOW_HI,
    WINDOW_LO,
    materialize_edges_by_day,
    window_subgraph_topk,
)
from kgforge.graph.wcoj import match_bgp_cycle  # noqa: E402
from kgforge.linking.guard import collect_bounded  # noqa: E402
from kgforge.queries import (  # noqa: E402
    BENCH_QUERIES,
    minhash_lsh_candidates_agg,
    near_dup_clusters_from_pairs,
    ngram_jaccard_verified_pairs,
)
from kgforge.session import get_spark, warm_python_workers  # noqa: E402
from kgforge.stages.canonicalize import edges_with_day, rewrite_triples  # noqa: E402
from kgforge.stages.docstream import (  # noqa: E402
    extract_docstream,
    scan_mentions_docstream,
)
from kgforge.stages.link import alias_resolution  # noqa: E402
from kgforge.stages.normalize import normalize  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "revenue_topk",
    "word_frequency",
    "dedup_exact",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "simhash_buckets",
    "ann_cosine_topk",
    "embedding_near_dup",
    "sessionize",
    "tumbling_window_counts",
    "text_quality",
    "repetition_bigrams",
    "multimodal_meta",
]

KG_BENCH_DOCS = int(os.environ.get("KGFORGE_BENCH_DOCS", "30000"))

# works-at / acquired / works-at triangle: both legs of the hub wedge run
# through the fixture's 30%-hot entity
CYCLE = [
    ("?a", "works at", "?b"),
    ("?b", "acquired", "?c"),
    ("?c", "works at", "?a"),
]


def contract_queries() -> dict[str, Callable]:
    """The driver contract plus the per-operator members of its
    consolidated families (bench times operators individually even though
    the contract records them through family queries)."""
    return {**BENCH_QUERIES, **queries()}


def _count(b: Bench, plan):
    if isinstance(plan, tuple):
        return [df.count() for df in plan]
    return plan.count()


def _first_row(b: Bench, df):
    return df.collect()[0]


@dataclass(frozen=True)
class Phase:
    # plan builder: a DataFrame, or a tuple of them for a phase that times
    # several frames; may run Spark jobs itself (driver-paced operators)
    build: Callable
    # (bench, plan) -> result
    act: Callable = _count
    # Bench attributes or phase names made, untimed, before the phase
    needs: tuple[str, ...] = ()


PHASES: dict[str, Phase] = {}


def phase(name: str, build: Callable, *needs: str, act: Callable = _count) -> None:
    PHASES[name] = Phase(build, act, needs)


for _name in HEADLINE:
    phase(_name, lambda b, n=_name: b.contract[n](b.spark, b.sf_dir), "warm_jvm")

# UNBOUNDED near-dup variants (scale evidence): the contract queries bound
# doc_id < 500 for oracle cost; these run the same plans over the FULL
# documents table, showing the hot-shingle DF cap keeps candidates ~linear
# in corpus size.


def _checkpoint_pairs(b: Bench, df):
    # the verified pairs are materialized ONCE: the agg view and the cluster
    # phase both read them, as a production dedup would (you don't
    # re-shingle the corpus to cluster its pairs)
    pairs = df.localCheckpoint()
    n_pairs = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.coalesce(F.avg("jaccard"), F.lit(0.0)), 6).alias("avg_jaccard"),
    ).collect()[0]["n_pairs"]
    return pairs, n_pairs


phase(
    "ngram_jaccard_unbounded",
    lambda b: ngram_jaccard_verified_pairs(b.docs_full),
    "docs_full",
    act=_checkpoint_pairs,
)
phase(
    "minhash_lsh_unbounded",
    lambda b: minhash_lsh_candidates_agg(b.docs_full),
    "docs_full",
    act=_first_row,
)
# cluster formation + survivor selection over the verified pairs: the full
# dedup operation (pairs → CC → survivors) at corpus scale
phase(
    "near_dup_clusters_unbounded",
    lambda b: near_dup_clusters_from_pairs(b.results["ngram_jaccard_unbounded"][0]).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.sum("n_removed"), F.lit(0)).alias("n_removed"),
    ),
    "ngram_jaccard_unbounded",
    act=_first_row,
)

# KG document stream over the parquet fixture


def _kg_edges(b: Bench):
    return rewrite_triples(extract_docstream(b.kg.webdocs), b.mention_map)


def _materialize_edges(b: Bench, df) -> str:
    # PARTITIONED BY day (Iceberg days(warc_ts) emulation); a repeat
    # rewrites the table instead of short-circuiting on its manifest
    path = os.path.join(b.work, "edges_by_day")
    shutil.rmtree(path, ignore_errors=True)
    b.__dict__.pop("edges_tbl", None)
    materialize_edges_by_day(df, path)
    return path


phase(
    "kg_refdata",
    lambda b: alias_resolution(b.kg.alias_df),
    "kg",
    act=lambda b, df: df.localCheckpoint(),
)
phase(
    "kg_normalize",
    lambda b: normalize(b.kg.webdocs),
    "kg",
    act=lambda b, df: df.write.format("noop").mode("overwrite").save(),
)
phase("kg_docstream", _kg_edges, "kg_refdata")
# gazetteer mention scan (kg_mentions core path, fused: one python stage
# like the docstream)
phase(
    "kg_mention_scan", lambda b: scan_mentions_docstream(b.kg.webdocs, b.aliases), "aliases"
)
phase(
    "kg_edges_materialize",
    lambda b: edges_with_day(_kg_edges(b)),
    "kg_refdata",
    act=_materialize_edges,
)
# reads the table back with the day window as a partition filter: the scan
# touches ~1/6 of the day directories
phase(
    "kg_window_subgraph",
    lambda b: window_subgraph_topk(b.spark, b.results["kg_edges_materialize"], k=1000),
    "kg_edges_materialize",
)

# graph analytics over the materialized edge table, read back as a serving
# system would; triangles and the 2-hop sketch are the skew stress tests
# (the fixture's hot entity touches ~30% of docs): the exact wedge join is
# quadratic in hub degree, HLL sketches bound it to one sketch row per edge
phase("kg_entity_profile", lambda b: entity_profile(b.edges_tbl), "edges_tbl")
phase("kg_triangles", lambda b: triangle_counts(b.edges_tbl), "edges_tbl")
phase("kg_two_hop_sketch", lambda b: two_hop_reach_approx(b.edges_tbl), "edges_tbl")
# HLL rollup twins: profile distinct-pred estimates + per-day distinct-node
# estimates, constant bytes per group
phase(
    "kg_profile_sketch",
    lambda b: (
        entity_profile_table_approx(b.edges_tbl),
        daily_active_nodes_approx(b.edges_tbl),
    ),
    "edges_tbl",
)
phase("kg_communities", lambda b: label_propagation(b.edges_tbl), "edges_tbl")
phase(
    "kg_pred_canon",
    lambda b: canonicalize_predicates(b.edges_tbl).select("canon_pred").distinct(),
    "edges_tbl",
)
# BGP serving queries: the UNANCHORED chain is the hub stress test (join
# fan-out + distinct at adversarial selectivity); the ANCHORED chain is the
# serving-latency path (the constant reaches the scan as a pushed filter)
phase(
    "kg_bgp_chain",
    lambda b: match_bgp(b.edges_tbl, [("?x", "acquired", "?y"), ("?y", "works at", "?z")]),
    "edges_tbl",
)
phase(
    "kg_bgp_anchored",
    lambda b: match_bgp(
        b.edges_tbl, [("?x", "acquired", "?y"), ("?y", "located in", "E000001")]
    ),
    "edges_tbl",
)
# CYCLIC BGP, timed on both plans: the binary plan materializes every open
# wedge before the closing join; the HyperCube + cell-local generic join
# (graph/wcoj.py) bounds communication to O(shares x input)
phase("kg_bgp_cycle_binary", lambda b: match_bgp(b.edges_tbl, CYCLE), "edges_tbl")
phase("kg_bgp_cycle_wcoj", lambda b: match_bgp_cycle(b.edges_tbl, CYCLE), "edges_tbl")
# SPARQL pred+: 4-hop any-predicate forward cone from the hot entity
phase(
    "kg_path_reach",
    lambda b: reachable_from(b.edges_tbl, "E000001", None, max_hops=4),
    "edges_tbl",
)


class Bench:
    """One bench session: the Spark session plus shared state, each piece
    made once, on first use."""

    def __init__(self, fixture_dir: str | None = None):
        self.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        self.cpus = cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        self.fixture_dir = fixture_dir
        self.cores = int(cpus) if cpus.isdigit() else 32
        # spark.sql.files.maxPartitionBytes stays at the 128MB default here:
        # 2MB globally fragments the TPC-H scans into hundreds of
        # micro-tasks (pricing_summary 8.1s → 0.7s at the default). The
        # small-split config is applied to the KG phases only (``kg``).
        self.spark = get_spark(
            "kgforge-bench",
            master=f"local[{cpus}]",
            shuffle_partitions=max(16, self.cores * 2),
            arrow_batch=2048,
        )
        self.work = tempfile.mkdtemp(prefix="kgforge_bench_")
        self.results: dict[str, object] = {}

    def _make_needs(self, p: Phase) -> None:
        for need in p.needs:
            if need in PHASES:
                self.result(need)
            else:
                getattr(self, need)  # builds the cached resource

    def run(self, name: str) -> float:
        """Run one phase (its needs first, untimed); seconds taken."""
        p = PHASES[name]
        self._make_needs(p)
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        self.results[name] = p.act(self, p.build(self))
        dt = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        return dt

    def result(self, name: str):
        if name not in self.results:
            self.run(name)
        return self.results[name]

    def plan(self, name: str):
        """The plan a phase times (its needs made first) or a contract
        query's plan."""
        if name not in PHASES:
            return self.contract[name](self.spark, self.sf_dir)
        self._make_needs(PHASES[name])
        return PHASES[name].build(self)

    def close(self) -> None:
        self.spark.stop()
        shutil.rmtree(self.work, ignore_errors=True)

    @cached_property
    def contract(self) -> dict[str, Callable]:
        return contract_queries()

    @cached_property
    def warm_jvm(self) -> None:
        # the first action pays session init + whole-stage-codegen
        # compilation (~5 s), which the first headline query would absorb;
        # steady-state cost is the quantity that scales
        self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet").limit(1000).groupBy(
            "l_returnflag"
        ).count().collect()

    @cached_property
    def docs_full(self):
        df = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        self.documents_rows = df.count()
        return df

    @cached_property
    def kg(self):
        """The webdocs + alias fixture, read with 2MB splits: the 30k-doc
        fixture is only ~15MB of parquet, so at the default split size the
        whole stream would land in one task."""
        spark = self.spark
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
        fx = self.fixture_dir or self.work
        webdocs_path = os.path.join(fx, "webdocs.parquet")
        alias_path = os.path.join(fx, "alias_dict.parquet")
        gen_sec = 0.0
        if not os.path.exists(webdocs_path):
            t0 = time.perf_counter()
            write_fixture_tables(
                spark, fx, KG_BENCH_DOCS, partitions=max(64, self.cores * 4)
            )
            gen_sec = round(time.perf_counter() - t0, 3)
        kg = SimpleNamespace(
            webdocs=spark.read.parquet(webdocs_path),
            alias_df=spark.read.parquet(alias_path),
            docs=pads.dataset(webdocs_path).count_rows(),
            gen_sec=gen_sec,
        )
        # warm every python-worker slot (imports + module init) before the
        # Python-bound phases: on a cold page cache the first pandas-UDF
        # phase otherwise pays every worker's imports inside its window
        warm_python_workers(spark, self.cores)
        return kg

    @property
    def mention_map(self):
        return self.result("kg_refdata").select(
            F.col("alias").alias("mention"), "canon_id"
        )

    @cached_property
    def aliases(self) -> list[str]:
        return collect_bounded(
            self.kg.alias_df, "alias", what="gazetteer alias dictionary"
        )

    @cached_property
    def edges_tbl(self):
        return self.spark.read.parquet(self.result("kg_edges_materialize"))


def report(b: Bench, timings: dict[str, float]) -> dict:
    """The JSON line: per-phase seconds plus the result fields of the
    phases timed."""
    r = b.results
    out = {
        "metric": "kgforge_headline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": b.sf_dir,
        "cpus": b.cpus,
    }
    if "kg" in vars(b):
        out["kg_docs"] = b.kg.docs
    if "kg_docstream" in timings:
        out["kg_edges"] = r["kg_docstream"]
    if "kg" in vars(b):
        out["kg_fixture_gen_sec"] = b.kg.gen_sec
    if "kg_docstream" in timings:
        out["kg_docs_per_sec"] = round(b.kg.docs / timings["kg_docstream"], 2)
    if "kg_mention_scan" in timings:
        out["kg_mentions_found"] = r["kg_mention_scan"]
    if "kg_window_subgraph" in timings:
        days = [
            d[4:] for d in os.listdir(r["kg_edges_materialize"]) if d.startswith("day=")
        ]
        out["kg_window_topk_groups"] = r["kg_window_subgraph"]
        out["kg_day_partitions"] = len(days)
        out["kg_window_partitions_scanned"] = sum(
            WINDOW_LO <= d <= WINDOW_HI for d in days
        )
    for key, name in [
        ("kg_canonical_predicates", "kg_pred_canon"),
        ("kg_bgp_matches", "kg_bgp_chain"),
        ("kg_bgp_anchored_matches", "kg_bgp_anchored"),
    ]:
        if name in timings:
            out[key] = r[name]
    cycle = {
        plan: r[f"kg_bgp_cycle_{plan}"]
        for plan in ("binary", "wcoj")
        if f"kg_bgp_cycle_{plan}" in timings
    }
    if cycle:
        out["kg_bgp_cycle_matches"] = cycle
    if "kg_path_reach" in timings:
        out["kg_path_reach_nodes"] = r["kg_path_reach"]
    unbounded = {}
    if "docs_full" in vars(b):
        unbounded["documents_rows"] = b.documents_rows
    if "ngram_jaccard_unbounded" in timings:
        unbounded["jaccard_pairs"] = r["ngram_jaccard_unbounded"][1]
    if "minhash_lsh_unbounded" in timings:
        unbounded["minhash_candidate_pairs"] = r["minhash_lsh_unbounded"][
            "n_candidate_pairs"
        ]
    if "near_dup_clusters_unbounded" in timings:
        row = r["near_dup_clusters_unbounded"]
        unbounded["near_dup_clusters"] = row["n_clusters"]
        unbounded["near_dup_removed"] = int(row["n_removed"])
    if unbounded:
        out["unbounded_near_dup"] = unbounded
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kgforge phase benchmark")
    ap.add_argument("phases", nargs="*", help="phase names (default: all, once)")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument(
        "--fixture-dir",
        help="read the KG fixture from here (generated here first if absent)",
    )
    args = ap.parse_args(argv)
    unknown = [n for n in args.phases if n not in PHASES]
    if unknown:
        ap.error(f"unknown phases: {unknown}")
    if args.repeat < 1:
        ap.error("--repeat must be >= 1")
    names = [n for n in PHASES if not args.phases or n in args.phases]

    b = Bench(args.fixture_dir)
    try:
        best: dict[str, float] = {}
        for rep in range(args.repeat):
            for name in names:
                dt = b.run(name)
                best[name] = min(dt, best.get(name, dt))
                if args.phases:
                    print(f"[rep {rep}] {name}: {dt}", file=sys.stderr)
        print(json.dumps(report(b, best)))
    finally:
        b.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
