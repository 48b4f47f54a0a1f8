"""Inputs, operations and output checks of the kgforge benchmark.

Inputs come from ``kgforge.fixtures.gen`` only: the doc-id window
``[s*N, (s+1)*N)`` of ``gen_webdocs_rows`` (s = the seed) and
``gen_alias_rows(N)``. The program receives them as Parquet files, as a
production job would. Every check here is independent of the code it
checks: triples against a single-process run of the text kernels, graph
reads against plain-Python evaluations over the collected edge table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections import Counter, defaultdict

ANCHOR = "E000001"
WINDOW_LO = "2025-01-10"  # kgforge.graph.temporal's default window
WINDOW_HI = "2025-01-24"
TOPK = 20
REACH_HOPS = 4
CYCLE = [("?a", "works at", "?b"), ("?b", "acquired", "?c"), ("?c", "works at", "?a")]
CRASH_LOST = ("entities", "edges", "lineage")  # a crash after triples_raw


# --------------------------------------------------------------- inputs


def make_inputs(work: str, seed: int, n_docs: int, n_files: int) -> dict:
    """Write the seed's webdocs window and the alias dictionary as Parquet
    under ``work`` (created); returns paths, byte sizes and a content fingerprint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgforge.fixtures.gen import gen_alias_rows, gen_webdocs_rows

    start = (seed % 2**32) * n_docs
    docs = list(gen_webdocs_rows(n_docs, start, start + n_docs))
    aliases = list(gen_alias_rows(n_docs))
    fp = hashlib.sha256()
    for d in docs:
        fp.update(repr((d["url"], d["warc_ts"].isoformat(), d["html"], d["text"], d["lang"])).encode())
    for a in aliases:
        fp.update(repr(sorted(a.items())).encode())

    doc_schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    webdocs = os.path.join(work, "webdocs")
    os.makedirs(webdocs)
    step = -(-n_docs // n_files)
    for i in range(0, n_docs, step):
        pq.write_table(
            pa.Table.from_pylist(docs[i : i + step], schema=doc_schema),
            os.path.join(webdocs, f"part-{i // step:05d}.parquet"),
        )
    alias = os.path.join(work, "alias_dict.parquet")
    pq.write_table(pa.Table.from_pylist(aliases), alias)
    return {
        "webdocs": webdocs,
        "alias": alias,
        "docs": docs,
        "input_bytes": tree_bytes(webdocs),
        "fingerprint": fp.hexdigest()[:16],
        "window": [start, start + n_docs],
    }


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def part_files(path: str) -> int:
    return sum(
        1 for _d, _s, files in os.walk(path) for f in files if f.startswith("part-")
    )


def stored_bytes(out_dir: str) -> int:
    """Bytes of the committed tables (every stage plus lineage)."""
    from kgforge.pipeline import STAGES

    return sum(tree_bytes(os.path.join(out_dir, s)) for s in [*STAGES, "lineage"])


def crash(out_dir: str) -> None:
    for name in CRASH_LOST:
        shutil.rmtree(os.path.join(out_dir, name))


# ----------------------------------------------------- text-kernel oracle


class TextOracle:
    """Single-process ``punctuate_one`` + ``doc_triples`` over the docs:
    the expected ``triples_raw`` and the single-threaded kernel costs."""

    def __init__(self, docs: list[dict]):
        from kgforge.extract.triples import doc_triples
        from kgforge.textnorm.constants import (
            DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP,
            DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP,
        )
        from kgforge.textnorm.pipeline import (
            DEFAULT_MAX_SEQUENCE_LENGTH,
            punctuate_one,
        )
        from kgforge.textnorm.tagger import get_tagger

        tag_maps = {
            "en": DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP,
            "zh": DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP,
        }
        taggers = {lang: get_tagger("mock", lang) for lang in tag_maps}
        # lazy one-time scans (Unicode tables) are paid before timing
        punctuate_one("warm up", taggers["en"], tag_maps["en"])

        t0 = time.perf_counter()
        norms, chunks = [], 0
        for d in docs:
            lang = d["lang"] or "en"
            text, labels = punctuate_one(
                d["text"] or "", taggers[lang], tag_maps[lang], DEFAULT_MAX_SEQUENCE_LENGTH
            )
            norms.append(text)
            chunks += max(1, -(-len(labels) // DEFAULT_MAX_SEQUENCE_LENGTH))
        self.textnorm_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.triples: Counter = Counter()
        for d, text in zip(docs, norms):
            for sent_id, subj, pred, obj, conf in doc_triples(text, d["lang"] or "en"):
                self.triples[(d["url"], sent_id, subj, pred, obj, conf)] += 1
        self.extract_s = time.perf_counter() - t0
        self.n_docs = len(docs)
        self.chunks = chunks


def triples_multiset(spark, out_dir: str) -> Counter:
    rows = (
        spark.read.parquet(os.path.join(out_dir, "triples_raw"))
        .select("url", "sent_id", "subj", "pred", "obj", "conf")
        .collect()
    )
    return Counter(tuple(r) for r in rows)


def edges_rows(spark, out_dir: str) -> list[tuple]:
    from pyspark.sql import functions as F

    return [
        tuple(r)
        for r in spark.read.parquet(os.path.join(out_dir, "edges"))
        .select(
            "subj_id",
            "pred",
            "obj_id",
            "url",
            F.col("warc_ts").cast("string"),
            F.col("day").cast("string"),
        )
        .collect()
    ]


def digest(rows) -> str:
    """Order-insensitive content digest of a row collection."""
    h = hashlib.sha256()
    for r in sorted(tuple(str(v) for v in row) for row in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def linked_mention_ratio(spark, out_dir: str) -> float:
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(os.path.join(out_dir, "entities"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("canon_id").startswith("M#")).cast("long")).alias("linked"),
        )
        .collect()[0]
    )
    return (row["linked"] or 0) / max(1, row["n"])


# ----------------------------------------------------------- graph reads


class EdgeTable:
    """The committed ``edges`` table as a serving session holds it: read
    (and its 90 day partitions discovered) once, queried many times."""

    def __init__(self, spark, path: str):
        from kgforge.io.tables import read_table

        self.spark = spark
        self.path = path
        self.df = read_table(spark, path)


def _q_anchored(t):
    from kgforge.graph.bgp import match_bgp

    return match_bgp(t.df, [("?x", "acquired", "?y"), ("?y", "located in", ANCHOR)])


def _q_chain(t):
    from kgforge.graph.bgp import match_bgp

    return match_bgp(t.df, [("?x", "acquired", "?y"), ("?y", "works at", "?z")])


def _q_cycle(t):
    from kgforge.graph.bgp import match_bgp

    return match_bgp(t.df, CYCLE)


def _q_window(t):
    from kgforge.graph.temporal import window_subgraph_topk

    # reads the table by path itself, so the day filter prunes partitions
    return window_subgraph_topk(t.spark, t.path, WINDOW_LO, WINDOW_HI, k=TOPK)


def _q_reach(t):
    from kgforge.graph.paths import reachable_from

    return reachable_from(t.df, ANCHOR, None, max_hops=REACH_HOPS)


def _q_profile(t):
    from kgforge.graph.analytics import entity_profile

    return entity_profile(t.df, k=TOPK)


# name -> (DataFrame factory, result columns, whether row order is part of
# the result)
QUERIES = {
    "bgp_anchored": (_q_anchored, ("x", "y"), False),
    "bgp_chain": (_q_chain, ("x", "y", "z"), False),
    "bgp_cycle": (_q_cycle, ("a", "b", "c"), False),
    "window_topk": (_q_window, ("subj_id", "pred", "obj_id", "n"), True),
    "path_reach": (_q_reach, ("node", "hops"), False),
    "entity_profile": (
        _q_profile,
        ("node", "out_edges", "in_edges", "n_preds", "first_day", "last_day"),
        True,
    ),
}


def run_query(table: EdgeTable, name: str) -> list[tuple]:
    """One graph read, start to rows in the client; returns canonical rows
    (every value as a string; sorted unless order is part of the result)."""
    build, cols, ordered = QUERIES[name]
    rows = [tuple(str(v) for v in r) for r in build(table).select(*cols).collect()]
    return rows if ordered else sorted(rows)


def run_wcoj_cycle(table: EdgeTable) -> list[tuple]:
    from kgforge.graph.wcoj import match_bgp_cycle

    df = match_bgp_cycle(table.df, CYCLE).select("a", "b", "c")
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def graph_oracle(edges: list[tuple]) -> dict[str, list[tuple]]:
    """The six reads evaluated in plain Python over (subj_id, pred, obj_id,
    url, warc_ts, day) rows, in ``run_query``'s canonical form."""
    pairs: dict[str, set] = defaultdict(set)
    succ: dict[str, set] = defaultdict(set)
    for s, p, o, *_ in edges:
        pairs[p].add((s, o))
        succ[s].add(o)
    acq, works = pairs["acquired"], pairs["works at"]
    acq_from: dict[str, set] = defaultdict(set)
    works_from: dict[str, set] = defaultdict(set)
    for s, o in acq:
        acq_from[s].add(o)
    for s, o in works:
        works_from[s].add(o)

    out = {
        "bgp_anchored": {(x, y) for x, y in acq if (y, ANCHOR) in pairs["located in"]},
        "bgp_chain": {(x, y, z) for x, y in acq for z in works_from[y]},
        "bgp_cycle": {
            (a, b, c) for a, b in works for c in acq_from[b] if (c, a) in works
        },
    }

    counts = Counter((s, p, o) for s, p, o, _u, _t, day in edges if WINDOW_LO <= day <= WINDOW_HI)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOPK]
    out["window_topk"] = [(s, p, o, str(n)) for (s, p, o), n in top]

    dist: dict[str, int] = {}
    frontier = set(succ[ANCHOR])
    hop = 1
    while frontier:
        for n in frontier:
            dist[n] = hop
        if hop == REACH_HOPS:
            break
        hop += 1
        frontier = {m for n in frontier for m in succ[n]} - dist.keys()
    out["path_reach"] = {(n, str(h)) for n, h in dist.items()}

    out_c: Counter = Counter()
    in_c: Counter = Counter()
    preds: dict[str, set] = defaultdict(set)
    days: dict[str, list] = {}
    for s, p, o, _u, _t, day in edges:
        out_c[s] += 1
        in_c[o] += 1
        for node in (s, o):
            preds[node].add(p)
            lo_hi = days.setdefault(node, [day, day])
            lo_hi[0], lo_hi[1] = min(lo_hi[0], day), max(lo_hi[1], day)
    nodes = sorted(preds, key=lambda n: (-(out_c[n] + in_c[n]), n))[:TOPK]
    out["entity_profile"] = [
        (n, str(out_c[n]), str(in_c[n]), str(len(preds[n])), *days[n]) for n in nodes
    ]
    return {k: (v if isinstance(v, list) else sorted(v)) for k, v in out.items()}
