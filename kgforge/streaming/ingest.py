"""Incremental ingest wrapper (SURVEY.md §2.10).

The reference is batch-only; the engine's incremental path treats newly
arriving ``webdocs`` files as a stream: ``readStream`` on the input
directory, ``Trigger.AvailableNow`` (drain everything present, then stop —
idempotent catch-up runs), watermark on ``warc_ts`` for bounded state, and
``foreachBatch`` feeding the SAME batch stages (normalize → sentences →
triples), so streaming and batch semantics cannot diverge.

Delivery semantics: Structured Streaming's checkpoint makes ``foreachBatch``
*at-least-once* — a crash between the sink write and the checkpoint commit
replays the whole micro-batch on restart. A blind ``append`` would then
duplicate rows, so every batch is written to a deterministic
``batch_id=<id>`` subdirectory in ``overwrite`` mode
(``write_batch_idempotent``): a replay overwrites its own previous output
and the sink is effectively exactly-once for a fixed checkpoint lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.tables import clustered

WEBDOCS_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def write_batch_idempotent(
    batch_df: DataFrame,
    output_dir: str,
    batch_id: int,
    partition_by: list[str] | None = None,
) -> None:
    """Idempotent micro-batch sink: parquet under ``batch_id=<id>`` with
    overwrite, so an at-least-once replay of the same batch cannot
    duplicate rows. Readers see ``batch_id`` as a discovered partition
    column of ``output_dir``. A partitioned batch is clustered by its
    partition key like every ``io.tables`` write: one file per value."""
    w = clustered(batch_df, partition_by).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{output_dir}/batch_id={batch_id}")


def stream_normalize_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Start an AvailableNow stream: input parquet dir → normalized parquet.
    Returns the StreamingQuery (caller awaits termination)."""
    from kgforge.stages.normalize import normalize

    reader = (
        spark.readStream.schema(WEBDOCS_DDL)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir).withWatermark("warc_ts", "1 day")

    def process_batch(batch_df, batch_id: int):
        write_batch_idempotent(
            normalize(batch_df, backend=backend), output_dir, batch_id
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_edges(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    output_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
):
    """Full incremental KG path: newly arrived webdocs → fused docstream
    (normalize + sentence split + triple extraction) → canonical rewrite
    against the precomputed alias map → idempotent batch_id-keyed append to
    the edges table (see module docstring: checkpoint dedups inputs,
    overwrite-per-batch dedups replayed outputs) (SURVEY.md §2.10)."""
    from pyspark.sql import functions as F

    from kgforge.stages.canonicalize import edges_with_day, rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    mention_map = spark.read.parquet(alias_map_path).select(
        F.col("alias").alias("mention"), "canon_id"
    )
    stream = (
        spark.readStream.schema(WEBDOCS_DDL)
        .format("parquet")
        .load(input_dir)
        .withWatermark("warc_ts", "1 day")
    )

    def process_batch(batch_df, batch_id: int):
        edges = edges_with_day(
            rewrite_triples(extract_docstream(batch_df, backend=backend), mention_map)
        )
        write_batch_idempotent(edges, output_dir, batch_id, partition_by=["day"])

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """Lineage identity = a uuid minted into the checkpoint dir on first
    use, NOT the directory path: a deleted-and-recreated checkpoint at the
    same path restarts batch ids, gets a fresh uuid, and trips the loud
    mismatch in ``_marker_last_applied`` instead of silently skipping
    every batch (round-4 review pass 2, finding #3). Shared by every
    state-maintaining foreachBatch stream."""
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    id_file = os.path.join(checkpoint_dir, "kgforge_lineage_id")
    if not os.path.exists(id_file):
        tmp_id = id_file + ".tmp"
        with open(tmp_id, "w") as f:
            f.write(uuid.uuid4().hex)
        os.replace(tmp_id, id_file)
    return open(id_file).read().strip()


def _marker_last_applied(
    marker: str, checkpoint_dir: str, ckpt_identity: str, state_dir: str
) -> int:
    """Read a state-dir ``_LATEST`` marker under the exactly-once lineage
    guard; returns the last applied batch id (-1 when no marker).

    Legacy PATH-format markers (pre-uuid) are accepted ONLY when the
    checkpoint contains the streaming OFFSETS record for the marker's
    batch id (written before the batch ran — so the crash window where
    the marker flipped but the commit was never written is accepted and
    replay-skipped, not refused) — a path match alone is NOT lineage
    continuity: a checkpoint deleted and recreated at the same path
    restarts batch ids at 0, and accepting the stale marker would skip
    every replayed batch forever (round-5 ADVICE). On acceptance the
    marker is rewritten with the uuid IMMEDIATELY. Any other identity
    mismatch raises."""
    import json
    import os

    if not os.path.exists(marker):
        return -1
    rec = json.loads(open(marker).read())
    if not isinstance(rec, dict):
        raise RuntimeError(
            f"state marker at {marker} uses the legacy plain-int format:"
            " this state predates checkpoint-lineage tracking and cannot"
            " be safely resumed. Start from an empty state dir (or rebuild"
            " from the batch recompute)."
        )
    if rec["checkpoint"] == os.path.abspath(checkpoint_dir):
        # continuity witness = offsets/<id>, NOT commits/<id>: Spark writes
        # the offsets record BEFORE running batch id, so it exists in every
        # state this marker could legally describe — including the crash
        # window where foreachBatch flipped the marker but the commit
        # record was never written (that replay is exactly what the
        # batch_id <= last_applied guard handles). A checkpoint deleted
        # and recreated at the same path that never reached this batch id
        # has no offsets/<id> and is refused. Residual (documented) limit:
        # a recreated checkpoint independently re-run PAST this batch id
        # against a different state dir, then re-pointed here, passes —
        # only the uuid identity (written on acceptance, below) closes
        # that for all subsequent runs.
        offsets_file = os.path.join(
            checkpoint_dir, "offsets", str(int(rec["batch_id"]))
        )
        if not os.path.exists(offsets_file):
            raise RuntimeError(
                f"state at {state_dir} carries a legacy path-format marker"
                f" for batch {rec['batch_id']} but the checkpoint at"
                f" {checkpoint_dir} has no offsets record for that batch:"
                " the checkpoint was deleted/recreated, so batch ids are"
                " not comparable and the merge cannot be made exactly-once."
                " Keep the original checkpoint dir, or start from an empty"
                " state dir."
            )
        _flip_marker(marker, ckpt_identity, int(rec["batch_id"]))
    elif rec["checkpoint"] != ckpt_identity:
        raise RuntimeError(
            f"state at {state_dir} belongs to checkpoint"
            f" {rec['checkpoint']!r} but this stream uses"
            f" {ckpt_identity!r}: batch ids are not comparable across"
            " checkpoint lineages, so the merge cannot be made"
            " exactly-once. Keep the original checkpoint dir, or start"
            " from an empty state dir."
        )
    return int(rec["batch_id"])


def _flip_marker(marker: str, ckpt_identity: str, batch_id: int) -> None:
    """Atomically point ``_LATEST`` at a committed state version — always
    AFTER the version's data write, so a crash between them leaves the
    previous pointer valid."""
    import json
    import os

    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"checkpoint": ckpt_identity, "batch_id": batch_id}, f)
    os.replace(tmp, marker)


def merge_edge_states(cur: DataFrame | None, batch_agg: DataFrame) -> DataFrame:
    """Combine the standing edge state with one micro-batch's aggregate:
    counts add, the (ts, url) witness takes the struct-max (``greatest``
    skips the null side of the outer join)."""
    if cur is None:
        return batch_agg
    b = batch_agg.select(
        "subj_id",
        "pred",
        "obj_id",
        F.col("n").alias("n_b"),
        F.col("last").alias("last_b"),
    )
    return (
        cur.join(b, ["subj_id", "pred", "obj_id"], "full_outer")
        .select(
            "subj_id",
            "pred",
            "obj_id",
            (
                F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("n_b"), F.lit(0))
            ).alias("n"),
            F.greatest(F.col("last"), F.col("last_b")).alias("last"),
        )
    )


def _read_versioned_state(
    spark: SparkSession, state_dir: str, prefix: str
) -> DataFrame | None:
    """Shared reader for the incremental streams' versioned state tables
    (``<prefix><batch_id>`` parquet + ``_LATEST`` marker; None before the
    first applied batch; loud error on the legacy plain-int marker)."""
    import json
    import os

    marker = os.path.join(state_dir, "_LATEST")
    if not os.path.exists(marker):
        return None
    rec = json.loads(open(marker).read())
    if not isinstance(rec, dict):
        raise RuntimeError(
            f"state marker at {marker} uses the legacy plain-int format; "
            "rebuild the state (see stream_upsert_edge_latest)."
        )
    return spark.read.parquet(
        os.path.join(state_dir, f"{prefix}{rec['batch_id']}")
    )


def read_edge_latest_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current compacted edge state (None before the first applied batch).
    Columns: subj_id, pred, obj_id, n, last(ts, url)."""
    return _read_versioned_state(spark, state_dir, "state_v")


def stream_upsert_edge_latest(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental LATEST-WINS edge maintenance (§2.10 + the batch
    ``kg_edge_latest`` analog): each micro-batch's canonical edges are
    aggregated and MERGED into a compacted per-edge state table
    (count + latest (warc_ts, url) witness) instead of appended — the
    stream maintains the serving table a batch job would recompute.

    Exactly-once merge under at-least-once foreachBatch: state versions are
    written to ``state_v<batch_id>`` (overwrite — a replayed half-written
    version clobbers itself) and the ``_LATEST`` pointer is flipped LAST
    via atomic rename; a replayed batch_id ≤ the pointer is skipped, so a
    crash between sink write and checkpoint commit cannot double-count.
    Batch ids are only comparable WITHIN one checkpoint lineage — the
    pointer records the checkpoint identity, and a run against existing
    state from a DIFFERENT checkpoint fails loudly instead of silently
    skipping (new ids ≤ old pointer) or double-merging (availableNow
    re-lists all input under a fresh checkpoint).

    Scale path: this offline stand-in rewrites the full state per batch;
    on a real deployment the same merge is an Iceberg/Delta ``MERGE INTO``
    keyed on (subj_id, pred, obj_id) — or hash-bucketed state directories
    where only buckets touched by the batch rewrite — so per-batch IO is
    proportional to the batch, not the table."""
    import os

    from kgforge.graph.analytics import edge_latest_state
    from kgforge.stages.canonicalize import rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    mention_map = spark.read.parquet(alias_map_path).select(
        F.col("alias").alias("mention"), "canon_id"
    )
    reader = spark.readStream.schema(WEBDOCS_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir).withWatermark("warc_ts", "1 day")
    os.makedirs(state_dir, exist_ok=True)
    ckpt_identity = _checkpoint_identity(checkpoint_dir)

    def process_batch(batch_df, batch_id: int):
        marker = os.path.join(state_dir, "_LATEST")
        last_applied = _marker_last_applied(
            marker, checkpoint_dir, ckpt_identity, state_dir
        )
        if batch_id <= last_applied:
            return  # replay of an already-merged batch — exactly-once skip
        cur = read_edge_latest_state(batch_df.sparkSession, state_dir)
        # the batch table's own per-edge upsert definition, so the
        # streaming state and the batch table cannot drift
        batch_agg = edge_latest_state(
            rewrite_triples(extract_docstream(batch_df, backend=backend), mention_map)
        )
        out = os.path.join(state_dir, f"state_v{batch_id}")
        merge_edge_states(cur, batch_agg).write.mode("overwrite").parquet(out)
        _flip_marker(marker, ckpt_identity, batch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_degree_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current incrementally-maintained (day, node, degree) table (None
    before the first applied batch)."""
    return _read_versioned_state(spark, state_dir, "degree_v")


def _advance_distinct_edges(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    batch_edges: DataFrame,
    key_cols: list[str],
) -> tuple[DataFrame | None, DataFrame, DataFrame]:
    """Shared cumulative-distinct-edge-set step for the incremental
    streams: anti-join the batch's distinct keys against the standing set
    (``<prefix><id>`` under the ``_LATEST`` marker), localCheckpoint the
    delta (it feeds several joins), and return (cur_edges, new_edges,
    all_edges) — cur_edges is None on the first batch. The caller writes
    ``all_edges`` to ``<prefix><batch_id>`` and flips the marker LAST —
    this helper never touches the marker."""
    cur = _read_versioned_state(spark, state_dir, prefix)
    if cur is None:
        new = batch_edges.localCheckpoint()
        return None, new, new
    new = batch_edges.join(cur, key_cols, "left_anti").localCheckpoint()
    return cur, new, cur.unionAll(new)


def stream_degree_over_time(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental maintenance of the ``kg_degree_over_time`` table
    (round-4 verdict stretch #10, composing streaming with the analytics
    layer): each micro-batch's canonical edges update a persisted
    per-(day, node) degree table that always equals the batch
    ``graph.temporal.degree_over_time`` recompute over all input so far
    (equivalence asserted in tests/test_stateful_streaming.py).

    Distinct-edge semantics across batches: degree counts DISTINCT
    (day, src, dst) — an edge re-asserted in a later batch must not
    re-count — so the state carries two tables per version: ``edges_v<id>``
    (the cumulative distinct edge set) and ``degree_v<id>``. A batch's
    NEW edges = batch-distinct edges anti-joined against the standing set;
    only their endpoint contributions merge into the degree table (full
    outer sum). Exactly-once discipline is shared with
    ``stream_upsert_edge_latest`` (same uuid lineage identity, versioned
    overwrite writes, atomic ``_LATEST`` flip last, replayed batch ids
    skipped).

    Scale path: offline stand-in rewrites both state tables per batch; in
    production the edge set is the day-partitioned edge table itself
    (MERGE INTO on (day, src, dst) touching only the batch's day
    partitions) and the degree merge is a MERGE INTO keyed on (day, node)
    — per-batch IO proportional to the batch's days, not history."""
    import os

    from kgforge.stages.canonicalize import edges_with_day, rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    mention_map = spark.read.parquet(alias_map_path).select(
        F.col("alias").alias("mention"), "canon_id"
    )
    reader = spark.readStream.schema(WEBDOCS_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir).withWatermark("warc_ts", "1 day")
    os.makedirs(state_dir, exist_ok=True)
    ckpt_identity = _checkpoint_identity(checkpoint_dir)

    def process_batch(batch_df, batch_id: int):
        sess = batch_df.sparkSession
        marker = os.path.join(state_dir, "_LATEST")
        last_applied = _marker_last_applied(
            marker, checkpoint_dir, ckpt_identity, state_dir
        )
        if batch_id <= last_applied:
            return
        edges = edges_with_day(
            rewrite_triples(extract_docstream(batch_df, backend=backend), mention_map)
        )
        batch_edges = edges.select(
            "day", F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        ).distinct()
        _cur, new_edges, all_edges = _advance_distinct_edges(
            sess, state_dir, "edges_v", batch_edges, ["day", "src", "dst"]
        )
        new_deg = (
            new_edges.select("day", F.col("src").alias("node"))
            .unionAll(new_edges.select("day", F.col("dst").alias("node")))
            .groupBy("day", "node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        cur_deg = read_degree_state(sess, state_dir)
        if cur_deg is not None:
            d = new_deg.select(
                "day", "node", F.col("degree").alias("degree_b")
            )
            merged = (
                cur_deg.join(d, ["day", "node"], "full_outer")
                .select(
                    "day",
                    "node",
                    (
                        F.coalesce(F.col("degree"), F.lit(0))
                        + F.coalesce(F.col("degree_b"), F.lit(0))
                    ).alias("degree"),
                )
            )
        else:
            merged = new_deg
        all_edges.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"edges_v{batch_id}")
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"degree_v{batch_id}")
        )
        _flip_marker(marker, ckpt_identity, batch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_windowed_doc_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    late_threshold: str = "2 hours",
):
    """Watermarked tumbling-window doc counts per lang — the standard
    late-data-tolerant streaming aggregate, append-mode output."""
    stream = (
        spark.readStream.schema(WEBDOCS_DDL)
        .format("parquet")
        .load(input_dir)
        .withWatermark("warc_ts", late_threshold)
    )
    agg = stream.groupBy(
        F.window("warc_ts", window).alias("w"), "lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    flat = agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "lang",
        "n_docs",
    )
    return (
        flat.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def read_bgp_view_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current incrementally-maintained BGP binding view (None before the
    first applied batch). One string column per pattern variable."""
    return _read_versioned_state(spark, state_dir, "view_v")


def stream_bgp_view(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    patterns: list[tuple[str, str, str]],
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental maintenance of a MATERIALIZED BGP VIEW (the second
    streaming x serving composition, after ``stream_degree_over_time``):
    for a fixed 2-pattern BGP the persisted binding view always equals
    ``graph.bgp.match_bgp`` recomputed over the cumulative distinct edge
    set (equivalence asserted in tests/test_stateful_streaming.py).

    Incremental-view-maintenance delta rule for a binary join — with
    E = old edges, Δ = this batch's NEW distinct edges (anti-joined
    against the standing set, exactly like the degree stream):

        Δview = P1(Δ) ⋈ P2(E ∪ Δ)  ∪  P1(E) ⋈ P2(Δ)

    (the classic ΔR1 ⋈ R2_new ∪ R1_old ⋈ ΔR2 — Δ⋈Δ lands in the first
    term exactly once). Both terms are single-pattern compilations
    (distinct projections) joined on the shared variables, so each term
    is a set; a final anti-join against the standing view keeps set
    semantics even for patterns whose projection does not determine the
    contributing edge uniquely (variable predicates). Per batch the work
    is Δ-proportional: two keyed joins whose left/right side is the
    batch delta, never a recompute over history.

    State layout + exactly-once discipline are shared with the other
    incremental streams (uuid checkpoint lineage, versioned overwrite
    writes ``bgp_edges_v<id>`` / ``view_v<id>``, atomic ``_LATEST`` flip
    last, replayed batch ids skipped). Scale path: the cumulative edge
    set is the day-partitioned edge table itself (MERGE INTO touching
    the batch's days) and the view merge is a MERGE INTO keyed on the
    variable columns — per-batch IO proportional to the delta.
    """
    import os

    from kgforge.graph.bgp import _check_patterns, _compile_pattern, _is_var
    from kgforge.stages.canonicalize import rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    if len(patterns) != 2:
        raise ValueError(
            "stream_bgp_view maintains a 2-pattern BGP view; got "
            f"{len(patterns)} patterns (compose wider views downstream, "
            "or run match_bgp as a batch query)"
        )
    # reserved-name guard shared with match_bgp; the anchor check is done
    # here (not via _check_patterns' per-pattern mode) so the error names
    # THIS function's contract instead of telling the user to pass a
    # require_anchor escape stream_bgp_view does not accept
    _check_patterns(patterns, require_anchor=False, per_pattern_anchor=True)
    for p in patterns:
        if all(_is_var(t) for t in p):
            raise ValueError(
                f"unanchored pattern {p} scans the full edge table on "
                "every batch; anchor it with a constant (stream_bgp_view "
                "maintains delta-proportional work and offers no "
                "full-scan escape — run match_bgp as a batch query)"
            )
    # variable sets via the same _is_var the compiler uses, so the guard
    # and _compile_pattern can never disagree on what counts as a variable
    probe_vars = [{t[1:] for t in p if _is_var(t)} for p in patterns]
    shared = sorted(probe_vars[0] & probe_vars[1])
    if not shared:
        raise ValueError(
            "the two patterns share no variable — the view would be a "
            "cross product; use match_bgp(allow_product=True) as a batch "
            "query if that is really what you want"
        )

    mention_map = spark.read.parquet(alias_map_path).select(
        F.col("alias").alias("mention"), "canon_id"
    )
    reader = spark.readStream.schema(WEBDOCS_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir).withWatermark("warc_ts", "1 day")
    os.makedirs(state_dir, exist_ok=True)
    ckpt_identity = _checkpoint_identity(checkpoint_dir)

    def _match_pair(left_edges, right_edges):
        """P1(left) ⋈ P2(right) on the shared variables — both sides are
        distinct single-pattern projections, so the join is a set."""
        l, _ = _compile_pattern(left_edges, patterns[0], 0)
        r, _ = _compile_pattern(right_edges, patterns[1], 1)
        return l.join(r, on=shared, how="inner")

    def process_batch(batch_df, batch_id: int):
        sess = batch_df.sparkSession
        marker = os.path.join(state_dir, "_LATEST")
        last_applied = _marker_last_applied(
            marker, checkpoint_dir, ckpt_identity, state_dir
        )
        if batch_id <= last_applied:
            return
        batch_edges = (
            rewrite_triples(
                extract_docstream(batch_df, backend=backend), mention_map
            )
            .select("subj_id", "pred", "obj_id")
            .distinct()
        )
        cur_edges, new_edges, all_edges = _advance_distinct_edges(
            sess, state_dir, "bgp_edges_v", batch_edges,
            ["subj_id", "pred", "obj_id"],
        )
        delta = _match_pair(new_edges, all_edges)
        if cur_edges is not None:
            delta = delta.unionByName(_match_pair(cur_edges, new_edges))
        cur_view = read_bgp_view_state(sess, state_dir)
        if cur_view is not None:
            # NULL-SAFE anti-join (round-5 ADVICE): a binding carrying a
            # NULL value (possible when an alternation pattern's
            # projection is not edge-injective) would never equi-match
            # the standing view and be appended again every batch,
            # breaking set semantics vs match_bgp — eqNullSafe treats
            # NULL = NULL as a match, like the dropDuplicates beside it.
            d = delta.dropDuplicates()
            cond = None
            for c in cur_view.columns:
                e = d[c].eqNullSafe(cur_view[c])
                cond = e if cond is None else (cond & e)
            fresh = d.join(cur_view, on=cond, how="left_anti")
            merged = cur_view.unionByName(fresh)
        else:
            merged = delta.dropDuplicates()
        all_edges.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"bgp_edges_v{batch_id}")
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"view_v{batch_id}")
        )
        _flip_marker(marker, ckpt_identity, batch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
