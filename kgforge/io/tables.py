"""Table writer abstraction + per-task lineage and idempotent resume.

Offline emulation of an Iceberg-style committed table (SURVEY.md env
constraints): each stage output is a partitioned Parquet directory whose
write is made atomic-by-manifest — data lands first, then a
``_kgforge_manifest.json`` records stage name, row count, an
order-insensitive table checksum, per-task lineage and marks the table
committed.

Committing costs one Spark job, the write. Row count and checksum are
``DataFrame.observe`` metrics of the written frame, so they ride the write
itself (a retried task is counted once: Spark merges only successful
attempts' accumulators). Lineage has one entry per write task, keyed by the
``part-NNNNN`` index of Spark's file names, with ``output_rows`` from the
Parquet footers and ``output_bytes``/``files`` from the file sizes — the
driver reads metadata only, like Iceberg's manifest entries
(``record_count``, ``file_size_in_bytes``).

A stage whose manifest is present, committed and whose part files still
match the per-task file counts and byte totals (``os.stat`` only) is
skipped on re-run and its output re-read (resume = anti-join of pending
work against completed lineage, SURVEY.md §4.3-4); a deleted or truncated
part file makes the stage rebuild. When an Iceberg catalog is configured
(``spark.sql.catalog.*`` with the runtime jar on a real cluster),
``use_iceberg=True`` routes through ``writeTo().partitionedBy`` instead —
same call sites, same observation, no engine changes.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_kgforge_manifest.json"

LINEAGE_SCHEMA = (
    "stage string, partition_id int, output_rows long, output_bytes long, "
    "ts double"
)

# Spark names every data file part-<task partition id>-<job uuid>...
_PART_FILE = re.compile(r"part-(\d{5})")


def _row_hash_sum(cols: list[str]) -> Column:
    """Order-insensitive table checksum: Σ xxhash64 over the string-cast
    row, 0 for an empty table."""
    return F.coalesce(
        F.sum(F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    )


def table_checksum(df: DataFrame) -> tuple[int, str]:
    """(row_count, order-insensitive checksum) over the whole table — the
    read-back reference the manifest's observed values must equal."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), _row_hash_sum(df.columns).alias("h")
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def _part_files(path: str):
    """(task index, file path) of every data file under ``path``, partition
    directories included; hidden ``.crc`` and ``_SUCCESS`` files are not
    data (Spark's reader skips ``_``/``.`` paths too)."""
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            m = _PART_FILE.match(f)
            if m:
                yield int(m.group(1)), os.path.join(dirpath, f)


def _task_files(path: str) -> dict[int, tuple[int, int]]:
    """task index → (file count, byte total), from ``os.stat`` only."""
    out: dict[int, tuple[int, int]] = {}
    for task, f in _part_files(path):
        files, size = out.get(task, (0, 0))
        out[task] = (files + 1, size + os.stat(f).st_size)
    return out


def partition_lineage(path: str, stage: str) -> list[dict]:
    """One lineage entry per write task of the committed table at
    ``path``: rows from the Parquet footers, bytes and file count from the
    file sizes. Driver-side metadata reads, no Spark job."""
    import pyarrow.parquet as pq

    entries: dict[int, dict] = {}
    now = time.time()
    for task, f in _part_files(path):
        e = entries.setdefault(
            task,
            {"stage": stage, "partition_id": task, "output_rows": 0,
             "output_bytes": 0, "files": 0, "ts": now},
        )
        e["output_rows"] += pq.read_metadata(f).num_rows
        e["output_bytes"] += os.stat(f).st_size
        e["files"] += 1
    return [entries[t] for t in sorted(entries)]


def manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def is_committed(path: str, stage: str | None = None) -> bool:
    """Committed manifest for ``stage`` whose part files are all still
    there at their committed sizes. Manifests without per-task file
    counts (e.g. the N-Triples export's) get the status check only."""
    mp = manifest_path(path)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as fh:
            m = json.load(fh)
    except (json.JSONDecodeError, OSError):
        # torn manifest write (crash mid-dump) = not committed; the stage
        # rebuilds and overwrites it
        return False
    if m.get("status") != "committed" or (stage is not None and m.get("stage") != stage):
        return False
    if "lineage" not in m:
        return True
    # entries written before lineage carried file counts never match: the
    # stage rebuilds once
    committed = {
        e["partition_id"]: (e.get("files"), e.get("output_bytes")) for e in m["lineage"]
    }
    return _task_files(path) == committed


def write_table(
    df: DataFrame,
    path: str,
    stage: str,
    partition_by: list[str] | None = None,
    use_iceberg: bool = False,
) -> dict:
    """Write + commit a stage output table in one Spark job; returns the
    manifest dict."""
    partition_by = list(partition_by or [])
    # checksum in read-back column order: a Parquet directory returns its
    # partition columns last (an Iceberg table keeps the frame's order)
    cols = df.columns
    if not use_iceberg:
        cols = [c for c in cols if c not in partition_by] + partition_by
    obs = Observation()
    observed = df.observe(
        obs, F.count(F.lit(1)).alias("n"), _row_hash_sum(cols).alias("h")
    )
    if use_iceberg:  # pragma: no cover - needs the Iceberg runtime jar
        writer = observed.writeTo(path)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
    else:
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    metrics = obs.get
    manifest = {
        "stage": stage,
        "status": "committed",
        "path": path,
        "row_count": int(metrics["n"]),
        "checksum": str(metrics["h"]),
        "partition_by": partition_by,
        "committed_at": time.time(),
    }
    if not use_iceberg:
        # Iceberg's own manifests hold the per-file counts
        manifest["lineage"] = partition_lineage(path, stage)
    commit_manifest(path, manifest)
    return manifest


def commit_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest commit: write-then-rename so a crash mid-dump
    never leaves a half-written manifest that reads as committed. Shared
    by write_table and the incremental N-Triples exporter."""
    mp = manifest_path(path)
    tmp = mp + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mp)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_manifest(path: str) -> dict:
    with open(manifest_path(path)) as fh:
        return json.load(fh)


def write_lineage_table(spark: SparkSession, manifests: list[dict], path: str):
    """Flatten stage manifests into the queryable ``lineage`` table."""
    rows = []
    for m in manifests:
        for entry in m.get("lineage", []):
            rows.append(
                (
                    entry["stage"],
                    entry["partition_id"],
                    entry["output_rows"],
                    entry["output_bytes"],
                    entry["ts"],
                )
            )
    spark.createDataFrame(rows, LINEAGE_SCHEMA).write.mode("overwrite").parquet(path)
