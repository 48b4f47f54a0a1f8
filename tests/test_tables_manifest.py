"""Manifest commit-protocol gates: corrupt/torn manifests read as
uncommitted; stage-name mismatch is not committed; commit is atomic
(no .tmp left behind); a missing or truncated part file is not committed;
the write-observed (row_count, checksum) equals the read-back reference,
also for a task retried after a failed first attempt."""

import json
import os
import subprocess
import sys

from kgforge.io import tables


def test_corrupt_manifest_is_uncommitted(tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    with open(tables.manifest_path(d), "w") as fh:
        fh.write('{"stage": "x", "status": "comm')  # torn write
    assert tables.is_committed(d) is False


def test_missing_and_wrong_stage(tmp_path):
    d = str(tmp_path / "t2")
    os.makedirs(d)
    assert tables.is_committed(d) is False
    with open(tables.manifest_path(d), "w") as fh:
        json.dump({"stage": "a", "status": "committed"}, fh)
    assert tables.is_committed(d, "a") is True
    assert tables.is_committed(d, "b") is False


def test_write_table_commit_atomic(spark, tmp_path):
    d = str(tmp_path / "t3")
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    m = tables.write_table(df, d, "stage_x")
    assert m["status"] == "committed" and m["row_count"] == 10
    assert tables.is_committed(d, "stage_x")
    assert not os.path.exists(tables.manifest_path(d) + ".tmp")
    assert len(m["lineage"]) >= 1
    assert sum(e["output_rows"] for e in m["lineage"]) == 10


# ---------------------------------------------------------------------------
# Equality gate: the manifest's observed (row_count, checksum) must equal the
# read-back reference, and the per-task lineage must add up to row_count.


def _assert_manifest_matches_read_back(spark, path, m):
    assert (m["row_count"], m["checksum"]) == tables.table_checksum(
        tables.read_table(spark, path)
    ), m["stage"]
    assert sum(e["output_rows"] for e in m["lineage"]) == m["row_count"], m["stage"]


def test_every_pipeline_stage_manifest_equals_read_back(spark, tmp_path):
    from kgforge.fixtures.gen import write_fixture_tables
    from kgforge.pipeline import STAGES, run_pipeline

    webdocs, alias = write_fixture_tables(spark, str(tmp_path / "fx"), 100, partitions=4)
    out = str(tmp_path / "out")
    run_pipeline(spark, webdocs, alias, out)
    for stage in STAGES:
        path = os.path.join(out, stage)
        _assert_manifest_matches_read_back(spark, path, tables.read_manifest(path))


def test_partitioned_write_checksums_in_read_back_order(spark, tmp_path):
    d = str(tmp_path / "by_day")
    # the partition column is first here and comes back last
    df = spark.range(200, numPartitions=3).selectExpr(
        "concat('2025-01-', lpad(cast(id % 5 + 1 as string), 2, '0')) as day",
        "id",
        "cast(id * 7 as string) as v",
    )
    m = tables.write_table(df, d, "by_day", partition_by=["day"])
    assert m["row_count"] == 200
    _assert_manifest_matches_read_back(spark, d, m)
    # one lineage entry per write task, each spanning several day files
    assert len(m["lineage"]) == 3
    assert all(e["files"] == 5 for e in m["lineage"])
    assert tables.is_committed(d, "by_day")


def test_empty_write_checksum_is_zero(spark, tmp_path):
    d = str(tmp_path / "empty")
    m = tables.write_table(spark.range(0).selectExpr("id", "'x' as v"), d, "empty")
    assert (m["row_count"], m["checksum"]) == (0, "0")
    _assert_manifest_matches_read_back(spark, d, m)
    assert tables.is_committed(d, "empty")


def test_missing_or_truncated_part_file_is_uncommitted(spark, tmp_path):
    d = str(tmp_path / "t4")
    tables.write_table(spark.range(100, numPartitions=2), d, "t4")
    assert tables.is_committed(d, "t4")
    part = sorted(f for f in os.listdir(d) if f.startswith("part-"))[0]
    with open(os.path.join(d, part), "r+b") as fh:
        fh.truncate(10)
    assert not tables.is_committed(d, "t4")
    os.remove(os.path.join(d, part))
    assert not tables.is_committed(d, "t4")


_RETRY_SCRIPT = r"""
import json, sys
from pyspark import TaskContext
from kgforge.io import tables
from kgforge.session import get_spark

spark = get_spark(master="local[2,3]", shuffle_partitions=4, arrow_batch=50)

def fail_first_attempt(batches):
    ctx = TaskContext.get()
    for b in batches:
        yield b
    # rows of the failed attempt have already passed the observation
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")

df = spark.range(1000, numPartitions=4).selectExpr("id", "cast(id % 7 as string) as k")
df = df.mapInPandas(fail_first_attempt, df.schema)
m = tables.write_table(df, sys.argv[1], "retry", partition_by=["k"])
ref = tables.table_checksum(tables.read_table(spark, sys.argv[1]))
print(json.dumps({"manifest": [m["row_count"], m["checksum"]], "read_back": list(ref),
                  "lineage_rows": sum(e["output_rows"] for e in m["lineage"])}))
spark.stop()
"""


def test_retried_task_is_observed_once(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, KGFORGE_DRIVER_MEMORY="1g")
    p = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "retry")],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert "injected first-attempt failure" in p.stderr  # the retry happened
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["manifest"] == res["read_back"]
    assert res["manifest"][0] == 1000 and res["lineage_rows"] == 1000
