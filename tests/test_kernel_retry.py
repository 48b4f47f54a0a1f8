"""Retry gate for the per-row Arrow kernel (``kgforge.stages.rows``): a
task whose first attempt fails after its rows were already produced is
retried on a warm Python worker — one whose tagger / extractor memos
(``_MOCK_HASHES``, ``_TOKINFO_CACHE``) a clean run has filled — and the
collected rows still equal the clean run's, for the tagger stage
(``normalize``) and the fused one (``extract_docstream``)."""

import json
import os
import subprocess
import sys

_RETRY_SCRIPT = r"""
import json
from pyspark import TaskContext
from kgforge.fixtures.gen import gen_webdocs_rows
from kgforge.session import get_spark
from kgforge.stages.docstream import extract_docstream
from kgforge.stages.normalize import normalize

spark = get_spark(master="local[2,3]", shuffle_partitions=4, arrow_batch=50)
rows = [(r["url"], r["warc_ts"], r["text"], r["lang"]) for r in gen_webdocs_rows(400)]
docs = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 4),
    "url string, warc_ts timestamp, text string, lang string",
)

def fail_first_attempt(batches):
    ctx = TaskContext.get()
    for b in batches:
        yield b
    # the failed attempt's rows have already left the kernel
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected first-attempt failure")

def collected(df):
    return sorted(tuple(r) for r in df.collect())

out = {}
for stage in (normalize, extract_docstream):
    clean = collected(stage(docs))
    df = stage(docs)
    retried = collected(df.mapInPandas(fail_first_attempt, df.schema))
    out[stage.__name__] = [len(clean), clean == retried]
print(json.dumps(out))
spark.stop()
"""


def test_retried_kernel_task_equals_clean_run():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, KGFORGE_DRIVER_MEMORY="1g")
    p = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert "injected first-attempt failure" in p.stderr  # the retry happened
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["normalize"] == [400, True]
    n_triples, equal = res["extract_docstream"]
    assert n_triples > 400 and equal
