"""Stage-2 gate (SURVEY.md §5.2-2): byte-identity of the Spark normalize
stage vs the single-node oracle, for EVERY url, on a fixture slice that
includes long (chunked) docs, Chinese docs, and maskable tokens; null and
blank docs normalize to empty text in one chunk. Plus plan checks: column
pruning of ``html`` and no shuffle in the normalize plan."""

import pytest

from kgforge.fixtures.gen import gen_webdocs_rows, write_fixture_tables
from kgforge.stages.normalize import normalize
from kgforge.textnorm.constants import (
    DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP,
    DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP,
)
from kgforge.textnorm.pipeline import punctuate_one
from kgforge.textnorm.tagger import MockTagger
from tests.test_docstream import null_docs

N_DOCS = 300


@pytest.fixture(scope="module")
def webdocs_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fixtures"))
    docs_path, _ = write_fixture_tables(spark, out, N_DOCS, partitions=4)
    return docs_path


def oracle_norm(rows):
    taggers = {"en": MockTagger("en"), "zh": MockTagger("zh")}
    out = {}
    for row in rows:
        tag_map = (
            DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP
            if row["lang"] == "zh"
            else DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP
        )
        text_norm, labels = punctuate_one(row["text"], taggers[row["lang"]], tag_map)
        out[row["url"]] = (text_norm, labels)
    return out


def test_fixture_covers_edge_cases():
    rows = list(gen_webdocs_rows(N_DOCS))
    langs = {r["lang"] for r in rows}
    assert "zh" in langs and "en" in langs
    assert any(len(r["text"].split()) > 256 for r in rows), "need a chunked doc"
    assert any("@" in r["text"] for r in rows), "need maskable emails"
    assert len({r["url"] for r in rows}) == N_DOCS


def test_byte_identity_spark_vs_oracle(spark, webdocs_path):
    docs = spark.read.parquet(webdocs_path)
    got = {
        r["url"]: (r["text_norm"], list(r["labels"]))
        for r in normalize(docs, backend="mock").collect()
    }
    want = oracle_norm(gen_webdocs_rows(N_DOCS))
    assert len(got) == N_DOCS
    mismatches = [u for u in want if got[u] != want[u]]
    assert mismatches == [], f"{len(mismatches)} urls differ, e.g. {mismatches[:3]}"


def test_null_and_blank_docs(spark):
    got = {r["url"]: r for r in normalize(null_docs(spark)).collect()}
    for url in ("u:null-text", "u:blank-zh"):
        assert got[url]["text_norm"] == "" and got[url]["labels"] == []
        assert got[url]["n_tokens"] == 0 and got[url]["n_chunks"] == 1
    assert got["u:null-lang"]["lang"] == "en" and got["u:null-lang"]["text_norm"]
    assert got["u:null-ts"]["warc_ts"] is None and got["u:null-ts"]["text_norm"]


def test_html_column_pruned(spark, webdocs_path):
    docs = spark.read.parquet(webdocs_path)
    plan = normalize(docs)._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan, "html column must be pruned at the scan"
    assert "Exchange" not in plan, "normalize must not shuffle"
