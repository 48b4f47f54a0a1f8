"""Fused-stage gate: extract_docstream output == modular
triples(sentences(normalize)) exactly (same rows, same values), also for
null text / lang / warc_ts and blank docs, whose Arrow batches emit no
triples at all."""

import datetime

from kgforge.fixtures.gen import gen_webdocs_rows
from kgforge.stages.docstream import extract_docstream
from kgforge.stages.extract import sentences, triples
from kgforge.stages.normalize import normalize

N_DOCS = 200
DOCS_SCHEMA = "url string, warc_ts timestamp, text string, lang string"
_TS = datetime.datetime(2024, 1, 2, 3, 4, 5)
# one doc per slice: the null-text and blank-zh batches are empty on output
NULL_DOCS = [
    ("u:null-text", _TS, None, "en"),
    ("u:null-lang", _TS, "acme corp acquired initech for $5 million", None),
    ("u:null-ts", None, "maria lopez works at acme corp", "en"),
    ("u:blank-zh", _TS, "   ", "zh"),
]


def null_docs(spark):
    one_per_slice = spark.sparkContext.parallelize(NULL_DOCS, len(NULL_DOCS))
    return spark.createDataFrame(one_per_slice, DOCS_SCHEMA)


def _rows(df):
    return sorted(
        (r["url"], r["warc_ts"], r["sent_id"])
        + (r["subj"], r["pred"], r["obj"], r["conf"])
        for r in df.collect()
    )


def test_fused_equals_modular(spark):
    docs = spark.createDataFrame(
        [
            (r["url"], r["warc_ts"], r["text"], r["lang"])
            for r in gen_webdocs_rows(N_DOCS)
        ],
        DOCS_SCHEMA,
    ).union(null_docs(spark))
    fused = _rows(extract_docstream(docs))
    modular = _rows(triples(sentences(normalize(docs))))
    assert fused == modular
    assert len(fused) > 0
    assert {r[0] for r in fused} >= {"u:null-lang", "u:null-ts"}
