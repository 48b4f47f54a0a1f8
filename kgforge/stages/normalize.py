"""Stage A — punctuation/normalization over ``webdocs``.

Spark-first equivalent of the reference's inference serving path
(SURVEY.md §3.1): one Python stage on ``flat_map_rows`` whose per-row code
is the exact oracle module (``kgforge.textnorm.pipeline``), so the
distributed output is byte-identical to the single-node reference
semantics per url by construction. ``punctuator`` is the one place a
Python stage gets a tagger: a python-worker-local singleton per lang
(reference's child-process server, C1, maps to Spark's worker processes).

Scale notes:
- input projection is ``url, warc_ts, text, lang`` only → Parquet reader
  never touches ``html`` (column pruning; verified in tests via ReadSchema);
- Arrow batch size bounds per-batch padding and worker memory;
- no shuffle: normalize is embarrassingly parallel per input partition.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.stages.rows import flat_map_rows
from kgforge.textnorm.constants import (
    DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP,
    DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP,
    currency_regex_pattern,
)
from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH, punctuate_one

NORM_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text_norm string, "
    "labels array<string>, n_tokens int, n_chunks int"
)


def _tag_map(lang: str) -> dict:
    return (
        DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP
        if lang == "zh"
        else DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP
    )


def punctuator(backend: str = "mock", **backend_kwargs) -> Callable:
    """Driver side: scan the full-Unicode CURRENCY pattern once (~1 s) and
    ship it. Calling the result on the worker primes the pattern and
    returns ``punct(text, lang) -> (lang, text_norm, labels)`` with one
    tagger per lang; a null lang reads as ``en``, null text as empty.
    ``backend_kwargs`` reach ``get_tagger`` (e.g. an ONNX model path)."""
    currency_pattern = currency_regex_pattern()

    def make() -> Callable:
        from kgforge.textnorm.constants import prime_currency_pattern
        from kgforge.textnorm.tagger import get_tagger

        prime_currency_pattern(currency_pattern)
        taggers: dict[str, object] = {}

        def punct(text, lang):
            lang = lang or "en"
            tagger = taggers.get(lang)
            if tagger is None:
                tagger = taggers[lang] = get_tagger(backend, lang, **backend_kwargs)
            text_norm, labels = punctuate_one(text or "", tagger, _tag_map(lang))
            return lang, text_norm, labels

        return punct

    return make


def normalize(webdocs: DataFrame, backend: str = "mock", **backend_kwargs) -> DataFrame:
    """webdocs(url, warc_ts, html, text, lang) → norm_text(url, warc_ts,
    lang, text_norm, labels, n_tokens, n_chunks)."""
    new_punct = punctuator(backend, **backend_kwargs)

    def make_fn():
        punct = new_punct()

        def fn(url, ts, text, lang):
            lang, text_norm, labels = punct(text, lang)
            n_chunks = max(1, -(-len(labels) // DEFAULT_MAX_SEQUENCE_LENGTH))
            yield url, ts, lang, text_norm, labels, len(labels), n_chunks

        return fn

    # warc_ts rides along (avoids re-joining webdocs later just for the
    # timestamp — a full url-keyed shuffle at scale); tolerate its absence.
    if "warc_ts" not in webdocs.columns:
        webdocs = webdocs.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    return flat_map_rows(
        webdocs, ["url", "warc_ts", "text", "lang"], NORM_SCHEMA, make_fn
    )
