"""Fused document stream: webdocs → triples_raw in ONE Python stage.

The modular stages (normalize / sentences / triples) each cross the
JVM↔Python boundary; chained, a task holds two live Python workers and
pays worker startup twice. For the throughput path (the part that scales
with a 100-TB corpus) this stage fuses normalize + sentence split + triple
extraction into a single ``flat_map_rows`` stage — one worker per task,
one Arrow crossing, identical output to
``triples(sentences(normalize(webdocs)))`` (asserted by
tests/test_docstream.py). Taggers and the driver-scanned CURRENCY pattern
come from ``normalize.punctuator``, so workers skip the ~1s per-process
scan (SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgforge.extract.triples import doc_triples
from kgforge.stages.extract import TRIPLES_SCHEMA
from kgforge.stages.normalize import punctuator
from kgforge.stages.rows import flat_map_rows


def extract_docstream(
    webdocs: DataFrame, backend: str = "mock", **backend_kwargs
) -> DataFrame:
    """webdocs(url, warc_ts, html, text, lang) → triples_raw(url, warc_ts,
    sent_id, subj, pred, obj, conf), fused."""
    new_punct = punctuator(backend, **backend_kwargs)

    def make_fn():
        punct = new_punct()

        def fn(url, ts, text, lang):
            lang, text_norm, _labels = punct(text, lang)
            for sent_id, subj, pred, obj, conf in doc_triples(text_norm, lang):
                yield url, ts, sent_id, subj, pred, obj, conf

        return fn

    return flat_map_rows(
        webdocs, ["url", "warc_ts", "text", "lang"], TRIPLES_SCHEMA, make_fn
    )


def scan_mentions_docstream(
    webdocs: DataFrame, aliases: list[str], backend: str = "mock", **backend_kwargs
) -> DataFrame:
    """Fused gazetteer path: webdocs → (url, sent_id, mention) in ONE
    Python stage (punctuate + sentence split + leftmost-longest alias scan
    — the same fusion rationale as ``extract_docstream``: chained Python
    stages pay worker startup and Arrow crossings twice). Output is
    identical to ``scan_mentions(sentences(normalize(webdocs)), aliases)``
    (asserted in tests/test_mentions.py)."""
    from kgforge.extract.triples import split_sentences
    from kgforge.linking.mentions import build_mention_index, find_mentions

    en_index, zh_aliases = build_mention_index(aliases)
    new_punct = punctuator(backend, **backend_kwargs)

    def make_fn():
        punct = new_punct()

        def fn(url, text, lang):
            lang, text_norm, _labels = punct(text, lang)
            for sent_id, sentence in enumerate(split_sentences(text_norm, lang)):
                for surface in find_mentions(sentence, lang, en_index, zh_aliases):
                    yield url, sent_id, surface

        return fn

    return flat_map_rows(
        webdocs,
        ["url", "text", "lang"],
        "url string, sent_id int, mention string",
        make_fn,
    )
