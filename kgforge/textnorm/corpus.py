"""Training-corpus operators: token/tag re-chunking (R3) and tag-id
mapping (A1) — ports of
/root/reference/dbpunctuator/training/punctuation_data_process.py:18-77.

Determinism policy (SURVEY.md §4.3-5): the reference draws chunk lengths
with ``randint`` (``:34-36``) and splits with ``random_state=7``; resumable
distributed runs need hash-of-key randomness instead, so chunk lengths come
from an injectable ``length_for(ordinal)`` (default: md5 of the ordinal)
and the train/val split is a deterministic key hash.
"""

from __future__ import annotations

import hashlib
from typing import Callable

PAD_TOKEN = "[PAD]"  # punctuation_data_process.py:13
NORMAL_TOKEN_TAG = "O"


def default_length_for(min_len: int, max_len: int) -> Callable[[int], int]:
    """Deterministic stand-in for ``randint(min,max)`` keyed by chunk
    ordinal."""

    def f(ordinal: int) -> int:
        h = int.from_bytes(
            hashlib.md5(f"chunklen:{ordinal}".encode()).digest()[:4], "big"
        )
        return min_len + h % (max_len - min_len + 1)

    return f


def read_token_tag_stream(
    lines: list[str],
    min_sequence_length: int,
    max_sequence_length: int,
    length_for: Callable[[int], int] | None = None,
) -> tuple[list[list[str]], list[list[str]]]:
    """File-faithful port of ``_read_data`` (:18-63) over in-memory lines:
    blank line ends a chunk; reaching the target length ends a chunk; bad
    (non-2-field) lines are skipped (F4); the FINAL chunk is padded with
    ``[PAD]``/``O`` up to the target — including the reference quirk that
    when input ends exactly at a chunk boundary, the just-closed chunk
    object is extended with a full pad block and appended a second time
    (same list object twice). Pinned by tests; do not "fix"."""
    if length_for is None:
        length_for = default_length_for(min_sequence_length, max_sequence_length)
    token_docs: list[list[str]] = []
    tag_docs: list[list[str]] = []
    line_index = 0
    ordinal = 0
    token_doc: list[str] = []
    tag_doc: list[str] = []
    target_sequence_length = length_for(ordinal)
    for line in lines:
        if line_index == 0:
            token_doc = []
            tag_doc = []
            target_sequence_length = length_for(ordinal)
            ordinal += 1
        if line == "\n":
            token_docs.append(token_doc)
            tag_docs.append(tag_doc)
            line_index = 0
            continue
        processed_line = line.strip().split("\t")
        try:
            token_doc.append(processed_line[0])
            tag_doc.append(processed_line[1])
        except IndexError:
            continue
        line_index += 1
        if line_index == target_sequence_length:
            token_docs.append(token_doc)
            tag_docs.append(tag_doc)
            line_index = 0
    token_doc += [PAD_TOKEN] * (target_sequence_length - line_index)
    tag_doc += [NORMAL_TOKEN_TAG] * (target_sequence_length - line_index)
    token_docs.append(token_doc)
    tag_docs.append(tag_doc)
    return token_docs, tag_docs


def rechunk_doc(
    tokens: list[str],
    tags: list[str],
    doc_key: str,
    min_sequence_length: int,
    max_sequence_length: int,
    pad_last: bool = True,
) -> list[tuple[list[str], list[str]]]:
    """Partition-independent R3 for the distributed engine: chunk ONE
    document's token/tag lists into deterministic hash-of-(doc_key, chunk)
    lengths; the doc's final short chunk is padded. Unlike the file port,
    no state crosses documents, so any partitioning of docs yields the
    same chunks (resume-safe)."""
    out: list[tuple[list[str], list[str]]] = []
    i = 0
    chunk_ix = 0
    span = max_sequence_length - min_sequence_length + 1
    while i < len(tokens) or (chunk_ix == 0 and not tokens):
        h = int.from_bytes(
            hashlib.md5(f"chunklen:{doc_key}:{chunk_ix}".encode()).digest()[:4],
            "big",
        )
        target = min_sequence_length + h % span
        tok = tokens[i : i + target]
        tag = tags[i : i + target]
        i += target
        if pad_last and i >= len(tokens):
            tok = tok + [PAD_TOKEN] * (target - len(tok))
            tag = tag + [NORMAL_TOKEN_TAG] * (target - len(tag))
        out.append((tok, tag))
        chunk_ix += 1
        if not tokens:
            break
    return out


def generate_punctuator_tag_mappings(
    tag_docs: list[list[str]],
) -> dict[str, int]:
    """A1: distinct tags → dense ids, sorted (``:66-77`` — np.unique
    semantics = sorted unique)."""
    unique_tags = sorted({tag for tags in tag_docs for tag in tags})
    return {tag: id for id, tag in enumerate(unique_tags)}
