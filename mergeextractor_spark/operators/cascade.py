"""Header-cascade extraction predicate (SURVEY §2.8 header_cascade /
phrase_catalog; ref ChunkProcessor.py:34-169, config.py:32-62).

Three boolean stages per chunk, exactly mirroring the reference:
  (a) locate_chunk_header  — sentence-level literal phrase match with a
      "background" co-check, line-level containment/fuzzy>85 match, exact
      "background" line for the bare phrase     (ChunkProcessor.py:34-73)
  (b) has_section_title    — the phrase must sit in a paragraph of ≤2
      lines (standalone-number lines dropped)   (ChunkProcessor.py:75-114)
  (c) is_not_toc           — "line+blank" (TOC-like) vs consecutive-line
      (paragraph-like) pattern counting         (ChunkProcessor.py:116-140)
then the passage from the header line onward must exceed 200 chars and the
header line must avoid title stop-terms        (ChunkProcessor.py:142-169).

The reference gates (a) on spaCy sentence segmentation; per SURVEY §7.4
we use a deterministic regex sentence splitter (spaCy optional behind the
``sentence_splitter`` argument — never on the test path). Pure-Python
core functions (unit-testable) run inside Arrow-batched ``mapInPandas``
chunk passes (``chunk_and_cascade``, ``locate_hits``).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.fuzzy import fuzz_ratio
from .chunking import split_text

# Ref config.py:32-62 — the 29-phrase catalog; bare "Background" is the
# two-pass fallback (Processor.py:266-269).
START_PHRASES = [
    "Background of the transaction",
    "Background of the merger",
    "Background of the offer",
    "Background of the acquisition",
    "Background of the consolidation",
    "Background of the Asset Sale",
    "Background of the Combination",
    "Background of the Proposal",
    "Background of the Offer and the Merger",
    "Background and negotiation of the merger",
    "Background to the merger",
    "Background to the acquisition",
    "Background to the offer",
    "Background to the transaction",
    "Background to the consolidation",
    "Background to the Asset Sale",
    "Background to the Combination",
    "Background to the Proposal",
    "Background of Offer",
    "Background of Acquisition",
    "Background of Transaction",
    "Background of Merger",
    "Background of Consolidation",
    "Background of Asset Sale",
    "Background of Combination",
    "Background of Proposal",
    "Background of the Proposed Transaction",
    "Background of the Open Market Merger",
]
FALLBACK_PHRASES = ["Background"]

SKIP_IF_CONTAINS = ["schedule to", "amended", "restated", "included", "incorporated by reference"]
PARA_BAD_PHRASES = ["amended", "restated", "schedule to", "as follow"]
TITLE_STOP_TERMS = ["industry", "identity", "filing", "corporate", "opinion", "overview"]
MIN_PASSAGE_LEN = 200

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+|\n{2,}")


def regex_sentences(text: str) -> list[str]:
    """Deterministic sentence segmentation (stands in for spaCy sents)."""
    return [s for s in _SENT_SPLIT.split(text) if s and s.strip()]


def locate_chunk_header(
    chunk: str,
    start_phrases: list[str],
    sentence_splitter: Callable[[str], list[str]] = regex_sentences,
) -> str | None:
    """Stage (a). Returns the matched phrase / header line, or None.
    Ref ChunkProcessor.py:34-73.

    The line-level match is ``(phrase in line or fuzz_ratio > 85) and
    "background" in line``. The reference scores every phrase before the
    "background" test; here a line without "background" is skipped first,
    since no phrase can return it. Both tests are pure, so the result is
    the same on every chunk, and the pure-Python ``fuzz_ratio`` (most of
    the cascade's cost) runs only on lines that can match."""
    phrases_lower = [p.lower() for p in start_phrases]
    background_only = len(start_phrases) == 1 and phrases_lower[0] == "background"

    for sent in sentence_splitter(chunk):
        sentence_text = sent.strip()
        sentence_lower = sentence_text.lower()
        lines = [ln.strip() for ln in sentence_text.splitlines() if ln.strip()]

        if not background_only:
            for phrase in phrases_lower:
                if phrase in sentence_lower and "background" in sentence_lower:
                    if any(skip in sentence_lower for skip in SKIP_IF_CONTAINS):
                        continue
                    return phrase

        for line in lines:
            line_lower = line.lower().strip()
            if background_only:
                if line_lower == "background":
                    return line
            elif "background" in line_lower:
                for phrase in phrases_lower:
                    if phrase in line_lower or fuzz_ratio(line_lower, phrase) > 85:
                        return line
    return None


def has_section_title(chunk: str, phrase: str) -> bool:
    """Stage (b): phrase sits in a ≤2-line paragraph. Ref ChunkProcessor.py:75-114."""
    paragraphs: list[list[str]] = []
    buffer: list[str] = []
    for line in chunk.splitlines():
        line = line.strip()
        if line == "":
            if buffer:
                paragraphs.append(buffer)
                buffer = []
        elif len(line) >= 4:  # drop standalone numbers like '11.'
            buffer.append(line)
    if buffer:
        paragraphs.append(buffer)

    phrase_lower = phrase.lower()
    for para_lines in paragraphs:
        joined_lower = "\n".join(para_lines).lower()
        if any(bad in joined_lower for bad in PARA_BAD_PHRASES):
            continue
        if phrase_lower in joined_lower and len(para_lines) <= 2:
            return True
    return False


def is_not_toc(chunk: str, phrase: str) -> bool:
    """Stage (c): TOC-pattern counting. Ref ChunkProcessor.py:116-140."""
    lines = [line.strip() for line in chunk.splitlines()]
    phrase_lower = phrase.lower()
    start_index = next((i for i, ln in enumerate(lines) if phrase_lower in ln.lower()), 0)

    toc_like = 0
    para_like = 0
    i = start_index
    while i < len(lines) - 1:
        if lines[i] and not lines[i + 1]:
            toc_like += 1
            i += 2
        elif lines[i] and lines[i + 1]:
            para_like += 1
            i += 2
        else:
            i += 1
    return not (toc_like >= 3 and para_like < 3)


def extract_passage(chunk: str, start_phrases: list[str]) -> str | None:
    """Full cascade on one chunk → passage from the header line onward, or
    None. Ref ChunkProcessor.py:142-169 (_process_single_chunk)."""
    phrase = locate_chunk_header(chunk, start_phrases)
    if not phrase:
        return None
    if not has_section_title(chunk, phrase):
        return None
    if not is_not_toc(chunk, phrase):
        return None

    lines = chunk.splitlines()
    phrase_lower = phrase.lower()
    for i, raw in enumerate(lines):
        line = raw.strip()
        if not line or phrase_lower not in line.lower():
            continue
        if any(term in line.lower() for term in TITLE_STOP_TERMS):
            continue
        passage = "\n".join(lines[i:])
        if len(passage) > MIN_PASSAGE_LEN:
            return passage
    return None


def two_pass_passage(chunk: str) -> str | None:
    """Specific phrases first; bare 'Background' only as the fallback pass
    (ref Processor.py:266-269). This is the CRAWLER's locate."""
    return extract_passage(chunk, START_PHRASES) or extract_passage(chunk, FALLBACK_PHRASES)


# The SEPARATOR's phrase list: the full catalog with bare "Background"
# LAST (ref config.py:32-62 lists it as the final entry;
# SeperatorHandler.py:68 passes the whole list in ONE locate call — only
# the crawler splits it into two passes, Processor.py:266-269).
SEPARATOR_PHRASES = START_PHRASES + FALLBACK_PHRASES


def separator_passage(chunk: str) -> str | None:
    """Single-pass locate with the full catalog (SeperatorHandler.py:68).

    Inside a multi-phrase list the bare 'Background' entry matches by
    CONTAINMENT (the exact-line rule only applies to a single-phrase
    list, ChunkProcessor.py:63-66), so an early sentence that merely
    mentions 'background' can win the locate and anchor the TOC check on
    that decoy line — the deterministic core of the reference's
    '[x] FLAGGED for Manual Inspection' separator outcomes
    (SeperatorHandler.py:69-77; 20 occurrences in logs.txt). Documents
    the crawler accepted via a specific title phrase can therefore fail
    here, exactly as the reference's separator stage can fail on
    crawler-accepted documents."""
    return extract_passage(chunk, SEPARATOR_PHRASES)


def _chunk_pass(
    docs: DataFrame,
    text_col: str,
    id_cols: list[str],
    fields: list[T.StructField],
    per_chunk: Callable[[str], tuple | None],
) -> DataFrame:
    """ONE ``mapInPandas`` pass over every chunk of every document. Each
    chunk gives a row (id_cols, chunk_idx, *per_chunk(chunk)) typed by
    ``fields``, or no row when ``per_chunk`` returns None."""
    out_schema = T.StructType(
        [docs.schema[c] for c in id_cols]
        + [T.StructField("chunk_idx", T.IntegerType())]
        + fields
    )
    cols = [f.name for f in out_schema.fields]

    def gen(batches):
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for row in pdf.to_dict("records"):
                for i, c in enumerate(split_text(row[text_col] or "")):
                    vals = per_chunk(c)
                    if vals is None:
                        continue
                    for ic in id_cols:
                        out[ic].append(row[ic])
                    out["chunk_idx"].append(i)
                    for f, v in zip(fields, vals):
                        out[f.name].append(v)
            if out["chunk_idx"]:
                yield pd.DataFrame(out)

    return docs.select(*id_cols, text_col).mapInPandas(gen, schema=out_schema)


def chunk_and_cascade(
    docs: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    passage_fn: Callable[[str], str | None] | None = None,
) -> DataFrame:
    """Fused chunk + cascade: ONE ``mapInPandas`` pass emitting every chunk
    of every document together with its cascade passage (NULL when the
    cascade rejects).

    The 'background' prefilter is a cheap substring test inside the same
    pass, so the cascade only executes on plausible chunks. The separator
    (plans/filing_pipeline.py) reads both the chunk set and the hits from
    this single output; ``passage IS NOT NULL`` selects the hits.
    """
    # crawler two-pass by default; separator callers pass separator_passage
    locate = passage_fn or two_pass_passage

    def per_chunk(c: str) -> tuple:
        return c, (locate(c) if "background" in c.lower() else None)

    return _chunk_pass(
        docs,
        text_col,
        id_cols or ["doc_id"],
        [T.StructField("chunk", T.StringType()), T.StructField("passage", T.StringType())],
        per_chunk,
    )


def locate_hits(docs: DataFrame, text_col: str, id_cols: list[str]) -> DataFrame:
    """Both locates in ONE chunk pass: each chunk that contains
    'background' runs the crawler's ``two_pass_passage`` and the
    separator's ``separator_passage``. Emits only hit keys — (id_cols,
    chunk_idx, crawl_hit, sep_hit) for chunks where either locate finds a
    passage — so no chunk or passage text crosses back over Arrow."""

    def per_chunk(c: str) -> tuple | None:
        if "background" not in c.lower():
            return None
        crawl = two_pass_passage(c) is not None
        sep = separator_passage(c) is not None
        return (crawl, sep) if crawl or sep else None

    return _chunk_pass(
        docs,
        text_col,
        id_cols,
        [T.StructField("crawl_hit", T.BooleanType()), T.StructField("sep_hit", T.BooleanType())],
        per_chunk,
    )
