"""Property tests for the r8 cascade oracle twins: the SQL-expressible
reformulations registered as cascade_title_check / cascade_toc_check
(parity_queries.py) must agree with the reference-parity pure-Python
stages (cascade.py, ref ChunkProcessor.py:75-140) on ARBITRARY chunks,
not just the fixture distribution.

The reimplementations below mirror the SQL algorithms 1:1 in Python
(regex paragraph split / blank-ness regex tokenization), so hypothesis
exercises the EQUIVALENCE CLAIM the oracles rest on. Inputs use plain
'\n' separators and space-only intra-line whitespace — the same
envelope as the SQL twins (trim() strips spaces, not tabs; splitlines'
exotic terminators never appear in the fixture text).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mergeextractor_spark.functions.fuzzy import fuzz_ratio
from mergeextractor_spark.operators import cascade
from mergeextractor_spark.operators.cascade import (
    PARA_BAD_PHRASES,
    SEPARATOR_PHRASES,
    SKIP_IF_CONTAINS,
    START_PHRASES,
    has_section_title,
    is_not_toc,
    locate_chunk_header,
    regex_sentences,
)

PHRASE = "Background of the Merger"

_LINES = st.sampled_from(
    [
        "",
        "  ",
        "Background of the Merger",
        "BACKGROUND OF THE MERGER",
        "background of the merger....17",
        "Item 7.",
        "11.",
        "A",
        "As amended herein",
        "schedule to the agreement",
        "the parties negotiated the exchange ratio and retention terms",
        "Summary of the Transaction....3",
        "Opinion of the Financial Advisor",
        "on may 14 2002 the board approved the proposed terms",
        "x" * 80,
    ]
)

_CHUNKS = st.lists(_LINES, min_size=0, max_size=25).map("\n".join)


def _has_section_title_sql(chunk: str, phrase: str) -> bool:
    """Python mirror of the cascade_title_check SQL: regex split on blank
    lines, kept lines = trimmed length >= 4, poison-term skip, phrase in
    a <= 2-kept-line paragraph."""
    phrase_lower = phrase.lower()
    for para in re.split(r"\n\s*\n", chunk):
        kept = [ln.strip(" ") for ln in para.split("\n")]
        kept = [ln for ln in kept if len(ln) >= 4]
        joined = "\n".join(kept).lower()
        if any(bad in joined for bad in PARA_BAD_PHRASES):
            continue
        if phrase_lower in joined and len(kept) <= 2:
            return True
    return False


def _is_not_toc_sql(chunk: str, phrase: str) -> bool:
    """Python mirror of the cascade_toc_check SQL: lines from the first
    phrase hit map to a '1'/'0' blank-ness string; regexp tokenization
    '1.|0' reproduces the reference loop's greedy two-step scan."""
    raw = chunk.split("\n")
    # splitlines() parity: drop the phantom trailing empty line that
    # split('\n') keeps when the chunk ends in a newline (the r8
    # Hypothesis counterexample pinned below)
    if chunk.endswith("\n"):
        raw = raw[:-1]
    lines = [ln.strip(" ") for ln in raw]
    phrase_lower = phrase.lower()
    start = next((i for i, ln in enumerate(lines) if phrase_lower in ln.lower()), 0)
    bits = "".join("1" if ln else "0" for ln in lines[start:])
    toks = re.findall(r"1.|0", bits)
    return not (toks.count("10") >= 3 and toks.count("11") < 3)


@settings(max_examples=400, deadline=None)
@given(_CHUNKS)
def test_title_check_sql_form_equals_reference(chunk):
    assert _has_section_title_sql(chunk, PHRASE) == has_section_title(chunk, PHRASE)


@settings(max_examples=400, deadline=None)
@given(_CHUNKS)
@example(
    chunk="Background of the Merger\n\nBackground of the Merger\n\nBackground of the Merger\n",
).via("discovered failure")
@example(chunk="")
@example(chunk="\n")
@example(chunk="Background of the Merger\n")
def test_toc_check_sql_form_equals_reference(chunk):
    assert _is_not_toc_sql(chunk, PHRASE) == is_not_toc(chunk, PHRASE)


# --- header locate: the "background" test runs before fuzzy scoring -------


def _locate_fuzz_first(chunk, start_phrases, sentence_splitter=regex_sentences):
    """The oracle: the fuzz-first ``locate_chunk_header``, its body copied
    verbatim, which scores every phrase before the "background" test."""
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
            else:
                for phrase in phrases_lower:
                    if phrase in line_lower or fuzz_ratio(line_lower, phrase) > 85:
                        if "background" in line_lower:
                            return line
    return None


_HEADER_LINES = st.one_of(
    st.sampled_from(START_PHRASES),
    st.sampled_from(START_PHRASES).map(str.upper),
    st.sampled_from(
        [
            "",
            "Background",
            "BACKGROUND",
            # near misses: fuzzy hits with and without the word itself
            "Backgroud of the Merger",
            "Background of th Merger",
            "Backround of the Offer",
            "Background of the Mergr and the Offer",
            "Amended Background of the Merger",
            # TOC lines
            "Background of the Merger....17",
            "Opinion of the Financial Advisor....24",
            "11.",
            # prose, with and without the word
            "The board reviewed the background of the proposed terms.",
            "Some background information follows.",
            "On May 14, 2002 the board approved the merger agreement.",
            "the parties negotiated the exchange ratio and retention terms",
            "Schedule to the Offer! See the merger background",
        ]
    ),
)

_HEADER_CHUNKS = st.tuples(
    st.lists(_HEADER_LINES, min_size=0, max_size=12),
    st.sampled_from(["\n", "\n\n"]),
).map(lambda t: t[1].join(t[0]))

_PHRASE_LISTS = [START_PHRASES, SEPARATOR_PHRASES, ["Background"]]


@settings(max_examples=300, deadline=None)
@given(_HEADER_CHUNKS)
@example(chunk="Background of th Merger\n\nOn May 14, 2002 the board met.")
@example(chunk="Backgroud of the Merger\nBackground")
def test_locate_header_equals_fuzz_first_order(chunk):
    for phrases in _PHRASE_LISTS:
        assert locate_chunk_header(chunk, phrases) == _locate_fuzz_first(chunk, phrases)


def _recording_fuzz_ratio(scored):
    """``fuzz_ratio`` that appends each line it scores to ``scored``."""

    def ratio(a, b):
        scored.append(a)
        return fuzz_ratio(a, b)

    return ratio


@settings(max_examples=100, deadline=None)
@given(_HEADER_CHUNKS)
def test_fuzz_ratio_only_scores_lines_with_background(chunk):
    scored = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cascade, "fuzz_ratio", _recording_fuzz_ratio(scored))
        for phrases in _PHRASE_LISTS:
            locate_chunk_header(chunk, phrases)
    assert all("background" in line for line in scored)


def test_fuzz_ratio_skips_prose_and_still_finds_a_fuzzy_header(monkeypatch):
    scored = []
    monkeypatch.setattr(cascade, "fuzz_ratio", _recording_fuzz_ratio(scored))
    prose = "the parties negotiated the exchange ratio and retention terms"
    chunk = "\n".join([prose] * 5 + ["Background of th Merger", prose])
    assert locate_chunk_header(chunk, START_PHRASES) == "Background of th Merger"
    assert scored and set(scored) == {"background of th merger"}
