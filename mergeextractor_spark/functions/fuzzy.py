"""Fuzzy string similarity (SURVEY §2.8 fuzzy_ratio / fuzzy_partial_ratio).

The reference uses rapidfuzz (``ChunkProcessor.py:69`` fuzz.ratio > 85,
``CrawlerSupport.py:144-147`` fuzz.partial_ratio > 90). rapidfuzz's
``ratio`` is the normalized **indel** similarity (insert/delete only —
equivalently 1 − indel_dist/(len_a+len_b), with indel_dist =
len_a + len_b − 2·LCS); ``partial_ratio`` is the best ``ratio`` over all
substring windows of the longer string. Both are re-implemented here in
pure Python (public algorithm) so they can run inside Arrow-batched
pandas UDFs — the hot relational path uses native ``levenshtein()``
instead (see text_queries.fuzzy_ratio), these exact variants are for the
domain cascade and the fuzzy entity join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _pattern_masks(pattern: str) -> dict[str, int]:
    pm: dict[str, int] = {}
    bit = 1
    for ch in pattern:
        pm[ch] = pm.get(ch, 0) | bit
        bit <<= 1
    return pm


def _lcs_len_bp(text: str, pm: dict[str, int], m: int) -> int:
    """Bit-parallel LCS length (Allison–Dix 1986): one big-int op chain per
    text character, so the inner loop runs over 64-bit words instead of DP
    cells — ~64× less work than the classic two-row DP, with Python ints
    as arbitrary-width bit vectors."""
    mask = (1 << m) - 1
    row = 0
    for ch in text:
        x = row | pm.get(ch, 0)
        sub = (x - ((row << 1) | 1)) & mask
        row = x & ~sub & mask
    return row.bit_count()


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence."""
    if not a or not b:
        return 0
    if len(b) > len(a):
        a, b = b, a
    return _lcs_len_bp(a, _pattern_masks(b), len(b))


def fuzz_ratio(a: str, b: str) -> float:
    """rapidfuzz-compatible fuzz.ratio in [0, 100]."""
    if not a and not b:
        return 100.0
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    indel = total - 2 * _lcs_len(a, b)
    return 100.0 * (1.0 - indel / total)


def fuzz_partial_ratio(a: str, b: str) -> float:
    """rapidfuzz-compatible fuzz.partial_ratio in [0, 100]: best ratio of the
    shorter string against any same-length window of the longer one. The
    pattern bitmask is built once and reused across every window, so the
    whole scan is O(len_long · len_short / 64) word operations instead of
    the O(len_long · len_short²) cell DP it replaced."""
    if not a or not b:
        return 100.0 if (not a and not b) else 0.0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    if len(short) == len(long_):
        return fuzz_ratio(short, long_)
    pm = _pattern_masks(short)
    m = len(short)
    best = 0.0
    for start in range(len(long_) - m + 1):
        lcs = _lcs_len_bp(long_[start : start + m], pm, m)
        score = 100.0 * (1.0 - (2 * m - 2 * lcs) / (2 * m))
        if score > best:
            best = score
            if best == 100.0:
                break
    return best


@F.pandas_udf(T.DoubleType())
def fuzz_partial_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([fuzz_partial_ratio(x or "", y or "") for x, y in zip(a, b)])
