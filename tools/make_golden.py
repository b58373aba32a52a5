"""Generate golden-table oracles for the UDF-bound keys (VERDICT r9 item 2).

Each golden parquet under tests/fixtures/golden/ holds the expected output
of one registered query, computed by the SEQUENTIAL pure-Python path that
the Spark plan distributes: the same core functions the Arrow-batched UDFs
wrap (split_text, two_pass_passage, separator_passage, the mock LLM
clients, hash_embed, fuzz_partial_ratio), composed here with plain Python
loops in place of the DataFrame plumbing (joins, windows, explodes,
aggregations).  The DuckDB oracle then SELECTs from the golden file, so
the driver's hash row proves the DISTRIBUTED plan — Arrow batching,
explodes, join order, window ranks, null handling — reproduces the
sequential computation (same proof class as a streaming/batch equivalence
check).  tests/test_golden_oracles.py re-runs this mirror per pytest
session and diffs it against the committed fixtures, so mirror/fixture
drift fails loudly at build time.

Inputs: the in-repo filing/deal fixtures (sf-independent keys) and the
driver testdata documents tables for sf0.001/0.01/0.1 keyed by md5(text)
(the documents tables are regenerated per sf with different texts, so a
doc_id-keyed golden would pin one sf; the md5 join keeps one golden file
correct at every sf the driver or selfcheck runs).

MIRROR-INDEPENDENCE BOUNDARY (VERDICT r10 item 6) — what each golden's
hash row proves.  Two proof classes:
  [IR] independent recompute — the mirror derives the expected value
       from frozen inline code / stdlib only; a semantic bug in the
       package CANNOT pass both sides.
  [DE] distribution equivalence — the mirror calls the SAME pure
       function the Arrow-batched UDF wraps, so the hash row proves the
       DISTRIBUTED plan (batching, joins, windows, null handling)
       reproduces the sequential composition; the shared function's own
       SEMANTICS are carried by the named pytest.

  golden key                | class | shared functions          | semantic check for the shared part
  --------------------------+-------+---------------------------+-----------------------------------
  header_cascade            |  DE   | split_text, two_pass_passage | test_golden_cascade.py (labeled corpus), test_chunking_properties.py, test_optional_real_models.py (langchain/spacy, opt-in)
  llm_classify_doc          |  DE   | two_pass_passage (client re-derived inline: mirror_classify) | test_golden_cascade.py
  abbrev_enrich             |  DE   | split_text, two_pass_passage (ORG regex + find_definition inline) | test_golden_cascade.py; inline MIRROR_ORG_PATTERN freezes the NER surface form
  pipeline_separator        |  DE   | split_text, separator_passage | test_cascade.py separator battery
  llm_extract_initiator     |  DE   | split_text, separator_passage (initiator client re-derived inline: mirror_initiator) | test_domain.py initiator pins, test_model_seams.py (real-client seam)
  pipeline_crawler(+_audit) |  DE   | split_text, two_pass_passage, separator_passage (company_present inline) | test_filing_pipeline.py, test_golden_cascade.py
  chunk_split_overlap       |  DE   | split_text (the function under test) | test_chunking_properties.py, golden_chunks.json regression, test_optional_real_models.py (byte parity, opt-in)
  embed_text                |  DE   | hash_embed                 | test_model_seams.py (seam contract), test_ann.py recall floors
  str_normalize_unicode     |  IR   | — (stdlib unicodedata)     | n/a
  text_compression_ratio    |  IR   | — (stdlib zlib)            | n/a
  fuzzy_partial_ratio       |  DE   | fuzz_partial_ratio         | test_fuzzy.py::test_partial_ratio_matches_bruteforce (hypothesis, vs an O(n*m^2) brute-force DP)
  vector_pca_project        |  IR   | — (inline numpy cov/eigh/sign/project; eigh input is the r4-rounded covariance, bit-identical both sides) | n/a (test_ann.py pins orthonormality/diagonality/reconstruction independently)
  multimodal_*_meta         |  DE   | header codecs (decode_image, wav_header_codec, mp4_box_codec) | test_multimodal.py header pins, test_optional_real_codecs.py (real Pillow/wave, opt-in)
  multimodal_frame_sample   |  IR   | — (inline byte slicing)    | n/a
  multimodal_audio_fp       |  DE   | stdlib_pcm_codec, audiohash64 | test_multimodal.py planted-pair battery
  multimodal_video_fp       |  IR   | — (inline byte-slab dHash) | n/a
  multimodal_image_phash    |  DE   | dhash64, stdlib_pixel_codec | test_multimodal.py dHash pins
  dedup_{image,audio,video} |  IR*  | signatures via the fingerprint goldens above; the DEDUP step (all-pairs hamming<=6 scan) is fully inline | *independent of the banded join under test — the hash row re-proves the 7-band x 8-block pigeonhole's recall on real signatures

Usage: python tools/make_golden.py [--outdir tests/fixtures/golden]
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import json
import math
import os
import re
import sys
import zlib
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

GOLDEN_DIR = os.path.join(REPO, "tests", "fixtures", "golden")
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
DEALS_CSV = os.path.join(REPO, "tests", "fixtures", "deals.csv")

MERGER_HEADER = (
    "The following provides details about the events leading up to the "
    "merger deal between {a} & {b}:\n"
)
PREAMBLE_HEAD = (
    "Here are some potentially useful abbreviation definitions that could "
    "help with analyzing the 'Background' section:\n"
)


# ---------------------------------------------------------------------------
# scalar mirrors of the Spark expressions the pipelines compose


def r4(x: float) -> float:
    """Mirror of operators/_util.r4 (DuckDB-style round-half-away)."""
    if x is None:
        return None
    xd = float(x)
    if xd == 0.0:
        return 0.0
    mag = math.floor(abs(xd) * 10000.0 + 0.5) / 10000.0
    return math.copysign(mag, xd)


def strip_parens(s: str) -> str:
    """functions/strings.strip_parens: remove (...) non-greedy, trim spaces."""
    return re.sub(r"\(.*?\)", "", s).strip(" ")


def word_boundary_pattern(name: str, flex_whitespace: bool = False) -> str:
    esc = re.sub(r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\\1", name)
    if flex_whitespace:
        esc = re.sub(r"\s+", r"\\s+", esc)
    return r"\b" + esc + r"\b"


def company_present(content: str, ca: str, cb: str) -> bool:
    """plans/filing_pipeline._company_present over one candidate."""
    prefix = content[:11000].lower()
    na, nb = strip_parens(ca.lower()), strip_parens(cb.lower())
    pa = word_boundary_pattern(na, True)
    pb = word_boundary_pattern(nb, True)
    if re.search(pa, prefix) and re.search(pb, prefix):
        return True
    pre2 = prefix.replace("-", " ")
    pa2 = word_boundary_pattern(na.replace("-", " "), True)
    pb2 = word_boundary_pattern(nb.replace("-", " "), True)
    return bool(re.search(pa2, pre2) and re.search(pb2, pre2))


def chunk_cascade(content: str, locate) -> list[tuple[int, str, str | None]]:
    """operators/cascade.chunk_and_cascade over one document (per locate,
    the chunk pass of operators/cascade.locate_hits)."""
    from mergeextractor_spark.operators.chunking import split_text

    return [
        (i, c, (locate(c) if "background" in c.lower() else None))
        for i, c in enumerate(split_text(content))
    ]


def normalize_lines(text: str) -> str:
    """operators/enrich.normalize_lines: first occurrence per trimmed line,
    blanks kept, order preserved."""
    seen: set[str] = set()
    kept: list[str] = []
    for ln in text.split("\n"):
        k = ln.strip(" ")
        if k == "" or k not in seen:
            kept.append(ln)
            seen.add(k)
    return "\n".join(kept)


def first_token(name: str) -> str:
    return re.split(r"\s+", name.strip(" ").lower())[0].split(".")[0]


def company_tokens_present(passage: str, ca: str, cb: str) -> bool:
    clean = re.sub(r"\s+", " ", passage.strip(" ").lower())
    ta, tb = first_token(ca), first_token(cb)
    if ta in clean and tb in clean:
        return True
    return ta.replace("-", " ") in clean and tb.replace("-", " ") in clean


# Re-derived INLINE (not imported from the package under test — VERDICT
# r10 item 6): capitalized-token runs ending in a corporate suffix, the
# org surface form the reference's regex NER recognizes (ref
# InitiatorIdentifier.py org extraction).  Spelled from its parts here so
# the mirror stays frozen independent text: if the package's
# enrich.ORG_PATTERN ever drifts, the golden diverges and the driver
# hash / test_golden_oracles fails loudly instead of both sides moving
# together.
_MIRROR_ORG_SUFFIXES = (
    "Inc|Corp|Corporation|Co|Company|Group|Holdings|Technologies|Systems"
)
MIRROR_ORG_PATTERN = (
    r"((?:[A-Z][A-Za-z0-9&.\-]*\s+)+(?:" + _MIRROR_ORG_SUFFIXES + r")\.?)"
)


def top_orgs(text: str, k: int = 5) -> list[str]:
    """operators/enrich.top_orgs over one passage: top-k by (count desc,
    org asc) — pattern re-derived inline (MIRROR_ORG_PATTERN)."""
    matches = [m.group(1).strip(" ") for m in re.finditer(MIRROR_ORG_PATTERN, text)]
    counts = Counter(matches)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [org for org, _ in ranked]


def find_definition(org: str, chunks: list[tuple[int, str, str | None]]) -> str | None:
    """operators/enrich.find_definition_paragraphs for one org: first
    paragraph (by chunk_idx, paragraph position) matching the reference's
    (?i)\\([^)]*?"ORG"[^)]*?\\) pattern."""
    esc = re.sub(r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\\1", org)
    pat = re.compile(r'(?i)\([^)]*?"' + esc + r'"[^)]*?\)')
    for _idx, chunk, _p in chunks:
        for para in re.split(r"\n\s*\n", chunk):
            if pat.search(para):
                return para.strip(" ")
    return None


# ---------------------------------------------------------------------------
# fixture loaders


def load_deals() -> list[dict]:
    out = []
    with open(DEALS_CSV, newline="") as f:
        for row in csv.reader(f):
            out.append(
                {
                    "main_index": int(row[0]),
                    "announcement_date": row[1],
                    "company_a": row[2],
                    "company_b": row[3],
                }
            )
    return out


def load_filings() -> list[dict]:
    from fixtures.filings import build_filings

    return build_filings()


# ---------------------------------------------------------------------------
# golden builders — fixture-filings keys (sf-independent)


def golden_header_cascade(filings) -> dict:
    from mergeextractor_spark.operators.cascade import two_pass_passage

    rows = []
    for f in filings:
        for i, _c, p in chunk_cascade(f["content"], two_pass_passage):
            if p is not None:
                rows.append((f["main_index"], i, len(p)))
    return {
        "main_index": [r[0] for r in rows],
        "chunk_idx": [r[1] for r in rows],
        "passage_len": [r[2] for r in rows],
    }


def mirror_classify(text: str) -> tuple[bool, str, float]:
    """Classify stand-in re-derived INLINE (VERDICT r10 item 6 — not
    imported from operators/llm.mock_classify_client): hasSection iff a
    catalog phrase heads a >200-char passage, matchHeader = the
    passage's first line trimmed, confidence 0.9/0.1 (the judgment the
    reference's fallback LLM prompt encodes, ref config.py:76-107).
    The passage LOCATOR (two_pass_passage) stays shared — its semantic
    independence is carried by test_golden_cascade.py's labeled corpus."""
    from mergeextractor_spark.operators.cascade import two_pass_passage

    passage = two_pass_passage(text)
    if passage is None:
        return (False, "", 0.1)
    return (True, passage.splitlines()[0].strip(), 0.9)


def golden_llm_classify(filings) -> dict:
    rows = []
    for f in filings:
        has, header, conf = mirror_classify(f["content"])
        rows.append((f["main_index"], has, header, r4(conf)))
    return {
        "main_index": [r[0] for r in rows],
        "has_section": [r[1] for r in rows],
        "match_header": [r[2] for r in rows],
        "confidence": [r[3] for r in rows],
    }


def golden_abbrev_enrich(filings) -> dict:
    from mergeextractor_spark.operators.cascade import two_pass_passage

    rows = []
    for f in filings:
        chunks = chunk_cascade(f["content"], two_pass_passage)
        for org in top_orgs(f["content"], 5):
            d = find_definition(org, chunks)
            if d is not None:
                rows.append((f["main_index"], org, len(d)))
    return {
        "main_index": [r[0] for r in rows],
        "org": [r[1] for r in rows],
        "definition_len": [r[2] for r in rows],
    }


def separator_sections(filings) -> list[dict]:
    """plans/filing_pipeline.separator_pipeline, sequentially."""
    from mergeextractor_spark.operators.cascade import separator_passage
    from mergeextractor_spark.operators.enrich import FOLLOW_CHUNKS

    out = []
    for f in filings:
        cc = chunk_cascade(f["content"], separator_passage)
        hits = [(i, p) for i, _c, p in cc if p is not None]
        if not hits:
            continue
        best_idx, passage = max(hits, key=lambda t: (len(t[1]), -t[0]))
        follow = [c for i, c, _p in cc if best_idx < i <= best_idx + FOLLOW_CHUNKS]
        raw = passage + "\n" + "\n".join(follow)
        section = normalize_lines(raw)
        header = MERGER_HEADER.format(a=f["company_a"], b=f["company_b"])
        if company_tokens_present(section, f["company_a"], f["company_b"]):
            content = header + section
        else:
            chunks_only = [(i, c, None) for i, c, _p in cc]
            defs = []
            for org in top_orgs(section, 5):
                d = find_definition(org, chunks_only)
                if d is not None:
                    defs.append((org, d))
            if defs:
                preamble = PREAMBLE_HEAD + "".join(
                    f"\nPassage that defines the abbreviation '{o}':\n{d}\n"
                    for o, d in sorted(defs)
                )
                content = preamble + "\n" + header + "\n" + section
            else:
                content = header + "\n" + section
        out.append(
            {
                "main_index": f["main_index"],
                "company_a": f["company_a"],
                "company_b": f["company_b"],
                "content": content,
            }
        )
    return out


def golden_pipeline_separator(filings) -> dict:
    secs = separator_sections(filings)
    return {
        "main_index": [s["main_index"] for s in secs],
        "company_a": [s["company_a"] for s in secs],
        "company_b": [s["company_b"] for s in secs],
        "content_len": [len(s["content"]) for s in secs],
    }


# Re-derived INLINE (VERDICT r10 item 6 follow-through — not imported
# from operators/llm): the templated initiator extraction mirroring the
# reference's tool schema (ref config.py:167-208): initiator from an
# 'initiated by X' sentence, date = first long-form date, type from
# keyword cues, reasons = first 'in order to ...' clause; whitespace
# collapsed first (filing prose wraps at terminal width).  Frozen
# mirror text: package drift fails the golden diff loudly.
_MIRROR_INITIATION_TYPES = (
    "Acquirer-Initiated Deal",
    "Target-Initiated Deal",
    "Third-Party-Initiated Deal",
    "Mutual",
)
_MIRROR_DATE_RE = re.compile(
    r"\b(?:January|February|March|April|May|June|July|August|September|October|"
    r"November|December)\s+\d{1,2},\s+\d{4}\b"
)
_MIRROR_INITIATED_RE = re.compile(r"initiated by ([A-Z][A-Za-z0-9&.\- ]+?)(?:\.|,|;|\n)")


def mirror_initiator(text: str) -> tuple[str, str, str, str]:
    text = re.sub(r"\s+", " ", text)
    m = _MIRROR_INITIATED_RE.search(text)
    initiator = m.group(1).strip() if m else "Mutual"
    dm = _MIRROR_DATE_RE.search(text)
    date = dm.group(0) if dm else ""
    low = text.lower()
    if "jointly" in low or "mutual" in low:
        t = "Mutual"
    elif "advisor" in low or "third party" in low:
        t = "Third-Party-Initiated Deal"
    elif "target proposed" in low or "approached its acquirer" in low:
        t = "Target-Initiated Deal"
    else:
        t = "Acquirer-Initiated Deal"
    rm = re.search(r"in order to ([^.\n]+)", text)
    reasons = rm.group(1).strip() if rm else ""
    return initiator, date, t, reasons


def golden_llm_extract_initiator(filings) -> dict:
    rows = []
    for s in separator_sections(filings):
        initiator, date, t, reasons = mirror_initiator(s["content"])
        rows.append(
            (
                s["main_index"],
                initiator,
                date,
                t if t in _MIRROR_INITIATION_TYPES else None,
                reasons,
            )
        )
    return {
        "main_index": [r[0] for r in rows],
        "initiator": [r[1] for r in rows],
        "date_of_initiation": [r[2] for r in rows],
        "type_of_initiation": [r[3] for r in rows],
        "reason": [r[4] for r in rows],
    }


def _crawler_state(deals, filings):
    from mergeextractor_spark.operators.cascade import (
        separator_passage,
        two_pass_passage,
    )

    fil_by_idx: dict[int, list[dict]] = {}
    for f in filings:
        fil_by_idx.setdefault(f["main_index"], []).append(f)
    state = []
    for d in deals:
        cands = fil_by_idx.get(d["main_index"], [])
        present = [
            f
            for f in cands
            if company_present(f["content"], d["company_a"], d["company_b"])
        ]
        hits = [
            (f["url"], i)
            for f in present
            for i, _c, p in chunk_cascade(f["content"], two_pass_passage)
            if p is not None
        ]
        url = min(hits)[0] if hits else None
        sep_ok = False
        if url is not None:
            winner = next(f for f in cands if f["url"] == url)
            sep_ok = any(
                p is not None
                for _i, _c, p in chunk_cascade(winner["content"], separator_passage)
            )
        state.append(
            {
                "deal": d,
                "n_cand": len(cands),
                "any_present": bool(present),
                "url": url,
                "sep_ok": sep_ok,
            }
        )
    return state


def golden_pipeline_crawler(deals, filings) -> dict:
    rows = []
    for s in _crawler_state(deals, filings):
        if s["url"] is not None:
            d = s["deal"]
            rows.append(
                (
                    d["main_index"],
                    d["announcement_date"],
                    d["company_a"],
                    d["company_b"],
                    s["url"],
                )
            )
    return {
        "main_index": [r[0] for r in rows],
        "announcement_date": [r[1] for r in rows],
        "tmanames": [r[2] for r in rows],
        "amanames": [r[3] for r in rows],
        "url": [r[4] for r in rows],
    }


def golden_pipeline_crawler_audit(deals, filings) -> dict:
    rows = []
    for s in _crawler_state(deals, filings):
        if s["sep_ok"]:
            status = "accepted"
        elif s["url"] is not None:
            status = "flagged_manual_inspection"
        elif s["n_cand"] == 0:
            status = "no_document"
        elif not s["any_present"]:
            status = "no_relevant_document"
        else:
            status = "no_background_section"
        rows.append((s["deal"]["main_index"], status, s["url"]))
    return {
        "main_index": [r[0] for r in rows],
        "status": [r[1] for r in rows],
        "url": [r[2] for r in rows],
    }


# ---------------------------------------------------------------------------
# golden builders — documents-table keys (md5(text)-keyed, union of sfs)


def _distinct_texts() -> list[str]:
    import duckdb

    union = " UNION ".join(
        f"SELECT text FROM read_parquet('{d}/documents.parquet')" for d in SF_DIRS
    )
    con = duckdb.connect()
    # ORDER BY md5: UNION output order is nondeterministic, which would
    # reshuffle the golden parquet bytes on every regeneration (git churn
    # with identical content)
    texts = [
        r[0] for r in con.execute(f"SELECT text FROM ({union}) ORDER BY md5(text)").fetchall()
    ]
    con.close()
    return texts


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def golden_chunk_split_overlap(texts) -> dict:
    from mergeextractor_spark.operators.chunking import split_text

    rows = []
    for t in texts:
        for i, c in enumerate(split_text(t)):
            rows.append((_md5(t), i, len(c)))
    return {
        "text_md5": [r[0] for r in rows],
        "chunk_idx": [r[1] for r in rows],
        "chunk_len": [r[2] for r in rows],
    }


def golden_embed_text(texts) -> dict:
    import numpy as np

    from mergeextractor_spark.functions.embedding import hash_embed

    rows = []
    for t in texts:
        vec = hash_embed(t)
        acc = 0.0
        for v in vec:
            d = float(np.float32(v))  # the UDF declares array<float>
            acc += d * d
        rows.append((_md5(t), len(vec), r4(acc)))
    return {
        "text_md5": [r[0] for r in rows],
        "dim": [r[1] for r in rows],
        "sq_norm": [r[2] for r in rows],
    }


def golden_str_normalize_unicode(texts) -> dict:
    import unicodedata

    rows = []
    for t in texts:
        raw = "ﬁ " + t[:60] + "™"
        folded = unicodedata.normalize("NFKC", raw).encode("ascii", "ignore").decode()
        rows.append((_md5(t), folded))
    return {"text_md5": [r[0] for r in rows], "folded": [r[1] for r in rows]}


def golden_text_compression_ratio(texts) -> dict:
    rows = []
    for t in texts:
        enc = t.encode()
        # the UDF uses Python round() (banker's) — mirror it exactly
        rows.append((_md5(t), round(len(zlib.compress(enc, 6)) / max(len(enc), 1), 4)))
    return {
        "text_md5": [r[0] for r in rows],
        "compression_ratio": [r[1] for r in rows],
    }


# ---------------------------------------------------------------------------
# golden builders — multimodal fixture keys (sequential decode of the
# SAME media_rows() the registered queries process)


def golden_multimodal_image_meta() -> dict:
    from mergeextractor_spark.operators.multimodal import (
        decode_image,
        header_image_codec,
        media_rows,
    )

    rows = []
    for m in media_rows():
        if m["kind"] != "image":
            continue
        try:
            w, h = decode_image(bytes(m["payload"]), header_image_codec)
        except Exception:
            w = h = -1
        rows.append((m["media_id"], w, h, len(m["payload"])))
    return {
        "media_id": [r[0] for r in rows],
        "width": [r[1] for r in rows],
        "height": [r[2] for r in rows],
        "n_bytes": [r[3] for r in rows],
    }


def golden_multimodal_audio_meta() -> dict:
    from mergeextractor_spark.operators.multimodal import media_rows, wav_header_codec

    rows = []
    for m in media_rows():
        if m["kind"] != "audio":
            continue
        data = bytes(m["payload"])
        try:
            ch, rate, bits, n_frames = wav_header_codec(data)
            dur = int(n_frames * 1000 // max(rate, 1))
        except Exception:
            ch = rate = bits = -1
            dur = -1
        rows.append((m["media_id"], ch, rate, bits, dur, len(data)))
    return {
        "media_id": [r[0] for r in rows],
        "channels": [r[1] for r in rows],
        "sample_rate": [r[2] for r in rows],
        "bits_per_sample": [r[3] for r in rows],
        "duration_ms": [r[4] for r in rows],
        "n_bytes": [r[5] for r in rows],
    }


def golden_multimodal_video_meta() -> dict:
    from mergeextractor_spark.operators.multimodal import media_rows, mp4_box_codec

    rows = []
    for m in media_rows():
        if m["kind"] != "video":
            continue
        data = bytes(m["payload"])
        try:
            dur, ts, nt, mb = mp4_box_codec(data)
        except Exception:
            dur = ts = nt = mb = -1
        rows.append((m["media_id"], dur, ts, nt, mb, len(data)))
    return {
        "media_id": [r[0] for r in rows],
        "duration_ms": [r[1] for r in rows],
        "timescale": [r[2] for r in rows],
        "n_tracks": [r[3] for r in rows],
        "mdat_bytes": [r[4] for r in rows],
        "n_bytes": [r[5] for r in rows],
    }


def golden_multimodal_frame_sample(every_n_bytes: int = 128) -> dict:
    from mergeextractor_spark.operators.multimodal import media_rows

    rows = []
    for m in media_rows():
        if m["kind"] != "video":
            continue
        data = bytes(m["payload"])
        for i, start in enumerate(range(0, len(data), every_n_bytes)):
            rows.append((m["media_id"], i, len(data[start : start + every_n_bytes])))
    return {
        "media_id": [r[0] for r in rows],
        "frame_idx": [r[1] for r in rows],
        "frame_len": [r[2] for r in rows],
    }


def golden_multimodal_audio_fingerprint() -> dict:
    from mergeextractor_spark.operators.multimodal import (
        audiohash64,
        media_rows,
        stdlib_pcm_codec,
    )

    rows = []
    for m in media_rows():
        if m["kind"] != "audio":
            continue
        try:
            ph = audiohash64(stdlib_pcm_codec(bytes(m["payload"]))) - (1 << 63)
        except Exception:
            ph = None
        rows.append((m["media_id"], ph))
    return {
        "media_id": [r[0] for r in rows],
        "phash": [r[1] for r in rows],
    }


def golden_multimodal_video_fingerprint() -> dict:
    from mergeextractor_spark.operators.multimodal import media_rows

    rows = []
    for m in media_rows():
        if m["kind"] != "video":
            continue
        try:
            raw = bytes(m["payload"])
            if len(raw) < 65:
                raise ValueError("too short to fingerprint")
            vals = []
            for k in range(65):
                lo, hi = (k * len(raw)) // 65, ((k + 1) * len(raw)) // 65
                b = raw[lo:hi]
                vals.append(sum(b) / len(b) if b else 0.0)
            bits = 0
            for k in range(64):
                bits = (bits << 1) | (1 if vals[k] > vals[k + 1] else 0)
            ph = bits - (1 << 63)
        except Exception:
            ph = None
        rows.append((m["media_id"], ph))
    return {
        "media_id": [r[0] for r in rows],
        "phash": [r[1] for r in rows],
    }


def _fixture_image_phashes() -> list[tuple[int, int | None]]:
    from mergeextractor_spark.operators.multimodal import (
        dhash64,
        media_rows,
        stdlib_pixel_codec,
    )

    out = []
    for m in media_rows():
        if m["kind"] != "image":
            continue
        try:
            ph = dhash64(stdlib_pixel_codec(bytes(m["payload"]))) - (1 << 63)
        except Exception:
            ph = None
        out.append((m["media_id"], ph))
    return out


def _corpus_image_phashes(n_docs: int = 5000, w: int = 32, h: int = 16) -> list[tuple[int, int]]:
    """Sequential mirror of multimodal.media_from_documents + dHash: the
    payload is a pure function of doc_id (md5 chains; every 5th doc
    reuses its predecessor's pixel basis), and doc_id sets NEST across
    sfs (0..499 ⊂ 0..4999), so one golden over the max-sf id range
    serves every sf via a documents semijoin."""
    from mergeextractor_spark.operators.multimodal import dhash64

    n_blocks = (w * h) // 16
    out = []
    for doc_id in range(n_docs):
        base = doc_id - 1 if doc_id % 5 == 4 else doc_id
        px = b"".join(
            hashlib.md5(f"px|{base}|{i}".encode()).digest() for i in range(n_blocks)
        )
        rows = [list(px[y * w : (y + 1) * w]) for y in range(h)]
        out.append((doc_id + 1_000_000, dhash64(rows) - (1 << 63)))
    return out


def golden_multimodal_image_phash() -> dict:
    rows = _fixture_image_phashes() + _corpus_image_phashes()
    return {
        "media_id": [r[0] for r in rows],
        "phash": [r[1] for r in rows],
    }


def banded_dedup_mirror(sig: list[tuple[int, int | None]]) -> list[tuple[int, int, int, bool]]:
    """Sequential mirror of multimodal._banded_hamming_dedup — via the
    ALL-PAIRS scan the banded join's double-pigeonhole guarantees equal
    recall to (hamming ≤ 6 after exact-collapse, keep-first rep).  The
    driver hash row therefore does double duty: it re-proves the recall
    guarantee end-to-end on real signatures, not just the planted
    pytest battery."""
    pairs = [(mid, ph) for mid, ph in sig if ph is not None]
    groups: dict[int, int] = {}
    for mid, ph in pairs:
        groups[ph] = min(groups.get(ph, mid), mid)
    gids = sorted((gid, ph) for ph, gid in groups.items())
    rep_via: dict[int, int] = {}
    # unshift to the raw unsigned 64-bit space before XOR: Python's ^ on
    # a NEGATIVE int sign-extends infinitely (bin() is not two's
    # complement), which fabricates hamming distances for mixed-sign
    # pairs; the constant bit-63 shift cancels under XOR exactly as the
    # pipeline's comment says, but only in fixed-width arithmetic
    rep_via = {}
    for i in range(len(gids)):
        gi, pi = gids[i]
        ui = pi + (1 << 63)
        for j in range(i + 1, len(gids)):
            gj, pj = gids[j]
            if bin(ui ^ (pj + (1 << 63))).count("1") <= 6:
                rep_via[gj] = min(rep_via.get(gj, gi), gi)
    out = []
    for mid, ph in pairs:
        gid = groups[ph]
        rep = rep_via.get(gid, gid)
        out.append((mid, ph, rep, rep < mid))
    return out


def _dedup_cols(rows) -> dict:
    return {
        "media_id": [r[0] for r in rows],
        "phash": [r[1] for r in rows],
        "rep_id": [r[2] for r in rows],
        "is_dup": [r[3] for r in rows],
    }


def golden_dedup_image_phash() -> dict:
    return _dedup_cols(
        banded_dedup_mirror(_fixture_image_phashes() + _corpus_image_phashes())
    )


def golden_dedup_audio_fingerprint() -> dict:
    d = golden_multimodal_audio_fingerprint()
    return _dedup_cols(banded_dedup_mirror(list(zip(d["media_id"], d["phash"]))))


def golden_dedup_video_fingerprint() -> dict:
    d = golden_multimodal_video_fingerprint()
    return _dedup_cols(banded_dedup_mirror(list(zip(d["media_id"], d["phash"]))))


PCA_SIG_SQL = (
    "SELECT md5(string_agg(CAST(embedding AS VARCHAR), '|' ORDER BY vec_id)) "
    "FROM read_parquet('{pq}')"
)


def golden_vector_pca_project() -> dict:
    """[IR] Fully-INLINE mirror of the PCA stack (nothing imported from
    the package): covariance entries r4-rounded exactly as
    agg_embedding_covariance emits them (upper-triangle computed,
    mirrored, -0.0 folded), numpy eigh on the IDENTICAL rounded matrix
    (bit-identical on the same BLAS), the largest-|coordinate|-positive
    sign convention, projection rounded to 4.  Keyed by a corpus
    signature DuckDB computes from the embedding content — the oracle
    recomputes the same signature from its own embeddings view
    (sf0.001 and sf0.01 both hold 500 DIFFERENT vectors, so a row-count
    key would collide).  The only cross-side float risk is an r4
    knife-edge on a covariance cell between the distributed partial
    sums and the sequential sum — absorbed by 4-decimal rounding at
    ~1e-11 residual error."""
    import duckdb
    import numpy as np

    k = 8  # PCA_K in the registered query
    rows = []
    con = duckdb.connect()
    for d_dir in SF_DIRS:
        pq = f"{d_dir}/embeddings.parquet"
        sig = con.execute(PCA_SIG_SQL.format(pq=pq)).fetchone()[0]
        data = con.execute(
            f"SELECT vec_id, embedding FROM read_parquet('{pq}') ORDER BY vec_id"
        ).fetchall()
        ids = [r[0] for r in data]
        X = np.array([r[1] for r in data], dtype=np.float32).astype(np.float64)
        n, d = X.shape
        mu = X.sum(axis=0) / n
        P2 = X.T @ X
        C = np.zeros((d, d))
        for i in range(d):
            for j in range(i, d):
                C[i, j] = C[j, i] = r4(P2[i, j] / n - mu[i] * mu[j]) + 0.0
        vals, vecs = np.linalg.eigh(C)
        order = np.argsort(vals)[::-1][:k]
        W = vecs[:, order]
        for c in range(W.shape[1]):
            piv = np.argmax(np.abs(W[:, c]))
            if W[piv, c] < 0:
                W[:, c] = -W[:, c]
        P = np.round(X @ W, 4)
        for vid, prow in zip(ids, P):
            for comp in range(k):
                rows.append((sig, int(vid), comp, float(prow[comp])))
    con.close()
    return {
        "corpus_sig": [r[0] for r in rows],
        "vec_id": [r[1] for r in rows],
        "component": [r[2] for r in rows],
        "value": [r[3] for r in rows],
    }


def golden_fuzzy_partial_ratio() -> dict:
    import duckdb

    from mergeextractor_spark.functions.fuzzy import fuzz_partial_ratio

    con = duckdb.connect()
    nations = [
        r[0]
        for r in con.execute(
            f"SELECT n_name FROM read_parquet('{SF_DIRS[1]}/nation.parquet') ORDER BY 1"
        ).fetchall()
    ]
    regions = [
        r[0]
        for r in con.execute(
            f"SELECT r_name FROM read_parquet('{SF_DIRS[1]}/region.parquet') ORDER BY 1"
        ).fetchall()
    ]
    con.close()
    rows = [
        (a, b, r4(fuzz_partial_ratio(a.lower(), b.lower())))
        for a in nations
        for b in regions
    ]
    return {
        "name_a": [r[0] for r in rows],
        "name_b": [r[1] for r in rows],
        "partial": [r[2] for r in rows],
    }


# ---------------------------------------------------------------------------


# (name, builder, int32 columns) — int32 cols must match the Spark side's
# IntegerType outputs so the driver's type-tagged compare agrees.
def build_all() -> dict[str, "object"]:
    import pandas as pd

    filings = load_filings()
    deals = load_deals()
    texts = _distinct_texts()

    tables = {
        "header_cascade": (golden_header_cascade(filings), ["chunk_idx"]),
        "llm_classify_doc": (golden_llm_classify(filings), []),
        "abbrev_enrich": (golden_abbrev_enrich(filings), []),
        "pipeline_separator": (golden_pipeline_separator(filings), []),
        "llm_extract_initiator": (golden_llm_extract_initiator(filings), []),
        "pipeline_crawler": (golden_pipeline_crawler(deals, filings), []),
        "pipeline_crawler_audit": (golden_pipeline_crawler_audit(deals, filings), []),
        "chunk_split_overlap": (golden_chunk_split_overlap(texts), ["chunk_idx"]),
        "embed_text": (golden_embed_text(texts), ["dim"]),
        "str_normalize_unicode": (golden_str_normalize_unicode(texts), []),
        "text_compression_ratio": (golden_text_compression_ratio(texts), []),
        "fuzzy_partial_ratio": (golden_fuzzy_partial_ratio(), []),
        "vector_pca_project": (golden_vector_pca_project(), ["component"]),
        "multimodal_image_meta": (golden_multimodal_image_meta(), ["width", "height"]),
        "multimodal_audio_meta": (
            golden_multimodal_audio_meta(),
            ["channels", "sample_rate", "bits_per_sample"],
        ),
        "multimodal_video_meta": (
            golden_multimodal_video_meta(),
            ["timescale", "n_tracks"],
        ),
        "multimodal_frame_sample": (golden_multimodal_frame_sample(), ["frame_idx"]),
        "multimodal_audio_fingerprint": (golden_multimodal_audio_fingerprint(), []),
        "multimodal_video_fingerprint": (golden_multimodal_video_fingerprint(), []),
        "multimodal_image_phash": (golden_multimodal_image_phash(), []),
        "dedup_image_phash": (golden_dedup_image_phash(), []),
        "dedup_audio_fingerprint": (golden_dedup_audio_fingerprint(), []),
        "dedup_video_fingerprint": (golden_dedup_video_fingerprint(), []),
    }
    out = {}
    for name, (data, int32_cols) in tables.items():
        df = pd.DataFrame(data)
        for c in int32_cols:
            df[c] = df[c].astype("int32")
        if "phash" in df.columns:
            # nullable 64-bit: undecodable payloads carry a NULL signature
            df["phash"] = pd.array(data["phash"], dtype="Int64")
        out[name] = df
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--outdir", default=GOLDEN_DIR)
    args = ap.parse_args()
    os.makedirs(args.outdir, exist_ok=True)
    for name, df in build_all().items():
        path = os.path.join(args.outdir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        print(f"{name}: {len(df)} rows -> {path}")


if __name__ == "__main__":
    main()
