"""Domain-pipeline operators registered for the driver (SURVEY §2.1 scan,
§2.8 chunking/cascade/fuzzy/LLM, §3 lifecycles).

UDF-bound keys (chunker, cascade, fuzzy partial, LLM mocks, full
pipelines) have no DuckDB-recomputable SQL twin; since r10 they carry
GOLDEN-TABLE oracles instead of rows-only checks — the sequential
pure-Python mirror (tools/make_golden.py) produces the expected output
as a committed parquet fixture, the oracle SELECTs from it, and the
driver's hash row proves the distributed plan reproduces the sequential
computation (drift-guarded in tests/test_golden_oracles.py).
``scan_csv_deals`` gets a read_csv oracle. Domain fixtures live in-repo
(tests/fixtures) because they model the reference's deal/filing data
shapes, which the driver's TPC-H-ish tables don't carry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._util import golden_path, t, r4

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_DEALS_CSV = os.path.join(_REPO, "tests", "fixtures", "deals.csv")


_DF_CACHE: dict = {}


def _filings_df(spark: SparkSession) -> DataFrame:
    import sys

    key = ("filings", id(spark))
    if key in _DF_CACHE:
        return _DF_CACHE[key]
    tests_dir = os.path.join(_REPO, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    from fixtures.filings import build_filings

    from ..schemas import FILING_DOCUMENTS

    # Build through pandas/Arrow: a list-of-dicts createDataFrame becomes a
    # Python RDD whose every downstream action pays defaultParallelism
    # Python-worker round-trips (~4 s per action for 6 rows); the Arrow
    # path lands the rows as JVM-local batches (~10 ms per action).
    # coalesce(1) then keeps pandas-UDF stages to a single worker.
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(build_filings()), schema=FILING_DOCUMENTS
    ).coalesce(1)
    _DF_CACHE[key] = df
    return df


def _sections_df(spark: SparkSession) -> DataFrame:
    """Separator output over the fixture filings, cached: three contract
    keys (pipeline_separator, llm_extract_initiator, sink_csv_union) need
    it, and rebuilding the UDF pipeline per key triples the gate's cost."""
    key = ("sections", id(spark))
    if key in _DF_CACHE:
        return _DF_CACHE[key]
    from ..plans.filing_pipeline import separator_pipeline

    df = separator_pipeline(_filings_df(spark)).cache()
    _DF_CACHE[key] = df
    return df


def _deals_df(spark: SparkSession) -> DataFrame:
    from ..sources.csv_deals import scan_csv_deals

    return scan_csv_deals(spark, _DEALS_CSV)


@register(
    "scan_csv_deals",
    oracle=f"""
    SELECT main_index, announcement_date, company_a, company_b
    FROM read_csv('{_DEALS_CSV}', header=false,
                  columns={{'main_index': 'BIGINT', 'announcement_date': 'VARCHAR',
                            'company_a': 'VARCHAR', 'company_b': 'VARCHAR'}})
    """,
    doc="Header-less positional CSV scan with explicit schema (ref "
    "config.py:22-27; row-position key made explicit).",
)
def scan_csv_deals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _deals_df(spark)


@register(
    "chunk_split_overlap",
    # r10 graduation (VERDICT r9 item 2): golden-table oracle — the
    # sequential split_text mirror's output over every testdata text,
    # keyed by md5(text) so ONE golden file is correct at every sf (the
    # documents tables are regenerated per sf with different texts).
    # The hash row proves the Arrow-batched distributed plan reproduces
    # the sequential chunker; tools/make_golden.py regenerates,
    # tests/test_golden_oracles.py drift-guards.
    oracle=f"""
    SELECT d.doc_id, g.chunk_idx, g.chunk_len
    FROM documents d
    JOIN read_parquet('{golden_path("chunk_split_overlap")}') g
      ON md5(d.text) = g.text_md5
    """,
    doc="Reference-parity recursive chunker (2048/400, langchain separator "
    "hierarchy — ref ChunkProcessor.py:195-231) over the documents fixture; "
    "returns (doc_id, chunk_idx, chunk_len). Arrow-batched UDF, fans out "
    "inside the scan stage.",
)
def chunk_split_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .chunking import chunk_documents

    chunks = chunk_documents(t(spark, sf_dir, "documents"), text_col="text")
    return chunks.select(
        "doc_id", "chunk_idx", F.length("chunk").cast("long").alias("chunk_len")
    )


@register(
    "header_cascade",
    # r10 graduation: golden-table oracle from the sequential
    # chunk+prefilter+two_pass_passage mirror over the filing fixtures
    # (sf-independent inputs). tools/make_golden.py regenerates;
    # tests/test_golden_oracles.py drift-guards.
    oracle=f"""
    SELECT main_index, chunk_idx, passage_len
    FROM read_parquet('{golden_path("header_cascade")}')
    """,
    doc="3-stage header cascade over the filing fixtures (ref "
    "ChunkProcessor.py:34-169): one chunk pass with an in-pass "
    "'background' substring prefilter before the cascade → passage rows.",
)
def header_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .cascade import chunk_and_cascade

    hits = chunk_and_cascade(
        _filings_df(spark).select("main_index", "content"),
        text_col="content",
        id_cols=["main_index"],
    ).filter(F.col("passage").isNotNull())
    return hits.select(
        "main_index", "chunk_idx", F.length("passage").cast("long").alias("passage_len")
    )


@register(
    "fuzzy_partial_ratio",
    # r10 graduation: golden-table oracle — the sequential
    # fuzz_partial_ratio (bit-parallel LCS) scored over all nation x
    # region pairs; the oracle re-derives the cross join from the LIVE
    # tables and looks scores up in the golden, so a fixture change
    # fails loudly instead of silently passing.
    oracle=f"""
    SELECT n.n_name AS name_a, r.r_name AS name_b, g.partial
    FROM nation n
    CROSS JOIN region r
    JOIN read_parquet('{golden_path("fuzzy_partial_ratio")}') g
      ON g.name_a = n.n_name AND g.name_b = r.r_name
    WHERE g.partial > 45.0
    """,
    doc="rapidfuzz-compatible partial_ratio>45 fuzzy theta-join of nation "
    "names against region names (ref CrawlerSupport.py:143-154 entity "
    "matching at >90; the threshold is scaled to the synthetic NATION_N/"
    "REGION_N fixture names). Pandas UDF over a broadcast cross join.",
)
def fuzzy_partial_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fuzzy import fuzz_partial_ratio_udf

    n = t(spark, sf_dir, "nation").select(F.col("n_name").alias("name_a"))
    r = t(spark, sf_dir, "region").select(F.col("r_name").alias("name_b"))
    scored = n.crossJoin(F.broadcast(r)).withColumn(
        "partial", r4(fuzz_partial_ratio_udf(F.lower("name_a"), F.lower("name_b")))
    )
    return scored.filter(F.col("partial") > 45.0)


@register(
    "llm_classify_doc",
    # r10 graduation: golden-table oracle from the sequential
    # mock_classify_client mirror over the filing fixtures.
    oracle=f"""
    SELECT main_index, has_section, match_header, confidence
    FROM read_parquet('{golden_path("llm_classify_doc")}')
    """,
    doc="LLMFunctionCall classification stage with the deterministic mock "
    "client (ref Processor.py:309-395, schema config.py:109-138): "
    "(main_index, has_section, match_header, confidence).",
)
def llm_classify_doc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import llm_classify_doc

    out = llm_classify_doc(_filings_df(spark), text_col="content")
    return out.select("main_index", "has_section", "match_header", r4(F.col("confidence")).alias("confidence"))


@register(
    "llm_extract_initiator",
    # r10 graduation: golden-table oracle — the sequential separator
    # mirror's sections fed through mock_initiator_client + the enum
    # CHECK, so the hash row covers the whole sections -> initiator path.
    oracle=f"""
    SELECT main_index, initiator, date_of_initiation, type_of_initiation,
           reason
    FROM read_parquet('{golden_path("llm_extract_initiator")}')
    """,
    doc="LLMFunctionCall initiator extraction with enum validation (ref "
    "InitiatorIdentifier.py:71-83, schema config.py:167-208).",
)
def llm_extract_initiator_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.filing_pipeline import identifier_pipeline

    return identifier_pipeline(_sections_df(spark))


@register(
    "pipeline_crawler",
    # r10 graduation (VERDICT r9 item 4): golden-table oracle from the
    # sequential crawler mirror (presence regexes, two-pass cascade,
    # deterministic (url, chunk_idx) first-match) over the deal/filing
    # fixtures — the reference's §3.1 lifecycle now has value-level
    # driver proof, not just a row count.
    oracle=f"""
    SELECT main_index, announcement_date, tmanames, amanames, url
    FROM read_parquet('{golden_path("pipeline_crawler")}')
    """,
    doc="Crawler lifecycle end-to-end on fixtures (SURVEY §3.1): anti-join "
    "→ date window → presence filter (strip-parens + hyphen retry, "
    "whitespace-flexible) → chunk → cascade → deterministic first match.",
)
def pipeline_crawler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.filing_pipeline import crawler_pipeline

    return crawler_pipeline(_deals_df(spark), _filings_df(spark))


@register(
    "pipeline_crawler_audit",
    # r10 graduation: golden-table oracle from the sequential audit
    # mirror (full logs.txt taxonomy incl. the separator-stage
    # flagged_manual_inspection re-check).
    oracle=f"""
    SELECT main_index, status, url
    FROM read_parquet('{golden_path("pipeline_crawler_audit")}')
    """,
    doc="Per-deal lifecycle outcome with the reference's exact log "
    "classes (the FULL logs.txt taxonomy: accepted / no_document / "
    "no_relevant_document / no_background_section / "
    "flagged_manual_inspection — CrawlerSupport.py:414,435,445, "
    "Processor.py:299, SeperatorHandler.py:69-77). The flagged class is "
    "the separator-stage QA outcome (20 of ~1,400 crawler accepts in "
    "logs.txt): the stored winner document fails the separator's "
    "single-pass locate. Yield-parity value checks against the "
    "reference's 80.8% output.csv acceptance rate run over a 110-deal "
    "labeled corpus in tests/test_yield_parity.py.",
)
def pipeline_crawler_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.filing_pipeline import crawler_audit

    return crawler_audit(_deals_df(spark), _filings_df(spark))


@register(
    "pipeline_separator",
    # r10 graduation (VERDICT r9 item 4): golden-table oracle from the
    # sequential separator mirror (single-pass locate, longest-passage
    # rank, winner+11 assembly, line dedup, company-token check,
    # abbreviation enrichment) — the §3.2 lifecycle's value-level proof.
    oracle=f"""
    SELECT main_index, company_a, company_b, content_len
    FROM read_parquet('{golden_path("pipeline_separator")}')
    """,
    doc="Separator lifecycle end-to-end on fixtures (SURVEY §3.2): chunk → "
    "cascade → deterministic rank → winner+11 assembly → line dedup → "
    "company-token check → abbreviation enrichment.",
)
def pipeline_separator(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _sections_df(spark)
    return out.select(
        "main_index", "company_a", "company_b", F.length("content").cast("long").alias("content_len")
    )
