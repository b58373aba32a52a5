import pytest
from pyspark.sql import functions as F

from mergeextractor_spark.operators.cascade import separator_passage, two_pass_passage
from mergeextractor_spark.operators.chunking import split_text
from mergeextractor_spark.operators.llm import INITIATION_TYPES
from mergeextractor_spark.plans.filing_pipeline import (
    crawler_audit,
    crawler_pipeline,
    identifier_pipeline,
    separator_pipeline,
)
from tests.fixtures.filings import NARRATIVE, _filing
from tests.fixtures.yield_corpus import flagged_filing


@pytest.fixture(scope="module")
def crawler_out(spark, deals_df, filings_df):
    return crawler_pipeline(deals_df, filings_df).cache()


def test_crawler_accepts_expected_deals(crawler_out):
    accepted = {r.main_index for r in crawler_out.select("main_index").collect()}
    # 0 plain, 1 parens+TOC, 2 hyphen-retry, 3 bare Background, 5 abbreviation
    assert accepted == {0, 1, 2, 3, 5}


def test_crawler_output_schema(crawler_out):
    assert crawler_out.columns == [
        "main_index",
        "announcement_date",
        "tmanames",
        "amanames",
        "url",
    ]


def test_crawler_anti_join_skips_done(spark, deals_df, filings_df, crawler_out):
    done = spark.createDataFrame([(0,), (1,)], "main_index long")
    out = crawler_pipeline(deals_df, filings_df, done=done)
    accepted = {r.main_index for r in out.select("main_index").collect()}
    assert accepted == {2, 3, 5}


def _python_nodes(plan) -> list:
    """The Python UDF nodes of a physical plan, depth first."""
    found = []
    if any(k in plan.nodeName() for k in ("Python", "Pandas", "Arrow")):
        found.append(plan)
    children = plan.children()
    for i in range(children.size()):
        found.extend(_python_nodes(children.apply(i)))
    return found


def test_crawler_audit_runs_one_chunk_pass_of_hit_keys(deals_df, filings_df):
    """Both locates run in a single UDF pass, and it returns hit keys, not
    chunk or passage text."""
    plan = crawler_audit(deals_df, filings_df)._jdf.queryExecution().sparkPlan()
    nodes = _python_nodes(plan)
    assert [n.nodeName() for n in nodes] == ["MapInPandas"]
    out = nodes[0].output()
    names = {out.apply(i).name() for i in range(out.size())}
    assert names == {"main_index", "url", "chunk_idx", "crawl_hit", "sep_hit"}


A, B = "Alpha Data Systems Inc", "Beta Merge Corp"
ACCEPTED = _filing(A, B, "Background of the Merger", NARRATIVE.format(initiator=B, reason="scale"))
FLAGGED = flagged_filing(A, B)
URL = "https://www.sec.gov/Archives/edgar/data/9/{}.txt"


def _audit(spark, filings: list[tuple]) -> dict:
    deals = spark.createDataFrame(
        [(i, "6/10/2003", A, B) for i in sorted({f[0] for f in filings})],
        "main_index long, announcement_date string, company_a string, company_b string",
    )
    docs = spark.createDataFrame(filings, "main_index long, url string, content string")
    return {r.main_index: (r.status, r.url) for r in crawler_audit(deals, docs).collect()}


def test_separator_recheck_reads_the_winner_not_a_later_candidate(spark):
    """The winner (smallest url with a crawler hit) fails the separator's
    locate; a later candidate passes it. The deal stays flagged."""
    for body, sep in ((ACCEPTED, True), (FLAGGED, False)):
        chunks = split_text(body)
        assert any(map(two_pass_passage, chunks))
        assert any(map(separator_passage, chunks)) == sep
    got = _audit(spark, [(0, URL.format("a"), FLAGGED), (0, URL.format("b"), ACCEPTED)])
    assert got == {0: ("flagged_manual_inspection", URL.format("a"))}


def test_separator_recheck_keys_on_the_deal_and_the_url(spark):
    """One url under two deals with different contents: each deal's
    outcome comes from its own document."""
    got = _audit(spark, [(0, URL.format("x"), ACCEPTED), (1, URL.format("x"), FLAGGED)])
    assert got == {
        0: ("accepted", URL.format("x")),
        1: ("flagged_manual_inspection", URL.format("x")),
    }


@pytest.fixture(scope="module")
def sections(spark, filings_df):
    return separator_pipeline(filings_df).cache()


def test_separator_extracts_sections(sections):
    idx = {r.main_index for r in sections.select("main_index").collect()}
    assert idx == {0, 1, 2, 3, 5}


def test_separator_header_prefix(sections):
    row = sections.filter(F.col("main_index") == 0).collect()[0]
    assert row.content.startswith(
        "The following provides details about the events leading up to the "
        "merger deal between Alpha Data Systems Inc & Beta Merge Corp:"
    )
    assert "Background of the Merger" in row.content


def test_separator_abbreviation_enrichment(sections):
    row = sections.filter(F.col("main_index") == 5).collect()[0]
    assert "abbreviation definitions" in row.content
    assert "Quantum Group" in row.content
    # the defining paragraph itself is included
    assert "Delaware corporation" in row.content


def test_separator_line_dedup(sections):
    # the overlapping-chunk assembly must not repeat the filler sentence
    row = sections.filter(F.col("main_index") == 0).collect()[0]
    filler = "Certain statements in this document constitute forward-looking"
    lines = [ln.strip() for ln in row.content.splitlines() if filler in ln]
    assert len(lines) == len(set(lines))


def test_identifier_typed_output(sections):
    out = identifier_pipeline(sections)
    rows = {r.main_index: r for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3, 5}
    for r in rows.values():
        assert r.type_of_initiation in INITIATION_TYPES
    assert rows[0].initiator == "Beta Merge Corp"
    assert rows[0].date_of_initiation == "March 5, 2002"
    assert "expand the combined market reach" in rows[0].reason
