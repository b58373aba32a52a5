"""Domain-exact end-to-end pipelines mirroring the reference's three
lifecycles (SURVEY §3) over local fixtures — no network, no ML models.

crawler  (§3.1): deals → anti-join done → date window → join candidate
                 filings → company-presence filter → ONE chunk pass running
                 the crawler's and the separator's locates → deterministic
                 first-match → per-deal audit status; the crawler output
                 rows are its accepted projection
separator(§3.2): documents → chunk → cascade → hybrid rank (deterministic
                 stand-ins) → winner + 11 following chunks → line dedup →
                 company-token check → abbreviation enrichment → sections
identifier(§3.3): sections → LLMFunctionCall (mock) → typed initiator rows

The reference's racy "first match wins" (Processor.py:277-281) becomes a
total order (earliest url, then chunk) — reproducible by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.dates import date_window_lb, date_window_ub
from ..functions.strings import strip_parens, word_boundary_pattern
from ..operators._util import truncate_lineage
from ..operators.cascade import chunk_and_cascade, locate_hits, separator_passage
from ..operators.enrich import (
    FOLLOW_CHUNKS,
    company_tokens_present,
    find_definition_paragraphs,
    merger_header,
    normalize_lines,
    top_orgs,
)
from ..operators.llm import llm_extract_initiator

DATE_MARGIN = 4  # months, ref crawl.py:6


def _windowed_deals(todo: DataFrame) -> DataFrame:
    """Deals + their [date_lb, date_ub] crawl window as ISO strings."""
    d = F.to_date("announcement_date", "M/d/yyyy")
    return todo.select(
        "main_index",
        "announcement_date",
        "company_a",
        "company_b",
        F.date_format(date_window_lb(d, DATE_MARGIN), "yyyy-MM-dd").alias("date_lb"),
        F.date_format(date_window_ub(d, DATE_MARGIN), "yyyy-MM-dd").alias("date_ub"),
    )


def _window_candidates(windowed: DataFrame, filings: DataFrame) -> DataFrame:
    """Candidate filings inside each deal's crawl window.

    The reference's FTS search is date-bounded SERVER-side
    (CrawlerSupport.py:385-401 passes LB/UB into the query); locally the
    optional ``filing_date`` column reproduces that bound."""
    cols = ["main_index", "url", "content"]
    if "filing_date" in filings.columns:
        cols.append("filing_date")
    cand = windowed.join(filings.select(*cols), "main_index")
    if "filing_date" in filings.columns:
        # ISO strings compare lexicographically == chronologically
        cand = cand.filter(F.col("filing_date").between(F.col("date_lb"), F.col("date_ub")))
    return cand


def _company_present() -> "F.Column":
    """Company-presence predicate over the 11k header prefix
    (Processor.py:154-187), with the hyphen→space retry folded in as a
    disjunction (O5 ordering: this cheap native filter runs before the
    chunking UDF). Parenthesized alternate names are stripped before
    matching, as the reference does everywhere it searches
    (Processor.py:45)."""
    prefix = F.lower(F.substring("content", 1, 11000))
    na = strip_parens(F.lower("company_a"))
    nb = strip_parens(F.lower("company_b"))
    pa = word_boundary_pattern(na, flex_whitespace=True)
    pb = word_boundary_pattern(nb, flex_whitespace=True)
    pa2 = word_boundary_pattern(F.regexp_replace(na, "-", " "), flex_whitespace=True)
    pb2 = word_boundary_pattern(F.regexp_replace(nb, "-", " "), flex_whitespace=True)
    direct = F.rlike(prefix, pa) & F.rlike(prefix, pb)
    retry = F.rlike(F.regexp_replace(prefix, "-", " "), pa2) & F.rlike(
        F.regexp_replace(prefix, "-", " "), pb2
    )
    return direct | retry


def crawler_pipeline(deals: DataFrame, filings: DataFrame, done: DataFrame | None = None) -> DataFrame:
    """deals + candidate filing documents → accepted (main_index, url) rows
    (output.csv semantics, CrawlerHandler.py:21-49).

    ``filings``: (main_index, url, content) candidate documents per deal.
    The crawler-accepted rows of ``crawler_audit`` (accepted AND flagged:
    the flag is a separator-stage outcome on a stored document) with the
    deal's announcement date and names.
    """
    return (
        crawler_audit(deals, filings, done)
        .filter(F.col("url").isNotNull())
        .join(deals, "main_index")
        .select(
            "main_index",
            "announcement_date",
            F.col("company_a").alias("tmanames"),
            F.col("company_b").alias("amanames"),
            "url",
        )
    )


def crawler_audit(deals: DataFrame, filings: DataFrame, done: DataFrame | None = None) -> DataFrame:
    """Per-deal crawler outcome with the reference's exact reject classes
    (logs.txt failure taxonomy — the closest thing the reference has to an
    end-to-end acceptance spec, VERDICT r5 item 6):

      accepted               [+] Successfully created document  (Processor.py:299)
      no_document            [-] No document found              (CrawlerSupport.py:414)
                             — zero candidate filings inside the deal's
                             date window (the reference's FTS search is
                             date-bounded server-side; locally the
                             optional ``filing_date`` column reproduces
                             that bound)
      no_relevant_document   [-] No relevant document found     (CrawlerSupport.py:435)
                             — candidates exist, none passes the
                             company-presence filter incl. hyphen retry
      no_background_section  [-] Confirmed no background section (CrawlerSupport.py:445)
                             — presence passed, the chunk+cascade found
                             no background passage in any candidate
      flagged_manual_inspection
                             [x] FLAGGED for Manual Inspection (SeperatorHandler.py:69-77;
                             20 of ~1,400 in logs.txt)
                             — the crawler ACCEPTED a document, but the
                             separator stage's single-pass locate (full
                             phrase catalog incl. bare 'Background',
                             SeperatorHandler.py:68 — vs the crawler's
                             two-pass split, Processor.py:266-269) finds
                             no background chunk in the stored winner

    Returns (main_index, status, url) — url is the deterministic
    first-match winner for crawler-accepted deals (accepted AND flagged
    — the flag is a separator-stage QA outcome on a stored document),
    NULL otherwise. One presence aggregation + ONE chunk pass that runs
    both locates on every present candidate and returns only hit keys;
    all shuffles are on main_index.
    """
    todo = deals
    if done is not None:
        todo = deals.join(done.select("main_index"), "main_index", "left_anti")

    windowed = _windowed_deals(todo)
    cand = _window_candidates(windowed, filings)

    flagged = cand.withColumn("present", _company_present())
    per_deal = flagged.groupBy("main_index").agg(
        F.count("*").alias("n_cand"),
        F.max(F.col("present").cast("int")).alias("any_present"),
    )

    hits = locate_hits(
        flagged.filter("present").select("main_index", "url", "content"),
        text_col="content",
        id_cols=["main_index", "url"],
    )
    # Deterministic first-match: smallest (url, chunk_idx) crawler hit per
    # deal replaces the reference's shared-flag race (Processor.py:277-281
    # → SURVEY §4 O6). The separator re-check reads the STORED winner only
    # (SeperatorHandler.py:63): sep_ok needs a separator hit on the
    # winner's own url, not on any candidate's. One map-side combinable
    # aggregate, so the chunk pass is planned once.
    winners = hits.groupBy("main_index").agg(
        F.expr("min_by(url, struct(url, chunk_idx)) FILTER (WHERE crawl_hit)").alias("url"),
        F.expr("collect_set(url) FILTER (WHERE sep_hit)").alias("sep_urls"),
    )

    return (
        todo.select("main_index")
        .join(per_deal, "main_index", "left")
        .join(winners, "main_index", "left")
        .select(
            "main_index",
            F.when(F.array_contains("sep_urls", F.col("url")), F.lit("accepted"))
            .when(F.col("url").isNotNull(), F.lit("flagged_manual_inspection"))
            .when(F.coalesce(F.col("n_cand"), F.lit(0)) == 0, F.lit("no_document"))
            .when(F.col("any_present") == 0, F.lit("no_relevant_document"))
            .otherwise(F.lit("no_background_section"))
            .alias("status"),
            "url",
        )
    )


def separator_pipeline(documents: DataFrame, done: DataFrame | None = None) -> DataFrame:
    """Accepted documents → extracted sections (SeperatorHandler semantics).

    ``documents``: (main_index, company_a, company_b, url, content).
    Ranking uses the deterministic stand-in score (token overlap with the
    phrase vocabulary — FIXTURES.md §2.7) in place of embed+rerank; the
    pluggable pandas-UDF scorers drop in via operators/llm.py's pattern.

    Chunk location is the separator's own SINGLE-pass locate over the
    full phrase catalog (SeperatorHandler.py:68) — not the crawler's
    two-pass split — so documents whose only evidence fails that pass
    emit NO section rows, the reference's '[x] FLAGGED for Manual
    Inspection' outcome (SeperatorHandler.py:69-77; crawler_audit above
    classifies them explicitly).
    """
    if done is not None:
        documents = documents.join(done.select("main_index"), "main_index", "left_anti")

    # fused chunk+cascade, computed once: the chunk set (follow-join, abbrev
    # definitions) and the cascade hits both read this single UDF output.
    # A lazy lineage cut, not .cache(): the ContextCleaner frees its blocks
    # once the frame is dropped, where a cache would stay pinned in the
    # CacheManager for the life of the session (one more per call).
    fused = truncate_lineage(
        chunk_and_cascade(
            documents.select("main_index", "content"),
            text_col="content",
            id_cols=["main_index"],
            passage_fn=separator_passage,
        ),
        eager=False,
    )
    chunks = fused.select("main_index", "chunk_idx", "chunk")
    hits = fused.filter(F.col("passage").isNotNull())

    # Deterministic hybrid stand-in: passage length as relevance, earliest
    # chunk as tiebreak (single-candidate case short-circuits identically —
    # ChunkProcessor.py:383-389). max_by aggregate, no partition sort.
    best = (
        hits.groupBy("main_index")
        .agg(
            F.expr(
                "max_by(struct(chunk_idx, passage), struct(length(passage), -chunk_idx))"
            ).alias("b")
        )
        .select("main_index", F.col("b.chunk_idx").alias("best_idx"), F.col("b.passage").alias("passage"))
    )

    # Winner passage + the 11 following chunks (ChunkProcessor.py:407).
    follow = chunks.alias("c").join(
        best.alias("b"),
        (F.col("c.main_index") == F.col("b.main_index"))
        & (F.col("c.chunk_idx") > F.col("b.best_idx"))
        & (F.col("c.chunk_idx") <= F.col("b.best_idx") + FOLLOW_CHUNKS),
    )
    tail = follow.groupBy(F.col("b.main_index").alias("main_index")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("c.chunk_idx").alias("p"), F.col("c.chunk").alias("s")))
                ),
                lambda x: x["s"],
            ),
            "\n",
        ).alias("tail_text")
    )
    assembled = best.join(tail, "main_index", "left").select(
        "main_index",
        F.concat(F.col("passage"), F.lit("\n"), F.coalesce(F.col("tail_text"), F.lit(""))).alias("raw_section"),
    )
    deduped = normalize_lines(
        assembled, "raw_section", "section", key_cols=["main_index"]
    )

    names = documents.select("main_index", "company_a", "company_b")
    secs = deduped.join(names, "main_index")

    ok = company_tokens_present(F.col("section"), F.col("company_a"), F.col("company_b"))
    direct = secs.filter(ok).select(
        "main_index",
        "company_a",
        "company_b",
        F.concat(merger_header(F.col("company_a"), F.col("company_b")), F.col("section")).alias("content"),
    )

    # Abbreviation enrichment path (ChunkProcessor.py:331-370): top-5 ORGs →
    # defining paragraphs → preamble + header + passage.
    needs = secs.filter(~ok)
    orgs = top_orgs(needs, "main_index", "section", k=5)
    defs = find_definition_paragraphs(orgs, chunks, org_col="org", id_col="main_index")
    def_text = (
        defs.groupBy("main_index")
        .agg(
            F.concat(
                F.lit("Here are some potentially useful abbreviation definitions that could help with analyzing the 'Background' section:\n"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(F.col("org").alias("o"), F.col("definition").alias("d")))),
                        lambda x: F.concat(
                            F.lit("\nPassage that defines the abbreviation '"),
                            x["o"],
                            F.lit("':\n"),
                            x["d"],
                            F.lit("\n"),
                        ),
                    ),
                    "",
                ),
            ).alias("preamble")
        )
    )
    enriched = (
        needs.join(def_text, "main_index", "left")
        .select(
            "main_index",
            "company_a",
            "company_b",
            F.concat(
                F.coalesce(F.concat(F.col("preamble"), F.lit("\n")), F.lit("")),
                merger_header(F.col("company_a"), F.col("company_b")),
                F.lit("\n"),
                F.col("section"),
            ).alias("content"),
        )
    )
    return direct.unionByName(enriched)


def identifier_pipeline(sections: DataFrame) -> DataFrame:
    """Extracted sections → initiator rows (outputUnion.csv semantics,
    InitiatorIdentifier.py:26-50)."""
    out = llm_extract_initiator(sections, text_col="content")
    return out.select(
        "main_index",
        "initiator",
        "date_of_initiation",
        "type_of_initiation",
        F.col("stated_reasons").alias("reason"),
    )
