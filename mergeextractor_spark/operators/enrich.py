"""Section assembly + abbreviation enrichment (SURVEY §2.8 ner_orgs /
abbrev_enrich, §2.6 set_distinct_lines; ref ChunkProcessor.py:240-255,
257-268, 331-370, 372-427).

Assembly and line-dedup are native Spark; NER defaults to the
deterministic regex stand-in (capitalized multi-word phrases via
``regexp_extract_all`` — FIXTURES.md §2.7), with spaCy pluggable through
``mapInPandas`` behind an import-try, never on the test path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.strings import first_token

FOLLOW_CHUNKS = 11  # winner + next 11 chunks, ref ChunkProcessor.py:407

# Regex-NER stand-in: 2+ capitalized words (allowing Inc/Corp/& tokens).
ORG_PATTERN = r"((?:[A-Z][A-Za-z0-9&.\-]*\s+)+(?:Inc|Corp|Corporation|Co|Company|Group|Holdings|Technologies|Systems)\.?)"


def ner_orgs(df: DataFrame, text_col: str, out_col: str = "orgs") -> Column | DataFrame:
    """Deterministic ORG extraction (stands in for spaCy en_core_web_lg,
    ref ChunkProcessor.py:27,331-334)."""
    return df.withColumn(out_col, F.regexp_extract_all(F.col(text_col), F.lit(ORG_PATTERN), 1))


def top_orgs(passages: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """Top-k most frequent ORGs per passage (ref ChunkProcessor.py:331-339,
    Counter.most_common(5); ties broken by org name for determinism)."""
    orgs = ner_orgs(passages, text_col)
    exploded = orgs.select(id_col, F.explode("orgs").alias("org")).withColumn(
        "org", F.trim(F.col("org"))
    )
    counts = exploded.groupBy(id_col, "org").agg(F.count("*").alias("cnt"))
    w = W.partitionBy(id_col).orderBy(F.desc("cnt"), F.asc("org"))
    return counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def normalize_lines(
    df: DataFrame, text_col: str, out_col: str, key_cols: list[str] | None = None
) -> DataFrame:
    """Order-preserving removal of duplicate (stripped) lines, blanks kept
    (ref ChunkProcessor.py:240-255 __normalize_chunks). posexplode → first
    occurrence by position → ordered re-concat; all native.

    ``key_cols``: columns identifying a row (e.g. the document id). When
    given, the first-occurrence window partitions on them instead of on
    the text column itself — same result, but the shuffle hashes small
    keys instead of multi-KB section strings."""
    d = df.withColumn("_lines", F.split(F.col(text_col), "\n"))
    exploded = d.select(
        "*", F.posexplode("_lines").alias("_pos", "_line")
    ).withColumn("_key", F.trim(F.col("_line")))
    part_cols = (key_cols if key_cols else [text_col]) + ["_key"]
    w = W.partitionBy(*part_cols).orderBy("_pos")
    kept = exploded.withColumn("_rn", F.row_number().over(w)).filter(
        (F.col("_rn") == 1) | (F.col("_key") == "")
    )
    group_cols = [c for c in df.columns]
    return (
        kept.groupBy(*group_cols)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_pos").alias("p"), F.col("_line").alias("s")))
                    ),
                    lambda x: x["s"],
                ),
                "\n",
            ).alias(out_col)
        )
    )


def merger_header(company_a: Column, company_b: Column) -> Column:
    """Fixed assembly header (ref ChunkProcessor.py:346,418)."""
    return F.concat(
        F.lit("The following provides details about the events leading up to the merger deal between "),
        company_a,
        F.lit(" & "),
        company_b,
        F.lit(":\n"),
    )


def company_tokens_present(passage: Column, company_a: Column, company_b: Column) -> Column:
    """Both simplified company tokens present in the whitespace-collapsed
    passage, directly or with hyphens→spaces (ref ChunkProcessor.py:410-423)."""
    clean = F.regexp_replace(F.lower(F.trim(passage)), r"\s+", " ")
    ta, tb = first_token(company_a), first_token(company_b)
    direct = clean.contains(ta) & clean.contains(tb)
    ta2 = F.regexp_replace(ta, "-", " ")
    tb2 = F.regexp_replace(tb, "-", " ")
    retry = clean.contains(ta2) & clean.contains(tb2)
    return direct | retry


def find_definition_paragraphs(
    orgs: DataFrame, chunks: DataFrame, org_col: str = "org", id_col: str = "main_index"
) -> DataFrame:
    """First paragraph defining each ORG: theta join by the reference's
    regex \\([^)]*?"ORG"[^)]*?\\) (ChunkProcessor.py:257-268). The orgs
    side is ≤5 rows per doc → broadcast nested-loop join; first match =
    min (chunk_idx, paragraph position)."""
    paras = chunks.select(
        id_col,
        "chunk_idx",
        F.posexplode(F.split(F.col("chunk"), r"\n\s*\n")).alias("para_pos", "para"),
    )
    escaped = F.regexp_replace(
        F.col(org_col), r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\$1"
    )
    pattern = F.concat(F.lit(r'(?i)\([^)]*?"'), escaped, F.lit(r'"[^)]*?\)'))
    joined = paras.join(
        F.broadcast(orgs.select(id_col, org_col)), on=id_col
    ).filter(F.rlike(F.col("para"), pattern))
    w = W.partitionBy(id_col, org_col).orderBy("chunk_idx", "para_pos")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, org_col, F.trim(F.col("para")).alias("definition"))
    )
