"""Flagship end-to-end extraction pipeline (SURVEY §7.1), generic form.

Mirrors the reference's core dataflow — chunk the document, score each
chunk against a query, pick the best chunk per document, assemble the
section from the winner plus following chunks (ref ChunkProcessor.py:
195-231 chunking, 308-329 ranking, 407 assembly) — expressed entirely in
native DataFrame ops:

    documents → chunk (sequence+explode+substr)
             → score (token ∩ query, broadcast literal)
             → top-1 per doc (map-side-combinable max_by aggregate)
             → window_chunk_follow (range join on chunk_idx)
             → agg_concat_section (ordered string_agg)

Zero Python UDFs; the only shuffles are the per-doc top-1 aggregate and
the final group-by, both with map-side partial combine. The domain-exact variant (recursive splitter + header cascade
over filing fixtures) lives in operators/chunking.py + operators/cascade.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..operators._util import t, spread

CHUNK_SIZE = 200
CHUNK_STRIDE = 150
FOLLOW = 2
QUERY_TOKENS = ["data", "spark", "join", "merge", "query"]


def chunk_docs(docs: DataFrame) -> DataFrame:
    n_minus1 = F.floor(F.greatest(F.length("text") - 1, F.lit(0)) / CHUNK_STRIDE).cast("int")
    return (
        docs.select("doc_id", "text", F.explode(F.sequence(F.lit(0), n_minus1)).alias("i"))
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_idx"),
            F.expr(f"substr(text, i * {CHUNK_STRIDE} + 1, {CHUNK_SIZE})").alias("chunk"),
        )
    )


def score_chunks(chunks: DataFrame) -> DataFrame:
    # score = |token-set ∩ query-set|. array_intersect already returns
    # DISTINCT matches, and neither '' nor a duplicate token can be in the
    # 5-word query array — so the empty-token filter() (an interpreted
    # higher-order function) and the array_distinct are provably
    # value-neutral here and are dropped: the whole score is now a plain
    # codegen'd chain (the oracle keeps list_distinct + list_filter and
    # hashes identically).
    toks = F.split(F.lower("chunk"), r"\s+")
    score = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in QUERY_TOKENS])))
    return chunks.withColumn("score", score.cast("long"))


def extract_sections(docs: DataFrame) -> DataFrame:
    chunks = chunk_docs(docs)
    scored = score_chunks(chunks)
    # top-1 as a map-side-combinable aggregate (highest score, then
    # earliest chunk) — the shuffle carries one candidate per (partition,
    # doc) instead of sorting every doc's chunks under a row_number window.
    # max(struct(score, -chunk_idx)) picks the SAME chunk as
    # max_by(struct(chunk_idx, score), struct(score, -chunk_idx)) — struct
    # comparison is lexicographic and chunk_idx is unique per doc — but
    # max(orderable) is a DeclarativeAggregate, so the aggregate plans as
    # a HashAggregate instead of max_by's SortAggregate + two per-doc-key
    # Sorts (plan pin: no Sort below the best-chunk Exchange).
    best = (
        scored.groupBy("doc_id")
        .agg(F.max(F.struct(F.col("score"), (-F.col("chunk_idx")).alias("nci"))).alias("b"))
        .select("doc_id", (-F.col("b.nci")).alias("best_idx"), F.col("b.score").alias("score"))
    )
    c = chunks.select(F.col("doc_id").alias("cd"), "chunk_idx", "chunk")
    joined = best.join(
        c,
        (F.col("cd") == F.col("doc_id"))
        & (F.col("chunk_idx") >= F.col("best_idx"))
        & (F.col("chunk_idx") <= F.col("best_idx") + FOLLOW),
    )
    return (
        joined.groupBy("doc_id", "best_idx", "score")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("chunk_idx").alias("p"), F.col("chunk").alias("s")))
                    ),
                    lambda x: x["s"],
                ),
                "\n",
            ).alias("section")
        )
    )


@register(
    "extract_section_pipeline",
    oracle=rf"""
    WITH chunks AS (
      SELECT doc_id, i AS chunk_idx, substr(text, i * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0) // {CHUNK_STRIDE})) AS i
        FROM documents
      )
    ),
    scored AS (
      SELECT doc_id, chunk_idx,
             len(list_intersect(
               list_distinct(list_filter(string_split_regex(lower(chunk), '\s+'), x -> x <> '')),
               {QUERY_TOKENS!r})) AS score
      FROM chunks
    ),
    best AS (
      SELECT doc_id, chunk_idx AS best_idx, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, chunk_idx) AS rn
      FROM scored
    )
    SELECT b.doc_id, b.best_idx, b.score,
           string_agg(c.chunk, chr(10) ORDER BY c.chunk_idx) AS section
    FROM best b JOIN chunks c
      ON c.doc_id = b.doc_id AND c.chunk_idx BETWEEN b.best_idx AND b.best_idx + {FOLLOW}
    WHERE b.rn = 1
    GROUP BY b.doc_id, b.best_idx, b.score
    """,
    doc="The flagship query: chunk → score → top-1 → assemble section "
    "(SURVEY §7.1 minimum end-to-end slice, generic form over the "
    "documents fixture).",
)
def extract_section_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: chunk explode + per-chunk scoring is the heavy map stage
    return extract_sections(spread(t(spark, sf_dir, "documents")))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point for the driver's smoke check."""
    return extract_section_pipeline(spark, sf_dir)
