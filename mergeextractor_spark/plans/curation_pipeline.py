"""Flagship #2: the composed training-data curation pipeline.

``extract_section_pipeline`` is the flagship for reference parity; this
is its counterpart for the extension surface — the stages every
pre-training corpus pass runs, composed as ONE declarative plan and
value-checked end-to-end against a DuckDB oracle:

    scrub PII  →  token-floor quality gate  →  exact dedup (keep-first)
    →  MinHash near-dup dedup (keep-first over verified pairs)
    →  per-survivor stats

Scale shape: scrub + tokenize + stats are one codegen'd scan stage; the
exact dedup is one shuffle on (md5, doc_id); near-dup runs ONLY on the
exact-dedup survivors (the canonical ordering — identical copies never
reach the banded join, where a cluster of c identical signatures would
yield c² candidate pairs); every shuffle after the scan carries hashes
and ids, never text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators._util import t, r4
from ..operators.curation_queries import temperature_boosts
from ..operators.dedup import N_HASHES, minhash_pairs_df
from ..operators.text_queries import EN_STOPWORDS, _STOP_SQL
from ..registry import register

TOKEN_FLOOR = 30
JACCARD_MIN = 0.2


def _minhash_sql(src: str) -> str:
    """MinHash pair CTEs over an arbitrary source relation ``src`` having
    (doc_id, text) — same construction as dedup.dedup_minhash_lsh."""
    sig_cols = ", ".join(
        f"min(md5('{j}|' || shingle)) AS m{j}" for j in range(N_HASHES)
    )
    return f"""
    words AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
      FROM {src}
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(ws) >= 3
             THEN list_transform(generate_series(1, len(ws) - 2),
                                 i -> array_to_string(list_slice(ws, i, i + 2), ' '))
             ELSE [array_to_string(ws, ' ')] END) AS shingle
      FROM words
    ),
    sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band, md5(m0 || m1) AS bucket FROM sig
      UNION ALL SELECT doc_id, 1 AS band, md5(m2 || m3) AS bucket FROM sig
      UNION ALL SELECT doc_id, 2 AS band, md5(m4 || m5) AS bucket FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b, count(*) AS common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_a
      JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT v.doc_a, v.doc_b
      FROM verified v
      JOIN sizes na ON na.doc_id = v.doc_a
      JOIN sizes nb ON nb.doc_id = v.doc_b
      WHERE v.common::DOUBLE / (na.n + nb.n - v.common) >= {JACCARD_MIN}
    )
    """


_PII_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), "
    "'\\(\\d{3}\\) ?\\d{3}-\\d{4}|\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g')"
)


@register(
    "curation_pipeline",
    oracle=f"""
    WITH scrubbed AS (
      SELECT doc_id, lang, {_PII_SQL} AS text FROM documents
    ),
    stats AS (
      SELECT doc_id, lang, text,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
             round(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''),
                                   x -> x IN ({_STOP_SQL})))::DOUBLE /
                   greatest(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')), 1), 4) AS stopword_ratio
      FROM scrubbed
    ),
    floored AS (SELECT * FROM stats WHERE n_tokens >= {TOKEN_FLOOR}),
    exact_rep AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM floored
    ),
    uniq AS (
      SELECT f.* FROM floored f JOIN exact_rep e ON e.doc_id = f.doc_id AND e.rep = f.doc_id
    ),
    {_minhash_sql("uniq")},
    near_rep AS (
      SELECT u.doc_id, coalesce(min(p.doc_a), u.doc_id) AS rep
      FROM uniq u LEFT JOIN pairs p ON p.doc_b = u.doc_id
      GROUP BY u.doc_id
    )
    SELECT u.doc_id, u.lang, CAST(u.n_tokens AS BIGINT) AS n_tokens, u.stopword_ratio
    FROM uniq u JOIN near_rep r ON r.doc_id = u.doc_id AND r.rep = u.doc_id
    """,
    doc="End-to-end corpus curation: PII scrub → token floor "
    f"(≥{TOKEN_FLOOR}) → exact dedup keep-first → MinHash near-dup "
    f"keep-first (Jaccard ≥ {JACCARD_MIN}) → survivor stats. The whole "
    "pass is one declarative plan (exact dedup ALWAYS precedes near-dup "
    "so identical copies never reach the banded join); the DuckDB twin "
    "mirrors every stage, making the composition value-checked, not "
    "just its pieces.",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")

    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"),
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            r"\b\d{3}-\d{2}-\d{4}\b",
            "<SSN>",
        ),
        r"\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b",
        "<PHONE>",
    )
    scrubbed = d.select("doc_id", "lang", scrub.alias("text"))

    # staged: tokenize once per row (the flat select re-inlined the split
    # into every size/ratio reference — see text_quality_score)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    tokstats = scrubbed.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("_ntok"),
        F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS))).alias("_nstop"),
    )
    stats = tokstats.select(
        "doc_id",
        "lang",
        "text",
        F.col("_ntok").alias("n_tokens"),
        r4(
            F.col("_nstop").cast("double") / F.greatest(F.col("_ntok"), F.lit(1))
        ).alias("stopword_ratio"),
    )
    floored = stats.filter(F.col("n_tokens") >= TOKEN_FLOOR)

    # exact dedup keep-first: min doc_id per content hash survives
    w = W.partitionBy(F.md5("text"))
    uniq = (
        floored.withColumn("_rep", F.min("doc_id").over(w))
        .filter(F.col("_rep") == F.col("doc_id"))
        .drop("_rep")
    )

    # minhash near-dup keep-first over the exact-dedup survivors; the shared
    # pair pipeline is hint-free (AQE picks the join strategy — a forced
    # broadcast of the candidate set caps at executor memory, VERDICT r2).
    pairs = minhash_pairs_df(uniq, threshold=JACCARD_MIN).select("doc_a", "doc_b")
    reps = pairs.groupBy("doc_b").agg(F.min("doc_a").alias("rep"))
    survivors = (
        uniq.join(reps, uniq.doc_id == reps.doc_b, "left")
        .filter(F.col("rep").isNull())
        .select("doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"), "stopword_ratio")
    )
    return survivors


CAP_V2 = 15  # per-source survivor cap for the ingest pass
TTR_FLOOR = 0.2  # lexical-diversity gate (hash soup scores ~1, loops ~0)


@register(
    "curation_pipeline_ingest",
    oracle=f"""
    WITH capped AS (
      SELECT doc_id, source, lang, text FROM (
        SELECT doc_id, source, lang, text,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn <= {CAP_V2}
    ),
    scored AS (
      SELECT doc_id, source, lang, text,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
             len(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))) AS n_types
      FROM capped
    ),
    gated AS (
      SELECT * FROM scored
      WHERE n_types::DOUBLE / greatest(n_tokens, 1) >= {TTR_FLOOR}
    ),
    exact_rep AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM gated
    ),
    uniq AS (
      SELECT g.* FROM gated g JOIN exact_rep e ON e.doc_id = g.doc_id AND e.rep = g.doc_id
    ),
    mass AS (SELECT lang, sum(n_tokens) AS lang_tokens FROM uniq GROUP BY lang),
    shares AS (
      SELECT lang, lang_tokens, lang_tokens / sum(lang_tokens) OVER () AS share FROM mass
    ),
    powed AS (SELECT lang, share, pow(share, 0.3) AS p FROM shares),
    targets AS (SELECT lang, share, p / sum(p) OVER () AS target FROM powed),
    boosts AS (SELECT lang, target / share AS boost FROM targets),
    rates AS (
      SELECT lang, round(boost / max(boost) OVER (), 4) AS sample_rate FROM boosts
    )
    SELECT u.doc_id, u.source, u.lang,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           round(u.n_types::DOUBLE / greatest(u.n_tokens, 1), 4) AS ttr,
           r.sample_rate
    FROM uniq u JOIN rates r USING (lang)
    """,
    doc=f"Flagship #3 — the ingest-side curation pass as ONE declarative "
    f"plan: per-source cap (≤{CAP_V2}, domain governance) → TTR floor "
    f"(≥{TTR_FLOOR}, lexical QA) → exact dedup keep-first → per-language "
    "token mass of the SURVIVORS → temperature-scaled (share^0.3) "
    "sampling rate joined back onto every surviving doc. Complements "
    "curation_pipeline (the dedup-centric pass): this is what runs at "
    "crawl ingest, before near-dup. Scale shape: the cap's "
    "WindowGroupLimit prunes per map task before its shuffle; tokenize + "
    "TTR are the same codegen'd scan stage; exact dedup shuffles (md5, "
    "id); the mixture join broadcasts a |langs|-row table. Fully "
    "value-checked end-to-end against the composed DuckDB oracle.",
)
def curation_pipeline_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wcap = W.partitionBy("source").orderBy("doc_id")
    capped = (
        docs.select("doc_id", "source", "lang", "text")
        .withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= CAP_V2)
        .drop("rn")
    )
    # tokenize once per row (staged projection — the flat form evaluated
    # the split twice, for n_tokens and n_types; see text_quality_score)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    tokenized = capped.select("doc_id", "source", "lang", "text", toks.alias("_toks"))
    scored = tokenized.select(
        "doc_id", "source", "lang", "text",
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("n_types"),
    )
    ttr = F.col("n_types").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    gated = scored.filter(ttr >= TTR_FLOOR)
    wrep = W.partitionBy(F.md5("text"))
    uniq = (
        gated.withColumn("rep", F.min("doc_id").over(wrep))
        .filter(F.col("rep") == F.col("doc_id"))
        .drop("rep")
    )
    mass = uniq.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    rates = temperature_boosts(mass, 0.3).select(
        "lang", r4(F.col("boost") / F.col("_max_boost")).alias("sample_rate")
    )
    return uniq.join(F.broadcast(rates), "lang").select(
        "doc_id", "source", "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        r4(ttr).alias("ttr"),
        "sample_rate",
    )
