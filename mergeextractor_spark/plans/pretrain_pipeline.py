"""Flagship #4: the model-based filtering pass of a pre-training corpus
build (the CCNet/RefinedWeb recipe), composed as ONE declarative plan
and value-checked end-to-end against a DuckDB oracle:

    language gate (stopword-ratio lang-ID)
    →  hard length rules (Gopher-style token floor/ceiling)
    →  quality-classifier gate (hashed linear scorer, fastText-style)
    →  corpus-unigram LM scoring of the SURVIVORS
    →  head/middle/tail bucketing, tail dropped (CCNet)

Contrast with the other flagships: extract_section_pipeline is
reference parity, curation_pipeline is the dedup-centric pass,
curation_pipeline_ingest is governance (caps + mixtures). This one is
the model-driven quality funnel — every gate is a model score, and the
LM is trained on the pipeline's own survivors (composed semantics, not
a pre-computed table).

Scale shape: the first THREE gates are one codegen'd scan stage — one
tokenization feeds the stopword ratio, token count, and classifier
margin via a staged projection (PERFORMANCE.md rule 5), and documents
that fail any gate never reach the LM stage. The LM is the
text_unigram_logprob shape (vocab aggregate + frequency join back; the
Zipf head broadcasts under AQE). The bucketing window shuffles
(doc_id, score) pairs partitioned by lang.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators._util import t, r4, truncate_lineage
from ..operators.corpus_queries import CLF_WEIGHT_SQL, clf_weight
from ..operators.text_queries import EN_STOPWORDS, _STOP_SQL, _tokens
from ..registry import register

TOKEN_FLOOR = 30
TOKEN_CEIL = 100_000
EN_RATIO_MIN = 0.05

_W = CLF_WEIGHT_SQL.format(tok="tok")


@register(
    "pipeline_pretrain_corpus",
    oracle=rf"""
    WITH ws AS (
      SELECT doc_id, source, lang,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    ),
    gated AS (
      SELECT doc_id, source, lang, w,
             len(w) AS n_tokens,
             len(list_filter(w, x -> x IN ({_STOP_SQL})))::DOUBLE
               / greatest(len(w), 1) AS en_ratio,
             list_sum(list_transform(w, tok -> {_W}))
               / greatest(len(w), 1) AS clf_score
      FROM ws
    ),
    kept AS (
      SELECT * FROM gated
      WHERE en_ratio > {EN_RATIO_MIN}
        AND n_tokens BETWEEN {TOKEN_FLOOR} AND {TOKEN_CEIL}
        AND clf_score > 0.0
    ),
    toks AS (SELECT doc_id, unnest(w) AS tok FROM kept),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT sum(cnt) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, round(avg(-ln(v.cnt::DOUBLE / total.n)), 4) AS avg_neg_logprob
      FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
      GROUP BY t.doc_id
    ),
    bucketed AS (
      SELECT k.doc_id, k.source, k.lang,
             CAST(k.n_tokens AS BIGINT) AS n_tokens,
             round(k.clf_score, 4) AS clf_score,
             s.avg_neg_logprob,
             CASE ntile(3) OVER (PARTITION BY k.lang
                                 ORDER BY s.avg_neg_logprob, k.doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM kept k JOIN scored s USING (doc_id)
    )
    SELECT doc_id, source, lang, n_tokens, clf_score, avg_neg_logprob, bucket
    FROM bucketed WHERE bucket <> 'tail'
    """,
    doc="Flagship #4 — the model-based quality funnel composed as one "
    "plan (see module docstring): lang-ID gate, Gopher length rules, "
    "fastText-style classifier gate, then CCNet LM bucketing trained on "
    "the survivors with the tail third dropped. End-to-end value parity "
    "with the composed DuckDB oracle, including the survivor-trained "
    "LM's vocabulary.",
    eager=True,  # construction materializes the gate-funnel survivors
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # stage 1: ONE tokenization feeds every per-doc gate
    toks = _tokens(F.col("text"))
    ws = docs.select("doc_id", "source", "lang", toks.alias("w"))
    gated = ws.select(
        "doc_id",
        "source",
        "lang",
        "w",
        F.size("w").alias("n_tokens"),
        (
            F.size(F.filter(F.col("w"), lambda x: x.isin(EN_STOPWORDS))).cast(
                "double"
            )
            / F.greatest(F.size("w"), F.lit(1))
        ).alias("en_ratio"),
        (
            F.aggregate(
                F.transform(F.col("w"), clf_weight),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.greatest(F.size("w"), F.lit(1))
        ).alias("clf_score"),
    )
    # stage barrier: the LM stage has three consumers (vocab, total, the
    # frequency join back); without it each one re-scans the parquet and
    # re-runs the whole gate battery (4 FileScans measured — the
    # multi-consumer lineage-replay shape that once grew a curation
    # flagship to 9 parquet scans and 2x its wall). Materialize the
    # survivors once; the funnel's selectivity makes the checkpoint
    # smaller than the input.
    kept = truncate_lineage(
        gated.filter(
            (F.col("en_ratio") > EN_RATIO_MIN)
            & F.col("n_tokens").between(TOKEN_FLOOR, TOKEN_CEIL)
            & (F.col("clf_score") > 0.0)
        ),
        eager=False,  # r14: materializes once inside the caller's action
    )
    # stage 2: unigram LM over the survivors only
    tok_stream = kept.select("doc_id", F.explode("w").alias("tok"))
    vocab = tok_stream.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    neg_lp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    scored = (
        tok_stream.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(r4(F.avg(neg_lp)).alias("avg_neg_logprob"))
    )
    # stage 3: CCNet bucketing, tail dropped. The thirds cut runs via
    # _util.partitioned_ntile (range-partitioned two-phase rank +
    # broadcast per-lang offsets) — a per-lang window would sort the hot
    # language through one task at 100 TB (VERDICT r8 item 2). Project
    # the token array away FIRST so the rank checkpoint carries narrow
    # rows only.
    from ..operators._util import partitioned_ntile

    narrow = kept.select("doc_id", "source", "lang", "n_tokens", "clf_score").join(
        scored, "doc_id"
    )
    tiled = partitioned_ntile(
        narrow,
        ["lang"],
        [F.asc("avg_neg_logprob"), F.asc("doc_id")],
        3,
        out="__tile",
    )
    tile = F.col("__tile")
    bucket = F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail")
    return (
        tiled.select(
            "doc_id",
            "source",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            r4(F.col("clf_score")).alias("clf_score"),
            "avg_neg_logprob",
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") != "tail")
    )


# ---------------------------------------------------------------------------
# Flagship #7: training-shard export — the last mile between a curated
# corpus and the trainer's data loader, composed as ONE oracle-checked
# plan: quality floor → exact-dedup keep-first → deterministic epoch-0
# shuffle key → 16-way sharding → per-shard sequence packing.

EXPORT_TOKEN_FLOOR = 50
EXPORT_PACK_BUDGET = 2048
EXPORT_EPOCH = 0


@register(
    "pipeline_training_export",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, text,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n
      FROM documents
    ),
    floored AS (SELECT * FROM tok WHERE n >= {EXPORT_TOKEN_FLOOR}),
    dd AS (
      SELECT doc_id, n,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM floored
    ),
    keyed AS (
      SELECT doc_id, n,
             md5('{EXPORT_EPOCH}:' || CAST(doc_id AS VARCHAR)) AS k
      FROM dd WHERE rn = 1
    ),
    packed AS (
      SELECT substr(k, 1, 1) AS shard, doc_id, n,
             CAST(floor((sum(n) OVER (PARTITION BY substr(k, 1, 1)
                                      ORDER BY k, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n)
                        / {EXPORT_PACK_BUDGET}) AS BIGINT) AS pack_id
      FROM keyed
    )
    SELECT shard, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY shard, pack_id
    """,
    doc=f"Training-shard export flagship: whitespace-token floor "
    f"(≥{EXPORT_TOKEN_FLOOR}) → exact-dedup keep-first (row_number over "
    "md5(text)) → deterministic epoch-0 shuffle key (same md5(epoch:id) "
    "currency as sample_epoch_shuffle) → 16-way sharding by the key's "
    f"first nibble → {EXPORT_PACK_BUDGET}-token greedy packing per shard "
    "(the sample_pack_sequences cumsum formulation). Emits one row per "
    "(shard, pack) — the shard manifest a data loader consumes. Scale "
    "shape: the dedup window shuffles on md5(text) (hashes, never "
    "text), the packing window partitions on the 16 shards exactly as "
    "a distributed writer would split output files, and no window in "
    "the plan is unpartitioned.",
)
def pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project text down to (hash, token count) BEFORE the dedup window —
    # the exchange must carry 32-byte hashes, never document text
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h"), F.size(_tokens(F.col("text"))).alias("n")
    )
    floored = d.filter(F.col("n") >= EXPORT_TOKEN_FLOOR)
    w_dd = W.partitionBy("h").orderBy("doc_id")
    survivors = (
        floored.withColumn("rn", F.row_number().over(w_dd))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n",
            F.md5(F.concat_ws(":", F.lit(EXPORT_EPOCH), F.col("doc_id"))).alias("k"),
        )
    )
    keyed = survivors.withColumn("shard", F.substring("k", 1, 1))
    w_pack = W.partitionBy("shard").orderBy("k", "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    packed = keyed.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n").over(w_pack) - F.col("n")) / EXPORT_PACK_BUDGET
        ).cast("bigint"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("pack_tokens"),
    )
