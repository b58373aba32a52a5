"""Vector / embedding operators (SURVEY §2.7 math_cosine_sim, §2.4
agg_vector_mean, §2.8 query_embed_build) + ANN similarity search over the
`embeddings` fixture (engine extension for training-data pipelines).

Cosine math stays in native array expressions (`zip_with` + `aggregate`,
all JVM-side). Oracle twins compute the same double-precision math via
unnest in DuckDB; outputs rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ._util import t, r4, spread, truncate_lineage, golden_path


# The vector helpers take SQL expression strings and return ONE parsed
# expression: the same lambdas built through the Column DSL cost ~40 py4j
# round trips, ~70 ms of driver-side construction per dot()/l2norm() (r15).


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def _l2norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0.0D, "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def l2norm(a: str) -> Column:
    return F.expr(_l2norm_sql(a))


def cosine(a: str, b: str) -> Column:
    return F.expr(f"{_dot_sql(a, b)} / ({_l2norm_sql(a)} * {_l2norm_sql(b)})")


def cosine_pre(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine with PRE-COMPUTED per-side L2 norms: dot(a, b) / (na * nb).

    Pair-scoring stages (corpus x queries) recompute both norms per PAIR
    when built on ``cosine`` — three array aggregates per output row where
    one suffices. Selecting ``l2norm`` once per side BEFORE the join leaves
    only the dot per pair. The division consumes the identical IEEE-754
    operand bits (a vector's norm does not depend on which pair it is in),
    so every result — and every oracle hash — is unchanged by construction
    (measured ~2.5x less executor CPU on the bruteforce pair stage)."""
    return F.expr(f"{_dot_sql(a, b)} / ({na} * {nb})")


def assign_nearest(
    vecs: DataFrame, cands: DataFrame, emb_col: str = "embedding",
    out: str = "cid",
) -> DataFrame:
    """Append ``out`` = the max-dot candidate id (ties → smallest id) to
    every row of ``vecs`` — the nearest-centroid assignment every IVF/
    k-center key runs, computed MAP-SIDE (r14, guide §2.4).

    The candidate frame (cid, ce) packs into ONE broadcast row (sorted
    array of (cid, ce) structs) and each vector takes
    ``array_max(transform(cb, c -> struct(dot, -cid)))`` over it.  The
    row-blowup form this replaces — crossJoin × |cands| then
    ``groupBy(vec).agg(max_by(cid, struct(d, -cid)))`` — multiplied the
    corpus by the candidate count, exchanged it, and planned the argmax
    as SortAggregate + per-group Sorts on BOTH sides of the exchange
    (max_by's struct ordering keeps it off the hash path).  Here the
    same dots and the same lexicographic (d, -cid) comparison happen
    inside one projection: no candidate rows, no exchange, no sort —
    assignment is one map stage, which is what the ann_ivf_topk
    docstring promises at 100 TB.  The trailing isNotNull filter only
    drops rows when the candidate frame is EMPTY (array_max over an
    empty codebook) — exactly the rows the crossJoin form never
    emitted."""
    cb = cands.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cid", "ce"))).alias("__cb")
    )
    # one parsed expression (r15): the transform/struct/dot lambda tree
    # cost ~0.2 s of py4j per construction across the IVF/PQ family
    entries = F.expr(
        f"transform(__cb, c -> named_struct("
        f"'d', {_dot_sql(emb_col, 'c.ce')}, 'nc', -c.cid))"
    )
    return (
        vecs.crossJoin(F.broadcast(cb))
        .withColumn(out, -F.array_max(entries)["nc"])
        .drop("__cb")
        .filter(F.col(out).isNotNull())
    )


_COS_PAIRS_CTE = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {qid}),
    pairs AS (
      SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
    ),
    cos AS (
      SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY vec_id
    )
"""


@register(
    "math_cosine_sim",
    oracle=_COS_PAIRS_CTE.format(qid=0)
    + """
    SELECT vec_id, round(c, 4) AS cos FROM cos
    """,
    doc="Cosine similarity of every embedding vs the query vector (vec_id 0), "
    "ref ChunkProcessor.py:270-306. The 1-row query side is broadcast; the "
    "scan side never shuffles — at 100 TB this is a map-only stage.",
)
def math_cosine_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), l2norm("embedding").alias("qn")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            r4(
                cosine_pre(
                    "embedding", "qe",
                    _l2norm_sql("embedding"), "qn",
                )
            ).alias("cos"),
        )
    )


@register(
    "agg_vector_mean",
    oracle="""
    SELECT label, pos, round(avg(v), 4) AS mean_v FROM (
      SELECT label, generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY label, pos
    """,
    doc="Elementwise mean over embedding sets per label (ref "
    "createqueryembed.py:476-502 contrastive mean). Row-form (label, pos, v) "
    "→ one groupBy shuffle with map-side partial avg; scales to any "
    "dimension without driver-side arrays.",
)
def agg_vector_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select("label", (F.col("pos0") + 1).cast("bigint").alias("pos"), F.col("v").cast("double").alias("v"))
        .groupBy("label", "pos")
        .agg(r4(F.avg("v")).alias("mean_v"))
    )


@register(
    "query_embed_build",
    oracle="""
    WITH parts AS (
      SELECT generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS v, label, vec_id
      FROM embeddings
    ),
    instr AS (SELECT pos, v AS iv FROM parts WHERE vec_id = 0),
    pos_mean AS (SELECT pos, avg(v) AS pv FROM parts WHERE label >= 8 GROUP BY pos),
    neg_mean AS (SELECT pos, avg(v) AS nv FROM parts WHERE label < 2 GROUP BY pos),
    combined AS (
      SELECT i.pos, i.iv + p.pv - 1.5 * n.nv AS c
      FROM instr i JOIN pos_mean p USING (pos) JOIN neg_mean n USING (pos)
    ),
    nrm AS (SELECT sqrt(sum(c * c)) AS nn FROM combined)
    SELECT pos, round(c / nn, 4) AS qv FROM combined CROSS JOIN nrm
    """,
    doc="Offline contrastive query-vector build: instr + mean(pos) − "
    "1.5·mean(neg), L2-normalized (ref createqueryembed.py:461-528, formula "
    "at 501-502). Row-form pipeline: two partial-agg means + broadcast-size "
    "join + global norm.",
)
def query_embed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    parts = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("vec_id", "label", (F.col("pos0") + 1).cast("bigint").alias("pos"), F.col("v").cast("double").alias("v"))
    instr = parts.filter(F.col("vec_id") == 0).select("pos", F.col("v").alias("iv"))
    pos_mean = parts.filter(F.col("label") >= 8).groupBy("pos").agg(F.avg("v").alias("pv"))
    neg_mean = parts.filter(F.col("label") < 2).groupBy("pos").agg(F.avg("v").alias("nv"))
    combined = (
        instr.join(pos_mean, "pos").join(neg_mean, "pos")
        .select("pos", (F.col("iv") + F.col("pv") - 1.5 * F.col("nv")).alias("c"))
    )
    nrm = combined.agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nn"))
    return combined.crossJoin(F.broadcast(nrm)).select("pos", r4(F.col("c") / F.col("nn")).alias("qv"))


_ANN_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    cos AS (
      SELECT qid, vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY qid, vec_id
    ),
    ranked AS (
      SELECT qid, vec_id, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
      FROM cos
    )
    SELECT qid AS query_id, vec_id AS neighbor_id, round(c, 4) AS cos, rn AS rank
    FROM ranked WHERE rn <= 5
"""


@register(
    "ann_bruteforce_topk",
    oracle=_ANN_ORACLE,
    doc="Brute-force cosine top-5 neighbors for each of 10 query vectors — "
    "the exact-ANN baseline. Query side broadcasts (tiny); candidate scan "
    "is map-only; per-query top-k via window. At 100 TB swap the window "
    "for TakeOrdered per query or the LSH-bucketed variant below.",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-row work (|Q| x dim fused dot/norm aggregates) is the
    # whole query; a 1-split fixture scan would run it on one core
    e = spread(t(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2norm("embedding").alias("qn"),
    )
    # norms once per side, not per pair (cosine_pre): |Q| x corpus pairs
    # each pay one dot instead of dot + two norms
    scored = (
        e.select("vec_id", "embedding", l2norm("embedding").alias("an"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "embedding", "qe", "an", "qn"
            ).alias("c"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("c")).alias("cos"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


@register(
    "ann_lsh_buckets",
    oracle="""
    WITH planes AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 4),
    pairs AS (
      SELECT e.vec_id, p.pid, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(p.pe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN planes p
    ),
    dots AS (
      SELECT vec_id, pid, sum(x * y) AS d FROM pairs GROUP BY vec_id, pid
    ),
    sig AS (
      SELECT vec_id, string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
      FROM dots GROUP BY vec_id
    )
    SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
    FROM sig GROUP BY bucket
    """,
    doc="Random-hyperplane LSH bucketing (sign of dot with 4 deterministic "
    "'planes' = embeddings 0-3): the scale path for ANN — candidates only "
    "compare within a bucket, turning O(N·Q) into O(N·Q/2^b). Returns "
    "bucket histogram; the search itself joins on bucket then ranks.",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    planes = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pe")
    )
    dots = (
        e.crossJoin(F.broadcast(planes))
        .select("vec_id", "pid", dot("embedding", "pe").alias("d"))
    )
    bit = F.when(F.col("d") >= 0, "1").otherwise("0")
    sig = (
        dots.withColumn("bit", bit)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pid").alias("p"), F.col("bit").alias("b")))),
                    lambda x: x["b"],
                ),
                "",
            ).alias("bucket")
        )
    )
    return sig.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


@register(
    "dedup_embedding_neardup",
    oracle="""
    WITH aug AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label, list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01)
      FROM embeddings WHERE vec_id < 10
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             unnest(a.embedding) AS x, unnest(b.embedding) AS y
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id AND a.label = b.label
    ),
    cos AS (
      SELECT va, vb, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY va, vb
    )
    SELECT va AS vec_a, vb AS vec_b, round(c, 4) AS cos
    FROM cos WHERE c > 0.8
    """,
    doc="Embedding-cosine near-duplicate pairs, blocked by label so the "
    "pair space stays linear-ish (at 100 TB: block by LSH bucket instead — "
    "same plan shape, join key = bucket). Threshold 0.8. The fixture's "
    "random vectors have no organic near-dups (an always-empty result "
    "proves nothing), so vecs 0-9 get deterministic perturbed clones "
    "(+0.01 per coordinate, id+100000) on BOTH engines — the join must "
    "recover exactly those ten clone pairs.",
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    clones = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("embedding"),
    )
    aug = base.unionByName(clones)
    # norm once per augmented row (cosine_pre): each row joins into many
    # same-label pairs and would otherwise recompute its norm per pair
    a = aug.select(
        F.col("vec_id").alias("va"), F.col("label").alias("la"),
        F.col("embedding").alias("ea"), l2norm("embedding").alias("na"),
    )
    b = aug.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("lb"),
        F.col("embedding").alias("eb"), l2norm("embedding").alias("nb"),
    )
    return (
        a.join(b, (F.col("va") < F.col("vb")) & (F.col("la") == F.col("lb")))
        .select(
            "va", "vb",
            cosine_pre("ea", "eb", "na", "nb").alias("c"),
        )
        .filter(F.col("c") > 0.8)
        .select(F.col("va").alias("vec_a"), F.col("vb").alias("vec_b"), r4(F.col("c")).alias("cos"))
    )


@register(
    "vector_quantize_int8",
    oracle="""
    WITH scales AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
      FROM embeddings
    )
    SELECT vec_id, idx - 1 AS idx,
           CAST(floor(CAST(embedding[idx] AS DOUBLE) / scale + 0.5) AS INTEGER) AS q,
           round(scale, 4) AS scale
    FROM scales, unnest(generate_series(1, len(embedding))) AS t(idx)
    """,
    doc="Symmetric int8 quantization of the embedding column (per-vector "
    "max-abs scale → values in [-127, 127]): the standard 4× storage/IO "
    "cut for a 100 TB embedding store, with dot products computed in "
    "int8 and rescaled. Pure map stage — per-vector scale is an array "
    "fold, no shuffle. Quantized values use floor(x/scale + 0.5) on both "
    "engines so rounding-mode conventions can't diverge; output is "
    "exploded to (vec_id, idx, q) rows for hash-stable comparison.",
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    absmax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scaled = e.select(
        "vec_id",
        "embedding",
        F.greatest(absmax / 127.0, F.lit(1e-12)).alias("scale"),
    )
    exploded = scaled.select(
        "vec_id",
        "scale",
        F.posexplode(F.col("embedding")).alias("idx", "x"),
    )
    return exploded.select(
        "vec_id",
        F.col("idx").cast("bigint").alias("idx"),
        F.floor(F.col("x").cast("double") / F.col("scale") + 0.5).cast("int").alias("q"),
        r4(F.col("scale")).alias("scale"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication by
# clustering embeddings and pruning within-cluster pairs above a cosine
# threshold — the embedding-space analogue of MinHash near-dup, used to
# shrink web-scale training corpora with minimal quality loss.

SEM_K = 4        # deterministic coarse clusters (vec_id < K as centroids)
SEM_TAU = 0.8    # within-cluster cosine threshold


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.01)
      FROM embeddings WHERE vec_id < 10
    ),
    cents AS (SELECT vec_id AS cid, emb AS ce FROM aug WHERE vec_id < {SEM_K}),
    cda AS (
      SELECT a.vec_id AS vid, c.cid AS cid, unnest(a.emb) AS x, unnest(c.ce) AS y
      FROM aug a CROSS JOIN cents c
    ),
    cd AS (SELECT vid, cid, sum(x * y) AS d FROM cda GROUP BY vid, cid),
    assign AS (
      SELECT vid, cid FROM (
        SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d DESC, cid) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    pairs0 AS (
      SELECT s1.vid AS va, s2.vid AS vb, a1.emb AS ea, a2.emb AS eb
      FROM assign s1 JOIN assign s2 ON s1.cid = s2.cid AND s1.vid < s2.vid
      JOIN aug a1 ON a1.vec_id = s1.vid
      JOIN aug a2 ON a2.vec_id = s2.vid
    ),
    pe AS (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM pairs0),
    cos AS (
      SELECT va, vb, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pe GROUP BY va, vb
    ),
    dup AS (SELECT vb AS vid, min(va) AS rep FROM cos WHERE c >= {SEM_TAU} GROUP BY vb)
    SELECT a.vid AS vec_id, a.cid,
           d.rep IS NOT NULL AS is_dup,
           coalesce(d.rep, a.vid) AS rep_id
    FROM assign a LEFT JOIN dup d USING (vid)
    """,
    doc=f"SemDeDup (Abbas et al. 2023): assign every embedding to its "
    f"max-dot coarse cluster ({SEM_K} deterministic centroids, same "
    "convention as the IVF family), compute cosine ONLY within clusters, "
    f"and keep-first-prune pairs above τ={SEM_TAU} — per-vector output "
    "(vec_id, cid, is_dup, rep_id). Scale shape: the pair space is "
    "blocked by cluster (at 100 TB the centroid count grows so cluster "
    "sizes stay bounded — same dial as IVF cells; the quadratic term is "
    "within-cluster only, exactly the paper's design). The fixture's "
    "random vectors have no organic semantic dups, so vecs 0-9 get "
    "deterministic +0.01 clones (id+100000) on BOTH engines — the "
    "operator must mark exactly those clones as duplicates.",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    clones = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.01).alias("emb"),
    )
    aug = base.unionByName(clones)
    cents = aug.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("ce")
    )
    # map-side packed-codebook assignment (assign_nearest, r14): same
    # dots and (d, -cid) argmax as the crossJoin + max_by aggregate it
    # replaces, and the cid lands ON the row — the assign-back join of
    # the augmented corpus by vec_id disappears with the aggregate
    av = assign_nearest(aug, cents, emb_col="emb")
    assign = av.select("vec_id", "cid")
    # norm once per assigned row (cosine_pre), not per within-cluster pair
    a = av.select(
        F.col("vec_id").alias("va"), "cid",
        F.col("emb").alias("ea"), l2norm("emb").alias("na"),
    )
    b = av.select(
        F.col("vec_id").alias("vb"), F.col("cid").alias("cidb"),
        F.col("emb").alias("eb"), l2norm("emb").alias("nb"),
    )
    cos = (
        a.join(b, (F.col("cid") == F.col("cidb")) & (F.col("va") < F.col("vb")))
        .select(
            "va", "vb",
            cosine_pre("ea", "eb", "na", "nb").alias("c"),
        )
        .filter(F.col("c") >= SEM_TAU)
    )
    dup = cos.groupBy("vb").agg(F.min("va").alias("rep"))
    return assign.join(dup, assign.vec_id == dup.vb, "left").select(
        "vec_id",
        "cid",
        F.col("rep").isNotNull().alias("is_dup"),
        F.coalesce("rep", "vec_id").alias("rep_id"),
    )


EMB_DIM = 64  # fixture embedding width (embeddings.parquet)


@register(
    "agg_embedding_covariance",
    oracle=f"""
    WITH pairs AS (
      SELECT g1.i, g2.j
      FROM generate_series(1, {EMB_DIM}) g1(i), generate_series(1, {EMB_DIM}) g2(j)
      WHERE g1.i <= g2.j
    )
    SELECT i - 1 AS i, j - 1 AS j,
           round(avg(embedding[i]::DOUBLE * embedding[j]::DOUBLE)
                 - avg(embedding[i]::DOUBLE) * avg(embedding[j]::DOUBLE), 4)
             + 0.0 AS cov
    FROM embeddings CROSS JOIN pairs
    GROUP BY i, j
    """,
    doc="Embedding covariance matrix (upper triangle): the statistic "
    "behind PCA whitening and the learned rotation in OPQ — the "
    "preprocessing that makes product-quantization subspaces "
    "independent. Scale shape: an Arrow-batched partial pass computes "
    "each batch's count / per-dim sums / outer-product sums in numpy "
    "(one d×d matrix per batch — the treeAggregate pattern, like the "
    "Bloom builder), so the shuffle carries d² partial cells per "
    "BATCH, never per row; the final combine is a map-side-combinable "
    "groupBy over (i, j) plus a broadcast of the d per-dim means. "
    "+0.0 on both engines folds -0.0 to +0.0 (near-zero off-diagonals "
    "would otherwise hash-differ on sign of a 1e-13 residue).",
)
def agg_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    d = EMB_DIM
    iu, ju = np.triu_indices(d)

    def partials(batches):
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = X.T @ X  # d x d outer-product sum
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d), [-1]]),
                    "j": np.concatenate([ju, np.full(d, -1), [-1]]),
                    "s": np.concatenate(
                        [p[iu, ju], X.sum(axis=0), [float(len(X))]]
                    ),
                }
            )

    parts = (
        spread(t(spark, sf_dir, "embeddings"))
        .select("embedding")
        .mapInPandas(partials, "i int, j int, s double")
    )
    agg = parts.groupBy("i", "j").agg(F.sum("s").alias("s"))
    n = F.broadcast(
        agg.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
            F.col("s").alias("n")
        )
    )
    means = F.broadcast(
        agg.filter((F.col("i") >= 0) & (F.col("j") == -1))
        .crossJoin(n)
        .select(F.col("i").alias("k"), (F.col("s") / F.col("n")).alias("mu"))
    )
    mi = means.withColumnsRenamed({"k": "i", "mu": "mi"})
    mj = means.withColumnsRenamed({"k": "j", "mu": "mj"})
    return (
        agg.filter(F.col("j") >= 0)
        .crossJoin(n)
        .join(mi, "i")
        .join(mj, "j")
        .select(
            "i",
            "j",
            (
                r4(F.col("s") / F.col("n") - F.col("mi") * F.col("mj"))
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


PCA_K = 8  # components kept by the fixture projection


@register(
    "vector_pca_project",
    # r11 graduation via a fully-INLINE golden mirror (nothing shared
    # with this module — tools/make_golden.py recomputes covariance /
    # eigh / sign convention / projection in plain numpy): the
    # eigendecomposition runs on the r4-ROUNDED covariance, so both
    # sides factor a bit-identical matrix and the deterministic
    # largest-|coordinate|-positive sign convention removes the
    # eigensolver sign freedom.  The golden is keyed by a corpus
    # signature recomputed here from the live embeddings view (sf0.001
    # and sf0.01 both hold 500 different vectors — row count cannot
    # key it).
    oracle=f"""
    SELECT vec_id, component, value
    FROM read_parquet('{golden_path("vector_pca_project")}')
    WHERE corpus_sig = (
      SELECT md5(string_agg(CAST(embedding AS VARCHAR), '|' ORDER BY vec_id))
      FROM embeddings
    )
    """,
    doc="PCA projection of the embedding corpus onto its top-k principal "
    "components: the covariance comes from agg_embedding_covariance's "
    "Arrow-batched partial pass, the d×d eigendecomposition runs on the "
    "DRIVER (numpy over a 64×64 matrix — bounded by dimensionality, "
    "never by corpus size, the same driver-side footprint as the PQ "
    "codebooks), and the component matrix broadcasts back into a "
    "vectorized batch projection. This is the whitening/rotation step "
    "OPQ and IVF cell balance build on. Hash-verified (r11): eigh runs "
    "on the r4-rounded covariance (bit-identical input on both sides) "
    "with a deterministic sign convention, so the golden mirror "
    "reproduces the projection exactly; pytest additionally pins "
    "orthonormal components, diagonal projected covariance, monotone "
    "reconstruction error. Output is exploded to (vec_id, component, "
    "value) rows — scalar columns only, so the driver's pandas-sort "
    "canonicalizer can hash it (r5 verdict fix).",
    eager=True,  # construction collects the covariance cells
)
def vector_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    cov_rows = agg_embedding_covariance(spark, sf_dir).collect()  # d*(d+1)/2 cells
    d = EMB_DIM
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i, r.j] = C[r.j, r.i] = r.cov
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:PCA_K]
    W_mat = vecs[:, order]  # d x k
    # deterministic sign convention: largest-|.| coordinate positive
    for c in range(W_mat.shape[1]):
        pivot = np.argmax(np.abs(W_mat[:, c]))
        if W_mat[pivot, c] < 0:
            W_mat[:, c] = -W_mat[:, c]
    bc = spark.sparkContext.broadcast(W_mat)

    def project(batches):
        Wb = bc.value
        for pdf in batches:
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = X @ Wb
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pca": [np.round(row, 4).tolist() for row in P],
                }
            )

    return (
        spread(t(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .mapInPandas(project, "vec_id long, pca array<double>")
        .select("vec_id", F.posexplode("pca").alias("component", "value"))
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25) and dense
# (cosine) rankings — the standard RAG-stack merge (Cormack et al. 2009).

RRF_K = 60  # the canonical damping constant from the RRF paper
RRF_POOL = 30  # depth of each source ranking fed into the fusion
RRF_TOPK = 10

from .curation_queries import BM25_SCORED_CTE  # noqa: E402 (no import cycle)

_RRF_ORACLE = (
    BM25_SCORED_CTE
    + f"""
    , sparse AS (
      SELECT doc_id, sparse_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS sparse_rank
        FROM scored
      ) WHERE sparse_rank <= {RRF_POOL}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    cos AS (
      SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY vec_id
    ),
    dense AS (
      SELECT doc_id, dense_rank FROM (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY round(c, 4) DESC, vec_id) AS dense_rank
        FROM cos
      ) WHERE dense_rank <= {RRF_POOL}
    ),
    fused AS (
      SELECT doc_id,
             CAST(s.sparse_rank AS BIGINT) AS sparse_rank,
             CAST(d.dense_rank AS BIGINT) AS dense_rank,
             coalesce(1.0 / ({RRF_K} + s.sparse_rank), 0)
               + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0) AS raw
      FROM sparse s FULL OUTER JOIN dense d USING (doc_id)
    )
    SELECT doc_id, sparse_rank, dense_rank, round(raw, 4) AS rrf_score
    FROM fused ORDER BY raw DESC, doc_id LIMIT {RRF_TOPK}
    """
)


@register(
    "rank_rrf_fusion",
    oracle=_RRF_ORACLE,
    doc=f"Reciprocal-rank fusion (k={RRF_K}) of two top-{RRF_POOL} rankings "
    "over the same corpus: sparse BM25 (fixed 3-term query, shared scorer "
    "with text_bm25_topk) and dense cosine vs the vec_id-0 query embedding "
    f"— returns the fused top-{RRF_TOPK}. The production hybrid-retrieval "
    "merge: each source list is produced by its own scale path (BM25 "
    "TakeOrderedAndProject, ANN nprobe-bounded candidates), so the fusion "
    "itself only ever touches 2×pool rows — rank assignment runs on a "
    "constant-size list (explicit single-partition window AFTER the "
    "global top-k prune, never over the corpus), and the full-outer merge "
    "is a broadcast-size join no matter the corpus size.",
)
def rank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation_queries import bm25_scored

    # each source list: global top-POOL via TakeOrderedAndProject, THEN rank
    # the surviving constant-size list. The pool is coalesced to one explicit
    # partition and the rank window partitions on spark_partition_id() (a
    # constant 0 there, but non-foldable) — a literal partition key would be
    # constant-folded away and WindowExec would log the single-partition
    # warning; here the single partition is the point: it holds ≤POOL rows.
    rank_w = W.partitionBy(F.spark_partition_id()).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    sparse = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .coalesce(1)
        .withColumn("sparse_rank", F.row_number().over(rank_w))
        .select("doc_id", "sparse_rank")
    )
    e = t(spark, sf_dir, "embeddings")
    # query norm once on the broadcast side (cosine_pre), not per corpus row
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), l2norm("embedding").alias("qn")
    )
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            r4(
                cosine_pre(
                    "embedding", "qe",
                    _l2norm_sql("embedding"), "qn",
                )
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .coalesce(1)
        .withColumn("dense_rank", F.row_number().over(rank_w))
        .select("doc_id", "dense_rank")
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.col("sparse_rank").cast("bigint").alias("sparse_rank"),
        F.col("dense_rank").cast("bigint").alias("dense_rank"),
        (
            F.coalesce(F.lit(1.0) / (RRF_K + F.col("sparse_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (RRF_K + F.col("dense_rank")), F.lit(0.0))
        ).alias("raw"),
    )
    return (
        fused.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(RRF_TOPK)
        .select("doc_id", "sparse_rank", "dense_rank", r4(F.col("raw")).alias("rrf_score"))
    )



_HYBRID_SEARCH_ORACLE = f"""
    WITH fused_q AS ({_RRF_ORACLE})
    SELECT f.doc_id, d.source, d.lang, substr(d.text, 1, 80) AS snippet,
           f.rrf_score
    FROM fused_q f JOIN documents d USING (doc_id)
"""


@register(
    "pipeline_hybrid_search",
    oracle=_HYBRID_SEARCH_ORACLE,
    doc="Flagship #5 — the full hybrid-search answer: rank_rrf_fusion's "
    "fused top-10 joined back to document metadata (source, lang, 80-char "
    "snippet), i.e. the result card a search API returns. The fused list "
    "is 10 rows, so the metadata join BROADCASTS the result side and the "
    "corpus scan streams past it untouched — at 100 TB the join cost is "
    "one broadcast of 10 ids, and with an id-partitioned document store "
    "it collapses further to a pruned point-read per id.",
)
def pipeline_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = rank_rrf_fusion(spark, sf_dir).select("doc_id", "rrf_score")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.substring("text", 1, 80).alias("snippet")
    )
    return docs.join(F.broadcast(fused), "doc_id").select(
        "doc_id", "source", "lang", "snippet", "rrf_score"
    )


MRL_DIM = 32  # truncation prefix (full fixture dim: 64)


@register(
    "eval_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id,
             generate_subscripts(e.embedding, 1) AS pos,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    cos AS (
      SELECT qid, vec_id,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c_full,
             sum(CASE WHEN pos <= {MRL_DIM} THEN x * y ELSE 0 END)
               / (sqrt(sum(CASE WHEN pos <= {MRL_DIM} THEN x * x ELSE 0 END))
                  * sqrt(sum(CASE WHEN pos <= {MRL_DIM} THEN y * y ELSE 0 END))) AS c_trunc
      FROM pairs GROUP BY qid, vec_id
    ),
    full_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c_full DESC, vec_id) AS rn
        FROM cos
      ) WHERE rn <= 5
    ),
    trunc_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY c_trunc DESC, vec_id) AS rn
        FROM cos
      ) WHERE rn <= 5
    )
    SELECT f.qid AS query_id,
           round(count(t.vec_id)::DOUBLE / 5, 4) AS recall_at_5
    FROM full_top f
    LEFT JOIN trunc_top t ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid
    """,
    doc=f"Matryoshka truncation evaluation: recall@5 of cosine retrieval "
    f"over the first {MRL_DIM} of 64 dimensions against the full-"
    "dimension ground truth, per query — the measurement that decides "
    "whether an MRL-style truncated index (2× smaller, 2× faster dot "
    "products) is acceptable for the first-stage retriever. Same "
    "eval-family discipline as eval_ann_recall/eval_minhash_accuracy: "
    "the engine scores BOTH rankings itself and the oracle value-checks "
    "the comparison. Both cosines come out of ONE pass over the pair "
    "rows (conditional sums), so truncation costs no extra scan.",
)
def eval_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    trunc = lambda c: f"slice({c}, 1, {MRL_DIM})"
    # full and truncated norms once per side (cosine_pre): each pair pays
    # two dots instead of two dots + four norms
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2norm("embedding").alias("qn"),
        l2norm(trunc("embedding")).alias("qnt"),
    )
    scored = (
        e.select(
            "vec_id",
            "embedding",
            l2norm("embedding").alias("an"),
            l2norm(trunc("embedding")).alias("ant"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "embedding", "qe", "an", "qn"
            ).alias("c_full"),
            cosine_pre(
                trunc("embedding"), trunc("qe"), "ant", "qnt"
            ).alias("c_trunc"),
        )
    )
    wf = W.partitionBy("qid").orderBy(F.desc("c_full"), F.asc("vec_id"))
    wt = W.partitionBy("qid").orderBy(F.desc("c_trunc"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(wf).alias("rn_full"),
        F.row_number().over(wt).alias("rn_trunc"),
    )
    return (
        ranked.filter(F.col("rn_full") <= 5)
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            r4(
                F.count(F.when(F.col("rn_trunc") <= 5, 1)).cast("double") / 5
            ).alias("recall_at_5")
        )
    )


@register(
    "eval_embedding_drift",
    oracle="""
    WITH parts AS (
      SELECT label, vec_id % 2 AS half,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, half, pos, avg(v) AS c FROM parts GROUP BY label, half, pos
    ),
    paired AS (
      SELECT a.label, a.pos, a.c AS ca, b.c AS cb
      FROM cent a JOIN cent b ON b.label = a.label AND b.pos = a.pos
      WHERE a.half = 0 AND b.half = 1
    )
    SELECT label,
           round(sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 4) AS centroid_cosine,
           round(sqrt(sum((ca - cb) * (ca - cb))), 4) AS centroid_l2
    FROM paired GROUP BY label
    """,
    doc="Embedding-drift monitor: per label, the cosine and L2 distance "
    "between the centroids of two snapshot halves (vec_id parity stands "
    "in for time slices) — the check an embedding-serving pipeline runs "
    "after a model update or data shift; centroid_cosine near 1 means "
    "the class geometry held. Row-form centroids (label, half, pos) via "
    "one partial-agg mean — dimension never materializes driver-side — "
    "then a |labels|×dim self-join and a per-label reduce.",
)
def eval_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v0"),
    ).select("label", "half", "pos", F.col("v0").cast("double").alias("v"))
    cent = parts.groupBy("label", "half", "pos").agg(F.avg("v").alias("c"))
    a = cent.filter(F.col("half") == 0).select("label", "pos", F.col("c").alias("ca"))
    b = cent.filter(F.col("half") == 1).select("label", "pos", F.col("c").alias("cb"))
    paired = a.join(b, ["label", "pos"])
    return paired.groupBy("label").agg(
        r4(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            )
        ).alias("centroid_cosine"),
        r4(F.sqrt(F.sum(F.pow(F.col("ca") - F.col("cb"), 2)))).alias("centroid_l2"),
    )


KCENTER_K = 8  # selection budget (seed + 7 greedy picks)


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center in DuckDB: step j picks the point with the
    maximum min-squared-L2 distance to the selected set (ties to the
    smaller vec_id), then folds its distances into the running minimum.
    Generated programmatically — same shape as the pagerank/CC unrolled
    oracles, so the data-dependent iterative algorithm is VALUE-checked."""
    parts = [
        """
    WITH e0 AS (SELECT embedding AS ce FROM embeddings WHERE vec_id = 0),
    d1 AS (
      SELECT e.vec_id, sum((x.v - y.v) * (x.v - y.v)) AS d
      FROM embeddings e CROSS JOIN e0,
           LATERAL (SELECT generate_subscripts(e.embedding, 1) AS pos, CAST(unnest(e.embedding) AS DOUBLE) AS v) x,
           LATERAL (SELECT generate_subscripts(e0.ce, 1) AS pos, CAST(unnest(e0.ce) AS DOUBLE) AS v) y
      WHERE x.pos = y.pos
      GROUP BY e.vec_id
    )"""
    ]
    picks = ["SELECT 1 AS rank, 0 AS vec_id, 0.0 AS radius"]
    for j in range(2, KCENTER_K + 1):
        prev = f"d{j - 1}"
        parts.append(
            f"""
    c{j} AS (SELECT vec_id, d FROM {prev} ORDER BY d DESC, vec_id LIMIT 1),
    e{j} AS (SELECT embedding AS ce FROM embeddings JOIN c{j} USING (vec_id)),
    nd{j} AS (
      SELECT e.vec_id, sum((x.v - y.v) * (x.v - y.v)) AS nd
      FROM embeddings e CROSS JOIN e{j},
           LATERAL (SELECT generate_subscripts(e.embedding, 1) AS pos, CAST(unnest(e.embedding) AS DOUBLE) AS v) x,
           LATERAL (SELECT generate_subscripts(e{j}.ce, 1) AS pos, CAST(unnest(e{j}.ce) AS DOUBLE) AS v) y
      WHERE x.pos = y.pos
      GROUP BY e.vec_id
    ),
    d{j} AS (
      SELECT p.vec_id, least(p.d, n.nd) AS d
      FROM {prev} p JOIN nd{j} n USING (vec_id)
    )"""
        )
        picks.append(
            f"SELECT {j} AS rank, vec_id, round(d, 4) AS radius FROM c{j}"
        )
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(picks)


@register(
    "sample_kcenter_diverse",
    oracle=_kcenter_oracle(),
    doc=f"Diversity-based selection: greedy k-center over the embeddings "
    f"(seed vec_id 0, then {KCENTER_K - 1} picks of the point farthest — "
    "max min-squared-L2 — from the selected set, ties to the smaller id). "
    "The core-set recipe behind diverse fine-tuning subsets and "
    "active-learning batch selection; the reported radius is the "
    "coverage bound at each pick (the greedy algorithm is a 2-"
    "approximation of the optimal k-center radius). Execution is the "
    "pagerank/CC discipline: per round one broadcast of the new "
    "center's vector, one map-side least() fold of the distance "
    "column, and a 1-row TakeOrdered argmax — the corpus never "
    "shuffles, state is one double per row, and the oracle unrolls the "
    "identical rounds so the data-dependent selection is value-checked.",
    eager=True,  # construction runs the greedy selection loop
)
def sample_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def sq_l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    out_schema = "rank int, vec_id long, radius double"
    seed = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("ce")
    )
    if seed.limit(1).count() == 0:  # empty corpus: nothing to select
        return spark.createDataFrame([], out_schema)
    dist = (
        e.crossJoin(F.broadcast(seed))
        .select("vec_id", "embedding", sq_l2(F.col("embedding"), F.col("ce")).alias("d"))
        .transform(lambda df: truncate_lineage(df, eager=False))
    )
    picks = [(1, 0, 0.0)]
    for rank in range(2, KCENTER_K + 1):
        top_rows = dist.orderBy(F.desc("d"), F.asc("vec_id")).limit(1).collect()
        if not top_rows:  # fewer points than the budget
            break
        top = top_rows[0]
        picks.append((rank, top.vec_id, top.d))
        center = e.filter(F.col("vec_id") == top.vec_id).select(
            F.col("embedding").alias("ce")
        )
        dist = (
            dist.crossJoin(F.broadcast(center))
            .select(
                "vec_id",
                "embedding",
                F.least(F.col("d"), sq_l2(F.col("embedding"), F.col("ce"))).alias("d"),
            )
            .transform(lambda df: truncate_lineage(df, eager=False))
        )
    rows = [(r, v, float(d)) for r, v, d in picks]
    out = spark.createDataFrame(rows, "rank int, vec_id long, radius double")
    return out.select("rank", "vec_id", r4(F.col("radius")).alias("radius"))


@register(
    "dq_embedding_norms",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS l2
      FROM (SELECT vec_id, label, unnest(embedding) AS v FROM embeddings)
      GROUP BY vec_id, label
    )
    SELECT label,
           count(*) AS n_vectors,
           round(min(l2), 4) AS min_l2,
           round(avg(l2), 4) AS mean_l2,
           round(max(l2), 4) AS max_l2,
           CAST(count(CASE WHEN l2 = 0 THEN 1 END) AS BIGINT) AS n_zero_vectors
    FROM norms GROUP BY label
    """,
    doc="Embedding-norm audit per label: min/mean/max L2 plus the "
    "zero-vector count — the model-QA check every embedding drop gets "
    "before indexing (zero vectors NaN-poison cosine scores; a norm "
    "spread far from 1 says the encoder skipped normalization and dot-"
    "product ANN is invalid). Row-form norms via one grouped sum of "
    "squares — dimension never drives the shuffle width.",
)
def dq_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    norms = t(spark, sf_dir, "embeddings").select(
        "label",
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, v: a + v.cast("double") * v.cast("double"),
            )
        ).alias("l2"),
    )
    return norms.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        r4(F.min("l2")).alias("min_l2"),
        r4(F.avg("l2")).alias("mean_l2"),
        r4(F.max("l2")).alias("max_l2"),
        F.count(F.when(F.col("l2") == 0, 1)).cast("bigint").alias("n_zero_vectors"),
    )


MMR_POOL = 20  # relevance-ranked candidate pool fed to the re-ranker
MMR_K = 10  # diversified picks
MMR_LAMBDA = 0.7  # relevance weight (1-λ penalizes similarity to selected)


def _mmr_oracle() -> str:
    """Unrolled MMR: pool = cosine top-POOL vs the vec_id-0 query; step j
    picks argmax of λ·rel − (1−λ)·max-sim-to-selected (ties to the
    smaller vec_id). The pairwise-sim table is computed once; each step
    is a max-join against the explicit union of prior picks."""
    head = f"""
    WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    relp AS (
      SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
    ),
    rel0 AS (
      SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS rel
      FROM relp GROUP BY vec_id
    ),
    pool AS MATERIALIZED (
      SELECT vec_id, rel FROM (
        SELECT vec_id, rel, row_number() OVER (ORDER BY rel DESC, vec_id) AS rn FROM rel0
      ) WHERE rn <= {MMR_POOL}
    ),
    pp AS (
      SELECT a.vec_id AS ca, b.vec_id AS cb,
             CAST(unnest(ea.embedding) AS DOUBLE) AS x, CAST(unnest(eb.embedding) AS DOUBLE) AS y
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    ps AS MATERIALIZED (
      SELECT ca, cb, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
      FROM pp GROUP BY ca, cb
    ),
    p1 AS MATERIALIZED (
      SELECT vec_id, rel FROM pool ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    parts = [head]
    sel_union = "SELECT vec_id FROM p1"
    picks = ["SELECT 1 AS rank, vec_id, round(rel, 4) AS score FROM p1"]
    for j in range(2, MMR_K + 1):
        parts.append(
            f"""
    sel{j} AS MATERIALIZED ({sel_union}),
    sc{j} AS (
      SELECT p.vec_id, p.rel,
             {MMR_LAMBDA} * p.rel - {round(1 - MMR_LAMBDA, 10)} * max(s.sim) AS score
      FROM pool p
      JOIN ps s ON s.ca = p.vec_id AND s.cb IN (SELECT vec_id FROM sel{j})
      WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{j})
      GROUP BY p.vec_id, p.rel
    ),
    p{j} AS MATERIALIZED (SELECT vec_id, score FROM sc{j} ORDER BY score DESC, vec_id LIMIT 1)"""
        )
        picks.append(f"SELECT {j} AS rank, vec_id, round(score, 4) AS score FROM p{j}")
        sel_union += f" UNION ALL SELECT vec_id FROM p{j}"
    return ",".join(parts) + "\n    " + "\n    UNION ALL ".join(picks)


@register(
    "rank_mmr_diversify",
    oracle=_mmr_oracle(),
    doc=f"Maximal Marginal Relevance re-ranking: the cosine top-{MMR_POOL} "
    f"pool vs the query embedding diversified into {MMR_K} picks — each "
    f"step takes argmax of λ·relevance − (1−λ)·max-similarity-to-"
    f"selected (λ={MMR_LAMBDA}) — the standard redundancy-removal stage "
    "after retrieval/fusion (pipeline_hybrid_search returns the list; "
    "this dedups its near-identical hits). Pool-bounded throughout: "
    "relevance is one broadcast-query scan, the pairwise-sim table is "
    f"{MMR_POOL}² rows computed once, and each greedy step is a "
    "constant-size argmax (kcenter discipline) — corpus cost is "
    "identical to the underlying top-k retrieval. The oracle unrolls "
    "the identical data-dependent steps.",
    eager=True,  # construction runs the greedy selection loop
)
def rank_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # query norm once on the broadcast side (cosine_pre), not per corpus row
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), l2norm("embedding").alias("qn")
    )
    rel = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine_pre(
                "embedding", "qe",
                _l2norm_sql("embedding"), "qn",
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .transform(lambda df: truncate_lineage(df, eager=False))
    )
    pool = [
        (r.vec_id, r.rel, r.embedding) for r in rel.collect()
    ]  # POOL rows — constant-size by construction
    if not pool:  # empty corpus: nothing to diversify
        return spark.createDataFrame([], "rank int, vec_id long, score double")
    import math

    def cos_py(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb)

    # the greedy loop runs over the CONSTANT-SIZE pool; driver-side here
    # is honest because the pool was already the result of a distributed
    # top-k (the same boundary where any serving layer leaves the cluster)
    sims = {
        (a[0], b[0]): cos_py(a[2], b[2])
        for a in pool
        for b in pool
        if a[0] != b[0]
    }
    first = max(pool, key=lambda r: (r[1], -r[0]))
    selected = [first[0]]
    out = [(1, first[0], float(first[1]))]
    for rank in range(2, MMR_K + 1):
        best = None
        for vid, r_rel, _ in pool:
            if vid in selected:
                continue
            mx = max(sims[(vid, s)] for s in selected)
            score = MMR_LAMBDA * r_rel - (1 - MMR_LAMBDA) * mx
            if best is None or score > best[1] or (score == best[1] and vid < best[0]):
                best = (vid, score)
        if best is None:  # pool exhausted before the budget
            break
        selected.append(best[0])
        out.append((rank, best[0], float(best[1])))
    df = spark.createDataFrame(out, "rank int, vec_id long, score double")
    return df.select("rank", "vec_id", r4(F.col("score")).alias("score"))


_RANK_CORR_ORACLE = (
    BM25_SCORED_CTE
    + f"""
    , sparse AS (
      SELECT doc_id, sparse_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS sparse_rank
        FROM scored
      ) WHERE sparse_rank <= {RRF_POOL}
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (
      SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    cos AS (
      SELECT vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY vec_id
    ),
    dense AS (
      SELECT doc_id, dense_rank FROM (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY round(c, 4) DESC, vec_id) AS dense_rank
        FROM cos
      ) WHERE dense_rank <= {RRF_POOL}
    ),
    common AS (
      SELECT s.sparse_rank, d.dense_rank
      FROM sparse s JOIN dense d USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           round(coalesce(corr(sparse_rank, dense_rank), 0.0), 4) AS spearman_rho
    FROM common
    """
)


@register(
    "eval_retrieval_rank_corr",
    oracle=_RANK_CORR_ORACLE,
    doc=f"Retrieval-agreement analysis: Spearman correlation between the "
    f"BM25 and dense-cosine rankings over documents in BOTH top-{RRF_POOL} "
    "pools (ranks are already unique, so Pearson-of-ranks IS Spearman) — "
    "the diagnostic that justifies hybrid fusion: a rho near 1 means the "
    "retrievers are redundant and fusion buys nothing; near 0 means they "
    "see different relevance and RRF adds real recall. Pool-bounded "
    "(two top-k lists joined on doc id); zero-overlap degenerates to "
    "rho=0 via coalesce rather than NULL.",
)
def eval_retrieval_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation_queries import bm25_scored

    rank_w = W.partitionBy(F.spark_partition_id()).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    sparse = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .coalesce(1)
        .withColumn("sparse_rank", F.row_number().over(rank_w))
        .select("doc_id", "sparse_rank")
    )
    e = t(spark, sf_dir, "embeddings")
    # query norm once on the broadcast side (cosine_pre), not per corpus row
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), l2norm("embedding").alias("qn")
    )
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            r4(
                cosine_pre(
                    "embedding", "qe",
                    _l2norm_sql("embedding"), "qn",
                )
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_POOL)
        .coalesce(1)
        .withColumn("dense_rank", F.row_number().over(rank_w))
        .select("doc_id", "dense_rank")
    )
    common = sparse.join(dense, "doc_id")
    return common.agg(
        F.count("*").cast("bigint").alias("n_common"),
        r4(
            F.coalesce(F.corr("sparse_rank", "dense_rank"), F.lit(0.0))
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# r8 retrieval-training completions: contrastive-pair mining and the
# standard graded ranking metric — the two pieces a training pipeline
# needs BETWEEN the ANN family (candidate generation) and the rerank
# stage (query_embed_build → ann_* → sample_hard_negatives →
# rerank_crossencoder, evaluated by eval_ndcg_quantized/eval_ann_recall).

HN_POS_K = 5   # positives: exact top-5 (the ann_bruteforce_topk band)
HN_HARD_K = 8  # hard negatives: the next 8 by cosine (closest non-positives)
HN_RAND_K = 8  # random negatives: md5-drawn from the remaining corpus


@register(
    "sample_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    cos AS (
      SELECT qid, vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM pairs GROUP BY qid, vec_id
    ),
    ranked AS (
      SELECT qid, vec_id, c,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
      FROM cos
    ),
    rand_pool AS (
      SELECT qid, vec_id, c,
             row_number() OVER (PARTITION BY qid
                                ORDER BY md5(qid || '|' || vec_id), vec_id) AS draw
      FROM ranked WHERE rn > {HN_POS_K + HN_HARD_K}
    )
    SELECT qid AS query_id, vec_id AS neighbor_id, 'hard' AS role,
           round(c, 4) AS cos, CAST(rn - {HN_POS_K} AS BIGINT) AS draw_rank
    FROM ranked WHERE rn > {HN_POS_K} AND rn <= {HN_POS_K + HN_HARD_K}
    UNION ALL
    SELECT qid, vec_id, 'random', round(c, 4), CAST(draw AS BIGINT)
    FROM rand_pool WHERE draw <= {HN_RAND_K}
    """,
    doc=f"Contrastive-training negative mining per query: the exact top-"
    f"{HN_POS_K} are the positives band (ann_bruteforce_topk), the next "
    f"{HN_HARD_K} by cosine are the HARD negatives (closest non-"
    f"positives — the band that makes retrieval training work), and "
    f"{HN_RAND_K} RANDOM negatives are drawn from the remaining corpus "
    "by an md5 hash of (query, candidate) — deterministic across "
    "engines, retries and partitionings, unlike rand(). One scored "
    "frame feeds both bands (two windows over the same qid "
    "partitioning, one exchange); the query side broadcasts. At 100 TB "
    "the positives/hard bands come from the ANN index shortlist instead "
    "of the brute-force scan — the banding logic is unchanged.",
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    # norms once per side, not per pair (cosine_pre)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        l2norm("embedding").alias("qn"),
    )
    scored = (
        e.select("vec_id", "embedding", l2norm("embedding").alias("an"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "embedding", "qe", "an", "qn"
            ).alias("c"),
        )
    )
    # SINGLE subtree: a union of hard/random branches would reference the
    # scored frame twice and re-execute the corpus cosine scan per branch
    # (the r8 4×-decode lesson). Both bands come from two sequential
    # windows over the SAME qid exchange: rn ranks by cosine; draw then
    # orders the random pool FIRST (in_pool DESC) so pool rows get draws
    # 1..|pool| by hash while banded rows sink to the tail.
    by_cos = W.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    ranked = scored.withColumn("rn", F.row_number().over(by_cos))
    in_pool = F.col("rn") > HN_POS_K + HN_HARD_K
    by_hash = W.partitionBy("qid").orderBy(
        in_pool.desc(),
        F.md5(F.concat_ws("|", F.col("qid"), F.col("vec_id"))),
        F.asc("vec_id"),
    )
    both = ranked.withColumn("draw", F.row_number().over(by_hash))
    is_hard = (F.col("rn") > HN_POS_K) & (F.col("rn") <= HN_POS_K + HN_HARD_K)
    is_rand = in_pool & (F.col("draw") <= HN_RAND_K)
    return both.filter(is_hard | is_rand).select(
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.when(is_hard, F.lit("hard")).otherwise(F.lit("random")).alias("role"),
        r4(F.col("c")).alias("cos"),
        F.when(is_hard, F.col("rn") - HN_POS_K)
        .otherwise(F.col("draw"))
        .cast("bigint")
        .alias("draw_rank"),
    )


NDCG_K = 5  # graded-relevance depth (matches the ann top-5 convention)


@register(
    "eval_ndcg_quantized",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CASE WHEN x < 0 THEN -1 ELSE 1 END
                    * floor(abs(CAST(x AS DOUBLE)) * 7.0
                            / greatest(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))), 1e-12)
                            + 0.5)) AS qe8
      FROM embeddings
    ),
    q AS (SELECT e.vec_id AS qid, e.embedding AS qe, v.qe8 AS qq8
          FROM embeddings e JOIN qv v USING (vec_id) WHERE e.vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qe) AS DOUBLE) AS y,
             CAST(unnest(v.qe8) AS DOUBLE) AS x8,
             CAST(unnest(q.qq8) AS DOUBLE) AS y8
      FROM embeddings e JOIN qv v USING (vec_id) CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    cos AS (
      SELECT qid, vec_id,
             sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c,
             sum(x8 * y8) / (sqrt(sum(x8 * x8)) * sqrt(sum(y8 * y8))) AS c8
      FROM pairs GROUP BY qid, vec_id
    ),
    ranked AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS true_rank,
             row_number() OVER (PARTITION BY qid ORDER BY c8 DESC, vec_id) AS sys_rank
      FROM cos
    ),
    scoredq AS (
      SELECT qid,
             sum(CASE WHEN sys_rank <= {NDCG_K} AND true_rank <= {NDCG_K}
                      THEN ({NDCG_K} + 1 - true_rank) / log2(sys_rank + 1.0)
                      ELSE 0 END) AS dcg,
             sum(CASE WHEN sys_rank <= {NDCG_K} AND true_rank <= {NDCG_K}
                      THEN 1 ELSE 0 END) AS n_hits
      FROM ranked GROUP BY qid
    ),
    ideal AS (
      SELECT sum(({NDCG_K} + 1 - i) / log2(i + 1.0)) AS idcg
      FROM (SELECT unnest(range(1, {NDCG_K} + 1)) AS i)
    )
    SELECT qid AS query_id,
           round(dcg, 4) AS dcg,
           round(dcg / idcg, 4) AS ndcg,
           CAST(n_hits AS BIGINT) AS n_overlap
    FROM scoredq CROSS JOIN ideal
    """,
    doc=f"NDCG@{NDCG_K} of int4-quantized retrieval against exact-cosine "
    "ground truth: each embedding quantizes per-vector (symmetric "
    "maxabs scale to ±7 — int4, aggressive enough that the ranking "
    "visibly degrades and the metric discriminates; int8 measured "
    "near-lossless ndcg≈1.0 on this corpus), the "
    "system ranking is quantized cosine, relevance is graded "
    f"{NDCG_K}..1 over the exact top-{NDCG_K}, and DCG discounts by "
    "log2(rank+1) — the standard graded ranking metric the recall@k "
    "family (eval_ann_recall, eval_matryoshka_recall) cannot express "
    "(it treats rank 1 and rank k the same). Quantization round is "
    "sign·floor(|x|+0.5) on BOTH engines (half-away-from-zero, no "
    "banker's-rounding divergence). One scored frame, two windows over "
    "the same qid exchange, one aggregate.",
)
def eval_ndcg_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))

    def q8(col):
        m = F.greatest(
            F.array_max(F.transform(col, lambda v: F.abs(v.cast("double")))),
            F.lit(1e-12),
        )
        return F.transform(
            col,
            lambda x: F.signum(x.cast("double"))
            * F.floor(F.abs(x.cast("double")) * 7.0 / m + 0.5),
        )

    # exact and quantized norms once per side (cosine_pre): each pair pays
    # two dots instead of two dots + four norms
    ev = e.select(
        "vec_id", "embedding", q8(F.col("embedding")).alias("e8")
    ).select(
        "vec_id",
        "embedding",
        "e8",
        l2norm("embedding").alias("an"),
        l2norm("e8").alias("an8"),
    )
    q = ev.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("e8").alias("qq8"),
        F.col("an").alias("qn"),
        F.col("an8").alias("qn8"),
    )
    scored = (
        ev.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "embedding", "qe", "an", "qn"
            ).alias("c"),
            cosine_pre(
                "e8", "qq8", "an8", "qn8"
            ).alias("c8"),
        )
    )
    true_w = W.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    sys_w = W.partitionBy("qid").orderBy(F.desc("c8"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        F.row_number().over(true_w).alias("true_rank"),
        F.row_number().over(sys_w).alias("sys_rank"),
    )
    hit = (F.col("sys_rank") <= NDCG_K) & (F.col("true_rank") <= NDCG_K)
    gain = (NDCG_K + 1 - F.col("true_rank")) / F.log2(F.col("sys_rank") + 1.0)
    idcg = sum((NDCG_K + 1 - i) / __import__("math").log2(i + 1.0) for i in range(1, NDCG_K + 1))
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        r4(F.sum(F.when(hit, gain).otherwise(0.0))).alias("dcg"),
        r4(F.sum(F.when(hit, gain).otherwise(0.0)) / F.lit(idcg)).alias("ndcg"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_overlap"),
    )
