"""Scale-path operators: IVF-style ANN probing and two-phase salted
aggregation for skewed keys. Both oracle-paired — the scale technique
must produce the exact answer of its naive twin.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .. import store
from ..registry import register
from ._util import t, r4, spread
from .vector_queries import assign_nearest, cosine_pre, dot, l2norm

N_CENTROIDS = 4
N_QUERIES = 10
TOP_K = 3
N_SALT = 16
NPROBE = 3  # cells each query probes; recall 0.97 vs brute force on fixtures


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}),
    pairs AS (
      SELECT e.vec_id, c.cid, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(c.ce) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN cents c
    ),
    dots AS (SELECT vec_id, cid, sum(x * y) AS d FROM pairs GROUP BY vec_id, cid),
    ranked AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
      FROM dots
    ),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    qprobe AS (SELECT vec_id AS qid, cid FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}),
    cand AS (
      SELECT q.qid, a.vec_id
      FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
    ),
    cpairs AS (
      SELECT c.qid, c.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(qe.embedding) AS DOUBLE) AS y
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings qe ON qe.vec_id = c.qid
    ),
    cos AS (
      SELECT qid, vec_id, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS c
      FROM cpairs GROUP BY qid, vec_id
    )
    SELECT qid AS query_id, vec_id AS neighbor_id, round(c, 4) AS cos, rn AS rank FROM (
      SELECT qid, vec_id, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
      FROM cos
    ) WHERE rn <= {TOP_K}
    """,
    doc=f"IVF-style ANN: {N_CENTROIDS} deterministic centroids (embeddings "
    "0-3 as the 'trained' codebook), every vector assigned to its max-dot "
    f"centroid, queries probe their top-{NPROBE} nearest cells (nprobe="
    f"{NPROBE}; recall ≥ 0.95 vs ann_bruteforce_topk on the fixtures — "
    "asserted in tests/test_ann.py). At 100 TB: k-means centroids "
    "broadcast, assignment is one map stage, cells are the partition key "
    "so each query touches nprobe partitions out of thousands.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    cents = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    # Cell assignment MAP-SIDE over the packed broadcast codebook (r14,
    # assign_nearest): same dots, same (d, -cid) argmax as the previous
    # crossJoin + max_by aggregate, but zero candidate-row blowup, zero
    # Exchange, zero SortAggregate — assignment is literally the one map
    # stage the 100 TB docstring promises.
    assign = assign_nearest(e, cents).select("vec_id", "cid")
    # query probes need top-NPROBE cells for the N_QUERIES query vectors
    # only — the query filter lands BEFORE the crossJoin, so the dot
    # table is N_QUERIES×C rows, never N×C
    qdots = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", dot("embedding", "ce").alias("d"))
    )
    wq = W.partitionBy("vec_id").orderBy(F.desc("d"), F.asc("cid"))
    qprobe = (
        qdots.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    cand = qprobe.join(assign, "cid").filter(F.col("vec_id") != F.col("qid")).select("qid", "vec_id")
    # broadcast ONLY the query vectors (r2 bench regression: broadcasting
    # the full embedding table as the query side cost ~0.25 s/run at sf0.1
    # and would be a multi-GB broadcast at corpus scale)
    # norms once per side, not per candidate pair (cosine_pre)
    qe = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        l2norm("embedding").alias("q_n"),
    )
    ce = e.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        l2norm("embedding").alias("c_n"),
    )
    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "vec_id")
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "c_emb", "q_emb", "c_n", "q_n"
            ).alias("c"),
        )
    )
    w2 = W.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("c")).alias("cos"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def salted_sum(
    df: DataFrame,
    key: str,
    value: Column,
    out: str,
    n_salt: int = N_SALT,
    salt_from: Column | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial sum over (key, salt)
    spreads one hot key across ``n_salt`` reducers, final sum over key
    combines the partials. Algebraic aggregates only (sum/count/min/max) —
    the salt hashes a DATA column (``salt_from``, defaulting to the value
    column), never ``monotonically_increasing_id()``, so a retried task
    re-derives the identical salt and the claim "deterministic under
    retries" is literally true, not just algebraically washed out."""
    salt = F.pmod(F.xxhash64(salt_from if salt_from is not None else value), F.lit(n_salt))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_part"), F.count("*").alias("_pcnt"))
    )
    return partial.groupBy(key).agg(
        F.sum("_part").alias(out), F.sum("_pcnt").cast("bigint").alias("n")
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT event_type, round(sum(value), 4) AS total_value, count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc=f"Skew-resistant two-phase aggregation: partial sums over "
    f"(key, salt%{N_SALT}) then final combine — the exact answer of the "
    "plain groupBy (the oracle), with the hot key's work spread across "
    f"{N_SALT} reducers. The production pattern for power-law keys; AQE "
    "skew-join handles the join-side equivalent.",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = salted_sum(
        t(spark, sf_dir, "events"),
        "event_type",
        F.col("value"),
        "total_value",
        salt_from=F.col("event_id"),
    )
    return out.select("event_type", r4(F.col("total_value")).alias("total_value"), "n")


N_CELLS_TRAINED = 16
NPROBE_TRAINED = 8


TRAINED_RECALL_FLOOR = 0.5  # isotropic-fixture worst case measures ~0.8

# The recall-floor oracle reuses the brute-force ranking SQL verbatim
# (vector_queries._ANN_ORACLE) as a subquery: DuckDB recomputes the exact
# ground-truth pair count independently and asserts the floor.
from .vector_queries import _ANN_ORACLE as _BF_ORACLE  # noqa: E402

_TRAINED_RECALL_ORACLE = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
           {TOP_K} AS k,
           TRUE AS above_floor
    FROM ({_BF_ORACLE}) bf WHERE bf.rank <= {TOP_K}
    """


@register(
    "ann_ivf_trained",
    # r11 graduation — the last float-ordering-sensitive key earns a
    # RECALL-FLOOR oracle: the trained centroids genuinely vary at the
    # last float bit with partitioning (k-means|| reduces float sums in
    # nondeterministic order), so the neighbor LIST can never hash — but
    # the exact ground-truth pair count CAN (recomputed independently by
    # DuckDB via the brute-force ranking), and the claim that trained-IVF
    # recall@3 stays above the floor is stable: borderline candidate
    # flips move measured recall by one pair, and the floor sits at 0.5
    # against a measured ~0.8 (tests/test_ann.py pins the tighter bound).
    oracle=_TRAINED_RECALL_ORACLE,
    doc=f"IVF with a TRAINED codebook: k-means|| ({N_CELLS_TRAINED} cells, "
    "fixed seed) over the embedding column via pyspark.ml, then the same "
    f"cell-probe plan as ann_ivf_topk with nprobe={NPROBE_TRAINED}. "
    "Honest caveat, asserted in tests/test_ann.py: the fixture vectors "
    "are isotropic random, the worst case for IVF — with no cluster "
    "structure recall tracks the scan fraction (measured 0.8 at "
    f"{NPROBE_TRAINED}/{N_CELLS_TRAINED} cells). On real embedding "
    "distributions (which cluster) the same plan gives high recall at "
    "small scan fractions; nprobe is the recall/cost dial. Hash-verified "
    "(r11) via the recall-floor oracle: the exact top-3 pair count is "
    "recomputed by DuckDB's brute-force ranking and above_floor asserts "
    "recall@3 >= 0.5 — the trained codebook itself is float-ordering-"
    "sensitive by nature, so the summary, not the list, is the stable "
    "surface.",
    eager=True,  # construction fits the k-means model (driver-side jobs)
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf = trained_ivf_topk(spark, sf_dir)
    ivf3 = ivf.select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    # recall@TOP_K against the EXACT brute-force ranking (the hashable
    # surface — the neighbor list itself rides the float-ordering-
    # sensitive codebook)
    from .vector_queries import ann_bruteforce_topk

    bf3 = ann_bruteforce_topk(spark, sf_dir).filter(F.col("rank") <= TOP_K)
    joined = bf3.join(
        ivf3,
        (F.col("query_id") == F.col("i_qid"))
        & (F.col("neighbor_id") == F.col("i_nid")),
        "left",
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_exact_pairs"),
        F.lit(TOP_K).cast("int").alias("k"),
        F.coalesce(
            (
                F.count("i_nid").cast("double") / F.count("*")
                >= TRAINED_RECALL_FLOOR
            ),
            F.lit(True),
        ).alias("above_floor"),
    )


def trained_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained-IVF neighbor LIST (query_id, neighbor_id, cos, rank) —
    the retrieval the registered summary wraps; consumed directly by
    tests/test_ann.py's tighter 0.7-floor recall pin."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = spread(t(spark, sf_dir, "embeddings"))
    fe = e.select("vec_id", "embedding", array_to_vector("embedding").alias("features"))
    if fe.isEmpty():  # KMeans.fit throws on an empty frame; no vectors → no neighbors
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, cos double, rank bigint",
        )
    model = KMeans(k=N_CELLS_TRAINED, seed=7, maxIter=10).fit(fe)
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = spark.createDataFrame(cents, ["cid", "ce"]).coalesce(1)
    # same shape as ann_ivf_topk: map-side packed-codebook assignment
    # (assign_nearest, r14), window only over the filtered query rows
    assign = assign_nearest(e, cdf).select("vec_id", "cid")
    qdots = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "cid", dot("embedding", "ce").alias("d"))
    )
    wq = W.partitionBy("vec_id").orderBy(F.desc("d"), F.asc("cid"))
    qprobe = (
        qdots.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE_TRAINED)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    cand = qprobe.join(assign, "cid").filter(F.col("vec_id") != F.col("qid")).select("qid", "vec_id")
    # norms once per side, not per candidate pair (cosine_pre)
    qe = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        l2norm("embedding").alias("q_n"),
    )
    ce = e.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        l2norm("embedding").alias("c_n"),
    )
    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "vec_id")
        .select(
            "qid",
            "vec_id",
            cosine_pre(
                "c_emb", "q_emb", "c_n", "q_n"
            ).alias("c"),
        )
    )
    w2 = W.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("c")).alias("cos"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


N_JSALT = 8  # fact-side salt fan-out for the skewed join


@register(
    "join_salted_skew",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round(e.value - s.type_avg, 4) AS dev
    FROM events e JOIN stats s USING (event_type)
    """,
    doc=f"Skew-resistant equi-join (the join-side twin of agg_salted_skew): "
    "normalize each event against its type's mean. The fact side derives "
    f"salt = xxhash64(event_id) % {N_JSALT} (data-derived → identical "
    "under task retries), the dim side is EXPLODED across all "
    f"{N_JSALT} salts, and the join runs on (event_type, salt) — a hot "
    f"key's rows spread over {N_JSALT} reducers instead of one. Exact "
    "same rows as the plain join (the oracle). At fixture scale AQE "
    "would broadcast the 5-row dim anyway; this operator is the pattern "
    "for when the dim is too big to broadcast AND the fact key is "
    "power-law — the case AQE skew-join handles only for sort-merge "
    "plans it can split.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    dim_exp = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(N_JSALT - 1)))
    )
    fact = ev.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_JSALT)))
    return (
        fact.join(dim_exp, ["event_type", "_salt"])
        .select("event_id", "event_type", r4(F.col("value") - F.col("type_avg")).alias("dev"))
    )


PQ_SUBS = 8  # subspaces (64-dim fixture vectors → 8 dims each)
PQ_CODES = 16  # codebook entries per subspace (deterministic: embeddings 0-15)


def _pq_oracle() -> str:
    return f"""
    WITH subs AS (SELECT unnest(range({PQ_SUBS})) AS sub),
    cents AS (
      SELECT e.vec_id AS code, s.sub,
             list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS ce
      FROM embeddings e CROSS JOIN subs s WHERE e.vec_id < {PQ_CODES}
    ),
    vsubs AS (
      SELECT e.vec_id, s.sub,
             list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS ve
      FROM embeddings e CROSS JOIN subs s
    ),
    vdots AS (
      SELECT vec_id, sub, code, sum(x * y) AS d FROM (
        SELECT v.vec_id, v.sub, c.code,
               CAST(unnest(v.ve) AS DOUBLE) AS x, CAST(unnest(c.ce) AS DOUBLE) AS y
        FROM vsubs v JOIN cents c USING (sub)
      ) GROUP BY vec_id, sub, code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d DESC, code) AS rn
        FROM vdots
      ) WHERE rn = 1
    ),
    qlook AS (
      SELECT vec_id AS qid, sub, code, d FROM vdots WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT q.qid, c.vec_id, sum(q.d) AS score
      FROM codes c JOIN qlook q USING (sub, code)
      WHERE c.vec_id <> q.qid
      GROUP BY q.qid, c.vec_id
    )
    SELECT qid AS query_id, vec_id AS neighbor_id, round(score, 4) AS adc_dot,
           rn AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
      FROM adc
    ) WHERE rn <= {TOP_K}
    """


@register(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    doc=f"Product-quantization ANN (asymmetric distance): {PQ_SUBS} "
    f"subspaces x {PQ_CODES} codes (deterministic codebook: subvectors of "
    "embeddings 0-15, same convention as ann_ivf_topk's centroids; "
    "production trains per-subspace k-means — seam identical). Encode = "
    "per-(vector, subspace) argmax-dot code → each 64-dim float vector "
    f"compresses to {PQ_SUBS} bytes, a 32x memory cut, which is the whole "
    "point at 100 TB: the codes table fits where raw vectors cannot. "
    "Query scoring never touches raw vectors: a broadcast "
    f"(query x sub x code) lookup of {N_QUERIES}x{PQ_SUBS}x{PQ_CODES} "
    "partial dots joins the codes table on (sub, code) and sums — ADC "
    "top-k per query. Exact parity with the DuckDB oracle (the "
    "approximation is vs brute-force cosine, bounded in tests/test_ann.py).",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("sub")
    vsubs = e.select("vec_id", "embedding", sub).select(
        "vec_id", "sub", F.slice("embedding", F.col("sub") * 8 + 1, 8).alias("ve")
    )
    cents = (
        vsubs.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").alias("code"), "sub", F.col("ve").alias("ce"))
    )
    vdots = (
        vsubs.join(F.broadcast(cents), "sub")
        .select("vec_id", "sub", "code", dot("ve", "ce").alias("d"))
    )
    # map-side packed-codebook encode (r14, _encode_codes): vdots below
    # only feeds the query lookup, where the vec_id filter prunes it to
    # the query rows at the scan
    codes = _encode_codes(vsubs, cents)
    qlook = vdots.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "sub", "code", "d"
    )
    adc = (
        codes.join(F.broadcast(qlook), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("score")).alias("adc_dot"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


RERANK_POOL = 10  # ADC shortlist size fed to the exact re-rank stage


def _ivf_pq_ctes() -> str:
    """The shared IVF-assign + PQ-encode + ADC-score CTE block (ends at
    ``adc(qid, vec_id, score)``); ann_ivf_pq and ann_ivf_pq_refine append
    their own final SELECTs."""
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}),
    cpairs AS (
      SELECT e.vec_id, c.cid, CAST(unnest(e.embedding) AS DOUBLE) AS x, CAST(unnest(c.ce) AS DOUBLE) AS y
      FROM embeddings e CROSS JOIN cents c
    ),
    cdots AS (SELECT vec_id, cid, sum(x * y) AS d FROM cpairs GROUP BY vec_id, cid),
    cranked AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
      FROM cdots
    ),
    assign AS (SELECT vec_id, cid FROM cranked WHERE rn = 1),
    qprobe AS (SELECT vec_id AS qid, cid FROM cranked WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}),
    cand AS (
      SELECT q.qid, a.vec_id
      FROM qprobe q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.qid
    ),
    subs AS (SELECT unnest(range({PQ_SUBS})) AS sub),
    pcents AS (
      SELECT e.vec_id AS code, s.sub,
             list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS ce
      FROM embeddings e CROSS JOIN subs s WHERE e.vec_id < {PQ_CODES}
    ),
    vsubs AS (
      SELECT e.vec_id, s.sub,
             list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8) AS ve
      FROM embeddings e CROSS JOIN subs s
    ),
    vdots AS (
      SELECT vec_id, sub, code, sum(x * y) AS d FROM (
        SELECT v.vec_id, v.sub, c.code,
               CAST(unnest(v.ve) AS DOUBLE) AS x, CAST(unnest(c.ce) AS DOUBLE) AS y
        FROM vsubs v JOIN pcents c USING (sub)
      ) GROUP BY vec_id, sub, code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT vec_id, sub, code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d DESC, code) AS rn
        FROM vdots
      ) WHERE rn = 1
    ),
    qlook AS (
      SELECT vec_id AS qid, sub, code, d FROM vdots WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT ca.qid, ca.vec_id, sum(q.d) AS score
      FROM cand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN qlook q ON q.qid = ca.qid AND q.sub = co.sub AND q.code = co.code
      GROUP BY ca.qid, ca.vec_id
    )
    """


def _ivf_pq_oracle() -> str:
    return (
        _ivf_pq_ctes()
        + f"""
    SELECT qid AS query_id, vec_id AS neighbor_id, round(score, 4) AS adc_dot,
           rn AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
      FROM adc
    ) WHERE rn <= {TOP_K}
    """
    )


def _ivf_pq_refine_oracle() -> str:
    return (
        _ivf_pq_ctes()
        + f"""
    , pool AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {RERANK_POOL}
    ),
    exact AS (
      SELECT p.qid, p.vec_id, sum(x * y) AS d FROM (
        SELECT p.qid, p.vec_id,
               CAST(unnest(q.embedding) AS DOUBLE) AS x,
               CAST(unnest(n.embedding) AS DOUBLE) AS y
        FROM pool p
        JOIN embeddings q ON q.vec_id = p.qid
        JOIN embeddings n ON n.vec_id = p.vec_id
      ) p GROUP BY p.qid, p.vec_id
    )
    SELECT qid AS query_id, vec_id AS neighbor_id, round(d, 4) AS exact_dot,
           rn AS rank
    FROM (
      SELECT qid, vec_id, d,
             row_number() OVER (PARTITION BY qid ORDER BY d DESC, vec_id) AS rn
      FROM exact
    ) WHERE rn <= {TOP_K}
    """
    )


@register(
    "ann_ivf_pq",
    oracle=_ivf_pq_oracle(),
    doc=f"IVF+PQ — the production ANN combination: the IVF coarse "
    f"quantizer ({N_CENTROIDS} cells, nprobe={NPROBE}) restricts each "
    "query to its probed cells' members, and scoring inside the cells "
    "uses PQ asymmetric distance over the codes table instead of raw "
    "vectors. At 100 TB this is the only layout that fits: cells "
    "partition the corpus (cell id = partition key, so a probe is a "
    f"partition-pruned read) and each vector is {PQ_SUBS} code bytes, "
    "not 256 float bytes. Cost per query = |probed cells|/|cells| of the "
    "corpus × a table lookup per subspace — both dials (nprobe, code "
    "bits) trade recall for cost independently. Exact parity with the "
    "composed DuckDB oracle; recall vs brute force bounded in "
    "tests/test_ann.py.",
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    adc = _ivf_pq_adc_scores(e)
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("score")).alias("adc_dot"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def _ivf_assign_probe(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """IVF coarse-quantizer stage shared by the ADC scorer and the
    store-probe refine: per-vector cell ``assign(vec_id, cid)`` and
    per-query probe list ``qprobe(qid, cid)`` (same deterministic
    codebook as ann_ivf_topk)."""
    cents = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    # map-side packed-codebook assignment (assign_nearest, r14): same
    # dots and argmax rule, no candidate blowup / exchange / sort
    assign = assign_nearest(e, cents).select("vec_id", "cid")
    qdots = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", dot("embedding", "ce").alias("d"))
    )
    wq = W.partitionBy("vec_id").orderBy(F.desc("d"), F.asc("cid"))
    qprobe = (
        qdots.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    return assign, qprobe


def _ivf_pq_adc_scores(e: DataFrame) -> DataFrame:
    """Shared IVF-probe + PQ-ADC stage: (qid, vec_id, score) per probed
    candidate — consumed by ann_ivf_pq (top-k direct) and
    ann_ivf_pq_refine (shortlist → exact re-rank)."""
    assign, qprobe = _ivf_assign_probe(e)
    cand = (
        qprobe.join(assign, "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    # PQ encode + query lookup tables (same flow as ann_pq_topk)
    _vsubs, _pcents, vdots, codes = _pq_encode_parts(e)
    qlook = _pq_query_lookup(vdots)
    return (
        cand.join(codes, "vec_id")
        .join(F.broadcast(qlook), ["qid", "sub", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd").alias("score"))
    )


def _pq_encode_parts(
    e: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared PQ encode stage: (vsubs, pcents, vdots, codes) — consumed by
    the per-query ADC scorer and the ingest-time codes-store writer."""
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("sub")
    vsubs = e.select("vec_id", "embedding", sub).select(
        "vec_id", "sub", F.slice("embedding", F.col("sub") * 8 + 1, 8).alias("ve")
    )
    pcents = (
        vsubs.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").alias("code"), "sub", F.col("ve").alias("ce"))
    )
    vdots = (
        vsubs.join(F.broadcast(pcents), "sub")
        .select("vec_id", "sub", "code", dot("ve", "ce").alias("d"))
    )
    codes = _encode_codes(vsubs, pcents)
    return vsubs, pcents, vdots, codes


def _encode_codes(
    vsubs: DataFrame, pcents: DataFrame, keep: tuple = ()
) -> DataFrame:
    """(vec_id, sub) → argmax-dot ``code``, MAP-SIDE (r14): the 16-entry
    per-subspace codebook packs into 8 broadcast rows (one sorted
    (code, ce)-struct array per sub) and each (vector, sub) row takes
    ``array_max(transform(...))`` over its sub's array — the same dots
    and the same (d, -code) argmax as the previous
    ``vdots.groupBy(vec_id, sub).agg(max_by(code, struct(d, -code)))``,
    without the |codes|× row blowup, its Exchange, or the SortAggregate
    pair max_by's struct ordering forces (profiled: that pipeline was
    ~46 s of ann_ivf_pq's task time at sf0.1).  Encode stays one map
    stage over the corpus, which is the PQ ingest story at 100 TB."""
    pc = pcents.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("code", "ce"))).alias("__cb")
    )
    # one parsed expression (r15) — same rewrite as assign_nearest
    from .vector_queries import _dot_sql

    entries = F.expr(
        f"transform(__cb, c -> named_struct("
        f"'d', {_dot_sql('ve', 'c.ce')}, 'nc', -c.code))"
    )
    return (
        vsubs.join(F.broadcast(pc), "sub")
        .select(
            "vec_id", "sub", (-F.array_max(entries)["nc"]).alias("code"),
            *keep,
        )
        .filter(F.col("code").isNotNull())
    )


def _pq_query_lookup(vdots: DataFrame) -> DataFrame:
    """Per-query (qid, sub, code, qd) ADC lookup table — |queries|×subs×
    codes rows; the query filter pushes below the encode join, so only
    the query vectors' subspaces are scored."""
    return vdots.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "sub", "code", F.col("d").alias("qd")
    )


@register(
    "ann_ivf_pq_refine",
    oracle=_ivf_pq_refine_oracle(),
    doc=f"IVF+PQ with exact re-rank — the full production retrieval "
    f"stack: the ADC stage shortlists the top {RERANK_POOL} candidates "
    f"per query by compressed-code score, then ONLY those {RERANK_POOL} "
    "raw vectors are fetched and re-scored with the exact dot product "
    f"(final top {TOP_K} by exact score). This kills PQ's quantization "
    "error where it matters (the head of the ranking) while touching "
    "|queries|×pool raw vectors instead of the corpus — at 100 TB the "
    "re-rank reads are point lookups against the cid-partitioned store "
    "(ivf_store_write). Composed exact DuckDB oracle end-to-end.",
)
def ann_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    adc = _ivf_pq_adc_scores(e)
    pool = _adc_shortlist(adc)
    # |queries|×pool rows — the pool side is EXPLICITLY broadcast into both
    # embedding fetches, so the corpus-sized embedding scans stream through
    # build-side hash joins and are never exchanged (pinned in
    # tests/test_plans.py: the re-rank adds zero SortMergeJoin/Exchange
    # beyond the ADC stage's own)
    qe = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    ne = e.select("vec_id", F.col("embedding").alias("n_emb"))
    fetched = qe.join(F.broadcast(pool), "qid")
    exact = ne.join(F.broadcast(fetched), "vec_id").select(
        "qid", "vec_id", dot("q_emb", "n_emb").alias("d")
    )
    return _exact_topk(exact)


def _adc_shortlist(adc: DataFrame) -> DataFrame:
    """Top-RERANK_POOL ADC candidates per query: (qid, vec_id)."""
    wpool = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        adc.withColumn("rn", F.row_number().over(wpool))
        .filter(F.col("rn") <= RERANK_POOL)
        .select("qid", "vec_id")
    )


def _exact_topk(exact: DataFrame) -> DataFrame:
    """Final exact-score top-K projection shared by both refine variants."""
    w = W.partitionBy("qid").orderBy(F.desc("d"), F.asc("vec_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("d")).alias("exact_dot"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def ivf_store_write(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the IVF layout the ann_* docstrings promise: every vector
    written under its cell's partition directory (cid=<cell>/...). At
    100 TB this is the index — a probe touches nprobe directories out of
    thousands, and reclustering is a rewrite of moved cells only."""
    e = spread(t(spark, sf_dir, "embeddings"))
    cents = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    # map-side packed-codebook assignment (assign_nearest, r14): the cid
    # lands ON the embedding row, so the former assign-back join — which
    # shuffled the raw vectors by vec_id just to re-attach their own
    # cell — disappears; the write's partitionBy is the only exchange
    assign_nearest(e, cents).write.mode("overwrite").partitionBy("cid").parquet(path)


def ivf_store_probe(
    spark: SparkSession, path: str, cids: list[int], schema=None
) -> DataFrame:
    """Partition-pruned read of the probed cells — the physical plan's
    PartitionFilters carries the cid predicate and only those directories
    are listed/read (asserted in tests/test_curation.py).  Pass ``schema``
    to skip inference (required when the store may be empty)."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path).filter(F.col("cid").isin(cids))


def ensure_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """The cid-partitioned IVF store, built once per (warehouse, sf_dir).
    Its params fold in the cell count (N_CENTROIDS), so a store written
    with another cell count is never reused."""
    return store.ensure(
        spark, "ivf_store_", f"{sf_dir}|c{N_CENTROIDS}", sf_dir, ("embeddings",),
        lambda path: ivf_store_write(spark, sf_dir, path),
    )


def _probed_cids(e: DataFrame) -> list[int]:
    """Distinct cells probed by the query set — driver-side, bounded by
    the CELL count (never the corpus)."""
    _, qprobe = _ivf_assign_probe(e)
    return sorted(r.cid for r in qprobe.select("cid").distinct().collect())


@register(
    "ann_ivf_pq_refine_probe",
    oracle=_ivf_pq_refine_oracle(),
    doc=f"The refine stack's PRODUCTION read path, executable end-to-end: "
    "the ADC shortlist is re-ranked against raw vectors fetched from the "
    "cid-partitioned IVF store (ivf_store_write layout) instead of the "
    "flat embeddings table. The probed cell ids drive a partition-pruned "
    "scan — PartitionFilters carries the cid predicate, so only "
    f"nprobe-covered directories are listed/read (≤{N_CENTROIDS} cells "
    "on the fixtures, thousands in production) — and the "
    f"|queries|×{RERANK_POOL} pool broadcasts into the fetch. Same "
    "composed DuckDB oracle as ann_ivf_pq_refine: the store is a layout, "
    "not a semantics change. The distinct probed-cid list is collected "
    "driver-side — bounded by the CELL COUNT, never the corpus (the "
    "same boundedness class as the MERGE bucket list in sinks.py).",
    eager=True,  # construction materializes the store + collects ≤|cells| ids
)
def ann_ivf_pq_refine_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(t(spark, sf_dir, "embeddings"))
    path = ensure_ivf_store(spark, sf_dir)
    cids = _probed_cids(e)
    pool = _adc_shortlist(_ivf_pq_adc_scores(e))
    qe = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    from pyspark.sql import types as T

    store_schema = T.StructType(
        list(e.schema.fields) + [T.StructField("cid", T.LongType())]
    )
    fetched = ivf_store_probe(spark, path, cids, schema=store_schema).select(
        "vec_id", F.col("embedding").alias("n_emb")
    )
    exact = fetched.join(
        F.broadcast(qe.join(F.broadcast(pool), "qid")), "vec_id"
    ).select("qid", "vec_id", dot("q_emb", "n_emb").alias("d"))
    return _exact_topk(exact)


# ---------------------------------------------------------------------------
# Bucketed co-located join: the zero-shuffle fact-to-fact join.

DEFAULT_N_BUCKETS = 8


def _n_buckets(spark: SparkSession) -> int:
    """Bucket count for ingest-time clustering. Fixture default 8; a real
    deployment sets ``spark.mergeextractor.buckets`` (e.g. 2048 for 100 TB
    fact tables). The count is baked into the table suffix so a conf
    change yields a fresh clustering instead of mis-declared bucket
    metadata over files written with a different count."""
    return int(spark.conf.get("spark.mergeextractor.buckets", str(DEFAULT_N_BUCKETS)))


def _bucket_ddl(schema) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def write_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Persist orders and lineitem as bucketed tables (bucketBy the join
    key, sorted within buckets) in the session warehouse — once per
    (warehouse, sf_dir, bucket-count). Returns the two table names.

    This is the 100 TB join story: both fact tables hash-clustered on
    o_orderkey/l_orderkey at WRITE time means every subsequent
    order-grained join or aggregate reads co-located buckets and plans
    with NO Exchange at all — the shuffle is paid once at ingest, not
    per query (tests/test_plans.py pins the shuffle-free plan).

    Session-restart safe: the in-memory catalog forgets the tables
    between sessions while the managed location persists, so the
    location is a ``store.ensure`` store (a stale or incomplete one is
    rewritten), and a location reused from an earlier session is
    registered as an EXTERNAL bucketed table (bucket ids live in the file
    names, so the catalog entry restores the zero-Exchange plan without
    rewriting a byte).
    """
    n = _n_buckets(spark)
    names = []
    for name, src, key in (
        ("bkt_orders_", "orders", "o_orderkey"),
        ("bkt_lineitem_", "lineitem", "l_orderkey"),
    ):
        def write(loc):
            (
                t(spark, sf_dir, src)
                .write.bucketBy(n, key).sortBy(key)
                .mode("overwrite").format("parquet")
                .saveAsTable(os.path.basename(loc))
            )

        loc = store.ensure(spark, name, f"{sf_dir}@{n}", sf_dir, (src,), write)
        names.append(os.path.basename(loc))
        if not spark.catalog.tableExists(names[-1]):
            ddl = _bucket_ddl(spark.read.parquet(loc).schema)
            spark.sql(
                f"CREATE TABLE {names[-1]} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS "
                f"LOCATION '{loc}'"
            )
    return names[0], names[1]


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority
    HAVING count(*) >= 4
    """,
    doc="Fact-to-fact join with ZERO shuffles: orders and lineitem are "
    "bucketed (bucketBy 8, sorted) on the order key at write time, so "
    "the merge join AND the per-order aggregate both consume the scan's "
    "existing hash-clustering — the physical plan contains no Exchange "
    "anywhere (pinned in tests/test_plans.py). At 100 TB this is the "
    "difference between re-shuffling the fact table per query and "
    "paying the cluster-by once at ingest. Result is byte-equal to the "
    "plain join (oracle runs on the un-bucketed fixtures).",
    eager=True,  # constructing the DF triggers the one-time bucketed ingest
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, lt = write_bucketed_tables(spark, sf_dir)
    o = spark.table(ot)
    li = spark.table(lt)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            r4(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        )
        .filter(F.col("n_lines") >= 4)
    )


# ---------------------------------------------------------------------------
# Stored-codes IVF+PQ: encode ONCE at ingest, query against the store.

def pq_codes_write(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the PQ codes table (vec_id, sub, code) with each vector's
    IVF cell as the partition key — the ingest half of production ANN:
    the corpus is encoded exactly once, and a query's probe reads only
    its cells' code directories (8 bytes/vector/subspace, not raw
    floats)."""
    e = spread(t(spark, sf_dir, "embeddings"))
    # both the cell assignment and the code encode are map-side packed-
    # codebook projections now (r14), so the cid rides the row from the
    # start and the former codes⋈assign re-shuffle disappears — the
    # whole encode is one map stage into the partitioned write
    cents = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    ecid = assign_nearest(e, cents)
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("sub")
    vsubs = ecid.select("vec_id", "cid", "embedding", sub).select(
        "vec_id", "cid", "sub",
        F.slice("embedding", F.col("sub") * 8 + 1, 8).alias("ve"),
    )
    pcents = (
        vsubs.filter(F.col("vec_id") < PQ_CODES)
        .select(F.col("vec_id").alias("code"), "sub", F.col("ve").alias("ce"))
    )
    codes = _encode_codes(vsubs, pcents, keep=("cid",))
    codes.write.mode("overwrite").partitionBy("cid").parquet(path)


def ensure_pq_store(spark: SparkSession, sf_dir: str) -> str:
    """The cid-partitioned PQ codes store, built once per (warehouse,
    sf_dir).  Its params fold in the cell count, the subspace count and
    the codebook size that pq_codes_write builds from, so a store
    written with other values is never reused."""
    params = f"{sf_dir}|c{N_CENTROIDS}s{PQ_SUBS}k{PQ_CODES}"
    return store.ensure(
        spark, "pq_codes_", params, sf_dir, ("embeddings",),
        lambda path: pq_codes_write(spark, sf_dir, path),
    )


@register(
    "ann_ivf_pq_stored",
    oracle=_ivf_pq_oracle(),
    doc=f"IVF+PQ against the PERSISTED codes store — the query-time half "
    "of production ANN: ann_ivf_pq encodes the corpus inside every query "
    "(honest fixture form), while here the codes were written ONCE at "
    "ingest (pq_codes_write, cid-partitioned) and the query only (a) "
    "probes its cells via a partition-pruned scan of the codes store, "
    "(b) scores candidates with a broadcast "
    f"{N_QUERIES}×{PQ_SUBS}×{PQ_CODES} query-lookup table, (c) takes "
    "per-query top-k. Identical answers to ann_ivf_pq (same composed "
    "DuckDB oracle) — the store is a layout, not a semantics change. At "
    "100 TB this is the difference between re-encoding petabytes per "
    "query and reading kilobytes of codes per probed cell.",
    eager=True,  # construction materializes the store + collects ≤|cells| ids
)
def ann_ivf_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    e = spread(t(spark, sf_dir, "embeddings"))
    path = ensure_pq_store(spark, sf_dir)
    cids = _probed_cids(e)
    store_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("sub", T.IntegerType()),
            T.StructField("code", T.LongType()),
            T.StructField("cid", T.LongType()),
        ]
    )
    codes = ivf_store_probe(spark, path, cids, schema=store_schema)
    _, qprobe = _ivf_assign_probe(e)
    _vs, _pc, vdots, _codes = _pq_encode_parts(e)
    qlook = _pq_query_lookup(vdots)
    scored = (
        codes.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(qlook), ["qid", "sub", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd").alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            r4(F.col("score")).alias("adc_dot"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


Z_BITS = 10  # bits per dimension for the z-value (fixture ranges fit)


def _zvalue_spark(x, y, bits: int = Z_BITS):
    """Interleave the low ``bits`` of two non-negative ints: bit i of x
    lands at position 2i, bit i of y at 2i+1. Pure bitwise Column
    expressions — codegen'd, no UDF."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = parts[0]
    for p in parts[1:]:
        z = z + p
    return z


def _zvalue_sql(x: str, y: str, bits: int = Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "sort_zorder",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
           CAST({_zvalue_sql("user_id", "CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS BIGINT) AS zval
    FROM events
    """,
    doc="Z-order (Morton) clustering key: interleave the bits of two "
    "dimensions so range filters on EITHER dimension map to contiguous "
    "z-ranges — the multi-dimensional file-clustering technique behind "
    "Delta/Iceberg OPTIMIZE ZORDER. The operator computes the z-value "
    "(pure bitwise expressions, one codegen'd scan, zero shuffles); the "
    "write path is repartitionByRange(zval) + sortWithinPartitions so "
    "every output file covers a small rectangle in (user_id, item) "
    "space and parquet min/max stats prune on both dimensions "
    "(demonstrated with footer stats in tests/test_zorder.py). At "
    "100 TB this is how a second and third filter column get "
    "pruning without a second sort order.",
)
def sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    return ev.select(
        "event_id",
        "user_id",
        "item",
        _zvalue_spark(F.col("user_id"), F.col("item")).cast("bigint").alias("zval"),
    )


def zorder_write(df: DataFrame, path: str, n_files: int = 8) -> None:
    """Write ``df`` (which must carry a ``zval`` column) clustered along
    the z-curve: range-partition on zval so each output file covers a
    compact z-range (a small rectangle in the original dimensions), then
    sort within partitions so row groups are clustered too."""
    (
        df.repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )


CMS_DEPTH = 4
CMS_WIDTH = 256  # two md5 hex chars per depth row


def _cms_bucket(key, d: int):
    """Deterministic bucket for depth row ``d``: two hex chars of the
    salted md5, mapped through ascii arithmetic (portable to DuckDB —
    the text_hash_classifier trick). Any deterministic map works as a
    CMS hash row; both engines compute the identical one."""
    h = F.md5(F.concat(F.lit(f"{d}|"), key))
    return (
        (F.ascii(F.substring(h, 2 * d + 1, 1)) * 16
         + F.ascii(F.substring(h, 2 * d + 2, 1))) % CMS_WIDTH
    )


def _cms_bucket_sql(key: str, d: int) -> str:
    return (
        f"(ascii(substr(md5('{d}|' || {key}), {2 * d + 1}, 1)) * 16"
        f" + ascii(substr(md5('{d}|' || {key}), {2 * d + 2}, 1))) % {CMS_WIDTH}"
    )


@register(
    "agg_cms_estimate",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(
          f'''SELECT {d} AS d, {_cms_bucket_sql("user_id::VARCHAR", d)} AS b,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 2'''
          for d in range(CMS_DEPTH)
      )}
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    lookups AS (
      {" UNION ALL ".join(
          f'''SELECT user_id, {d} AS d, {_cms_bucket_sql("user_id::VARCHAR", d)} AS b
              FROM keys'''
          for d in range(CMS_DEPTH)
      )}
    ),
    exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM events GROUP BY user_id)
    SELECT l.user_id, e.n_exact, min(c.c) AS n_est
    FROM lookups l
    JOIN cells c ON c.d = l.d AND c.b = l.b
    JOIN exact e ON e.user_id = l.user_id
    GROUP BY l.user_id, e.n_exact
    """,
    doc=f"Count-Min-Sketch frequency estimation: {CMS_DEPTH} salted hash "
    f"rows × {CMS_WIDTH} buckets — the sketch table is "
    f"{CMS_DEPTH}×{CMS_WIDTH} cells REGARDLESS of key cardinality, "
    "which is the whole point at 100 TB: counting a billion-key stream "
    "shuffles a bounded table, sketches from different "
    "days/partitions/clusters merge by cell-wise addition, and a point "
    "query is min over the key's cells (never underestimates; "
    "overestimates by collision mass — both pinned in pytest). The "
    "exact twin rides along for verification; production drops it and "
    "broadcasts the 1k-cell sketch to whoever needs estimates. Both "
    "engines compute the identical hash rows, so the oracle checks the "
    "ESTIMATES cell-for-cell, not just the exact counts.",
)
def agg_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    cells = None
    for d in range(CMS_DEPTH):
        piece = (
            ev.groupBy(_cms_bucket(F.col("key"), d).alias("b"))
            .agg(F.count("*").cast("bigint").alias("c"))
            .select(F.lit(d).alias("d"), "b", "c")
        )
        cells = piece if cells is None else cells.unionByName(piece)
    keys = ev.distinct()
    lookups = None
    for d in range(CMS_DEPTH):
        piece = keys.select(
            "key", F.lit(d).alias("d"), _cms_bucket(F.col("key"), d).alias("b")
        )
        lookups = piece if lookups is None else lookups.unionByName(piece)
    exact = ev.groupBy("key").agg(F.count("*").cast("bigint").alias("n_exact"))
    return (
        lookups.join(F.broadcast(cells), ["d", "b"])
        .groupBy("key")
        .agg(F.min("c").alias("n_est"))
        .join(exact, "key")
        .select(
            F.col("key").cast("bigint").alias("user_id"),
            "n_exact",
            "n_est",
        )
    )


def _recall_oracle() -> str:
    from ..registry import REGISTRY

    bf = REGISTRY["ann_bruteforce_topk"].oracle
    ivf = REGISTRY["ann_ivf_topk"].oracle
    return f"""
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
           round(count(i.neighbor_id)::DOUBLE / count(*), 4) AS recall
    FROM ({bf}) b
    LEFT JOIN ({ivf}) i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@register(
    "eval_ann_recall",
    oracle=_recall_oracle(),
    doc="Retrieval-quality evaluation as a first-class operator: per-query "
    "recall@k of the IVF index against the brute-force ground truth — "
    "the metric an ANN deployment tracks when tuning nprobe/cells, "
    "computed by the ENGINE over the engine's own outputs (left join on "
    "the ground-truth top-k, hit counting). The oracle nests both ANN "
    "oracles as derived tables, so the evaluation itself is "
    "value-checked end-to-end. Scale shape: both inputs are "
    "(queries × k)-sized, far below broadcast thresholds.",
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vector_queries import ann_bruteforce_topk

    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = ann_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("i_qid"), F.col("neighbor_id").alias("i_nid")
    )
    return (
        bf.join(
            ivf,
            (F.col("query_id") == F.col("i_qid"))
            & (F.col("neighbor_id") == F.col("i_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("i_nid").cast("bigint").alias("n_hits"),
            r4(F.count("i_nid").cast("double") / F.count("*")).alias("recall"),
        )
    )
