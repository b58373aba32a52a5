"""Flagship #9: iterative QUALITY-CLASSIFIER TRAINING
(`pipeline_classifier_train`) — batch logistic regression by k fixed
gradient-descent rounds over hashed bag-of-words features, the trainer
behind the contract's classifier APPLY keys (`text_hash_classifier`
scores with a FIXED hashed weight table; `pipeline_pretrain_corpus`
gates on it; this operator is the loop that PRODUCES such a table from
the corpus — the fastText-style distillation step every model-based
curation recipe runs).

Labels are distilled from a deterministic heuristic: y = 1 when the
doc's English-stopword ratio >= 5%, computed as the EXACT integer
comparison ``20 * n_stopwords >= n_tokens`` (no float ratio, no
engine-boundary risk) — the classifier learns to reproduce the
pretrain gate's language rule from hashed unigrams, which is precisely
how production replaces brittle rules with a trainable scorer.

EXACTNESS DESIGN (what makes an iterative FLOAT training loop
hash-checkable): every cross-engine AGGREGATION is integer.
  * features x(d,b) are raw counts (int) over B=256 md5 buckets, plus
    an intercept bucket b=-1 with x=1;
  * weights are scaled integers (S=1e4 units);
  * the per-doc score  s_d = Σ_b w_b·x(d,b)  is an exact int64 sum;
  * the ONLY float op is one sigmoid per doc, on an exactly-agreed
    input (s_d/S): p_d = 1/(1+exp(-s_d/S)) — deterministic per doc,
    no reassociation (the exp-last-ulp caveat below);
  * the residual quantizes immediately: r_d = round(S·(p_d - y_d)) —
    back to int64 — so the gradient  g_b = Σ_d r_d·x(d,b)  is again an
    exact integer sum under ANY partition layout (the agg_ltv_curve
    scaled-integer trick applied per GD round);
  * the update w_b -= floor(g_b / (lr_den·N)) is floor() of a DOUBLE
    division on BOTH engines (long/double in Spark, g*1.0/(den*n) in
    DuckDB) — identical IEEE-754 doubles, so the hash gate holds; the
    result equals true integer floor division only while |g_b| and
    lr_den·N stay within double's exact-integer range (< 2^53), which
    B=256 buckets and S=1e4 units guarantee by orders of magnitude
    (|g_b| <= S·N <= 1e4·N: exact up to N ~ 1e9 docs — beyond that,
    switch both engines to true integral division) (ADVICE r13).
So two engines can only disagree if their exp() differs in the last
ulp AND that ulp lands within ~1e-12 of a residual rounding boundary —
the same measure-zero class math_sigmoid already carries. Round 1 is
exactly boundary-safe by construction: w=0 → s=0 → p=0.5 exactly on
both engines.

Scale shape (100 TB): the corpus-sized work is ONE tokenize +
groupBy(doc, bucket) building the feature table, checkpointed once
(production caches it). Each round is two passes over the feature
table — a score aggregate shuffling (doc_id, int64) and a gradient
aggregate shuffling (bucket, int64), the bucket space bounded at B —
plus a 257-row weight update (checkpointed per round like
graph_pagerank's rank frame). Driver traffic: one count (N) at
construction. The oracle unrolls the identical rounds as MATERIALIZED
DuckDB CTEs, so the training loop is value-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import store
from ..operators._util import t, truncate_lineage
from ..operators.text_queries import _STOP_SQL, EN_STOPWORDS
from ..registry import register

CLF_BUCKETS = 256      # hashed feature space (md5 % B; production ~1e5+)
CLF_SCALE = 10_000     # integer weight/residual units (1e-4 resolution)
# Fixed GD rounds; the oracle string is generated at import from the
# same constant.
CLF_ROUNDS = 12


def clf_lr_den(k: int) -> int:
    """Per-round step denominator: update_k = -floor(grad / (den_k·N)).

    Full-batch logistic GD with a flat step OSCILLATES on this objective
    (measured: period-2 accuracy bouncing 0.38↔0.92 at a flat 1/8 step —
    the classic too-big-step limit cycle); halving the step every 3
    rounds (1/2,1/2,1/2,1/4,...,1/16) converges in 12 rounds to
    0.91/0.93/0.95 train accuracy at sf0.001/0.01/0.1 vs 0.70/0.62/0.64
    majority baselines. k is the 1-based round index — a STATIC constant
    in both the Spark loop and the unrolled SQL, so the schedule costs
    nothing to express."""
    return 2 * 2 ** ((k - 1) // 3)


def _clf_cte_prefix(rounds: int = CLF_ROUNDS) -> str:
    """The shared WITH-prefix: tokenize → hashed features → labels →
    ``rounds`` unrolled GD rounds ending at ``w{rounds}`` — reused by
    both the train oracle (reads the final weights) and the distill
    oracle (joins the apply pass onto ``w{rounds}``)."""
    S, B = CLF_SCALE, CLF_BUCKETS
    parts = [
        rf"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    feat AS MATERIALIZED (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT % {B} AS b,
             count(*) AS x
      FROM tok GROUP BY 1, 2
      UNION ALL
      SELECT DISTINCT doc_id, -1 AS b, 1 AS x FROM tok
    ),
    lab AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN 20 * len(list_filter(ws, x -> x IN ({_STOP_SQL})))
                       >= len(ws) THEN 1 ELSE 0 END AS y
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
            FROM documents)
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM feat),
    w0 AS (SELECT unnest(range(-1, {B})) AS b, CAST(0 AS BIGINT) AS w)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
    s{k} AS MATERIALIZED (
      SELECT f.doc_id, sum(f.x * w.w) AS s
      FROM feat f JOIN w{k - 1} w USING (b) GROUP BY f.doc_id
    ),
    r{k} AS MATERIALIZED (
      SELECT s.doc_id,
             CAST(round({S} * (1.0 / (1.0 + exp(-(s.s / {S}.0))) - l.y)) AS BIGINT) AS r
      FROM s{k} s JOIN lab l USING (doc_id)
    ),
    g{k} AS MATERIALIZED (
      SELECT f.b, sum(r.r * f.x) AS g
      FROM feat f JOIN r{k} r USING (doc_id) GROUP BY f.b
    ),
    w{k} AS MATERIALIZED (
      SELECT w.b,
             CAST(w.w - floor(coalesce(g.g, 0) * 1.0 / ({clf_lr_den(k)} * n.n)) AS BIGINT) AS w
      FROM w{k - 1} w LEFT JOIN g{k} g USING (b) CROSS JOIN n
    )"""
        )
    return "".join(parts)


def _clf_train_oracle(rounds: int = CLF_ROUNDS) -> str:
    return (
        _clf_cte_prefix(rounds)
        + f"""
    SELECT b AS bucket, w AS weight FROM w{rounds} WHERE w <> 0
    """
    )


def _clf_distill_oracle(rounds: int = CLF_ROUNDS) -> str:
    """Train CTEs (shared prefix) + the APPLY pass: score every doc with
    the learned w{rounds} weights, emit per-doc (score_units,
    learned_label, heuristic_label).  Docs with no tokens have no
    feature rows → score 0 → learned_label 1 (p = 0.5 classifies
    positive), identical on both engines via the LEFT JOIN."""
    return (
        _clf_cte_prefix(rounds)
        + f""",
    s_apply AS MATERIALIZED (
      SELECT f.doc_id, sum(f.x * w.w) AS s
      FROM feat f JOIN w{rounds} w USING (b) GROUP BY f.doc_id
    )
    SELECT l.doc_id,
           CAST(coalesce(s.s, 0) AS BIGINT) AS score_units,
           CAST(CASE WHEN coalesce(s.s, 0) >= 0 THEN 1 ELSE 0 END AS BIGINT)
             AS learned_label,
           CAST(l.y AS BIGINT) AS heuristic_label
    FROM lab l LEFT JOIN s_apply s USING (doc_id)
    """
    )


def _doc_tokens(d: DataFrame):
    return d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )


def clf_features(d: DataFrame, buckets: int = CLF_BUCKETS) -> DataFrame:
    """(doc_id, b, x): integer hashed-unigram counts + intercept b=-1."""
    toks = _doc_tokens(d)
    counts = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
         % buckets).alias("b"),
    ).groupBy("doc_id", "b").agg(F.count("*").alias("x"))
    # intercept rows from the COUNTS frame, not a second distinct over
    # the exploded tokens (r14): "docs with >= 1 token" is the same set
    # either way, but this way the tokenize+explode pass is shared with
    # the counts aggregate (ReuseExchange) instead of running twice, and
    # the distinct reads |counts| grouped rows, not |tokens|
    bias = counts.select("doc_id").distinct().select(
        "doc_id", F.lit(-1).cast("long").alias("b"), F.lit(1).cast("long").alias("x")
    )
    return counts.unionByName(bias)


def clf_labels(d: DataFrame) -> DataFrame:
    """(doc_id, y): EXACT integer stopword-ratio rule (20·stop >= tokens)."""
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    stops = F.array([F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(ws, lambda x: F.array_contains(stops, x)))
    return d.select(
        "doc_id",
        F.when(20 * n_stop >= F.size(ws), 1).otherwise(0).cast("long").alias("y"),
    )


def clf_train(
    feat: DataFrame,
    lab: DataFrame,
    rounds: int = CLF_ROUNDS,
    buckets: int = CLF_BUCKETS,
) -> DataFrame:
    """Run ``rounds`` exact-integer GD rounds; returns the (b, w) weight
    frame. Per round: score aggregate (shuffles (doc_id, int64)),
    residual quantization (one sigmoid per doc), gradient aggregate
    (shuffles (bucket, int64), bucket space bounded at B), 257-row
    integer update — weights checkpointed per round."""
    S = CLF_SCALE
    spark = feat.sparkSession
    # LAZY input checkpoints (r14, the PageRank lesson): an eager
    # localCheckpoint is a blocking driver job, and the loop paid ~6
    # serial round trips per training (two inputs + w0 + every-second-
    # round w cuts). eager=False materializes each exactly once inside
    # the consuming action — feat during the n_docs count below, lab on
    # the first round — and the A/B reads wall 4.9 -> 4.4 s / CPU 2.5 ->
    # 2.0 s with exceptAll both ways 0 rows.
    feat = truncate_lineage(feat, eager=False)
    lab = truncate_lineage(lab, eager=False)
    n_docs = feat.select("doc_id").distinct().count()  # driver: one int
    w = spark.range(-1, buckets).select(
        F.col("id").alias("b"), F.lit(0).cast("long").alias("w")
    )
    if n_docs == 0:
        # empty corpus: nothing to train — all-zero weights, exactly the
        # oracle's cascade (empty feat → empty s/r/g CTEs → w unchanged,
        # so the registered key's w<>0 filter yields zero rows)
        return w
    for k in range(1, rounds + 1):
        scores = (
            feat.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("s") / F.lit(float(S)))))
        resid = scores.join(lab, "doc_id").select(
            "doc_id",
            F.round(S * (p - F.col("y"))).cast("long").alias("r"),
        )
        grad = (
            feat.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
        )
        w = w.join(grad, "b", "left").select(
            "b",
            (
                F.col("w")
                - F.floor(
                    F.coalesce(F.col("g"), F.lit(0))
                    / F.lit(float(clf_lr_den(k) * n_docs))
                )
            ).cast("long").alias("w"),
        )
        # every SECOND round (and the last), like graph_pagerank: a
        # two-round-deep plan (4 joins + 4 aggs over the checkpointed
        # features) is still trivially small for Catalyst; lazy, so the
        # 257-row cut materializes inside the next round's broadcast
        # build instead of as its own driver job
        if k % 2 == 0 or k == rounds:
            w = truncate_lineage(w, eager=False)
    return w


@register(
    "pipeline_classifier_train",
    oracle=_clf_train_oracle(),
    doc=f"Flagship #9: iterative quality-classifier training — "
    f"{CLF_ROUNDS} batch logistic-regression GD rounds over "
    f"{CLF_BUCKETS} md5-hashed unigram buckets (+intercept), labels "
    "distilled from the exact integer stopword rule 20·n_stop>=n_tok, "
    "step halved every 3 rounds (flat steps limit-cycle; see "
    "clf_lr_den) reaching 0.91-0.95 train accuracy vs 0.62-0.70 "
    "majority across sfs. Hash-checkable float training: "
    "weights/residuals are scaled "
    "integers, the only float op is one sigmoid per doc on an exactly-"
    "agreed int input, and every cross-engine aggregation (scores, "
    "gradients) is an exact int64 sum under any partition layout. "
    "Corpus-sized work is ONE tokenize+groupBy feature pass "
    "(checkpointed); each round shuffles (doc_id,int64)+(bucket,int64) "
    "only; the weight frame is 257 rows, checkpointed per round like "
    "graph_pagerank. Oracle unrolls the identical rounds as "
    "MATERIALIZED CTEs. Output: the learned nonzero weights.",
    eager=True,  # construction runs the GD loop (N count + checkpoints)
)
def pipeline_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = clf_train(clf_features(d), clf_labels(d))
    return w.filter(F.col("w") != 0).select(
        F.col("b").alias("bucket"), F.col("w").alias("weight")
    )


def clf_store_write(spark: SparkSession, sf_dir: str, path: str,
                    rounds: int = CLF_ROUNDS) -> None:
    """Train and persist the FULL (b, w) weight table (all 257 rows,
    zeros included — the apply join wants the complete space).  At
    100 TB the weight store is the model artifact: trained once per
    corpus snapshot, broadcast into every downstream scoring join."""
    d = t(spark, sf_dir, "documents")
    clf_train(clf_features(d), clf_labels(d), rounds=rounds).write.mode(
        "overwrite"
    ).parquet(path)


def ensure_clf_store(spark: SparkSession, sf_dir: str,
                     rounds: int = CLF_ROUNDS) -> str:
    """The trained weight store, built once per (warehouse, sf_dir,
    training parameters).  Its params fold in buckets / scale / rounds /
    step schedule, so a store trained with other values is never reused
    against an oracle that retrains from source."""
    params = f"{sf_dir}|b{CLF_BUCKETS}s{CLF_SCALE}r{rounds}h3"
    return store.ensure(
        spark, "clf_weight_store_", params, sf_dir, ("documents",),
        lambda path: clf_store_write(spark, sf_dir, path, rounds=rounds),
    )


def clf_store_read(spark: SparkSession, path: str) -> DataFrame:
    """Schema-pinned read of the weight store (explicit schema — the
    257-row table must not depend on inference)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("b", T.LongType()), T.StructField("w", T.LongType())]
    )
    return spark.read.schema(schema).parquet(path)


@register(
    "pipeline_classifier_distill",
    oracle=_clf_distill_oracle(),
    doc="Flagship #10 (VERDICT r13 item 2): the closed classifier "
    "train→persist→apply distillation loop. Trains the "
    f"{CLF_ROUNDS}-round integer-GD classifier, persists the full "
    "257-row weight table to a parquet weight store (the minhash-store "
    "pattern: _SUCCESS freshness vs the source fixture + a "
    "code-parameter fingerprint in the directory suffix; the returned "
    "frame derives from the DISK read, so the hash row proves the "
    "write path), then scores EVERY document with the LEARNED weights "
    "via a broadcast join of the 257-row store onto the hashed feature "
    "table, emitting per-doc (score_units, learned_label, "
    "heuristic_label). score_units is the exact int64 Σ w_b·x(d,b) "
    "(p = sigmoid(score_units/1e4)); learned_label = score>=0; "
    "heuristic_label is the integer stopword rule the trainer "
    "distilled. Docs with no tokens score 0 → label 1 on both engines "
    "(LEFT JOIN + coalesce). Oracle: the shared train CTEs + the apply "
    "join on w12 — the full loop is value-checked end-to-end. Scale "
    "shape: train as pipeline_classifier_train; apply is ONE feature "
    "pass + a (doc_id,int64) aggregate with the weight table "
    "broadcast — no corpus-sized shuffle beyond the score aggregate. "
    "Accuracy vs the heuristic is pinned >= 0.91 at sf0.001 in "
    "tests/test_classifier_distill.py.",
    eager=True,  # construction may train + write the weight store
)
def pipeline_classifier_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = clf_store_read(spark, ensure_clf_store(spark, sf_dir))
    scores = (
        clf_features(d)
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
    )
    s0 = F.coalesce(F.col("s"), F.lit(0))
    return clf_labels(d).join(scores, "doc_id", "left").select(
        "doc_id",
        s0.cast("long").alias("score_units"),
        F.when(s0 >= 0, 1).otherwise(0).cast("long").alias("learned_label"),
        F.col("y").alias("heuristic_label"),
    )


def clf_distill_summary(per_doc: DataFrame) -> DataFrame:
    """Accuracy/confusion summary over the distill frame: one row per
    (heuristic_label, learned_label) cell with its count and the cell's
    share of all docs — the training-report surface
    tests/test_classifier_distill.py pins (accuracy >= 0.91 at
    sf0.001)."""
    total = F.sum("n").over(Window.partitionBy())
    return (
        per_doc.groupBy("heuristic_label", "learned_label")
        .agg(F.count("*").alias("n"))
        .select(
            "heuristic_label",
            "learned_label",
            "n",
            F.round(F.col("n") / total, 4).alias("share"),
        )
    )
