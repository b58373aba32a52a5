"""Corpus-level statistics and model-based data selection — the
analysis passes a training-data pipeline runs over a whole corpus
(rather than per document): CCNet-style perplexity bucketing, hashed
linear-classifier quality scoring (fastText-style inference), pairwise
cross-source n-gram overlap, and per-source Zipf rank-frequency slope.

Everything is native Spark SQL (one codegen'd scan per operator plus
the semantically-required shuffles), and every key carries a DuckDB
oracle. Scale posture (100 TB): the classifier is a pure map stage; the
logprob bucketing shuffles (doc_id, lang, score) triples only; the
overlap matrix shuffles 8-gram strings once and expands pairs map-side
(bounded by |sources|^2, never |docs|^2); the Zipf slope aggregates
over the vocabulary (Heaps-law sized, orders of magnitude smaller than
the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ._util import t, r4, spread
from .text_queries import _tokens


@register(
    "sample_logprob_bucket",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT sum(cnt) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, t.lang, round(avg(-ln(v.cnt::DOUBLE / total.n)), 4) AS avg_neg_logprob
      FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
      GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, avg_neg_logprob,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY avg_neg_logprob, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM scored
    """,
    doc="CCNet-style language-model bucketing (Wenzek et al. 2020): score "
    "every document with the corpus-unigram LM (mean -ln p(token), the "
    "same proxy as text_unigram_logprob), then split each language into "
    "equal head/middle/tail thirds by score — head = closest to the LM, "
    "tail = far tail (boilerplate or noise). Rank-based ntile over the "
    "ROUNDED score (with a doc_id tiebreak) so bucket assignment is "
    "engine-exact — no float-boundary flips. Scale: the vocab join is "
    "the text_unigram_logprob shape (Zipf head broadcasts, AQE skew on "
    "the tail); the thirds cut runs via _util.partitioned_ntile "
    "(range-partitioned two-phase rank + broadcast per-lang offsets), "
    "not a per-lang window — a hot language would otherwise sort "
    "through one task (VERDICT r8 item 2).",
    eager=True,  # construction runs the range-partition exchange
)
def sample_logprob_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    neg_lp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(r4(F.avg(neg_lp)).alias("avg_neg_logprob"))
    )
    from ._util import partitioned_ntile

    tiled = partitioned_ntile(
        scored,
        ["lang"],
        [F.asc("avg_neg_logprob"), F.asc("doc_id")],
        3,
        out="__tile",
    )
    tile = F.col("__tile")
    bucket = (
        F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail")
    )
    return tiled.select(
        "doc_id", "lang", "avg_neg_logprob", bucket.alias("bucket")
    )


def clf_weight(tok):
    """Deterministic hashed-bucket weight in [-1, 1] for token ``tok`` —
    the closed-form stand-in for a trained fastText weight table (two
    md5 hex chars select the bucket; both engines compute it natively)."""
    h = F.md5(tok)
    b = F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1))
    return (b % 13 - F.lit(6)) / 6.0


CLF_WEIGHT_SQL = (
    "((ascii(substr(md5({tok}), 1, 1)) * 16"
    " + ascii(substr(md5({tok}), 2, 1))) % 13 - 6) / 6.0"
)


def clf_score(toks):
    """Mean hashed-weight margin over a token-array column — THE shared
    classifier fold: text_hash_classifier, eval_calibration_bins and
    sample_anneal_mix all build from this one expression (and their
    oracles from CLF_WEIGHT_SQL), so the stand-in classifier cannot
    silently diverge across keys (r8 review)."""
    return F.aggregate(
        F.transform(toks, clf_weight), F.lit(0.0), lambda acc, x: acc + x
    ) / F.greatest(F.size(toks), F.lit(1))


def clf_prob(toks):
    """Sigmoid keep-probability of the shared classifier fold."""
    return 1.0 / (1.0 + F.exp(-clf_score(toks)))


@register(
    "text_hash_classifier",
    oracle=r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    )
    SELECT doc_id,
           round(list_sum(list_transform(w, tok ->
                   ((ascii(substr(md5(tok), 1, 1)) * 16
                     + ascii(substr(md5(tok), 2, 1))) % 13 - 6) / 6.0))
                 / greatest(len(w), 1), 4) AS score,
           round(1.0 / (1.0 + exp(-(list_sum(list_transform(w, tok ->
                   ((ascii(substr(md5(tok), 1, 1)) * 16
                     + ascii(substr(md5(tok), 2, 1))) % 13 - 6) / 6.0))
                 / greatest(len(w), 1)))), 4) AS prob,
           (list_sum(list_transform(w, tok ->
                   ((ascii(substr(md5(tok), 1, 1)) * 16
                     + ascii(substr(md5(tok), 2, 1))) % 13 - 6) / 6.0))
                 / greatest(len(w), 1)) > 0.0 AS keep
    FROM ws
    """,
    doc="fastText-style hashed linear classifier inference (Joulin et al. "
    "2017): each token hashes into a weight bucket (two md5 hex chars -> "
    "a deterministic weight in [-1, 1] — the stand-in for a trained "
    "weight table; a real model swaps the closed-form weight for a "
    "broadcast lookup), the document scores the mean over its token "
    "stream, and a sigmoid turns the margin into a keep-probability. "
    "This is the quality-classifier pass GPT-3/LLaMA-style pipelines "
    "run over every crawled page. Pure array expressions inside one "
    "codegen'd scan — zero shuffles, zero Python; the fold over the "
    "token array is sequential in both engines, so score bits match "
    "exactly and the keep boolean has no float-boundary risk.",
)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(F.col("text"))
    staged = t(spark, sf_dir, "documents").select(
        "doc_id", clf_score(toks).alias("_score")
    )
    s = F.col("_score")
    return staged.select(
        "doc_id",
        r4(s).alias("score"),
        r4(1.0 / (1.0 + F.exp(-s))).alias("prob"),
        (s > 0.0).alias("keep"),
    )


@register(
    "eval_calibration_bins",
    oracle=rf"""
    WITH ws AS (
      SELECT lang = 'en' AS y,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    ),
    scored AS (
      SELECT y,
             1.0 / (1.0 + exp(-(list_sum(list_transform(w, tok ->
                     {CLF_WEIGHT_SQL.format(tok='tok')}))
                   / greatest(len(w), 1)))) AS prob
      FROM ws
    ),
    binned AS (
      SELECT CAST(least(floor(prob * 10.0), 9.0) AS INT) AS bin, prob, y FROM scored
    ),
    tot AS (SELECT count(*) AS n FROM binned)
    SELECT bin,
           count(*) AS n_docs,
           round(avg(prob), 4) AS avg_prob,
           round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 4) AS pos_rate,
           round(abs(avg(prob) - avg(CASE WHEN y THEN 1.0 ELSE 0.0 END)), 4) AS calib_gap,
           round(count(*)::DOUBLE / tot.n, 4) AS bin_share
    FROM binned CROSS JOIN tot
    GROUP BY bin, tot.n
    """,
    doc="Reliability-diagram bins for the hashed quality classifier "
    "(Guo et al. 2017 calibration methodology): each document's "
    "keep-probability lands in one of 10 equal-width bins; per bin, the "
    "mean predicted probability, the empirical positive rate (label: "
    "lang = 'en', the dominant class the stand-in classifier should "
    "track), their absolute gap (the per-bin ECE term — multiply by "
    "bin_share and sum for scalar ECE), and the bin's sample share. "
    "This is how a filtering pipeline decides whether a classifier's "
    "scores can be thresholded AT a probability (calibrated) or only "
    "RANKED (uncalibrated). The probability is the same sequential "
    "array fold as text_hash_classifier (bit-identical across engines, "
    "so bin assignment never flips); one map stage plus a 10-group "
    "aggregate — no shuffle carries text, and the corpus total for "
    "bin_share comes from the pack-and-explode form (collect_list + "
    "sum in ONE aggregate, re-exploded to rows) so the upstream scan "
    "runs once — a cross join back onto the aggregate would re-execute "
    "it (one scan, no unpartitioned window).",
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(F.col("text"))
    scored = t(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").alias("y"), clf_prob(toks).alias("prob")
    )
    binned = scored.select(
        F.least(F.floor(F.col("prob") * 10.0), F.lit(9.0)).cast("int").alias("bin"),
        "prob",
        "y",
    )
    pos = F.avg(F.when(F.col("y"), 1.0).otherwise(0.0))
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        r4(F.avg("prob")).alias("avg_prob"),
        r4(pos).alias("pos_rate"),
        r4(F.abs(F.avg("prob") - pos)).alias("calib_gap"),
    )
    # grand total via pack-and-explode (the temperature_boosts shape):
    # collect_list + sum ride ONE aggregate over the 10-row frame, so the
    # corpus is still scanned exactly once (test_plans single-scan pin)
    # and no unpartitioned window appears — an agg + cross join here
    # would re-execute the whole upstream scan for the total
    packed = bins.agg(
        F.collect_list(F.struct(*bins.columns)).alias("__rows"),
        F.sum("n_docs").alias("__tot"),
    )
    return packed.select(F.explode("__rows").alias("__r"), "__tot").select(
        F.col("__r.*"),
        r4(F.col("__r.n_docs").cast("double") / F.col("__tot")).alias("bin_share"),
    )


NGRAM_OVERLAP_N = 8  # same shingle width as the decontamination screen

def _sql_escape(s: str) -> str:
    """Escape a string for interpolation into a single-quoted Spark SQL
    literal: Spark's parser treats backslash as an escape inside single
    quotes (ADVICE r14: 'a\\b' parses as 'a\\x08', so an unescaped
    backslash in a source name would silently desync the map/catalog
    entries from the real column value) — escape backslashes FIRST,
    then double the quotes.  Round-trip pinned in tests/test_contract.py."""
    return s.replace("\\", "\\\\").replace("'", "''")


def _overlap_sources(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted distinct sources — driver-side, bounded by the source count
    (the _probed_cids boundedness class)."""
    return [
        r[0]
        for r in t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .orderBy("source")
        .collect()
    ]


@register(
    "agg_source_overlap",
    oracle=rf"""
    WITH ws AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source,
             substr(md5(unnest(list_transform(generate_series(1, len(w) - {NGRAM_OVERLAP_N - 1}),
                                   i -> array_to_string(list_slice(w, i, i + {NGRAM_OVERLAP_N - 1}), ' ')))), 1, 16) AS gh
      FROM ws WHERE len(w) >= {NGRAM_OVERLAP_N}
    ),
    cnt AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
    inter AS (
      SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS n_inter
      FROM sg a JOIN sg b USING (gh)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1, s2, n_inter,
           round(n_inter::DOUBLE / (ca.n + cb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.source = s1
    JOIN cnt cb ON cb.source = s2
    """,
    doc=f"Cross-source corpus overlap matrix: Jaccard similarity of the "
    f"distinct {NGRAM_OVERLAP_N}-gram sets of every source pair — the "
    "dataset-overlap report (Dolma/The-Pile style) that surfaces mirror "
    "sites, syndicated content, and benchmark bleed between subcorpora "
    "before mixing. Pairs with zero shared grams are omitted (inner-join "
    "semantics). Scale shape: grams hash to a 16-hex md5 key INSIDE the "
    "map stage (the shuffle carries 16-byte keys, never gram text — both "
    "engines hash, so any collision is identical on both sides and "
    "parity is exact by construction), then ONE shuffle builds gram -> "
    "sorted source-set; pair expansion happens map-side via a nested "
    "array transform bounded by |sources|^2 per gram, and the per-source "
    "distinct-gram sizes fall out of the same aggregate (explode the "
    "source sets) — the corpus-sized gram table is never self-joined and "
    "never re-shuffled, so there is no |docs|^2 or |grams|^2 anywhere. "
    "The final size join is a broadcast (|sources| rows).",
)
def agg_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = NGRAM_OVERLAP_N
    ws = _tokens(F.col("text"))
    # explode the POSITION RANGE first, then build each gram in a plain
    # codegen'd projection: transform()'s per-element lambda is evaluated
    # through the interpreted HigherOrderFunction path, measured 2-7x the
    # executor CPU of the identical slice/concat_ws/md5 chain compiled by
    # whole-stage codegen after the Generate. Same gram text, same md5,
    # same multiset of rows — map-side either way.
    #
    # Source sets ride a LONG BITMASK (r14): `source` is a bounded
    # dimension (20 fixture values; subcorpora stay in the dozens at
    # 100 TB), so the per-gram distinct source set is bit_or over
    # per-source bits — a fully codegen'd HashAggregate with map-side
    # partial aggregation — instead of sort_array(collect_set(...)),
    # whose ObjectHashAggregate buffers fell back to sort-based
    # aggregation in EVERY map task (numTasksFallBacked=32, 37.4 s of
    # summed task time at sf0.1 in the plan profile).  The mask is
    # bijective with the sorted set (bit i == sorted-source i), so pair
    # expansion over the tiny mask-count frame yields the identical
    # counts.  The gram key shuffles as the 8-byte unhex of the 16-hex
    # md5 prefix — bijective with the hex string, so collision behavior
    # is byte-identical to the oracle's substr(md5, 1, 16).
    srcs = _overlap_sources(spark, sf_dir)
    if not srcs:
        # empty corpus: no sources → no pairs (a zero-entry map/array
        # literal would be VOID-typed and fail analysis)
        return spark.createDataFrame(
            [], "s1 string, s2 string, n_inter bigint, jaccard double"
        )
    if len(srcs) > 62:
        raise ValueError(
            "agg_source_overlap's bitmask form covers <= 62 sources; "
            "shard the mask into multiple longs past that"
        )
    # literal expressions arrive as ONE parsed SQL string each: building
    # the 20-entry map and the 210-entry pair catalog through the column
    # DSL costs ~2000 py4j round trips PER CONSTRUCTION (measured 4.7 s
    # of the key's 4.6 s bench wall; the catalog-as-array-literal rule
    # from the phrase-catalog lesson, applied to the Python boundary)
    sq = [_sql_escape(s) for s in srcs]
    bit_of = F.expr(
        "CAST(map("
        + ",".join(f"'{s}',{1 << i}L" for i, s in enumerate(sq))
        + ")[source] AS BIGINT)"
    )
    sg = (
        spread(t(spark, sf_dir, "documents"))
        .filter(F.size(ws) >= n)
        .select("source", ws.alias("ws"))
        .select(
            "source",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias("i"),
        )
        .select(
            bit_of.alias("b"),
            F.unhex(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(F.col("ws"), F.col("i"), n))),
                    1,
                    16,
                )
            ).alias("gh"),
        )
    )
    # distinct masks present <= min(#grams, 2^|sources|) — per-mask gram
    # counts are a tiny frame, and every downstream consumer re-runs
    # only post-exchange work (ReuseExchange covers the corpus-sized
    # aggregates)
    mc = (
        sg.groupBy("gh")
        .agg(F.bit_or("b").alias("m"))
        .groupBy("m")
        .agg(F.count("*").alias("cnt"))
    )
    # one pass over the mask counts: each mask emits a singleton
    # (s, NULL) entry per member source AND a (s1, s2) entry per member
    # pair (s1 < s2 in sorted-source order, matching the sort_array
    # pairing this replaces), so sizes and intersections still come out
    # of a SINGLE aggregate.  The |sources| + C(|sources|, 2) candidate
    # catalog (210 at the 20-source fixture) is a flat array LITERAL
    # gated per mask row by one filter(...) membership test — never a
    # nested when-chain (the Catalyst-explosion gotcha) and never a
    # per-entry DSL build (the py4j cost above).
    items = [
        (f"'{s}'", "CAST(NULL AS STRING)", 1 << i) for i, s in enumerate(sq)
    ] + [
        (f"'{sq[i]}'", f"'{sq[j]}'", (1 << i) | (1 << j))
        for i in range(len(sq))
        for j in range(i + 1, len(sq))
    ]
    cat_sql = "array(" + ",".join(
        f"named_struct('s1',{a},'s2',{b},'bits',{m}L)" for a, b, m in items
    ) + ")"
    counts = (
        mc.select(
            F.expr(
                f"inline(filter({cat_sql}, e -> (m & e.bits) = e.bits))"
            ),
            "cnt",
        )
        .groupBy("s1", "s2")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    inter = counts.filter(F.col("s2").isNotNull()).withColumnRenamed(
        "cnt", "n_inter"
    )
    sizes = counts.filter(F.col("s2").isNull()).select("s1", "cnt")
    ca = F.broadcast(sizes.withColumnsRenamed({"cnt": "na"}))
    cb = F.broadcast(sizes.withColumnsRenamed({"s1": "s2", "cnt": "nb"}))
    return (
        inter.join(ca, "s1")
        .join(cb, "s2")
        .select(
            "s1",
            "s2",
            "n_inter",
            r4(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


@register(
    "text_zipf_slope",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
      FROM documents
    ),
    freq AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok),
    ranked AS (
      SELECT source, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk
      FROM freq
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_vocab,
           round(regr_slope(ln(cnt::DOUBLE), ln(rnk::DOUBLE)), 4) AS zipf_slope
    FROM ranked
    GROUP BY source
    """,
    doc="Per-source Zipf rank-frequency slope: least-squares slope of "
    "ln(frequency) vs ln(rank) over each source's vocabulary — natural "
    "text sits near -1; a flat slope flags machine-generated or "
    "template spam, a cliff flags boilerplate-dominated sources. The "
    "corpus-health diagnostic a data-quality dashboard tracks per crawl "
    "snapshot. Scale shape: the heavy aggregation is the (source, token) "
    "frequency count (map-side combinable); the per-source vocabulary "
    "rank runs via _util.partitioned_row_number (two-phase rank + "
    "broadcast per-source offsets) — Heaps-law keeps the vocab table "
    "well under corpus size, but a web-scale vocab with URLs/typos can "
    "still reach ~1e9 rows, too big for one task per source (the r9 "
    "sweep of the VERDICT r8 item 2 class); the slope is "
    "covar_pop/var_pop, both map-side-combinable aggregates.",
    eager=True,  # construction runs the range-partition exchange
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import partitioned_row_number

    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(_tokens(F.col("text"))).alias("tok"))
    freq = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    ranked = partitioned_row_number(
        freq, ["source"], [F.desc("cnt"), F.asc("tok")], out="rnk"
    ).select("source", "cnt", "rnk")
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_vocab"),
        r4(F.covar_pop(x, y) / F.var_pop(x)).alias("zipf_slope"),
    )


SELF_SIM_K = 32  # sampled docs — bounded at any corpus size
SELF_SIM_N = 4  # gram width


@register(
    "eval_self_similarity_sample",
    oracle=rf"""
    WITH sample AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT {SELF_SIM_K}
    ),
    ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM sample
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest(list_transform(generate_series(1, len(w) - {SELF_SIM_N - 1}),
                                   i -> array_to_string(list_slice(w, i, i + {SELF_SIM_N - 1}), ' ')))), 1, 16) AS gh
      FROM ws WHERE len(w) >= {SELF_SIM_N}
    ),
    dfreq AS (SELECT gh, count(*) AS df FROM dg GROUP BY gh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS self_sim
    FROM dg JOIN dfreq USING (gh)
    GROUP BY doc_id
    """,
    doc=f"Self-BLEU-style corpus diversity probe: for a deterministic "
    f"{SELF_SIM_K}-doc sample (smallest md5(doc_id) — TakeOrdered, "
    "bounded at ANY corpus size), the share of each document's distinct "
    f"{SELF_SIM_N}-grams that appear in at least one OTHER sampled "
    "document. High self_sim across the board = templated/repetitive "
    "corpus; the diversity twin of the dedup family's containment "
    "metrics. Gram doc-frequency within the sample comes from one "
    "groupBy over 16-char gram hashes; pair space never materializes.",
)
def eval_self_similarity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = SELF_SIM_N
    sample = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.md5(F.col("doc_id").cast("string")).alias("mk"))
        .orderBy("mk", "doc_id")
        .limit(SELF_SIM_K)
    )
    ws = _tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.substring(F.md5(F.concat_ws(" ", F.slice(ws, i, n))), 1, 16),
    )
    dg = (
        sample.filter(F.size(ws) >= n)
        .select("doc_id", F.explode(grams).alias("gh"))
        .distinct()
    )
    dfreq = dg.groupBy("gh").agg(F.count("*").alias("df"))
    return (
        dg.join(dfreq, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("int")).cast("bigint").alias("n_shared"),
            r4(
                F.sum((F.col("df") >= 2).cast("int")).cast("double") / F.count("*")
            ).alias("self_sim"),
        )
    )


ANNEAL_SHARE = 0.3  # token share of the anneal (phase-2) stage


@register(
    "sample_anneal_mix",
    oracle=rf"""
    WITH ws AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, len(w) AS n_tok,
             1.0 / (1.0 + exp(-(list_sum(list_transform(w, tok ->
                     {CLF_WEIGHT_SQL.format(tok='tok')}))
                   / greatest(len(w), 1)))) AS prob
      FROM ws
    ),
    phased AS (
      SELECT doc_id, lang, n_tok,
             CASE WHEN ntile(10) OVER (PARTITION BY lang ORDER BY prob DESC, doc_id) = 1
                  THEN 'anneal' ELSE 'main' END AS phase
      FROM scored
    )
    SELECT doc_id, lang, phase, CAST(n_tok AS BIGINT) AS n_tok,
           round(CASE WHEN sum(n_tok) OVER (PARTITION BY phase) > 0
                 THEN CASE WHEN phase = 'anneal' THEN {ANNEAL_SHARE} ELSE {1 - ANNEAL_SHARE} END
                      * sum(n_tok) OVER ()
                      / sum(n_tok) OVER (PARTITION BY phase)
                 ELSE 0.0 END, 4) AS weight
    FROM phased
    """,
    doc="Two-phase anneal schedule (the 'midtraining anneal on high-"
    "quality data' recipe: phase 2 of Llama-3/MiniCPM-style runs trains "
    "its last token budget on a quality-upweighted mix): the hashed "
    "quality classifier scores every document, the TOP DECILE per "
    "language (rank-based ntile on the bit-identical fold score with a "
    "doc_id tiebreak — no float-boundary flips) becomes the anneal "
    "pool, and each phase's documents get the weight that makes their "
    "token mass sum to the phase's budget share (30% anneal / 70% "
    "main) — anneal weights land >1 (upsampling the quality head), "
    "main <1. Composes the classifier, the decile cut, and the budget "
    "normalization in ONE single-scan plan: the decile cut runs via "
    "_util.partitioned_ntile (range-partitioned two-phase rank + "
    "broadcast per-lang offsets, never a single-task per-lang sort — "
    "VERDICT r8 item 2) over (doc_id, lang, n_tok, prob) only, and the "
    "phase totals are a 2-row aggregate broadcast back.",
    eager=True,  # construction runs the range-partition exchange
)
def sample_anneal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import partitioned_ntile

    toks = _tokens(F.col("text"))
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tok"),
        clf_prob(toks).alias("prob"),
    )
    # per-lang top-decile cut via the two-phase rank (VERDICT r8 item 2:
    # a per-lang ntile window is a single-task sort of the hot language
    # at 100 TB). partitioned_ntile checkpoints its ranked table, so the
    # phase totals and the output below both read the SAME materialized
    # frame — the corpus is still scanned once, the phase totals run as
    # a 2-row aggregate + broadcast join (never an unpartitioned window
    # over the full per-document table — r8 review).
    tiled = partitioned_ntile(
        scored, ["lang"], [F.desc("prob"), F.asc("doc_id")], 10, out="__tile"
    )
    phased = tiled.select(
        "doc_id",
        "lang",
        "n_tok",
        F.when(F.col("__tile") == 1, "anneal").otherwise("main").alias("phase"),
    )
    totals = phased.groupBy("phase").agg(F.sum("n_tok").alias("phase_tok"))
    # grand total via pack-and-explode (the temperature_boosts shape):
    # tot rides the SAME aggregate as collect_list over the 2-row phase
    # frame — no unpartitioned window (WindowExec warning class), and no
    # cross join that would read the partitioned_ntile checkpoint a
    # third time
    packed = totals.agg(
        F.collect_list(F.struct("phase", "phase_tok")).alias("__rows"),
        F.sum("phase_tok").alias("tot"),
    )
    totals = packed.select(F.explode("__rows").alias("__r"), "tot").select(
        F.col("__r.phase").alias("phase"),
        F.col("__r.phase_tok").alias("phase_tok"),
        "tot",
    )
    share = F.when(F.col("phase") == "anneal", ANNEAL_SHARE).otherwise(
        1 - ANNEAL_SHARE
    )
    # zero-mass guard (r8 ADVICE): a phase whose documents are all
    # empty-text has phase_tok=0 — emit 0.0 on both engines instead of
    # NULL (Spark) vs inf (DuckDB), the token_budget_frame pattern.
    weight = F.when(
        F.col("phase_tok") > 0, share * F.col("tot") / F.col("phase_tok")
    ).otherwise(F.lit(0.0))
    return phased.join(F.broadcast(totals), "phase").select(
        "doc_id",
        "lang",
        "phase",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        r4(weight).alias("weight"),
    )
