"""Cross-metric invariants for the late-round operators — cheap
assertions that hold for ANY input, so they catch formula regressions
the fixture-specific oracles might coincidentally miss."""

from pyspark.sql import functions as F

from mergeextractor_spark.operators.dedup import dedup_containment
from mergeextractor_spark.operators.graph_queries import agg_market_basket
from mergeextractor_spark.operators.scale_queries import Z_BITS, _zvalue_spark

SF = "/root/testdata/sf0.001"


def test_containment_dominates_jaccard(spark):
    # |A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| for every pair, with equality
    # only when the smaller set is contained in the larger
    rows = dedup_containment(spark, SF).collect()
    assert rows, "no containment pairs at fixture scale"
    for r in rows:
        assert r.containment >= r.jaccard - 1e-9, r
        assert 0.0 < r.containment <= 1.0 + 1e-9


def test_market_basket_bounds(spark):
    rows = agg_market_basket(spark, SF).collect()
    assert rows, "no frequent pairs at fixture scale"
    for r in rows:
        assert r.item_a < r.item_b
        # confidence and support are probabilities; support <= confidence
        # (confidence divides by a subset count)
        assert 0.0 < r.support <= 1.0 + 1e-9
        assert r.support <= r.confidence + 1e-9
        assert r.confidence <= 1.0 + 1e-9
        assert r.lift > 0.0


def test_market_basket_power_user_cap(spark):
    """VERDICT r7 item 2: the per-user basket cap must be enforced IN the
    operator — a power user with far more distinct items than the cap
    contributes at most C(cap, 2) pairs, and only over the first `cap`
    items of the sorted distinct set (deterministic truncation)."""
    from mergeextractor_spark.operators.graph_queries import market_basket_frame

    cap = 10
    n_items = 250  # 25× the cap: uncapped expansion would be C(250,2)
    rows = [(u, i) for u in (1, 2, 3) for i in range(n_items)]
    ev = spark.createDataFrame(rows, "user_id long, item int")
    out = market_basket_frame(ev, min_users=2, cap=cap).collect()
    # every user shares the same capped basket {0..cap-1}: exactly
    # C(cap,2) pairs survive, none touching an item beyond the cap
    assert len(out) == cap * (cap - 1) // 2
    for r in out:
        assert r.item_a < r.item_b < cap
        assert r.n_both == 3
        assert abs(r.support - 1.0) < 1e-9 and abs(r.confidence - 1.0) < 1e-9


def test_zvalue_bit_interleave_roundtrip(spark):
    # the Morton key must be exactly de-interleavable back to (x, y)
    pts = [(x, y) for x in (0, 1, 5, 511, 1023) for y in (0, 2, 7, 512, 1023)]
    df = spark.createDataFrame(pts, "x int, y int").select(
        "x", "y", _zvalue_spark(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        x = y = 0
        for i in range(Z_BITS):
            x |= ((r.z >> (2 * i)) & 1) << i
            y |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r.x, r.y), (r.x, r.y, r.z)


def test_pca_projection_diagonalizes_covariance(spark):
    import numpy as np

    from mergeextractor_spark.operators.vector_queries import vector_pca_project

    rows = vector_pca_project(spark, SF).collect()
    # output is exploded (vec_id, component, value) — rebuild the matrix
    ids = sorted({r.vec_id for r in rows})
    k = max(r.component for r in rows) + 1
    idx = {v: i for i, v in enumerate(ids)}
    P = np.zeros((len(ids), k))
    for r in rows:
        P[idx[r.vec_id], r.component] = r.value
    C = np.cov(P, rowvar=False)
    diag = np.diag(C).copy()
    # components ordered by explained variance, covariance ~diagonal
    assert all(diag[i] >= diag[i + 1] - 1e-6 for i in range(len(diag) - 1)), diag
    off = C - np.diag(diag)
    assert np.abs(off).max() < 1e-2 * diag[0], np.abs(off).max()


def test_cms_never_underestimates(spark):
    from mergeextractor_spark.registry import load_all

    rows = load_all()["agg_cms_estimate"].spark(spark, SF).collect()
    assert rows
    assert all(r.n_est >= r.n_exact for r in rows)
    # with width >> active keys per row, most estimates are exact
    exact_frac = sum(r.n_est == r.n_exact for r in rows) / len(rows)
    assert exact_frac > 0.5, exact_frac


def test_attribution_conserves_purchases_and_revenue(spark):
    # channel rows must partition the purchase set exactly: counts and
    # revenue across channels equal the unattributed totals, channels
    # come from the event-type universe (plus 'direct')
    from mergeextractor_spark.operators.streaming_queries import events_attribution
    from mergeextractor_spark.sources.fixtures import table

    rows = events_attribution(spark, SF).collect()
    ev = table(spark, SF, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").agg(
        F.count("*").alias("n"), F.sum("value").alias("rev")
    ).collect()[0]
    assert sum(r.n_purchases for r in rows) == purchases.n
    assert abs(sum(r.revenue for r in rows) - purchases.rev) < 1e-2
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert {r.channel for r in rows} <= (types - {"purchase"}) | {"direct"}


def test_funnel_counts_are_monotone(spark):
    from mergeextractor_spark.operators.streaming_queries import (
        events_funnel_windowed,
    )

    r = events_funnel_windowed(spark, SF).collect()[0]
    assert r.n_views >= r.n_clicked >= r.n_converted >= 0
    assert 0.0 <= r.conversion_rate <= 1.0


def test_rrf_both_lists_beat_single_list(spark):
    # a doc present in BOTH pools at rank r scores strictly above a doc
    # present in one pool at the same rank — the defining RRF property
    from mergeextractor_spark.operators.vector_queries import rank_rrf_fusion

    rows = rank_rrf_fusion(spark, SF).collect()
    assert rows
    both = [r for r in rows if r.sparse_rank is not None and r.dense_rank is not None]
    single = [r for r in rows if (r.sparse_rank is None) != (r.dense_rank is None)]
    for b in both:
        for s in single:
            worst_b = max(b.sparse_rank, b.dense_rank)
            s_rank = s.sparse_rank if s.sparse_rank is not None else s.dense_rank
            if worst_b <= s_rank:
                assert b.rrf_score > s.rrf_score, (b, s)


def test_incremental_merge_equals_full_recompute(spark):
    from mergeextractor_spark.operators.streaming_queries import (
        agg_incremental_maintain,
    )
    from mergeextractor_spark.sources.fixtures import table

    merged = {r.event_type: r for r in agg_incremental_maintain(spark, SF).collect()}
    full = {
        r.event_type: r
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert merged.keys() == full.keys()
    for k, m in merged.items():
        assert m.n_events == full[k].n
        assert abs(m.sum_value - full[k].s) < 1e-2


def test_asof_tolerance_bounds(spark):
    """Tolerance semantics: every non-null match is at most TOL old and
    never in the future; stale implies null match."""
    from mergeextractor_spark.operators.olap_queries import (
        ASOF_TOLERANCE_SEC,
        join_asof_tolerance,
    )

    rows = join_asof_tolerance(spark, SF).collect()
    assert rows
    assert any(r.prev_purchase_es is not None for r in rows)
    for r in rows:
        if r.prev_purchase_es is not None:
            gap = r.es - r.prev_purchase_es
            assert 0 <= gap <= ASOF_TOLERANCE_SEC, r
            assert not r.stale
        elif r.stale:
            assert r.prev_purchase_es is None


def test_dedup_cluster_profile_accounts_for_every_doc(spark):
    """Per unit, Σ cluster_size × n_clusters must equal the corpus size —
    the profile is a partition of the documents, whatever the dup
    structure."""
    from mergeextractor_spark.operators.dedup import eval_dedup_cluster_profile
    from mergeextractor_spark.sources.fixtures import table

    n = table(spark, SF, "documents").count()
    rows = eval_dedup_cluster_profile(spark, SF).collect()
    per_unit = {}
    for r in rows:
        per_unit[r.unit] = per_unit.get(r.unit, 0) + r.n_docs
        assert r.n_docs == r.cluster_size * r.n_clusters
    assert per_unit == {"exact": n, "head80": n}


def test_hard_negatives_band_structure(spark):
    """Per query: exactly HN_HARD_K hard + HN_RAND_K random rows, no
    overlap with the positives band, and every random negative scores at
    or below the weakest hard negative (randoms draw from strictly
    deeper ranks)."""
    from mergeextractor_spark.operators.vector_queries import (
        HN_HARD_K,
        HN_RAND_K,
        sample_hard_negatives,
    )

    rows = sample_hard_negatives(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {"hard": [], "random": []})[r.role].append(r)
    for qid, bands in by_q.items():
        assert len(bands["hard"]) == HN_HARD_K, qid
        assert len(bands["random"]) == HN_RAND_K, qid
        ids = [r.neighbor_id for r in bands["hard"] + bands["random"]]
        assert len(set(ids)) == len(ids), qid  # bands disjoint
        assert qid not in ids
        min_hard = min(r.cos for r in bands["hard"])
        assert all(r.cos <= min_hard + 1e-9 for r in bands["random"]), qid


def test_ndcg_bounds_and_consistency(spark):
    """NDCG in (0, 1], dcg consistent with the overlap count (at most
    the ideal gain for that many hits), overlap at most k."""
    from mergeextractor_spark.operators.vector_queries import (
        NDCG_K,
        eval_ndcg_quantized,
    )

    rows = eval_ndcg_quantized(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9, r
        assert 0 <= r.n_overlap <= NDCG_K, r
        assert r.dcg >= 0.0
        if r.n_overlap == 0:
            assert r.dcg == 0.0


def test_token_budget_waterfill_conserves_budget(spark):
    """The waterfill must (a) never allocate past the epoch cap, (b) mark
    capped exactly when the cap binds below the uniform target, and
    (c) conserve the total budget whenever any language has headroom."""
    from mergeextractor_spark.operators.curation_queries import (
        TOKEN_BUDGET_MAX_EPOCHS,
        TOKEN_BUDGET_SHARE,
        sample_token_budget,
    )

    rows = sample_token_budget(spark, SF).collect()
    assert rows, "no languages at fixture scale"
    total = sum(r.lang_tokens for r in rows)
    budget = total * TOKEN_BUDGET_SHARE
    target = budget / len(rows)
    for r in rows:
        cap = r.lang_tokens * TOKEN_BUDGET_MAX_EPOCHS
        assert r.alloc_tokens <= cap + 1e-4, r
        assert abs(r.epochs - r.alloc_tokens / r.lang_tokens) < 1e-3, r
        assert r.capped == (cap < target), r
        if r.capped:  # capped languages contribute their whole corpus
            assert abs(r.alloc_tokens - cap) < 1e-4, r
    if any(not r.capped for r in rows):
        assert abs(sum(r.alloc_tokens for r in rows) - budget) < 1e-2


def test_source_gini_matches_direct_formula(spark):
    """Gini from the rank formula must match a direct mean-absolute-
    difference computation on the same masses, and sit in [0, 1)."""
    from mergeextractor_spark.operators.curation_queries import agg_source_gini

    row = agg_source_gini(spark, SF).collect()[0]
    d = spark.read.parquet(f"{SF}/documents.parquet")
    masses = [
        r.n_tok
        for r in d.select(
            F.col("source"),
            F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")).alias("k"),
        )
        .groupBy("source")
        .agg(F.sum("k").alias("n_tok"))
        .collect()
    ]
    n, s = len(masses), sum(masses)
    assert row.n_sources == n and row.total_tokens == s
    mad = sum(abs(a - b) for a in masses for b in masses) / (n * n)
    gini_direct = mad / (2 * s / n)
    assert abs(row.gini - gini_direct) < 1e-3, (row.gini, gini_direct)
    assert 0.0 <= row.gini < 1.0
    assert abs(row.top_share - max(masses) / s) < 1e-3


def test_calibration_bins_partition_the_corpus(spark):
    """Bins tile [0,1]: doc counts sum to the corpus, shares to 1, every
    bin's mean probability lies inside the bin, and the gap is exactly
    |avg_prob - pos_rate| (up to the 4-decimal output rounding)."""
    from mergeextractor_spark.operators.corpus_queries import eval_calibration_bins

    rows = eval_calibration_bins(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.bin_share for r in rows) - 1.0) < 1e-2
    for r in rows:
        assert 0 <= r.bin <= 9
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0 if r.bin < 9 else 1.0
        assert lo - 1e-4 <= r.avg_prob <= hi + 1e-4, r
        assert 0.0 <= r.pos_rate <= 1.0
        assert abs(r.calib_gap - abs(r.avg_prob - r.pos_rate)) < 2e-4, r


def test_k_anonymity_classes_cover_table(spark):
    from mergeextractor_spark.operators.curation_queries import (
        K_ANONYMITY_K,
        dq_k_anonymity,
    )

    rows = dq_k_anonymity(spark, SF).collect()
    n_rows = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert sum(r.class_size for r in rows) == n_rows
    assert abs(sum(r.class_share for r in rows) - 1.0) < 1e-2
    seen = set()
    for r in rows:
        assert (r.c_nationkey, r.c_mktsegment) not in seen  # one row per class
        seen.add((r.c_nationkey, r.c_mktsegment))
        assert r.at_risk == (r.class_size < K_ANONYMITY_K), r


def test_freshness_lag_anchored_at_head(spark):
    """Exactly the freshest stream(s) have lag 0; stale iff lag exceeds
    the SLA; lag is non-negative everywhere."""
    from mergeextractor_spark.operators.streaming_queries import (
        FRESHNESS_SLA_SEC,
        dq_freshness_lag,
    )

    rows = dq_freshness_lag(spark, SF).collect()
    assert rows and any(r.lag_sec == 0.0 for r in rows)
    head = max(r.last_epoch_us for r in rows)
    for r in rows:
        assert r.lag_sec >= 0.0
        assert abs(r.lag_sec - (head - r.last_epoch_us) / 1e6) < 1e-3
        assert r.stale == (head - r.last_epoch_us > FRESHNESS_SLA_SEC * 1_000_000), r


def test_ks_frame_identical_separated_and_mirror(spark):
    """KS = 0 on identical samples; KS = 1 (drifted) on disjoint supports;
    arbitrary case matches a python ECDF-sup mirror exactly."""
    from mergeextractor_spark.operators.streaming_queries import KS_ALPHA, ks_frame

    def run(sample_a, sample_b):
        rows = [(float(v), 1, 0) for v in sample_a] + [
            (float(v), 0, 1) for v in sample_b
        ]
        df = spark.createDataFrame(rows, "value double, ia int, ib int")
        return ks_frame(df).collect()[0]

    r = run([1, 2, 3, 4], [1, 2, 3, 4])
    assert (r.n_a, r.n_b, r.ks_stat) == (4, 4, 0.0) and not r.drifted

    r = run(range(100), range(1000, 1100))
    assert r.ks_stat == 1.0 and r.drifted

    # an empty side gives the defined zero frame, under ANSI mode too:
    # the divisions by n_a / n_b sit behind the empty-side guard
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for sample_a, want_sizes in (([1, 2, 3], (3, 0)), ([], (0, 0))):
            r = run(sample_a, [])
            assert (r.n_a, r.n_b) == want_sizes
            assert (r.ks_stat, r.ks_crit, r.drifted) == (0.0, 0.0, False)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)

    import itertools

    a = [((7 * i) % 23) / 3.0 for i in range(40)]
    b = [((11 * i) % 29) / 2.0 for i in range(60)]
    support = sorted(set(a) | set(b))
    want = max(
        abs(sum(v <= x for v in a) / len(a) - sum(v <= x for v in b) / len(b))
        for x in support
    )
    r = run(a, b)
    assert abs(r.ks_stat - want) < 1e-3, (r.ks_stat, want)
    import math

    crit = math.sqrt(
        -0.5 * math.log(KS_ALPHA / 2.0) * (len(a) + len(b)) / (len(a) * len(b))
    )
    assert abs(r.ks_crit - crit) < 1e-3
    assert r.drifted == (want > crit)


def test_global_row_number_matches_single_window(spark):
    """The two-phase range-partitioned rank (the agg_source_gini 1e7-domain
    escape hatch) must agree with the single-window row_number on every
    row, at several partition counts including more partitions than rows."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import global_row_number

    rows = [(f"k{(7 * i) % 97:03d}-{i}", ((13 * i) % 41)) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, v long")
    want = {
        r.k: r.i
        for r in df.select(
            "k", F.row_number().over(W.orderBy("v", "k")).cast("bigint").alias("i")
        ).collect()
    }
    for n in (1, 3, 8, 1000):
        got = {r.k: r.i for r in global_row_number(df, ["v", "k"], num_partitions=n).collect()}
        assert got == want, f"partitions={n}"


def test_grouped_exact_percentiles_match_percentile(spark):
    """grouped_exact_percentiles (straddling-row selection over the
    two-phase rank — the no-group-buffering exact-quantile path) must be
    BIT-equal to Spark's percentile() aggregate: same 0-based (n-1)·p
    position, same linear interpolation, NULLs skipped, n=1 groups,
    frac=0 exact hits, and the global (no part_cols) form."""
    from mergeextractor_spark.operators._util import grouped_exact_percentiles

    rows = []
    for g, cnt in (("a", 173), ("b", 20), ("c", 1), ("d", 101)):
        rows += [
            (g, None if (g == "d" and i % 10 == 0) else float((37 * i) % 113) + i / 7.0)
            for i in range(cnt)
        ]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = {"p25": 0.25, "p50": 0.5, "p95": 0.95, "p100": 1.0, "p0": 0.0}
    want = {
        r.g: tuple(r[k] for k in ps)
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(k) for k, p in ps.items()])
        .collect()
    }
    got = {
        r.g: tuple(r[k] for k in ps)
        for r in grouped_exact_percentiles(df, ["g"], "v", ps).collect()
    }
    assert got == want  # bit-exact, no tolerance
    want_g = df.agg(F.percentile("v", F.lit(0.9)).alias("p")).collect()[0].p
    got_g = grouped_exact_percentiles(df, [], "v", {"p": 0.9}).collect()[0].p
    assert got_g == want_g


def test_partitioned_cumsum_matches_window_cumsum(spark):
    """partitioned_cumsum (global prefix sums minus broadcast per-group
    start offsets — the sample_pack_sequences scale path) must agree
    with the per-group ROWS-frame running sum on every row, across
    skewed group sizes and partition counts."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import partitioned_cumsum

    rows = []
    for lang, cnt in (("a", 173), ("b", 41), ("c", 1), ("d", 85)):
        rows += [(f"{lang}{i:04d}", lang, (11 * i) % 97) for i in range(cnt)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n long")
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    want = {
        r.doc_id: r.c
        for r in df.select("doc_id", F.sum("n").over(w).alias("c")).collect()
    }
    for np in (1, 4, 64):
        got = {
            r.doc_id: r.c
            for r in partitioned_cumsum(
                df, ["lang"], [F.asc("doc_id")], "n", out="c", num_partitions=np
            ).collect()
        }
        assert got == want, f"partitions={np}"


def test_partitioned_lag_matches_window_lag(spark):
    """partitioned_lag (global two-phase rank + rank self-join, the
    events_interarrival_profile scale path) must agree with the plain
    partitioned window lag on every row: nulls exactly at group
    boundaries, values carried across range-partition splits."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import partitioned_lag

    rows = [
        (f"e{i:04d}", ["view", "click", "buy"][i % 3], (37 * i) % 101, i % 7)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id string, typ string, ts long, v long")
    w = W.partitionBy("typ").orderBy("ts", "id")
    want = {
        r.id: r.prev for r in df.select("id", F.lag("v").over(w).alias("prev")).collect()
    }
    for n in (1, 4, 64):
        got = {
            r.id: r.prev
            for r in partitioned_lag(
                df,
                ["typ"],
                [F.asc("ts"), F.asc("id")],
                "v",
                out="prev",
                num_partitions=n,
            ).collect()
        }
        assert got == want, f"partitions={n}"


def test_global_cumsum_matches_single_window(spark):
    """The two-phase range-partitioned prefix sum (the eval_ks_drift ECDF
    scale path) must agree with the single ordered window on every row,
    including tie groups (RANGE-frame peers); empty input yields an
    empty frame."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import global_cumsum

    # v has ties (i % 40) so the RANGE-frame peer semantics are exercised
    rows = [(i, (i % 40), ((7 * i) % 23), ((3 * i) % 5)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v long, a long, b long")
    want = {
        (r.id): (r.ca, r.cb)
        for r in df.select(
            "id",
            F.sum("a").over(W.orderBy("v")).alias("ca"),
            F.sum("b").over(W.orderBy("v")).alias("cb"),
        ).collect()
    }
    for n in (1, 4, 64):
        got_df = global_cumsum(df, ["v"], ["a", "b"], num_partitions=n)
        got = {r.id: (r.cum_a, r.cum_b) for r in got_df.collect()}
        assert got == want, f"partitions={n}"
    empty = df.filter(F.lit(False))
    assert global_cumsum(empty, ["v"], ["a", "b"]).count() == 0


def test_global_cumsum_rejects_float_sum_cols(spark):
    """The two-phase split reassociates additions, so a double cumsum is
    partition-layout-dependent — the helper must REFUSE float sum
    columns, pointing at the scaled-integer fix."""
    import pytest

    from mergeextractor_spark.operators._util import global_cumsum

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "v long, x double"
    )
    with pytest.raises(ValueError, match="scaled integers"):
        global_cumsum(df, ["v"], ["x"])


def test_global_cumsum_rejects_missing_sum_cols(spark):
    """A misspelled sum column must fail FAST with a clear message, not
    slip past the float guard and surface later as an opaque analysis
    error inside the window."""
    import pytest

    from mergeextractor_spark.operators._util import global_cumsum

    df = spark.createDataFrame([(i, i) for i in range(5)], "v long, x long")
    with pytest.raises(ValueError, match="not in frame"):
        global_cumsum(df, ["v"], ["xx"])


def test_global_cumsum_of_ones_is_global_rank(spark):
    """The r12 vocab-curve trick: under a UNIQUE total order the RANGE
    frame has no peers, so cumulating a constant-1 column yields exactly
    row_number() over the same order — one range exchange covers rank
    AND cumsum."""
    from mergeextractor_spark.operators._util import (
        global_cumsum,
        global_row_number,
    )

    rows = [(i, ((7 * i) % 301), (i % 13) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, u long, n long")
    one = df.withColumn("one", F.lit(1).cast("bigint"))
    cum = global_cumsum(
        one, [F.desc("n"), F.asc("u")], ["one", "n"], num_partitions=7
    )
    want = {
        r.id: r.i
        for r in global_row_number(
            df, [F.desc("n"), F.asc("u")], out="i", num_partitions=3
        ).collect()
    }
    got = {r.id: r.cum_one for r in cum.collect()}
    assert got == want


def test_global_cumsum_broadcasts_offsets_in_plan(spark):
    """The per-split offsets reach the rows through a broadcast join on
    the split id, never as a collected literal map: a collect costs a
    blocking job per construction, and a literal map is a generated
    class that changes with the data."""
    import re

    from mergeextractor_spark.operators._util import global_cumsum

    df = spark.createDataFrame([(i, i % 7) for i in range(50)], "v long, x long")
    cum = global_cumsum(df, ["v"], ["x"], num_partitions=4)
    plan = cum._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[__tpp_pid#\d+\]", plan), plan
    assert "map(" not in plan


def test_partitioned_ntile_matches_window_ntile(spark):
    """partitioned_ntile (two-phase rank + broadcast offsets, the scale
    path for the per-language bucket cuts) must emit
    the EXACT ntile(k) value on every row: same remainder front-loading,
    same desc/asc ordering, across ks that divide / don't divide the
    partition sizes and partition counts above and below the row count."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import partitioned_ntile

    # skewed partition sizes: lang a=251 rows, b=37, c=1, d=88
    rows = []
    for lang, cnt in (("a", 251), ("b", 37), ("c", 1), ("d", 88)):
        rows += [(f"{lang}{i:04d}", lang, (29 * i) % 53) for i in range(cnt)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, score long")
    for k in (3, 10, 400):
        w = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
        want = {
            r.doc_id: r.b
            for r in df.select("doc_id", F.ntile(k).over(w).alias("b")).collect()
        }
        for n in (1, 5, 64):
            got = {
                r.doc_id: r.b
                for r in partitioned_ntile(
                    df,
                    ["lang"],
                    [F.desc("score"), F.asc("doc_id")],
                    k,
                    out="b",
                    num_partitions=n,
                ).collect()
            }
            assert got == want, f"k={k} partitions={n}"
    # empty part_cols = ONE global partition (the RFM quintile shape)
    wg = W.partitionBy(F.lit(1)).orderBy(F.asc("score"), F.asc("doc_id"))
    want_g = {
        r.doc_id: r.b
        for r in df.select("doc_id", F.ntile(5).over(wg).alias("b")).collect()
    }
    got_g = {
        r.doc_id: r.b
        for r in partitioned_ntile(
            df, [], [F.asc("score"), F.asc("doc_id")], 5, out="b"
        ).collect()
    }
    assert got_g == want_g


def test_gini_twophase_rank_path(spark):
    """gini computed from two-phase ranks equals the shipped single-window
    gini_frame value."""
    from mergeextractor_spark.operators._util import global_row_number
    from mergeextractor_spark.operators.curation_queries import gini_frame

    rows = [(f"s{i:03d}", ((17 * i) % 113) + 1) for i in range(120)]
    m = spark.createDataFrame(rows, "source string, n_tok long")
    want = gini_frame(m).collect()[0]
    rk = global_row_number(m, ["n_tok", "source"], num_partitions=7)
    n, s = F.count("*"), F.sum("n_tok")
    got = rk.agg(
        ((2.0 * F.sum(F.col("i") * F.col("n_tok")) - (n + 1) * s) / (n * s)).alias("g")
    ).collect()[0].g
    assert abs(got - want.gini) < 1e-3


def test_anneal_mix_budget_split_and_decile_cut(spark):
    """Each phase's weighted token mass equals its budget share of the
    corpus; anneal docs are the per-language top decile by classifier
    prob; weights upsample anneal (>1 when its token share < its budget
    share) and are constant within a phase."""
    from mergeextractor_spark.operators.corpus_queries import (
        ANNEAL_SHARE,
        sample_anneal_mix,
        text_hash_classifier,
    )

    rows = sample_anneal_mix(spark, SF).collect()
    total = sum(r.n_tok for r in rows)
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r.phase, []).append(r)
    assert set(by_phase) == {"anneal", "main"}
    for phase, share in (("anneal", ANNEAL_SHARE), ("main", 1 - ANNEAL_SHARE)):
        grp = by_phase[phase]
        weighted = sum(r.weight * r.n_tok for r in grp)
        assert abs(weighted - share * total) / (share * total) < 1e-2, phase
        assert len({r.weight for r in grp}) == 1  # one rate per phase
    # anneal = top decile per language by prob (doc_id tiebreak)
    probs = {r.doc_id: r.prob for r in text_hash_classifier(spark, SF).collect()}
    langs = {}
    for r in rows:
        langs.setdefault(r.lang, []).append(r)
    for lang, grp in langs.items():
        ordered = sorted(grp, key=lambda r: (-probs[r.doc_id], r.doc_id))
        k = sum(1 for r in grp if r.phase == "anneal")
        assert 1 <= k <= max(1, len(grp) // 10 + 1)
        assert all(r.phase == "anneal" for r in ordered[:k]), lang
        assert all(r.phase == "main" for r in ordered[k:]), lang


def test_partitioned_helpers_keep_null_partition_keys(spark):
    """The window forms these helpers replace keep a NULL partition (lang/source are routinely NULL in web corpora), so
    the offsets equi-join must not silently drop NULL-keyed rows. Pins
    null-safe equivalence with the plain window forms for
    partitioned_row_number / partitioned_ntile / partitioned_cumsum
    (partitioned_lag carried eqNullSafe already)."""
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import (
        partitioned_cumsum,
        partitioned_ntile,
        partitioned_row_number,
    )

    rows = []
    for lang, cnt in (("a", 60), (None, 37), ("b", 3)):
        rows += [(f"{lang or 'nul'}{i:03d}", lang, (17 * i) % 29) for i in range(cnt)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, n long")
    w = W.partitionBy("lang").orderBy("doc_id")

    want_rn = {
        r.doc_id: r.rn
        for r in df.select(
            "doc_id", F.row_number().over(w).cast("bigint").alias("rn")
        ).collect()
    }
    got_rn = {
        r.doc_id: r.rn
        for r in partitioned_row_number(df, ["lang"], [F.asc("doc_id")]).collect()
    }
    assert got_rn == want_rn

    want_nt = {
        r.doc_id: r.b for r in df.select("doc_id", F.ntile(5).over(w).alias("b")).collect()
    }
    got_nt = {
        r.doc_id: r.b
        for r in partitioned_ntile(df, ["lang"], [F.asc("doc_id")], 5, out="b").collect()
    }
    assert got_nt == want_nt

    wsum = w.rowsBetween(W.unboundedPreceding, 0)
    want_cs = {
        r.doc_id: r.c for r in df.select("doc_id", F.sum("n").over(wsum).alias("c")).collect()
    }
    got_cs = {
        r.doc_id: r.c
        for r in partitioned_cumsum(df, ["lang"], [F.asc("doc_id")], "n", out="c").collect()
    }
    assert got_cs == want_cs


def test_grouped_exact_percentiles_keeps_all_null_groups(spark):
    """percentile()/quantile_cont emit a group whose
    values are ALL NULL as a row with a NULL quantile (GROUP BY keeps the
    key) — the exact-quantile path must too, including a NULL group KEY
    whose values are all NULL."""
    from mergeextractor_spark.operators._util import grouped_exact_percentiles

    rows = (
        [("a", float(i)) for i in range(10)]
        + [("dead", None)] * 4
        + [(None, None)] * 3
        + [("mixed", None), ("mixed", 7.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    ps = {"p50": 0.5, "p90": 0.9}
    want = {
        r.g: (r.p50, r.p90)
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(k) for k, p in ps.items()])
        .collect()
    }
    got = {
        r.g: (r.p50, r.p90)
        for r in grouped_exact_percentiles(df, ["g"], "v", ps).collect()
    }
    assert got == want
    assert got["dead"] == (None, None) and got[None] == (None, None)
