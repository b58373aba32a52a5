"""Scaling bench: measure headline queries at
sf0.01 / sf0.1 / a DERIVED ~sf1, and report per-decade scaling exponents.

sf1 fixtures don't exist, so this materializes one under
``.scratch/sf1`` (gitignored) by replicating sf0.1 K=10 times with
RE-KEYED, FK-CONSISTENT copies: copy j shifts every primary key and the
matching foreign keys by j×stride, so each copy is a self-consistent
universe and joins/groupBys see genuinely distinct keys. Document text
is perturbed per copy (`" cp<j>"` suffix) so duplicate-CLUSTER SIZES
stay constant while cluster count scales 10× — the realistic growth
model for a crawl corpus (identical text across copies would instead
grow every cluster 10×, quadratically inflating the LSH verify join, so
the exponent would measure output growth rather than the plan).

Exponent: e = log(t_hi/t_lo) / log(10) per decade of data. e≈1 is
linear, e<1 means fixed overheads still dominate, e>1.2 flags
superlinear candidate growth — the thing this probe exists to catch
(dedup_minhash_lsh's verify fan-out and ann_ivf_pq's code scan were the
first suspects).

Only the tables named in the benched keys' oracle SQL are derived, and
each only when ``.scratch/sf1`` lacks a complete copy (``--rebuild``
re-derives them), so ``--keys`` on a fresh checkout builds a few tables,
not all ten.

Usage:
    python tools/bench_scaling.py [--runs 3] [--rebuild] [--keys k1,k2]
Prints a markdown table + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from mergeextractor_spark.registry import load_all  # noqa: E402
from mergeextractor_spark.session import get_spark  # noqa: E402
from mergeextractor_spark.sources.fixtures import TABLE_NAMES, table  # noqa: E402

K = 10
SCRATCH = os.path.join(_REPO, ".scratch", "sf1")

# (table, primary key, FK columns that reference another scaled table)
# strides leave headroom above each table's sf0.1 max id
STRIDES = {
    "documents": ("doc_id", 1_000_000, {}),
    "embeddings": ("vec_id", 1_000_000, {}),
    "events": ("event_id", 10_000_000, {"user_id": 1_000_000}),
    "customer": ("c_custkey", 1_000_000, {}),
    "supplier": ("s_suppkey", 100_000, {}),
    "part": ("p_partkey", 1_000_000, {}),
    "orders": ("o_orderkey", 10_000_000, {"o_custkey": 1_000_000}),
    "lineitem": (
        "l_orderkey",
        10_000_000,
        {"l_suppkey": 100_000, "l_partkey": 1_000_000},
    ),
}

QUERIES = [
    "extract_section_pipeline",
    "curation_pipeline_ingest",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivf_pq",
    "agg_concat_section",
    "olap_pricing_summary",
    "olap_nation_revenue",
    "join_asof",
    "events_sessionize",
    "text_quality_score",
    # round-5 shapes.  dedup_semantic_semdedup is deliberately absent: its
    # fixture pins K=4 clusters for oracle determinism, so scaling the
    # corpus under fixed K measures the by-design within-cluster quadratic
    # — in production the CLUSTER COUNT is the dial (cluster sizes stay
    # bounded), same as IVF cells.
    "text_bm25_topk",
    "text_bpe_merge_candidates",
    "join_bucketed_colocated",
    "ann_ivf_pq_refine",
    # late round-5 shapes: the gram-cardinality fused aggregate, the
    # iterative join loop, and the composed model-based funnel
    "agg_source_overlap",
    "graph_pagerank",
    "pipeline_pretrain_corpus",
    # retrieval/analytics additions: the BM25-scored corpus scan feeding
    # constant-size fusion pools, and the two forward as-of window shapes
    "rank_rrf_fusion",
    "events_attribution",
    "events_funnel_windowed",
    # round-7 shapes: the guaranteed-recall banded-Hamming stage (56
    # compound keys per distinct signature — the exponent proves the key
    # fan-out stays linear), the fused RRF+MMR retrieval flagship, the
    # basket pair-expansion, and the session-path n-gram count
    "dedup_signature_banded",
    "pipeline_hybrid_search",
    "agg_market_basket",
    "events_top_paths",
    # round-8 shapes: the capped basket expansion is re-measured above
    # (same key, now sliced at BASKET_CAP), plus the Arrow binary-decode
    # hot path and the two pure-map cascade stage twins (exponent ≈ 1.0
    # proves the higher-order-array work stays per-row with no hidden
    # blow-up)
    "multimodal_image_phash",
    "dedup_image_phash",
    "cascade_title_check",
    "cascade_toc_check",
    # late round-8 shapes: the token-count scan feeding the waterfill
    # (the corpus pass is the only scale term — the allocation math runs
    # on the langs-row aggregate) and the classifier-fold calibration
    # scan (pure map + 10-group agg; exponent ≈ 1.0 expected for both)
    "sample_token_budget",
    "eval_calibration_bins",
    # round-9 shapes: the two-phase rank/cumsum/lag rewrites. Exponent
    # ≈ 1.0 expected: the range exchange and per-split windows are
    # linear in rows; the broadcast offsets are bounded by the PARTITION
    # count
    "sample_quality_decile",
    "sample_logprob_bucket",
    "sample_anneal_mix",
    "eval_ks_drift",
    # round-10 shapes: the exact-quantile path after the all-NULL-group
    # reinstatement (pushdown IS NULL scan + result-sized anti-join +
    # checkpointed straddling-rows frame — exponent ≈ 1.0 expected, the
    # added stages are result-sized)
    "agg_percentile",
    "dq_outlier_iqr",
    "agg_rfm_segmentation",
    "window_value_percentiles",
    "eval_langid_auc",
    "dq_skew_report",
    "events_interarrival_profile",
    # round-11 shapes: the five coalesce(1)->two-phase cumsum swaps
    # (exponent ≈ 1.0 expected — the cumsum frame is an aggregate whose
    # row count grows with days/hours/change-points, and the two-phase
    # split keeps every stage parallel) and the two bounded-error
    # sketch oracles (the exact-anchor side adds a two-phase rank /
    # exact distinct whose cost IS the scale term being audited)
    "events_slo_burn_rate",
    "events_peak_concurrency",
    "events_changepoint_cusum",
    "agg_ltv_curve",
    "agg_user_growth_curve",
    "agg_percentile_approx",
    "events_approx_distinct",
    # round-12 shape: the vocab-curve coalesce(1)->global_cumsum swap.
    # Exponent ≈ vocabulary-growth expected (Heaps' law: sublinear in
    # tokens), with every stage parallel — the old single-task sweep
    # serialized the whole vocabulary through one task, which is what
    # the swap removed (agg_ltv_curve above also changed in r12: the
    # cumsum now runs over scaled-integer revenue, same plan shape)
    "text_vocab_coverage_curve",
    # round-13 shapes: the iterative BPE trainer (corpus-sized work is
    # ONE seed tokenize+groupBy; the 20 merge rounds are vocab-bound, so
    # the exponent should track Heaps-law vocabulary growth, well below
    # 1) and the incremental minhash probe (batch shingling + pruned
    # store read + candidate-bounded verify; store build cost is paid
    # once per corpus commit and memoized across constructions)
    "pipeline_bpe_train",
    "dedup_minhash_incremental",
    # flagship #9: the exact-integer logistic-GD trainer — corpus-sized
    # work is the one feature pass; the 12 rounds shuffle (doc_id,int64)
    # and (bucket,int64) only, so the exponent should sit near the
    # tokenize cost's
    "pipeline_classifier_train",
    # round-14 shapes: the distillation apply (train cost is paid once
    # per corpus into the persisted weight store and memoized across
    # constructions, so the measured exponent is the APPLY pass — one
    # feature scan + a (doc_id,int64) aggregate with the 257-row store
    # broadcast) and the interleaved packer (one corpus token scan +
    # the two-phase cumsum; the image dim table is fixture-fixed, so
    # the exponent is the text side's)
    "pipeline_classifier_distill",
    "sample_pack_interleaved",
    # the BPE distill's measured exponent is the vocab-sized encode
    # (merge store memoized like the weight store); the commit's is the
    # batch banding + touched-partition rewrite
    "pipeline_bpe_distill",
    "dedup_minhash_store_compact",
    # the cycle's exponent is batch banding + candidate-bounded verify +
    # touched-partition rewrite (the store build is memoized)
    "pipeline_ingest_cycle",
]


def replicate(df: DataFrame, pk: str, stride: int, fks: dict[str, int], k: int) -> DataFrame:
    out = df.withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    out = out.withColumn(pk, F.col(pk) + F.col("_copy") * stride)
    for fk, fk_stride in fks.items():
        out = out.withColumn(fk, F.col(fk) + F.col("_copy") * fk_stride)
    if "text" in df.columns:
        # Distinct text per copy -> near-dup cluster SIZES constant, cluster
        # count x k.  A trailing " cp<j>" suffix is NOT enough: copies would
        # still share almost all word-3-gram shingles (minhash) and 2/3+ of
        # unigram features (simhash), making all 10 copies of a doc mutual
        # NEAR-dups — pair output then grows ~k^2 and the measured exponent
        # reports output growth, not plan behavior (caught in round 5:
        # 256 -> 249,971 pairs, fake e=1.53).  Tagging EVERY 3RD TOKEN with
        # the copy id guarantees every 3-shingle contains a tagged token
        # (cross-copy shingle sets disjoint) and shifts 1/3 of unigrams
        # (large simhash hamming), while keeping token counts and 2/3 of
        # the text identical so per-row work stays comparable.  Natural
        # near-dup pairs WITHIN a copy get the same tags on both sides, so
        # each copy reproduces the original clustering — exactly the
        # cluster-count-x-k growth model.
        out = out.withColumn(
            "text",
            F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda x, i: F.when(
                            i % 3 == 0, F.concat(x, F.lit("_c"), F.col("_copy"))
                        ).otherwise(x),
                    ),
                    " ",
                )
            ),
        )
    return out.select(df.columns)  # original column order, _copy dropped


def tables_read(keys: list[str]) -> set[str]:
    """Fixture tables the keys read, as named in their oracle SQL."""
    reg = load_all()
    need = set()
    for key in keys:
        names = {n for n in TABLE_NAMES if re.search(rf"\b{n}\b", reg[key].oracle)}
        if not names:
            raise SystemExit(f"{key}: its oracle SQL names no fixture table")
        need |= names
    return need


def _built(name: str) -> bool:
    return os.path.exists(os.path.join(SCRATCH, f"{name}.parquet", "_SUCCESS"))


def materialize(spark, src_sf: str, names: set[str], rebuild: bool) -> None:
    """Derive each table in ``names`` under SCRATCH unless a complete
    copy (``_SUCCESS`` written) is there already or ``rebuild`` is set."""
    os.makedirs(SCRATCH, exist_ok=True)
    for name in sorted(names):
        if _built(name) and not rebuild:
            continue
        df = table(spark, src_sf, name)
        # tables without a stride (region, nation: fixed-cardinality dims
        # at every TPC-H SF) are copied as they are
        if name in STRIDES:
            pk, stride, fks = STRIDES[name]
            df = replicate(df, pk, stride, fks, K)
        df.write.mode("overwrite").parquet(os.path.join(SCRATCH, f"{name}.parquet"))
        print(f"materialized derived sf1 {name} at {SCRATCH}", flush=True)
    missing = sorted(n for n in names if not _built(n))
    if missing:
        raise SystemExit(f"derived sf1 tables missing after materialize: {missing}")


def run_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_at(spark, sf_dir: str, runs: int) -> dict[str, float]:
    from mergeextractor_spark.operators.dedup import _LIVE_SHINGLE_CACHE

    reg = load_all()
    out = {}
    for key in QUERIES:
        # Isolate queries from each other's session residue: at sf1 the
        # minhash shingle cache holds a ~10x-replicated exploded table whose
        # memory pressure measurably inflated UNRELATED later queries
        # (events_sessionize read 4.3s contaminated vs 0.8s solo, a fake
        # e=1.3 in the first r5 run of this table).  r11 extends the sweep
        # to ALL persistent RDDs: localCheckpoint blocks survive
        # clearCache and accumulate one per construction, and at sf1 the
        # third live 6M-row checkpoint tips storage memory into eviction
        # thrash (agg_percentile_approx measured 12 s -> 278 s between
        # two identical runs; a fake e=2.09 in the first r11 run).
        from mergeextractor_spark.operators._util import drain_persistent_rdds

        while _LIVE_SHINGLE_CACHE:
            _LIVE_SHINGLE_CACHE.pop().unpersist(blocking=True)
        drain_persistent_rdds(spark, gc_sweep=True)
        run_noop(reg[key].spark(spark, sf_dir))  # warm (plan + IO cache)
        times = []
        for i in range(runs):
            # sweep superseded checkpoints between runs (never reused
            # across constructions; see the r11 cliff note above) —
            # skipped for shingle-cache keys, the one family whose SQL
            # cache is deliberately reused across constructions
            if i and not _LIVE_SHINGLE_CACHE:
                drain_persistent_rdds(spark, sql_cache=False, gc_sweep=True)
            t0 = time.time()
            run_noop(reg[key].spark(spark, sf_dir))
            times.append(time.time() - t0)
        out[key] = statistics.median(times)
        print(f"  {key:28s} {out[key]:6.2f}s  (n={runs})", flush=True)
    return out


def pretouch_heap_gb(meminfo: str = "/proc/meminfo") -> int:
    """Driver heap (GiB) to pre-touch: 16, because derived-sf1 probes
    checkpoint multi-GB frames, capped at half of the host's ``MemTotal``
    so the pre-touched heap leaves RAM for the Python workers and the
    tmpfs shuffle scratch.  Warns when it caps; a host without a
    readable ``MemTotal`` gets 16."""
    want_gb = 16
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return want_gb
    cap = max(1, kb // (2 << 20))
    if want_gb <= cap:
        return want_gb
    import warnings

    warnings.warn(
        f"{want_gb} GiB heap does not fit half of this host's "
        f"{kb / (1 << 20):.1f} GiB RAM; pre-touching {cap} GiB.",
        stacklevel=2,
    )
    return cap


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--keys", default="", help="comma list: bench only these")
    args = ap.parse_args()
    if args.keys:
        picked = [k.strip() for k in args.keys.split(",") if k.strip()]
        unknown = sorted(set(picked) - set(QUERIES))
        if unknown:
            ap.error(f"--keys not in the study list: {unknown}")
        QUERIES[:] = [k for k in QUERIES if k in picked]

    # Fixed pre-touched heap (host page-fault servicing was the r14
    # thrash root cause):
    # exponent measurements must not absorb re-fault storms from heap
    # pages the GC gave back to a host that discards them (Firecracker
    # free-page reporting).  Sized by pretouch_heap_gb.
    heap = pretouch_heap_gb()
    spark = get_spark(
        "bench-scaling",
        extra_conf={
            "spark.driver.memory": f"{heap}g",
            "spark.driver.extraJavaOptions": f"-Xms{heap}g -XX:+AlwaysPreTouch",
        },
    )
    spark.range(1).count()
    materialize(spark, "/root/testdata/sf0.1", tables_read(QUERIES), args.rebuild)

    results = {}
    for label, sf_dir in [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("sf1", SCRATCH),
    ]:
        print(f"== {label} ({sf_dir})", flush=True)
        results[label] = bench_at(spark, sf_dir, args.runs)

    import math

    print("\n| query | sf0.01 | sf0.1 | sf1 | exp 0.01→0.1 | exp 0.1→1 |")
    print("|---|---|---|---|---|---|")
    exps = {}
    for key in QUERIES:
        a, b, c = (results[s][key] for s in ("sf0.01", "sf0.1", "sf1"))
        e1 = math.log(b / a) / math.log(10)
        e2 = math.log(c / b) / math.log(10)
        exps[key] = round(e2, 2)
        print(f"| {key} | {a:.2f} | {b:.2f} | {c:.2f} | {e1:.2f} | {e2:.2f} |")
    print()
    print(json.dumps({"metric": "scaling_bench", "k": K, "runs": args.runs,
                      "results": results, "exponent_0.1_to_1": exps}))


if __name__ == "__main__":
    main()
