"""Scale-behavior probe: replicate the sf0.1 fixtures K× in-flight and
time the operators whose scaling story matters most. Nothing is written
anywhere — replication is an explode over a sequence literal with ids
re-keyed per copy, so shuffles and joins see genuinely distinct keys.

Usage:
    python tools/stress.py [--k 20] [--sf /root/testdata/sf0.1]

This is evidence, not a contract: linear-ish wall growth and no
candidate-space explosion at K× is what "survives a 100× scale-up"
looks like locally.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from mergeextractor_spark.session import get_spark  # noqa: E402
from mergeextractor_spark.sources.fixtures import table  # noqa: E402


def replicate(df: DataFrame, key: str, k: int, stride: int) -> DataFrame:
    """K copies with re-keyed ids: copy j shifts `key` by j*stride, text
    columns are left identical (worst case for dedup: every cluster
    grows K×)."""
    return (
        df.withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .withColumn(key, F.col(key) + F.col("_copy") * stride)
        .drop("_copy")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--only", default="", help="run only probes whose name contains this"
    )
    args = ap.parse_args()

    spark = get_spark("stress")
    spark.range(1).count()  # warm the JVM

    docs = table(spark, args.sf, "documents")
    n_docs = docs.count()
    big_docs = replicate(docs, "doc_id", args.k, 1_000_000)

    li = table(spark, args.sf, "lineitem")
    big_li = replicate(li, "l_orderkey", args.k, 10_000_000)

    emb = table(spark, args.sf, "embeddings")
    big_emb = replicate(emb, "vec_id", args.k, 1_000_000)

    probes = []

    def probe(name, fn):
        if args.only and args.only not in name:
            return
        t0 = time.time()
        n = fn()
        dt = time.time() - t0
        probes.append((name, n, dt))
        print(f"{name:32s} {n:>12,} rows  {dt:7.2f}s", flush=True)

    print(f"K={args.k}: documents {n_docs:,} -> {n_docs * args.k:,}", flush=True)

    # dedup family: the candidate space must not explode with K
    from mergeextractor_spark.operators.dedup import (  # noqa: E402
        dedup_exact,  # noqa: F401  (imported for parity with the registry)
    )

    probe(
        "exact dedup (groupBy md5)",
        lambda: big_docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id"), F.count("*"))
        .count(),
    )

    probe(
        "token explode + groupBy(doc)",
        lambda: big_docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .groupBy("doc_id")
        .agg(F.count("*"))
        .count(),
    )

    # OLAP: shuffle-heavy agg at K x 600k rows
    probe(
        "Q1-shape agg over lineitem",
        lambda: big_li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count("*"))
        .count(),
    )

    # join: fact-fact equi join at K x
    o = table(spark, args.sf, "orders")
    big_o = replicate(o, "o_orderkey", args.k, 10_000_000)
    probe(
        "orders-lineitem join",
        lambda: big_o.join(
            big_li, big_o.o_orderkey == big_li.l_orderkey
        ).count(),
    )

    # vector: brute-force cosine of 10 queries against K x 5000 vectors
    from mergeextractor_spark.operators.vector_queries import cosine

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    probe(
        "ANN brute-force 10 queries",
        lambda: big_emb.crossJoin(F.broadcast(q))
        .select(cosine("embedding", "qe").alias("c"))
        .filter(F.col("c") > 0.99)
        .count(),
    )

    # The dup-heavy worst case, handled the canonical way: replication
    # creates K exact copies of every doc, so near-dup candidate
    # generation within identical-signature clusters would be Σc² —
    # production runs EXACT dedup first, then near-dup over the unique
    # survivors (whose count is independent of K).
    from mergeextractor_spark.operators.dedup import (
        _minhash_agg_cols,
        shingles,
    )

    def exact_then_near():
        uniq = (
            big_docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        )
        sh = uniq.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("text")))).alias("shingle"),
        )
        sig = sh.groupBy("doc_id").agg(*_minhash_agg_cols())
        bands = None
        for band in range(3):
            piece = sig.select(
                "doc_id",
                F.lit(band).alias("band"),
                F.md5(F.concat(F.col(f"m{band * 2}"), F.col(f"m{band * 2 + 1}"))).alias("bucket"),
            )
            bands = piece if bands is None else bands.unionByName(piece)
        a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        return (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )

    probe("exact-dedup then minhash bands", exact_then_near)

    # VERDICT r2 item 2 evidence: the full verify join (candidates x
    # shingles, exact Jaccard) must complete with broadcast joins disabled
    # entirely — i.e. the shuffle-join path AQE falls back to when the
    # candidate set outgrows executor memory on a real corpus.
    from mergeextractor_spark.operators.dedup import minhash_pairs_df

    def verify_join_no_broadcast():
        uniq = (
            big_docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        )
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return minhash_pairs_df(uniq).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    probe("minhash verify join, broadcast OFF", verify_join_no_broadcast)

    # VERDICT r2 item 4 evidence: candidate volume of the simhash band join
    # with the 16-bit key alone vs the 28-bit compound key (band value +
    # 12-bit sub-block of the remaining 48 bits). Same recall (double
    # pigeonhole for hamming<=3); the compound key must cut the join output.
    from mergeextractor_spark.operators.dedup import _simhash64_exprs

    def simhash_candidates(compound: bool):
        uniq = (
            big_docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
        )
        toks = uniq.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        ).filter(F.col("tok") != "").distinct()
        bit_exprs = [
            F.expr(e.split(" AS ")[0]).alias(e.split(" AS ")[1])
            for e in _simhash64_exprs("spark")
        ]
        bits = toks.groupBy("doc_id").agg(*bit_exprs)
        packs = []
        for k in range(4):
            term = None
            for i in range(16):
                piece = F.when(F.col(f"s{k}_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                term = piece if term is None else term + piece
            packs.append(term.cast("bigint").alias(f"b{k}"))
        sig = bits.select("doc_id", *packs)
        entries = []
        for k in range(4):
            others = [o for o in range(4) if o != k]
            rem48 = (
                F.shiftleft(F.col(f"b{others[0]}"), 32)
                .bitwiseOR(F.shiftleft(F.col(f"b{others[1]}"), 16))
                .bitwiseOR(F.col(f"b{others[2]}"))
            )
            subs = range(4) if compound else [0]
            for j in subs:
                sv = (
                    F.shiftright(rem48, 12 * j).bitwiseAND(F.lit(0xFFF))
                    if compound else F.lit(0)
                )
                entries.append(
                    F.struct(
                        F.lit(k).alias("band"), F.lit(j).alias("sub"),
                        F.col(f"b{k}").alias("bv"), sv.alias("sv"),
                    )
                )
        bands = sig.select("doc_id", F.explode(F.array(*entries)).alias("e")).select(
            "doc_id", "e.band", "e.sub", "e.bv", "e.sv"
        )
        a = bands.select(F.col("doc_id").alias("doc_a"), "band", "sub", "bv", "sv")
        b = bands.select(F.col("doc_id").alias("doc_b"), "band", "sub", "bv", "sv")
        return (
            a.join(b, ["band", "sub", "bv", "sv"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .count()
        )

    probe("simhash cand, 16-bit band key", lambda: simhash_candidates(False))
    probe("simhash cand, 28-bit compound", lambda: simhash_candidates(True))

    # bloom prefilter: build cost must grow linearly with rows while the
    # bitmap/collect stays constant-size (per-partition binary rows only)
    from mergeextractor_spark.operators.curation_queries import (  # noqa: E402
        BLOOM_K,
        _bloom_positions,
        bloom_build,
    )

    def bloom_at_k():
        import numpy as np

        hashed = big_docs.select("doc_id", F.md5("text").alias("h"))
        bm = bloom_build(hashed.filter(F.col("doc_id") % 2 == 0))
        return int(np.unpackbits(bm.view(np.uint8)).sum())  # set-bit count

    probe("bloom build over K-replicated docs", bloom_at_k)

    # PQ: encode volume is rows x SUBS x CODES — linear in K, and the ADC
    # join is bounded by |codes| x queries, independent of K
    from mergeextractor_spark.operators.scale_queries import PQ_CODES, PQ_SUBS

    def pq_encode_at_k():
        sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBS - 1))).alias("sub")
        vsubs = big_emb.select("vec_id", "embedding", sub).select(
            "vec_id", "sub", F.slice("embedding", F.col("sub") * 8 + 1, 8).alias("ve")
        )
        return vsubs.count()

    probe("pq subvector explode (K-replicated)", pq_encode_at_k)

    # Banded signature dedup (image/audio/video near-dup path): uniques +
    # single-bit-flipped near-dups, and the dup-heavy blank-frame shape
    # where 200 rows share each distinct signature — exact-collapse-first
    # keeps the band join at distinct-signature cardinality (r6).
    from mergeextractor_spark.operators.multimodal import _banded_hamming_dedup

    n_sig = 10_000 * args.k

    def sig_dedup_mixed():
        uniq = (n_sig * 9) // 10
        df = spark.range(n_sig).select(
            F.col("id").alias("media_id"),
            F.when(F.col("id") < uniq, F.xxhash64("id"))
            .otherwise(
                F.expr(f"xxhash64(id % {uniq}) ^ shiftleft(1L, cast(id % 60 as int))")
            )
            .alias("phash"),
        )
        return _banded_hamming_dedup(df).filter("is_dup").count()

    def sig_dedup_dup_heavy():
        df = spark.range(n_sig).select(
            F.col("id").alias("media_id"),
            F.xxhash64(F.col("id") % F.lit(max(n_sig // 200, 1))).alias("phash"),
        )
        return _banded_hamming_dedup(df).filter("is_dup").count()

    probe("banded sig dedup, 10% near-dups", sig_dedup_mixed)
    probe("banded sig dedup, 200x dup-heavy", sig_dedup_dup_heavy)

    # Arrow binary-decode path (r8): distributed FAKEIMG construction from
    # K-replicated doc ids, full stdlib pixel decode + dHash per payload —
    # the Python-stage throughput must grow linearly in images with no
    # candidate blow-up in the downstream banded dedup (planted exact
    # dups every 5th image collapse BEFORE the band join).
    from mergeextractor_spark.operators.multimodal import (
        dedup_image_phash_frame,
        image_phash,
        media_from_documents,
    )

    big_ids = big_docs.select("doc_id")

    probe(
        "image decode+dHash (K-replicated)",
        lambda: image_phash(media_from_documents(big_ids)).count(),
    )
    probe(
        "image decode -> banded dedup",
        lambda: dedup_image_phash_frame(media_from_documents(big_ids))
        .filter("is_dup")
        .count(),
    )

    # r9 hot-key window A/B: the single-task-window class (VERDICT r8
    # item 2) on a 90%-one-language frame. The per-lang window funnels
    # 90% of rows through ONE task; partitioned_ntile spreads them over
    # range splits. Values are identical (equivalence pytest-pinned) —
    # this probe measures the WALL-TIME cost of the old posture at skew.
    from pyspark.sql import Window as W

    from mergeextractor_spark.operators._util import partitioned_ntile

    n_skew = n_docs * args.k
    skewed = spark.range(n_skew).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "en")
        .otherwise(F.concat(F.lit("l"), (F.col("id") % 10).cast("string")))
        .alias("lang"),
        ((F.col("id") * 2654435761) % 1000003).alias("score"),
    )

    def hotkey_window_ntile():
        w = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            skewed.select("doc_id", "lang", F.ntile(10).over(w).alias("d"))
            .filter("d = 1")
            .count()
        )

    def hotkey_two_phase_ntile():
        return (
            partitioned_ntile(
                skewed, ["lang"], [F.desc("score"), F.asc("doc_id")], 10, out="d"
            )
            .filter("d = 1")
            .count()
        )

    probe("hot-key ntile: per-lang WINDOW", hotkey_window_ntile)
    probe("hot-key ntile: two-phase rank", hotkey_two_phase_ntile)

    # r12 (VERDICT r11 item 6): 20x envelope for the two newest oracle
    # classes. The bounded-error sketch keys pair the production sketch
    # with an EXACT-ANCHOR verification side whose scaling is known
    # linear (e≈0.91 at 0.1→1 in scaling_r11.txt — a full two-phase
    # rank); these probes verify the anchor side has no superlinear
    # surprise at 20x in-flight, and that the bloom/ingest exact
    # membership path keeps its candidate fraction.
    from mergeextractor_spark.operators._util import partitioned_row_number

    def pctl_anchor_band():
        li2 = big_li.select("l_returnflag", "l_extendedprice")
        est = li2.groupBy("l_returnflag").agg(
            F.approx_percentile(
                "l_extendedprice", F.lit(0.5), F.lit(1000)
            ).alias("p50")
        )
        ranked = partitioned_row_number(
            li2, ["l_returnflag"], ["l_extendedprice"], out="rn", n_out="n"
        )
        lo_k = F.greatest(
            F.lit(1).cast("bigint"), F.floor(0.498 * F.col("n")).cast("bigint")
        )
        hi_k = F.least(F.col("n"), F.ceil(0.502 * F.col("n")).cast("bigint"))
        band = ranked.filter((F.col("rn") == lo_k) | (F.col("rn") == hi_k))
        return band.join(F.broadcast(est), "l_returnflag").count()

    probe("pctl-approx exact-anchor band", pctl_anchor_band)

    ev = table(spark, args.sf, "events")
    big_ev = replicate(ev, "user_id", args.k, 10_000_000)

    def hll_daily_anchor():
        daily = big_ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("n_exact"),
        )
        per_day = daily.select(
            "day", F.hll_sketch_estimate("sk").alias("est"), "n_exact"
        )
        total_row = daily.agg(F.hll_union_agg("sk").alias("u")).crossJoin(
            F.broadcast(big_ev.agg(F.count_distinct("user_id").alias("n_exact")))
        )
        return per_day.count() + total_row.count()

    probe("hll daily+union w/ exact anchors", hll_daily_anchor)

    # bloom membership at 20x: build over half the replicated corpus,
    # probe the whole of it, then the exact verify anti-join on the
    # candidate side only (the ingest flagship's stages 1-3, no writes)
    from mergeextractor_spark.operators.curation_queries import (
        bloom_build,
        bloom_probe,
    )

    def bloom_probe_verify_gate():
        hashed = big_docs.select(
            "doc_id", "text", F.md5("text").alias("h")
        )
        store = hashed.filter(F.col("doc_id") % 2 == 0)
        batch = hashed
        bm = bloom_build(store.select("h"))
        maybe = bloom_probe(batch, bm, "h")
        fresh = maybe.filter(~F.col("maybe_dup"))
        candidates = maybe.filter(F.col("maybe_dup")).drop("maybe_dup")
        verified_new = candidates.join(
            store.select("h").distinct(), "h", "left_anti"
        )
        nw = F.size(F.split(F.lower("text"), r"\s+"))
        survivors = fresh.drop("maybe_dup").unionByName(verified_new).filter(
            (nw >= 50) & (nw <= 100000)
        )
        return survivors.count()

    probe("bloom probe->verify->gate (ingest)", bloom_probe_verify_gate)

    # r13 (VERDICT r12 item 7): 20x envelope for the two r12-changed
    # plans, which had sf<=1 evidence only. The vocab curve's
    # interesting axis is the VOCABULARY (Heaps-law frame, ~1e9 distinct
    # words at 100 TB), so the probe feeds a synthetic Zipf vocabulary
    # of 50k*K words straight into the key's rank+cumsum shape — one
    # global_cumsum range exchange carrying (one, n) — plus the bounded
    # checkpoint crossJoin. The LTV probe replicates events K x and runs
    # the full scaled-integer pipeline (quantize -> groupBy(age) ->
    # integer global_cumsum -> tenure-histogram reach join).
    from mergeextractor_spark.operators._util import global_cumsum

    def vocab_curve_at_k():
        n_vocab = 50_000 * args.k
        wc = spark.range(n_vocab).select(
            F.concat(F.lit("w"), F.col("id").cast("string")).alias("w"),
            (F.lit(1_000_000_000) / (F.col("id") + 1)).cast("bigint").alias("n"),
        ).withColumn("one", F.lit(1).cast("bigint"))
        cum, tot = global_cumsum(wc, [F.desc("n"), F.asc("w")], ["one", "n"])
        total_n = float(tot["n"])
        cps = [1000, 10_000, 100_000, n_vocab]
        checkpoints = spark.range(1).select(
            F.explode(F.array(*[F.lit(c) for c in cps])).alias("vocab_size")
        )
        return (
            cum.filter(F.col("cum_one") <= max(cps))
            .crossJoin(F.broadcast(checkpoints))
            .groupBy("vocab_size")
            .agg(
                (
                    F.max(
                        F.when(
                            F.col("cum_one") <= F.col("vocab_size"),
                            F.col("cum_n"),
                        )
                    )
                    / F.lit(total_n)
                ).alias("cov")
            )
            .count()
        )

    probe("vocab curve, 50k*K Zipf vocab", vocab_curve_at_k)

    def ltv_scaled_int_at_k():
        day = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
        ev2 = big_ev.select("user_id", day.alias("day"), "event_type", "value")
        firsts = ev2.groupBy("user_id").agg(
            F.min("day").alias("first_day"), F.max("day").alias("last_day")
        )
        rev = (
            ev2.filter(F.col("event_type") == "purchase")
            .join(firsts, "user_id")
            .select(
                (F.col("day") - F.col("first_day")).alias("age"),
                F.round(F.col("value") * 10000).cast("bigint").alias("v_i"),
            )
        )
        by_age = rev.groupBy("age").agg(F.sum("v_i").alias("day_rev_i"))
        cum_df, _tot = global_cumsum(by_age, ["age"], ["day_rev_i"])
        tenure_hist = (
            firsts.select((F.col("last_day") - F.col("first_day")).alias("tenure"))
            .groupBy("tenure")
            .agg(F.count("*").alias("n_t"))
        )
        return (
            cum_df.crossJoin(F.broadcast(tenure_hist))
            .groupBy("age", "cum_day_rev_i")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("tenure") >= F.col("age"), F.col("n_t"))),
                    F.lit(0),
                ).alias("users_reached")
            )
            .count()
        )

    probe("ltv scaled-int cumsum (K-repl ev)", ltv_scaled_int_at_k)

    def clf_gradient_at_prod_buckets():
        """VERDICT r13 item 7: pipeline_classifier_train's gradient
        aggregate at a PRODUCTION bucket count.  The fixture B=256 keeps
        the (bucket, int64) shuffle trivially small; production hashed
        classifiers run B~1e5-1e6.  One full GD round — feature build,
        broadcast weight join + score aggregate, residual sigmoid,
        gradient aggregate — at B=65,536 over the K-replicated corpus:
        flat wall vs the B=256 twin proves the round cost is bounded by
        the FEATURE table (corpus-sized, B-independent) and the weight
        broadcast stays a broadcast (65,537 rows ~ 1 MiB)."""
        from mergeextractor_spark.plans.classifier_pipeline import (
            CLF_SCALE,
            clf_features,
            clf_labels,
        )

        B, S = 65_536, CLF_SCALE
        feat = clf_features(big_docs, buckets=B)
        lab = clf_labels(big_docs)
        # deterministic nonzero weights so the sigmoid isn't constant
        w = spark.range(-1, B).select(
            F.col("id").alias("b"),
            ((F.col("id") % 7) - 3).cast("long").alias("w"),
        )
        scores = (
            feat.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("s") / F.lit(float(S))))
        )
        resid = scores.join(lab, "doc_id").select(
            "doc_id", F.round(S * (p - F.col("y"))).cast("long").alias("r")
        )
        grad = (
            feat.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
        )
        return grad.count()

    def clf_gradient_at_fixture_buckets():
        """B=256 twin of the probe above — the flat-wall comparison
        anchor (same corpus, same round, fixture bucket count)."""
        from mergeextractor_spark.plans.classifier_pipeline import (
            CLF_SCALE,
            clf_features,
            clf_labels,
        )

        B, S = 256, CLF_SCALE
        feat = clf_features(big_docs, buckets=B)
        lab = clf_labels(big_docs)
        w = spark.range(-1, B).select(
            F.col("id").alias("b"),
            ((F.col("id") % 7) - 3).cast("long").alias("w"),
        )
        scores = (
            feat.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("s") / F.lit(float(S))))
        )
        resid = scores.join(lab, "doc_id").select(
            "doc_id", F.round(S * (p - F.col("y"))).cast("long").alias("r")
        )
        grad = (
            feat.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
        )
        return grad.count()

    probe("clf GD round, B=256 (anchor)", clf_gradient_at_fixture_buckets)
    probe("clf GD round, B=65536 (prod)", clf_gradient_at_prod_buckets)

    def clf_gradient_synth_vocab():
        """The fixture corpus' tiny vocabulary touches only ~32 buckets
        (the probes above prove the round is bounded by the FEATURE
        table, not B — but they cannot exercise a full bucket space).
        This one can: 100k docs x 200 tokens drawn from a 1M-word
        vocabulary, hashed into B=65,536 — every bucket populated, the
        gradient aggregate's map-side combine bounded at B rows per
        task, the 65,537-row weight table still broadcast."""
        from mergeextractor_spark.plans.classifier_pipeline import CLF_SCALE

        B, S = 65_536, CLF_SCALE
        n_docs, toks_per_doc = 100_000, 200
        feat = (
            spark.range(n_docs * toks_per_doc)
            .selectExpr(
                f"id div {toks_per_doc} AS doc_id",
                # 1M-word vocabulary md5-hashed into the bucket space —
                # the same conv(substr(md5)) bucketing clf_features uses
                f"cast(conv(substring(md5(concat('w', cast(id % 1000003 as string))), 1, 4), 16, 10) as bigint) % {B} AS b",
            )
            .groupBy("doc_id", "b")
            .agg(F.count("*").cast("long").alias("x"))
        )
        lab = spark.range(n_docs).selectExpr(
            "id AS doc_id", "cast(id % 2 as long) AS y"
        )
        w = spark.range(-1, B).select(
            F.col("id").alias("b"),
            ((F.col("id") % 7) - 3).cast("long").alias("w"),
        )
        scores = (
            feat.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("w")).alias("s"))
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("s") / F.lit(float(S))))
        )
        resid = scores.join(lab, "doc_id").select(
            "doc_id", F.round(S * (p - F.col("y"))).cast("long").alias("r")
        )
        grad = (
            feat.join(resid, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
        )
        return grad.count()

    probe("clf GD round, B=65536 synth-1M-vocab", clf_gradient_synth_vocab)

    total = sum(dt for _, _, dt in probes)
    print(f"TOTAL {total:.1f}s at K={args.k}", flush=True)


if __name__ == "__main__":
    main()
