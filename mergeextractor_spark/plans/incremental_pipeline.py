"""Flagship #6: crash-safe incremental corpus ingest.

The production loop a 100 TB corpus runs daily: an incoming batch is
deduplicated AGAINST THE EXISTING STORE without rescanning or joining
the whole store, gated by quality rules, and appended atomically so a
re-run (retry, replayed batch, crashed driver) cannot double-ingest.

Plan shape per batch:

1. **Bloom prefilter** (curation_queries.bloom_build over the store's
   content hashes): the broadcast bitmap splits the incoming batch
   map-side into definitely-new rows (bit miss — skip the verify join
   entirely) and maybe-dup candidates (bit hit). Only candidates — a
   small fraction of the batch at production FP rates — reach the join.
   The probe runs once: its output is cut (``truncate_lineage``, lazy),
   and ``incoming`` and ``bloom_candidates`` come from one aggregate
   over that cut, which also materializes it for the two branches below.
2. **Exact verify**: candidates anti-join the store ON THE CONTENT HASH
   (32-byte keys, never text). Bloom false positives survive here, so
   the final content is exactly what a full anti-join would produce —
   the bloom only saves work, never changes the answer (pinned in
   tests/test_incremental_ingest.py).
3. **Quality gate**: the Gopher word-count bounds (50..100000 tokens)
   on the surviving new rows — same family as text_gopher_rules, one
   map stage.
4. **Atomic append**: survivors land in a `_stage_<id>` directory inside
   the store, which Spark's listing skips; ``appended`` is an
   ``Observation`` on that write, not a count of its own. Once the write
   has committed its `_SUCCESS`, the files move into the store and a
   `_BATCH_<id>` marker commits the batch. A marker short-circuits the
   whole batch (idempotent replay); a complete stage without a marker is
   published by the replay, so a crash at any move ends as a clean run
   does.

Registered as ``pipeline_incremental_ingest`` with a FULL exact oracle
(r11): the bloom is the md5-sliced one, so DuckDB recomputes every
summary count — bit set, probe with false positives, exact-text dedup,
token gate; content-exactness and idempotency stay pytest-pinned.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..operators._util import scratch_dir, t, truncate_lineage
from ..operators.curation_queries import BLOOM_K, BLOOM_M_BITS

GATE_MIN_TOKENS = 50
GATE_MAX_TOKENS = 100_000


def _hashed(df: DataFrame) -> DataFrame:
    return df.withColumn("h", F.md5(F.col("text")))


def _gate(df: DataFrame) -> DataFrame:
    n_tokens = F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""))
    return df.filter((n_tokens >= GATE_MIN_TOKENS) & (n_tokens <= GATE_MAX_TOKENS))


def ingest_batch(
    spark: SparkSession, store: str, batch: DataFrame, batch_id: str
) -> dict:
    """Ingest ``batch`` into the parquet corpus at ``store``; returns the
    per-stage counts. Idempotent per ``batch_id``: a committed marker
    short-circuits the replay with zero writes, and a replay that finds
    the batch fully staged only finishes its publish."""
    marker = os.path.join(store, f"_BATCH_{batch_id}")
    stage = os.path.join(store, f"_stage_{batch_id}")
    if os.path.exists(marker) or os.path.isfile(os.path.join(stage, "_SUCCESS")):
        _publish(store, stage, batch_id)
        return {"batch_id": batch_id, "replayed": True, "appended": 0}

    from ..operators.curation_queries import bloom_build, bloom_probe

    existing = _hashed(spark.read.parquet(store).select("text"))
    bitmap = bloom_build(existing.select(F.col("h")))
    # the probe's pandas UDF runs once: the counts, the definitely-new
    # rows and the verify candidates all read this cut
    probed = truncate_lineage(bloom_probe(_hashed(batch), bitmap, "h"), eager=False)
    counts = probed.agg(
        F.count(F.lit(1)).alias("incoming"),
        F.count_if("maybe_dup").alias("bloom_candidates"),
    ).first()
    # definitely-new rows skip the verify join entirely (zero-FN pinned)
    fresh = probed.filter(~F.col("maybe_dup")).drop("maybe_dup")
    candidates = probed.filter(F.col("maybe_dup")).drop("maybe_dup")
    verified_new = candidates.join(
        existing.select("h").distinct(), "h", "left_anti"
    )
    survivors = _gate(fresh.unionByName(verified_new)).drop("h")

    # the stage sits inside the store under a name Spark's listing skips;
    # an unfinished stage (no _SUCCESS) is overwritten by this write, and
    # the appended count is observed on it rather than counted apart
    appended = Observation("appended")
    survivors.observe(appended, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(stage)
    _publish(store, stage, batch_id)
    return {
        "batch_id": batch_id,
        "replayed": False,
        "incoming": counts["incoming"],
        "bloom_candidates": counts["bloom_candidates"],
        "appended": appended.get["n"],
    }


def _publish(store: str, stage: str, batch_id: str) -> None:
    """Move the staged parquet files of a batch into the store, then
    commit its marker. Each file moves whole, and a replay moves the
    ones a crash left behind, so the store ends as a clean publish
    leaves it — a re-run of the batch would instead dedup the rows still
    staged against copies of their texts already moved in."""
    if os.path.isdir(stage):
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(stage, f),
                    os.path.join(store, f"batch_{batch_id}_{f}"),
                )
        shutil.rmtree(stage)
    marker = os.path.join(store, f"_BATCH_{batch_id}")
    if not os.path.exists(marker):
        with open(marker, "w") as fh:
            fh.write(batch_id)


@register(
    "pipeline_incremental_ingest",
    # r11 graduation — a FULL exact oracle after all: the pipeline's
    # bloom is the md5-sliced one (curation_queries.bloom_build — the
    # registry note blaming Spark's seeded bloom_filter_agg was stale),
    # so every count in the summary is deterministic and DuckDB
    # recomputes the whole thing: the store-half bit set, the batch-half
    # probe (FPs included), the exact-text dedup, and the token gate.
    # The 20 re-keyed dup rows carry store TEXT, so they probe positive
    # and drop at the verify join regardless of WHICH 20 limit() picked.
    oracle=f"""
    WITH store AS (SELECT text FROM documents WHERE doc_id % 10 < 8),
    batch8 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
    pos AS (SELECT i FROM range({BLOOM_K}) t(i)),
    bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(text), 1 + 5 * i, 5)) AS BIGINT) % {BLOOM_M_BITS} AS b
      FROM store CROSS JOIN pos
    ),
    probe8 AS (
      SELECT b8.doc_id, b8.text,
             bool_and(
               CAST(concat('0x', substr(md5(b8.text), 1 + 5 * p.i, 5)) AS BIGINT)
                 % {BLOOM_M_BITS} IN (SELECT b FROM bits)
             ) AS maybe
      FROM batch8 b8 CROSS JOIN pos p GROUP BY 1, 2
    )
    SELECT 'b001' AS batch_id,
           CAST((SELECT count(*) FROM batch8) + 20 AS BIGINT) AS incoming,
           CAST((SELECT count(*) FROM probe8 WHERE maybe) + 20 AS BIGINT) AS bloom_candidates,
           CAST((SELECT count(*) FROM batch8 b
                 WHERE b.text NOT IN (SELECT text FROM store)
                   AND len(list_filter(string_split_regex(lower(b.text), '\\s+'), x -> x <> ''))
                       BETWEEN {GATE_MIN_TOKENS} AND {GATE_MAX_TOKENS}) AS BIGINT) AS appended,
           TRUE AS replay_short_circuited
    """,
    doc="Flagship #6 — crash-safe incremental ingest: an existing store "
    "(documents with doc_id%10<8) receives a batch of the remaining "
    "docs PLUS re-keyed copies of store content; the bloom prefilter "
    "routes definite-new rows around the verify join, the hash "
    "anti-join drops the true dups (bloom FPs survive to here, so "
    "content is exact), the Gopher token gate filters, and the append "
    "commits atomically behind a batch marker — replaying the same "
    "batch appends zero rows. Returns the per-stage count summary, "
    "hash-verified end-to-end (r11): the md5-sliced bloom makes every "
    "count deterministic, so the oracle rebuilds the store bit set, "
    "the probe (false positives included), the exact-text dedup, and "
    "the token gate in SQL; exactness + idempotency + crash-recovery "
    "pinned in tests/test_incremental_ingest.py.",
    eager=True,  # construction writes the store and runs both ingests
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    store = os.path.join(scratch_dir("corpus_"), "store")
    docs.filter(F.col("doc_id") % 10 < 8).write.parquet(store)
    dup_part = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .limit(20)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    batch = docs.filter(F.col("doc_id") % 10 >= 8).unionByName(dup_part)
    first = ingest_batch(spark, store, batch, "b001")
    replay = ingest_batch(spark, store, batch, "b001")
    rows = [
        (
            first["batch_id"],
            first["incoming"],
            first["bloom_candidates"],
            first["appended"],
            replay["replayed"],
        )
    ]
    return spark.createDataFrame(
        rows,
        "batch_id string, incoming bigint, bloom_candidates bigint, "
        "appended bigint, replay_short_circuited boolean",
    )


# ---------------------------------------------------------------------------
# Flagship #12: the FULL ingest cycle — exact gate → minhash near-dup
# probe → partition-scoped index commit, composed end-to-end.

REKEY_BELOW = 50       # committed docs re-keyed into the batch (planted exact dups)
REKEY_OFFSET = 1_000_000

def _ingest_cycle_oracle() -> str:
    from ..operators.dedup import (
        INCR_BATCH_MOD,
        _SHINGLE_CTE,
        _bands_sql,
        _minhash_sql_cols,
    )

    M = INCR_BATCH_MOD
    return f"""
    WITH {_SHINGLE_CTE},
    sig AS (SELECT doc_id, {_minhash_sql_cols()} FROM sh GROUP BY doc_id),
    bands AS ({_bands_sql()}),
    committed AS (SELECT doc_id, text FROM documents WHERE doc_id % {M} <> 0),
    rekeyed AS (
      SELECT doc_id + {REKEY_OFFSET} AS doc_id, text
      FROM committed WHERE doc_id < {REKEY_BELOW}
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {M} = 0
      UNION ALL SELECT doc_id, text FROM rekeyed
    ),
    fresh AS (
      SELECT * FROM batch WHERE text NOT IN (SELECT text FROM committed)
    ),
    store AS (SELECT * FROM bands WHERE doc_id % {M} <> 0),
    bb AS (
      SELECT * FROM bands
      WHERE doc_id % {M} = 0 AND doc_id IN (SELECT doc_id FROM fresh)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_id, s.doc_id AS dup_of
      FROM bb b JOIN store s ON s.band = b.band AND s.bucket = b.bucket
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    verified AS (
      SELECT c.doc_id, c.dup_of, count(*) AS common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_id
      JOIN sh s2 ON s2.doc_id = c.dup_of AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    ),
    neardup AS (
      SELECT DISTINCT v.doc_id FROM verified v
      JOIN sizes na ON na.doc_id = v.doc_id
      JOIN sizes nb ON nb.doc_id = v.dup_of
      WHERE v.common::DOUBLE / (na.n + nb.n - v.common) >= 0.2
    ),
    survivors AS (
      SELECT doc_id FROM fresh
      WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
    )
    SELECT CAST((SELECT count(*) FROM batch) AS BIGINT) AS n_batch,
           CAST((SELECT count(*) FROM batch)
                - (SELECT count(*) FROM fresh) AS BIGINT) AS n_exact_dup,
           CAST((SELECT count(*) FROM neardup) AS BIGINT) AS n_near_dup,
           CAST((SELECT count(*) FROM survivors) AS BIGINT) AS n_appended,
           CAST((SELECT count(DISTINCT doc_id) FROM bands
                 WHERE doc_id % {M} <> 0
                    OR doc_id IN (SELECT doc_id FROM survivors)) AS BIGINT)
             AS n_store_docs
    """


@register(
    "pipeline_ingest_cycle",
    oracle=_ingest_cycle_oracle(),
    doc="Flagship #12 — the FULL incremental ingest cycle, composing the "
    "stages production runs per batch: (1) EXACT gate — the batch (the "
    "doc_id%5==0 docs plus re-keyed copies of committed content, the "
    "planted exact dups) drops rows whose md5(text) already exists in "
    "the committed corpus via a hash anti-join; (2) NEAR-DUP gate — "
    "survivors are shingled/banded and probed against the committed "
    "band store (exact-pair partition-pruned read; the shared "
    "minhash_verify_pairs tail: candidates band-join, committed side "
    "semi-join-pruned before shingling, exact Jaccard >= 0.2), and any "
    "batch doc with a verified pair drops via a distributed anti-join; "
    "(3) COMMIT — survivors' band keys are committed into the store by "
    "dynamic partition overwrite (exact touched partitions only, "
    "idempotent distinct union). The summary row's n_store_docs "
    "re-reads the POST-COMMIT store from disk, so the hash row proves "
    "the whole cycle: gates, probe, and the committed index state. "
    "Idempotent across constructions: the probe reads only the "
    "committed (doc_id%5<>0) slice of the store, so previously "
    "committed survivors never self-match. 100 TB: every stage is the "
    "scale path its component key carries (hash anti-join, "
    "candidate-bounded verify, touched-partition rewrite); driver "
    "traffic is the <=48-row partition list plus five counts.",
    eager=True,  # construction builds the store, probes, and commits
)
def pipeline_ingest_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools
    import operator

    from ..operators._util import spread, truncate_lineage
    from ..operators.dedup import (
        INCR_BATCH_MOD,
        _bands_of,
        _cache_shingles,
        _minhash_agg_cols,
        _spread_doc_shingles,
        ensure_minhash_commit_store,
        minhash_store_commit,
        minhash_store_read,
        minhash_verify_pairs,
    )

    M = INCR_BATCH_MOD
    d = t(spark, sf_dir, "documents")
    committed = d.filter(F.col("doc_id") % M != 0).select("doc_id", "text")
    rekeyed = committed.filter(F.col("doc_id") < REKEY_BELOW).select(
        (F.col("doc_id") + REKEY_OFFSET).alias("doc_id"), "text"
    )
    batch = (
        d.filter(F.col("doc_id") % M == 0)
        .select("doc_id", "text")
        .unionByName(rekeyed)
    )

    # 1. exact gate: hash anti-join against the committed corpus
    # (n_batch / n_fresh are pure summary counts — deferred to the
    # concurrent count block after the commit, guide §2.6: the cycle's
    # wall time was a chain of ~9 serial driver actions, and the counts
    # have no downstream dependents)
    comm_h = committed.select(F.md5("text").alias("h")).distinct()
    fresh = (
        batch.withColumn("h", F.md5("text"))
        .join(comm_h, "h", "left_anti")
        .drop("h")
    )

    # 2. near-dup gate: probe the committed slice of the cycle store
    path = ensure_minhash_commit_store(spark, sf_dir, tag="cycle")
    sh_b = _cache_shingles(_spread_doc_shingles(fresh))
    # checkpoint the batch band keys: they feed FOUR consumers (the
    # partition-list collect, the verify band-join, the survivor
    # anti-join, and the commit's own partition-list + merged write) —
    # without the cut each consumer re-runs the signature aggregate
    # (r14 profile: commit alone re-evaluated the whole verify tail
    # twice, 5.5 s executor-CPU of the cycle's 8.4 s).  LAZY: the first
    # consumer is the partition-list collect just below, so the cut
    # materializes inside that job instead of as its own blocking driver
    # job ahead of it.
    bands_b = truncate_lineage(
        _bands_of(sh_b.groupBy("doc_id").agg(*_minhash_agg_cols())),
        eager=False,
    )
    # the probed (band, bpfx) partition list, collected driver-side (the
    # _probed_cids boundedness class: <= bands x 16 rows)
    parts = (
        bands_b.select("band", F.substring("bucket", 1, 1).alias("bpfx"))
        .distinct()
        .collect()
    )
    # empty batch (quiet ingest day): no band keys → no touched partitions
    # → the probed store slice is empty by construction
    pair_pred = (
        functools.reduce(
            operator.or_,
            [
                (F.col("band") == r.band) & (F.col("bpfx") == r.bpfx)
                for r in parts
            ],
        )
        if parts
        else F.lit(False)
    )
    store = minhash_store_read(spark, path).filter(
        # committed slice only: previously committed survivors (%M == 0)
        # must never self-match on a re-run
        pair_pred & (F.col("doc_id") % M != 0)
    )
    pairs = minhash_verify_pairs(spread(committed), sh_b, bands_b, store)
    # checkpoint the near-dup doc list (<= batch-sized): the commit path
    # below references it through the survivor anti-join, and an uncut
    # lineage re-runs the full probe/verify join once per commit action
    near = truncate_lineage(pairs.select("doc_id").distinct())

    # 3+4. commit the survivors' band keys (partition-scoped, idempotent)
    # OVERLAPPED with the three store-independent summary counts (guide
    # §2.6 extended to the commit itself — r15: the commit's write job
    # previously ran as a serial phase before the counts even though
    # batch/fresh/near never read the store; submitting the commit FIRST
    # gives it FIFO priority and the counts back-fill its tail).  Only
    # n_store_docs must wait: it re-reads the POST-COMMIT store, which
    # the commit's driver-side partition renames are mutating until
    # f_commit resolves.
    survivors_bands = bands_b.join(near, "doc_id", "left_anti")
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_commit = pool.submit(
            minhash_store_commit, spark, path, survivors_bands
        )
        f_batch = pool.submit(batch.count)
        f_fresh = pool.submit(fresh.count)
        f_near = pool.submit(near.count)
        n_batch, n_fresh = f_batch.result(), f_fresh.result()
        n_near = f_near.result()
        f_commit.result()
        n_store_docs = (
            minhash_store_read(spark, path).select("doc_id").distinct().count()
        )

    return spark.createDataFrame(
        [(n_batch, n_batch - n_fresh, n_near, n_fresh - n_near, n_store_docs)],
        "n_batch bigint, n_exact_dup bigint, n_near_dup bigint, "
        "n_appended bigint, n_store_docs bigint",
    )
