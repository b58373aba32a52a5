"""Flagship #6 guarantees: content exactness (bloom saves work, never
changes the answer), idempotent replay, and crash recovery."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mergeextractor_spark.plans.incremental_pipeline import (
    GATE_MIN_TOKENS,
    GATE_MAX_TOKENS,
    ingest_batch,
)
from mergeextractor_spark.sources.fixtures import table

SF = "/root/testdata/sf0.001"


def _setup(spark, tmp_path):
    docs = table(spark, SF, "documents")
    store = str(tmp_path / "store")
    docs.filter(F.col("doc_id") % 10 < 8).write.parquet(store)
    dup_part = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .limit(20)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    batch = docs.filter(F.col("doc_id") % 10 >= 8).unionByName(dup_part)
    return docs, store, batch


def test_ingest_content_matches_exact_dedup(spark, tmp_path):
    docs, store, batch = _setup(spark, tmp_path)
    before = {r.h for r in spark.read.parquet(store).select(F.md5("text").alias("h")).collect()}
    summary = ingest_batch(spark, store, batch, "b1")
    assert not summary["replayed"]
    # expected appended set: batch rows whose text hash is NOT in the
    # store, passing the token gate — computed WITHOUT any bloom
    n_tokens = F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""))
    expected = {
        r.h
        for r in batch.withColumn("h", F.md5("text"))
        .filter((n_tokens >= GATE_MIN_TOKENS) & (n_tokens <= GATE_MAX_TOKENS))
        .collect()
        if r.h not in before
    }
    after = {r.h for r in spark.read.parquet(store).select(F.md5("text").alias("h")).collect()}
    assert after == before | expected
    assert summary["appended"] == len(
        [r for r in batch.withColumn("h", F.md5("text")).collect()
         if r.h in expected]
    )
    # the bloom candidate pool must contain every true duplicate (zero FN)
    true_dups = batch.withColumn("h", F.md5("text")).filter(
        F.col("h").isin(*before) if before else F.lit(False)
    )
    assert summary["bloom_candidates"] >= true_dups.count()


def test_ingest_replay_is_idempotent(spark, tmp_path):
    _, store, batch = _setup(spark, tmp_path)
    ingest_batch(spark, store, batch, "b1")
    n1 = spark.read.parquet(store).count()
    replay = ingest_batch(spark, store, batch, "b1")
    assert replay["replayed"] and replay["appended"] == 0
    assert spark.read.parquet(store).count() == n1
    # a NEW batch id with the same content also appends nothing: every
    # row now dedups against the store content itself
    again = ingest_batch(spark, store, batch, "b2")
    assert not again["replayed"]
    assert again["appended"] == 0
    assert spark.read.parquet(store).count() == n1


def test_crash_before_marker_recovers_without_duplicates(spark, tmp_path):
    """Simulate a crash after file publication but before the marker
    commit: the replay must re-run (marker absent) yet append nothing,
    because re-ingest dedups against the store's content."""
    _, store, batch = _setup(spark, tmp_path)
    ingest_batch(spark, store, batch, "b1")
    snap = sorted(
        r.h for r in spark.read.parquet(store).select(F.md5("text").alias("h")).collect()
    )
    os.remove(os.path.join(store, "_BATCH_b1"))  # crash: marker lost
    redo = ingest_batch(spark, store, batch, "b1")
    assert not redo["replayed"]
    assert redo["appended"] == 0
    after = sorted(
        r.h for r in spark.read.parquet(store).select(F.md5("text").alias("h")).collect()
    )
    assert after == snap  # store content bit-identical across the recovery


def test_ingest_batch_runs_its_bloom_probe_once(spark, tmp_path):
    """The probe is cut once and read by every consumer: the counts come
    from one aggregate over it and ``appended`` is observed on the stage
    write, so one batch stays within eight Spark jobs (17 when each count
    was its own action over the uncut probe)."""
    _, store, batch = _setup(spark, tmp_path)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = scheduler.nextJobId()
    ingest_batch(spark, store, batch, "b1")
    assert scheduler.nextJobId() - first_job <= 8


@pytest.fixture(scope="module")
def twin_case(spark, tmp_path_factory, counting_move):
    """A store, a batch that carries one new text twice — once re-keyed,
    so the two copies are staged in different files — and the rows and
    ``shutil.move`` count of a clean ingest of that batch."""
    from mergeextractor_spark.plans.incremental_pipeline import _gate

    docs = table(spark, SF, "documents")
    root = tmp_path_factory.mktemp("publish")
    base = str(root / "base")
    docs.filter(F.col("doc_id") % 10 < 8).write.parquet(base)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    twin = _gate(new).orderBy("doc_id").limit(1).withColumn("doc_id", F.col("doc_id") + 100000)
    batch = new.unionByName(twin).cache()
    clean = str(shutil.copytree(base, root / "clean"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "move", move := counting_move())
        ingest_batch(spark, clean, batch, "b1")
    assert move.n == 2, "the twin and the rest of the batch stage one file each"
    return root, base, batch, _rows(spark, clean)


def _rows(spark, store):
    return sorted(map(tuple, spark.read.parquet(store).collect()), key=repr)


@pytest.mark.parametrize("k", [1, 2])
def test_publish_replay_after_a_failed_move_equals_a_clean_ingest(
    spark, twin_case, counting_move, k
):
    """The publish dies on its k-th file move; the replay of the batch
    must leave the store a clean ingest leaves — both copies of the twin
    text included, not deduplicated against the copy already moved in."""
    root, base, batch, want = twin_case
    store = str(shutil.copytree(base, root / f"faulted_{k}"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "move", counting_move(k))
        with pytest.raises(OSError, match="injected failure"):
            ingest_batch(spark, store, batch, "b1")
    ingest_batch(spark, store, batch, "b1")
    assert _rows(spark, store) == want
