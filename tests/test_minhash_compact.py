"""dedup_minhash_store_compact pins (r14 — the index COMMIT that
closes the incremental-dedup ingest cycle).

Proofs:
  1. the post-commit store equals the full-corpus band index (the
     registered rollup matches an in-memory recompute over ALL docs);
  2. re-commit is idempotent (DISTINCT union: identical rollup and
     identical store row count on a second run);
  3. the overwrite is PARTITION-SCOPED: committing one document's
     bands into a scratch store rewrites only the partitions that
     document's keys land in — every other partition's files keep
     their mtimes;
  4. the partition swap is crash-safe, for this store and for the KV
     MERGE (sources/sinks.py) alike: a move that fails at any point
     leaves the store as it read before the commit, a killed commit's
     asides are settled by the next one, and the replayed commit equals
     a clean one.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _rollup(spark):
    from mergeextractor_spark.registry import load_all

    return {
        (r.band, r.bpfx): (r.n_keys, r.n_docs)
        for r in load_all()["dedup_minhash_store_compact"].spark(spark, SF).collect()
    }


def test_post_commit_store_equals_full_corpus_index(spark):
    from mergeextractor_spark.operators._util import t
    from mergeextractor_spark.operators.dedup import (
        _bands_of,
        _minhash_agg_cols,
        _spread_doc_shingles,
    )

    got = _rollup(spark)
    sh = _spread_doc_shingles(t(spark, SF, "documents"))
    bands = _bands_of(sh.groupBy("doc_id").agg(*_minhash_agg_cols()))
    want = {
        (r.band, r.bpfx): (r.n_keys, r.n_docs)
        for r in bands.withColumn("bpfx", F.substring("bucket", 1, 1))
        .groupBy("band", "bpfx")
        .agg(
            F.count("*").alias("n_keys"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .collect()
    }
    assert got == want
    assert got


def test_recommit_is_idempotent(spark):
    from mergeextractor_spark.operators.dedup import (
        ensure_minhash_commit_store,
        minhash_store_read,
    )

    first = _rollup(spark)
    path = ensure_minhash_commit_store(spark, SF)
    n_rows = minhash_store_read(spark, path).count()
    assert _rollup(spark) == first
    assert minhash_store_read(spark, path).count() == n_rows


def test_commit_rewrites_only_touched_partitions(spark, tmp_path):
    from mergeextractor_spark.operators._util import t
    from mergeextractor_spark.operators.dedup import (
        _bands_of,
        _minhash_agg_cols,
        _spread_doc_shingles,
        minhash_store_commit,
        minhash_store_write,
    )

    path = str(tmp_path / "store")
    minhash_store_write(spark, SF, path)

    def part_mtimes():
        out = {}
        for d in glob.glob(os.path.join(path, "band=*", "bpfx=*")):
            files = [
                os.path.getmtime(f)
                for f in glob.glob(os.path.join(d, "*.parquet"))
            ]
            out[os.path.relpath(d, path)] = tuple(sorted(files))
        return out

    before = part_mtimes()
    one = t(spark, SF, "documents").filter(F.col("doc_id") == 5)
    sh = _spread_doc_shingles(one)
    bands = _bands_of(sh.groupBy("doc_id").agg(*_minhash_agg_cols()))
    n_parts = minhash_store_commit(spark, path, bands)
    assert 1 <= n_parts <= 3  # one doc -> at most one key per band
    after = part_mtimes()
    touched = {
        f"band={r.band}/bpfx={r.bucket[:1]}"
        for r in bands.collect()
    }
    assert touched, "doc 5 must produce band keys"
    untouched = set(before) - touched
    assert untouched, "fixture store must have partitions doc 5 misses"
    for p in untouched:
        assert after[p] == before[p], f"untouched partition {p} rewritten"
    for p in touched:
        assert after[p] != before.get(p), f"touched partition {p} not rewritten"


@dataclass
class SwapCase:
    """A store whose commit swaps partitions in, and one commit into it."""

    base: str  # the store before the commit; each check copies it
    parts: str  # glob of its partition dirs
    commit: Callable[[str], object]
    rows: Callable[[str], list]
    want: list = field(default_factory=list)  # rows after a clean commit
    n_moves: int = 0  # ``shutil.move`` calls of a clean commit


def _band_store_case(spark, root) -> SwapCase:
    """The band store and the batch that closes it."""
    from mergeextractor_spark.operators import dedup
    from mergeextractor_spark.operators._util import t, truncate_lineage

    base = str(root / "band_base")
    dedup.minhash_store_write(spark, SF, base)
    batch = t(spark, SF, "documents").filter(F.col("doc_id") % dedup.INCR_BATCH_MOD == 0)
    sig = dedup._spread_doc_shingles(batch).groupBy("doc_id").agg(*dedup._minhash_agg_cols())
    bands = truncate_lineage(dedup._bands_of(sig))
    return SwapCase(
        base, "band=*/bpfx=*",
        lambda path: dedup.minhash_store_commit(spark, path, bands),
        lambda path: sorted(map(tuple, dedup.minhash_store_read(spark, path).collect())),
    )


def _kv_store_case(spark, filings_df, root) -> SwapCase:
    """The bucketed KV store (buckets 0-2) and a MERGE that replaces a row
    in each bucket and inserts one into a new bucket."""
    from mergeextractor_spark.sources.sinks import merge_kv_store, sink_kv_store

    base = str(root / "kv_base")
    rows = filings_df.withColumn("main_index", F.col("main_index") * 50)
    sink_kv_store(rows, base, mode="overwrite")
    updates = (
        rows.filter(F.col("main_index").isin(0, 100, 250))
        .withColumn("content", F.lit("merged-row"))
        .unionByName(rows.filter(F.col("main_index") == 50).withColumn("main_index", F.lit(777)))
    )
    return SwapCase(
        base, "bucket=*",
        lambda path: merge_kv_store(spark, updates, path),
        lambda path: sorted(map(tuple, spark.read.parquet(path).collect()), key=repr),
    )


@pytest.fixture(scope="module")
def swap_cases(spark, filings_df, tmp_path_factory, counting_move):
    """Both partition-swapping commits, each with the rows and the
    ``shutil.move`` count of a clean commit."""
    root = tmp_path_factory.mktemp("swap")
    cases = {
        "band store": _band_store_case(spark, root),
        "kv store": _kv_store_case(spark, filings_df, root),
    }
    for name, case in cases.items():
        clean = str(shutil.copytree(case.base, root / f"{name} clean"))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(shutil, "move", move := counting_move())
            case.commit(clean)
        case.want, case.n_moves = case.rows(clean), move.n
        assert case.want != case.rows(case.base), name
    return root, cases


@pytest.mark.parametrize("k", ["first", "second", "middle", "last"])
def test_commit_survives_a_failed_move(spark, swap_cases, counting_move, k):
    """A swap whose k-th ``shutil.move`` raises leaves the store reading as
    it did before the call, and the replayed commit lands exactly the
    store a clean commit does — for the band store and the KV MERGE."""
    root, cases = swap_cases
    for name, case in cases.items():
        path = str(shutil.copytree(case.base, root / f"{name} faulted {k}"))
        before = case.rows(path)
        fail_at = {"first": 1, "second": 2, "middle": case.n_moves // 2, "last": case.n_moves}[k]
        if name == "kv store":
            spark.catalog.clearCache()
            pinned = set(spark.sparkContext._jsc.getPersistentRDDs())
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(shutil, "move", counting_move(fail_at))
            with pytest.raises(OSError, match="injected failure"):
                case.commit(path)
        if name == "kv store":
            # the failed MERGE pins no cached relation
            assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= pinned
            assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert case.rows(path) == before, name
        case.commit(path)
        assert case.rows(path) == case.want, name


def test_commit_settles_asides_a_killed_commit_left(spark, swap_cases):
    """A process killed mid-swap leaves partitions renamed aside: one whose
    staged copy never moved in, one whose copy landed before the aside was
    deleted.  Readers never see an aside; the next commit settles both and
    lands the store a clean commit does."""
    from mergeextractor_spark.store import _aside

    root, cases = swap_cases
    for name, case in cases.items():
        path = str(shutil.copytree(case.base, root / f"{name} killed"))
        hidden = str(shutil.copytree(case.base, root / f"{name} hidden"))
        missing, landed = sorted(glob.glob(os.path.join(path, case.parts)))[:2]
        os.rename(missing, _aside(missing))
        shutil.copytree(landed, _aside(landed))
        shutil.rmtree(os.path.join(hidden, os.path.relpath(missing, path)))
        assert case.rows(path) == case.rows(hidden), name
        case.commit(path)
        assert case.rows(path) == case.want, name
        assert not glob.glob(os.path.join(path, "**", ".*.old"), recursive=True), name
