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
  4. the partition swap is crash-safe: a rename that fails at any point
     loses no committed row, and the replayed commit equals a clean one.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading

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



def _store_rows(spark, path):
    from mergeextractor_spark.operators.dedup import minhash_store_read

    return sorted(map(tuple, minhash_store_read(spark, path).collect()))


def _counting_move(fail_at=None, real=shutil.move):
    """A ``shutil.move`` that counts its calls and raises on call ``fail_at``."""
    lock = threading.Lock()

    def move(src, dst):
        with lock:
            move.n += 1
            if move.n == fail_at:
                raise OSError(f"injected failure on move {move.n}")
        return real(src, dst)

    move.n = 0
    return move


@pytest.fixture(scope="module")
def commit_case(spark, tmp_path_factory):
    """A committed-only store, the batch that closes it, and the rows and
    ``shutil.move`` count of a clean commit of that batch."""
    from mergeextractor_spark.operators import dedup
    from mergeextractor_spark.operators._util import t, truncate_lineage

    root = tmp_path_factory.mktemp("commit")
    dedup.minhash_store_write(spark, SF, str(root / "base"))
    batch = t(spark, SF, "documents").filter(F.col("doc_id") % dedup.INCR_BATCH_MOD == 0)
    sig = dedup._spread_doc_shingles(batch).groupBy("doc_id").agg(*dedup._minhash_agg_cols())
    bands = truncate_lineage(dedup._bands_of(sig))
    clean = str(shutil.copytree(root / "base", root / "clean"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "move", move := _counting_move())
        dedup.minhash_store_commit(spark, clean, bands)
    return root, bands, _store_rows(spark, clean), move.n


@pytest.mark.parametrize("k", ["first", "second", "middle", "last"])
def test_commit_survives_a_failed_move(spark, commit_case, k):
    """A swap whose k-th ``shutil.move`` raises loses no committed row:
    the replayed commit lands exactly the store a clean commit does."""
    from mergeextractor_spark.operators.dedup import minhash_store_commit

    root, bands, want, n_moves = commit_case
    path = str(shutil.copytree(root / "base", root / f"faulted_{k}"))
    fail_at = {"first": 1, "second": 2, "middle": n_moves // 2, "last": n_moves}[k]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shutil, "move", _counting_move(fail_at))
        with pytest.raises(OSError, match="injected failure"):
            minhash_store_commit(spark, path, bands)
    minhash_store_commit(spark, path, bands)
    assert _store_rows(spark, path) == want


def test_commit_settles_asides_a_killed_commit_left(spark, commit_case):
    """A process killed mid-swap leaves partitions renamed aside: one whose
    staged copy never moved in, one whose copy landed before the aside was
    deleted.  Readers never see an aside; the next commit settles both."""
    from mergeextractor_spark.operators.dedup import _aside, minhash_store_commit

    root, bands, want, _ = commit_case
    path = str(shutil.copytree(root / "base", root / "killed"))
    before = _store_rows(spark, path)
    missing, landed = sorted(glob.glob(os.path.join(path, "band=*", "bpfx=*")))[:2]
    os.rename(missing, _aside(missing))
    shutil.copytree(landed, _aside(landed))
    assert _store_rows(spark, path) == [
        r for r in before if not missing.endswith(f"band={r[2]}/bpfx={r[3]}")
    ]
    minhash_store_commit(spark, path, bands)
    assert _store_rows(spark, path) == want
    assert not glob.glob(os.path.join(path, "band=*", ".bpfx=*"))
