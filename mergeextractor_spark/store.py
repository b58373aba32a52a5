"""Derived parquet stores: when one is reused, and how a commit swaps
partitions into it.  The reference keeps its state in MongoDB; here each
store is a parquet directory on the local filesystem.

* ``ensure``: a fingerprinted path in the session warehouse is reused
  while its ``_SUCCESS`` is newer than its source fixtures, and is wiped
  and rewritten otherwise.
* ``settle`` / ``swap``: a commit stages the partitions it rewrites in a
  sibling directory and swaps each one in whole.  A raising swap leaves
  the store as it read before the call; the next commit settles the
  asides a killed process left.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import SparkSession


def _source_mtime(sf_dir: str, names: tuple[str, ...]) -> float:
    """Newest mtime across the named fixture parquet files/dirs, so that
    fixtures regenerated in place never serve a stale store."""
    paths = [os.path.join(sf_dir, f"{n}.parquet") for n in names]
    files = [p for p in paths if os.path.isfile(p)]
    files += [os.path.join(r, f) for p in paths for r, _, fs in os.walk(p) for f in fs]
    return max(map(os.path.getmtime, files), default=0.0)


def ensure(spark: SparkSession, prefix: str, params: str, sf_dir: str,
           sources: tuple[str, ...], write: Callable[[str], None]) -> str:
    """Path of the store ``<warehouse>/<prefix><md5(params)[:8]>``.
    ``params`` names the source and every code parameter the store is
    built from, so a store written with other values gets another path.
    The store is reused while its ``_SUCCESS`` is newer than the
    ``sources`` fixtures under ``sf_dir`` and it holds an entry Spark
    reads; otherwise it is wiped and ``write(path)`` rebuilds it."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = os.path.join(wh, prefix + hashlib.md5(params.encode()).hexdigest()[:8])
    success = os.path.join(path, "_SUCCESS")
    fresh = (
        os.path.isfile(success)
        and os.path.getmtime(success) >= _source_mtime(sf_dir, sources)
        and any(n[0] not in "_." for n in os.listdir(path))
    )
    if not fresh:
        shutil.rmtree(path, ignore_errors=True)
        write(path)
    return path


def _aside(target: str) -> str:
    """Where a swap parks a partition dir while its replacement moves in;
    the leading dot hides it from Spark's file listing."""
    head, name = os.path.split(target)
    return os.path.join(head, f".{name}.old")


def settle(root: str) -> None:
    """Settle the partitions a killed swap left renamed aside under
    ``root``: one whose staged copy never moved in gets its aside back;
    one whose copy landed keeps that copy, and the aside is deleted."""
    for old in glob.glob(os.path.join(root, "**", ".*.old"), recursive=True):
        head, name = os.path.split(old)
        target = os.path.join(head, name[1 : -len(".old")])
        if os.path.isdir(target):
            shutil.rmtree(old)
        else:
            os.rename(old, target)


def swap(root: str, staging: str, rels: list[str]) -> None:
    """Move each staged partition dir ``staging/<rel>`` to ``root/<rel>``.
    An existing partition is renamed aside first, and the asides are
    deleted only after every copy has landed.  If a move raises, every
    partition is put back -- the store reads as it did before the call,
    the landed copies return to ``staging`` -- and the error propagates.
    The renames are threaded: each is a filesystem metadata round trip,
    and a commit may touch thousands of partitions."""
    for head in {os.path.dirname(os.path.join(root, r)) for r in rels}:
        os.makedirs(head, exist_ok=True)  # serially: no two workers race

    def move_in(rel: str) -> None:
        target = os.path.join(root, rel)
        if os.path.isdir(target):
            shutil.move(target, _aside(target))
        shutil.move(os.path.join(staging, rel), target)

    with ThreadPoolExecutor(max_workers=16) as pool:
        try:
            list(pool.map(move_in, rels))
        except BaseException:
            pool.shutdown(wait=True)  # let in-flight moves land first
            for rel in rels:
                target, staged = os.path.join(root, rel), os.path.join(staging, rel)
                if os.path.isdir(target) and not os.path.isdir(staged):
                    os.rename(target, staged)  # this copy had landed
                if os.path.isdir(_aside(target)):
                    os.rename(_aside(target), target)
            raise
        asides = [_aside(os.path.join(root, rel)) for rel in rels]
        list(pool.map(shutil.rmtree, [a for a in asides if os.path.isdir(a)]))
    shutil.rmtree(staging, ignore_errors=True)
