"""Session-storage hygiene pins (VERDICT r11 item 5).

The r11 benchmark-session storage-thrash cliff: ``localCheckpoint``
blocks survive ``spark.catalog.clearCache()`` — the catalog call only
clears the SQL CacheManager, while the RDD storage blocks pinned by
every ``truncate_lineage``/``partitioned_*`` construction accumulate
until a driver GC the ContextCleaner may never get on a large heap
(measured 12 s → 278 s between two IDENTICAL runs at derived-sf1).  ``_util.drain_persistent_rdds`` is the fix, wired
into tools/bench_scaling.py; these pins make sure neither
half of the behavior silently rots: (a) clearCache alone really does
leave the blocks behind (if a Spark upgrade changes that, the sweep can
be simplified), and (b) the sweep really does drop them.
"""

from __future__ import annotations

import pytest


def _n_persistent(spark) -> int:
    # Reaches through the py4j gateway (private API) — classic-session
    # only.  Under Spark Connect there is no _jsc; skip rather than
    # crash so a Connect-based CI run degrades gracefully (ADVICE r12).
    if not hasattr(spark, "sparkContext") or not hasattr(
        spark.sparkContext, "_jsc"
    ):
        pytest.skip("persistent-RDD introspection needs a classic session")
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_drain_persistent_rdds_clears_what_clearcache_leaks(spark):
    from mergeextractor_spark.operators._util import (
        drain_persistent_rdds,
        truncate_lineage,
    )

    # start from a known-clean session (leftover checkpoints from earlier
    # tests are dead — every construction re-checkpoints its own frame)
    drain_persistent_rdds(spark)
    assert _n_persistent(spark) == 0

    ck = truncate_lineage(spark.range(1000).selectExpr("id AS v"), eager=True)
    assert ck.count() == 1000
    before = _n_persistent(spark)
    assert before > 0, "truncate_lineage must pin localCheckpoint blocks"

    # the r11 cliff: the catalog sweep does NOT free checkpoint blocks
    spark.catalog.clearCache()
    assert _n_persistent(spark) == before, (
        "clearCache() now frees localCheckpoint blocks — the Spark "
        "behavior drain_persistent_rdds works around has changed; "
        "re-evaluate the sweep (and celebrate)"
    )

    # the sweep frees them, and reports how many it dropped
    n = drain_persistent_rdds(spark)
    assert n >= before
    assert _n_persistent(spark) == 0
    # the checkpointed frame stays usable for already-materialized reads?
    # No — its lineage is gone by design; callers drain only BETWEEN
    # timed runs, never under a live plan (docstring contract).


def test_drain_survives_empty_session(spark):
    from mergeextractor_spark.operators._util import drain_persistent_rdds

    drain_persistent_rdds(spark)
    assert drain_persistent_rdds(spark) == 0
    assert drain_persistent_rdds(spark, sql_cache=False, gc_sweep=False) == 0


def test_scratch_default_falls_back_when_shm_is_small(monkeypatch):
    """VERDICT r14 item 3: the tmpfs spark.local.dir default must not
    point shuffle scratch at a nearly-full /dev/shm — below the
    free-space floor the factory returns None (Spark default), and the
    SPARK_GRAFT_LOCAL_DIR override always wins."""
    import shutil
    from collections import namedtuple

    from mergeextractor_spark.session import _default_local_dir

    usage = namedtuple("usage", "total used free")

    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_MIN_GB", raising=False)

    # plenty of headroom -> tmpfs path
    monkeypatch.setattr(
        shutil, "disk_usage", lambda p: usage(64 << 30, 0, 64 << 30)
    )
    assert _default_local_dir() == "/dev/shm/spark-local"

    # below the floor -> Spark default, with a warning
    monkeypatch.setattr(
        shutil, "disk_usage", lambda p: usage(64 << 30, 63 << 30, 1 << 30)
    )
    with pytest.warns(UserWarning, match="GiB free"):
        assert _default_local_dir() is None

    # a malformed floor warns and falls back to 4 GiB instead of raising
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_MIN_GB", "4GiB")
    for free_gb, want in ((5, "/dev/shm/spark-local"), (3, None)):
        monkeypatch.setattr(shutil, "disk_usage", lambda p, f=free_gb: usage(64 << 30, 0, f << 30))
        with pytest.warns(UserWarning) as rec:
            assert _default_local_dir() == want
        assert any("not a number" in str(w.message) for w in rec)

    # explicit override wins regardless of headroom; empty = Spark default
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/somewhere/nvme")
    assert _default_local_dir() == "/somewhere/nvme"
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "")
    assert _default_local_dir() is None


def test_session_tuning_resets_cached_debugging_flag(spark, monkeypatch):
    """PySpark caches the static dataFrameDebugging conf on the first
    DataFrame call; tuning must turn call-site capture off anyway."""
    import pyspark.errors.utils as errutils

    from mergeextractor_spark.session import apply_session_tuning

    monkeypatch.setattr(errutils, "_enable_debugging_cache", True)
    apply_session_tuning(spark)
    assert errutils.is_debugging_enabled() is False


def test_cpu_default_fits_the_host(monkeypatch):
    """Local cores default to the CPUs this process may run on, and a
    SPARK_GRAFT_CPUS that is not a positive integer warns and falls back
    to that default instead of failing session start."""
    import os

    from mergeextractor_spark.session import _cpus

    host = len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == host

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3

    for bad in ("", "four", "2.5", "0", "-4"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.warns(UserWarning, match="not a positive integer"):
            assert _cpus() == host


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one count per generated class
    that missed the codegen class cache)."""
    jvm = spark._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_lifecycle_pass_reuses_its_generated_classes(spark, deals_df, filings_df):
    """The session's codegen class cache holds a lifecycle pass's working
    set (~150 classes here, more than Spark's default of 100 entries), so
    a second identical pass compiles nothing new."""
    from mergeextractor_spark.plans.filing_pipeline import (
        crawler_audit,
        identifier_pipeline,
        separator_pipeline,
    )

    def one_pass():
        crawler_audit(deals_df, filings_df).collect()
        identifier_pipeline(separator_pipeline(filings_df)).collect()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before <= 5


def test_separator_leaves_no_cached_relation(spark, filings_df):
    """Repeated separator runs in one long-lived session pin nothing in
    the SQL CacheManager: its fused chunk+cascade output is a lineage cut
    the ContextCleaner frees, not a cache nobody unpersists."""
    from mergeextractor_spark.plans.filing_pipeline import separator_pipeline

    spark.catalog.clearCache()
    for _ in range(3):
        assert separator_pipeline(filings_df).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pretouch_heap_fits_half_of_ram(tmp_path):
    """tools/bench_scaling.py pre-touches at most half of MemTotal, warns
    when it caps, and keeps the request on a host that fits it."""
    import warnings

    from tools.bench_scaling import pretouch_heap_gb

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:         1000000 kB\n")
    with pytest.warns(UserWarning, match="pre-touching 7 GiB"):
        assert pretouch_heap_gb(str(meminfo)) == 7

    meminfo.write_text("MemTotal:       131072000 kB\n")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert pretouch_heap_gb(str(meminfo)) == 16
        assert pretouch_heap_gb(str(tmp_path / "absent")) == 16


def test_bench_scaling_derives_only_the_tables_its_keys_read(spark, tmp_path, monkeypatch):
    """tools/bench_scaling.py derives the sf1 tables its keys' oracle SQL
    names, leaves a complete copy alone, and stops when a table it needs
    did not land."""
    import os

    import tools.bench_scaling as bs

    monkeypatch.setattr(bs, "SCRATCH", str(tmp_path))
    assert bs.tables_read(["agg_user_growth_curve", "olap_pricing_summary"]) == {
        "events",
        "lineitem",
    }
    src = "/root/testdata/sf0.001"
    bs.materialize(spark, src, {"nation", "region"}, rebuild=False)
    assert sorted(os.listdir(tmp_path)) == ["nation.parquet", "region.parquet"]
    done = tmp_path / "nation.parquet" / "_SUCCESS"
    before = done.stat().st_mtime_ns
    bs.materialize(spark, src, {"nation"}, rebuild=False)
    assert done.stat().st_mtime_ns == before
    monkeypatch.setattr(bs, "_built", lambda name: False)
    with pytest.raises(SystemExit, match="missing"):
        bs.materialize(spark, src, {"region"}, rebuild=False)
