"""Bucketed-table co-located joins (SURVEY §4 O3 / the 100 TB join story):
writing both sides bucketed on the join key lets Spark plan the join with
NO shuffle exchange on either side."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # warehouse dir is a static conf — use the session's default (covered
    # by .gitignore when it lands in the repo cwd)
    from mergeextractor_spark.sources.fixtures import table

    sf = "/root/testdata/sf0.001"
    orders = table(spark, sf, "orders")
    lineitem = table(spark, sf, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a previous session may have left orphaned managed-table locations the
    # fresh in-memory catalog doesn't know about
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    return "b_orders", "b_lineitem"


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    bo, bl = bucketed_tables
    # disable broadcast so the join would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(bo).join(
            spark.table(bl), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it still computes the right answer
        n = joined.count()
        from mergeextractor_spark.sources.fixtures import table

        sf = "/root/testdata/sf0.001"
        expect = (
            table(spark, sf, "orders")
            .join(table(spark, sf, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
            .count()
        )
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_tables_recover_from_husk(spark):
    """An interrupted ingest leaves a _SUCCESS-less (or parquet-less) husk
    dir the in-memory catalog has never heard of.  VERDICT r4 item 1: the
    guard must be location-aware — detect the incomplete dir, clear it,
    and rewrite, instead of raising LOCATION_ALREADY_EXISTS forever."""
    import hashlib
    import os
    import shutil

    from mergeextractor_spark.operators import scale_queries

    sf = "/root/testdata/sf0.001"
    # a distinct bucket count isolates this test's table names/locations
    spark.conf.set("spark.mergeextractor.buckets", "4")
    try:
        suffix = hashlib.md5(f"{sf}@4".encode()).hexdigest()[:8]
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for name in (f"bkt_orders_{suffix}", f"bkt_lineitem_{suffix}"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        # plant a husk: dir with _SUCCESS but zero parquet files
        husk = os.path.join(wh, f"bkt_orders_{suffix}")
        os.makedirs(husk)
        open(os.path.join(husk, "_SUCCESS"), "w").close()

        ot, lt = scale_queries.write_bucketed_tables(spark, sf)
        assert ot == f"bkt_orders_{suffix}"
        n = spark.table(ot).count()
        from mergeextractor_spark.sources.fixtures import table

        assert n == table(spark, sf, "orders").count()
        for name in (ot, lt):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
    finally:
        spark.conf.unset("spark.mergeextractor.buckets")


_XSESSION_SCRIPT = """
import sys
sys.path.insert(0, "/root/repo")
from mergeextractor_spark.session import get_spark
from mergeextractor_spark.operators.scale_queries import join_bucketed_colocated
spark = get_spark("xsession-bucketing")
print("ROWS", join_bucketed_colocated(spark, "/root/testdata/sf0.001").count())
spark.stop()
"""


def test_bucketed_tables_survive_session_restart():
    """VERDICT r4 item 1 'done' criterion: write_bucketed_tables must work
    in two consecutive FRESH sessions — the second one finds the catalog
    empty but the warehouse location populated, and must register an
    external table over it (no rewrite, no LOCATION_ALREADY_EXISTS)."""
    import glob
    import hashlib
    import os
    import subprocess
    import sys

    suffix = hashlib.md5(b"/root/testdata/sf0.001@8").hexdigest()[:8]
    loc = os.path.join("/root/repo/spark-warehouse", f"bkt_orders_{suffix}")

    counts, mtimes = [], []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _XSESSION_SCRIPT],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )
        assert out.returncode == 0, (out.stdout + out.stderr)[-3000:]
        counts.append([l for l in out.stdout.splitlines() if l.startswith("ROWS ")][0])
        mtimes.append(
            sorted((f, os.path.getmtime(f)) for f in glob.glob(f"{loc}/*.parquet"))
        )
    assert counts[0] == counts[1]
    # second session reused the first session's files byte-for-byte
    assert mtimes[0] == mtimes[1] and mtimes[0], "restart path rewrote the table"


def test_register_views_performs_zero_writes(spark):
    """VERDICT r4 item 4 'done' criterion: registering the SQL view surface
    is construction-only and must not touch the warehouse — eager keys
    (bucketed ingest, iterative loops) are excluded via their registry
    flag, so a write here means a key forgot to declare eager=True."""
    import os

    from mergeextractor_spark.__main__ import register_views
    from mergeextractor_spark.registry import load_all

    reg = load_all()
    assert reg["dedup_components"].eager and reg["join_bucketed_colocated"].eager

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(wh):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snapshot()
    assert register_views(spark, "/root/testdata/sf0.001") >= 90
    assert snapshot() == before


def test_unbucketed_join_would_shuffle(spark):
    """Control: the same join over plain parquet plans an Exchange."""
    from mergeextractor_spark.sources.fixtures import table

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = table(spark, sf, "orders").join(
            table(spark, sf, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
