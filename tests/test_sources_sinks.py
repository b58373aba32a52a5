import os

from pyspark.sql import functions as F

from mergeextractor_spark.sources.sinks import (
    merge_kv_store,
    scan_kv_point,
    sink_csv_ordered,
    sink_fs_dump,
    sink_kv_store,
    update_kv_partition,
    with_bucket,
)


def test_scan_csv_deals(deals_df):
    rows = {r.main_index: r for r in deals_df.collect()}
    assert len(rows) == 6
    assert rows[0].company_a == "Alpha Data Systems Inc"
    assert rows[1].company_a == "CyBear Inc(Andryx Corp)"  # quoted comma-free parens
    assert rows[2].announcement_date == "12/30/2004"


def test_kv_store_roundtrip_and_pruning(spark, filings_df, tmp_path):
    path = str(tmp_path / "kv")
    # spread across buckets by shifting indexes
    df = filings_df.withColumn("main_index", F.col("main_index") + 199)
    sink_kv_store(df, path, mode="overwrite")
    got = scan_kv_point(spark, path, 199 + 5)
    rows = got.collect()
    assert len(rows) == 1 and rows[0].company_a == "Quantisys Materials Inc"
    # partition pruning visible in the plan: only bucket=2 survives
    plan = got.queryExecution if False else got._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_kv_update_partition(spark, filings_df, tmp_path):
    path = str(tmp_path / "kv2")
    sink_kv_store(filings_df, path, mode="overwrite")
    patched = filings_df.filter(F.col("main_index") == 0).withColumn(
        "content", F.lit("patched")
    )
    update_kv_partition(patched, path)
    back = spark.read.parquet(path)
    # bucket 0 replaced wholesale (all six fixtures live in bucket 0),
    # mirroring overwrite-partition semantics
    assert {r.content for r in back.collect()} == {"patched"}


def test_kv_merge_upsert_row_level(spark, filings_df, tmp_path):
    """MERGE semantics on the plain-parquet store: matched row replaced,
    new row inserted, every other row byte-identical — including rows in
    the same bucket as the update (the row-level guarantee
    update_kv_partition cannot give)."""
    path = str(tmp_path / "kv3")
    # spread fixtures over two buckets: 0..5 -> 0,50,100,150,200,250
    base = filings_df.withColumn("main_index", F.col("main_index") * 50)
    sink_kv_store(base, path, mode="overwrite")

    updates = base.filter(F.col("main_index") == 0).withColumn(
        "content", F.lit("patched-row")
    )
    inserts = base.filter(F.col("main_index") == 50).withColumn(
        "main_index", F.lit(77)
    )
    merge_kv_store(spark, updates.unionByName(inserts), path)

    back = {r.main_index: r for r in spark.read.parquet(path).collect()}
    assert set(back) == {0, 50, 100, 150, 200, 250, 77}  # insert landed
    assert back[0].content == "patched-row"  # matched row replaced
    # row 50 shares bucket 0 with the patched row and must be untouched
    assert back[50].content == back[77].content
    assert back[50].content != "patched-row"


def test_kv_merge_creates_store_when_missing(spark, filings_df, tmp_path):
    path = str(tmp_path / "kv4")
    merge_kv_store(spark, filings_df, path)
    assert spark.read.parquet(path).count() == filings_df.count()


def test_csv_ordered_sink(spark, deals_df, tmp_path):
    path = str(tmp_path / "out_csv")
    sink_csv_ordered(deals_df, path)
    back = spark.read.option("header", True).csv(path)
    idx = [int(r.main_index) for r in back.collect()]
    assert idx == sorted(idx)


def test_fs_dump(spark, filings_df, tmp_path):
    path = str(tmp_path / "dump")
    sink_fs_dump(filings_df, path)
    back = spark.read.text(path)
    assert back.filter(F.col("value").startswith("FILE: 0_Alpha Data Systems Inc")).count() == 1


def test_with_bucket_values(filings_df):
    b = with_bucket(filings_df.withColumn("main_index", F.col("main_index") + 250))
    assert {r.bucket for r in b.select("bucket").collect()} == {2}


def test_kv_merge_kill_mid_swap_recovers(spark, filings_df, tmp_path, monkeypatch):
    """A merge killed mid-swap leaves the store recoverable: every bucket
    at its old or new version except one parked aside, and the next merge
    call settles it and converges to the exact merged state."""
    import os
    import shutil

    import pytest

    from mergeextractor_spark import store
    from mergeextractor_spark.sources import sinks

    path = str(tmp_path / "kv5")
    base = filings_df.withColumn("main_index", F.col("main_index") * 50)  # buckets 0,1,2
    sink_kv_store(base, path, mode="overwrite")

    updates = base.filter(F.col("main_index").isin(0, 100, 250)).withColumn(
        "content", F.lit("merged-row")
    )

    def killed(root, staging, rels):
        # the process dies with no rollback: the first bucket's copy has
        # landed but its aside is not yet deleted, the second bucket is
        # parked aside and its copy never moved in
        first, second = (os.path.join(root, r) for r in rels[:2])
        shutil.move(first, store._aside(first))
        shutil.move(os.path.join(staging, rels[0]), first)
        shutil.move(second, store._aside(second))
        raise RuntimeError("simulated death mid-swap")

    monkeypatch.setattr(sinks.store, "swap", killed)
    with pytest.raises(RuntimeError, match="mid-swap"):
        merge_kv_store(spark, updates, path)
    monkeypatch.undo()

    # one bucket is missing from the store but nothing is destroyed: the
    # parked bucket survives in its aside
    asides = list(tmp_path.glob("kv5/.bucket=*.old"))
    assert len(asides) == 2 and all(any(a.iterdir()) for a in asides)

    # kill-and-rerun: the same merge settles the asides, re-applies and
    # commits fully
    merge_kv_store(spark, updates, path)
    back = {r.main_index: r.content for r in spark.read.parquet(path).collect()}
    assert set(back) == {0, 50, 100, 150, 200, 250}
    assert {k for k, v in back.items() if v == "merged-row"} == {0, 100, 250}
    # no aside or staging leftovers
    assert not list(tmp_path.glob("kv5/.*.old"))
    assert not list(tmp_path.glob("kv5__*"))


def test_orc_roundtrip_matches_parquet_source(spark):
    from mergeextractor_spark.operators.parity_queries import scan_orc_roundtrip
    from mergeextractor_spark.operators._util import t
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {(r.source): (r.n_docs, r.n_chars) for r in scan_orc_roundtrip(spark, sf).collect()}
    want = {
        r.source: (r.n_docs, r.n_chars)
        for r in t(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        )
        .collect()
    }
    assert got == want


def test_sink_log_lines_are_byte_exact_to_reference_logs(spark, tmp_path):
    """sink_log must reproduce the reference's logs.txt lines BYTE-exact:
    each case below is a verbatim line from /root/reference/logs.txt,
    regenerated from an audit row with the matching timestamp."""
    from mergeextractor_spark.sources.sinks import sink_log

    cases = [
        # (ts, main_index, a, b, status, expected verbatim logs.txt line)
        (
            "2025-06-14 05:35:46", 0,
            "Prime Response Inc", "Chordiant Software Inc", "accepted",
            "[2025-06-14 05:35:46] [+] Successfully created document for: "
            "Prime Response Inc & Chordiant Software Inc",
        ),
        (
            "2025-06-14 05:37:21", 1,
            "Fritz Cos Inc", "United Parcel Service Inc", "no_relevant_document",
            "[2025-06-14 05:37:21] [-] No relevant document found for index 1: "
            "Fritz Cos Inc & United Parcel Service Inc",
        ),
        (
            "2025-06-14 19:33:46", 238,
            "Gish Biomedical Inc", "CardioTech International Inc", "no_background_section",
            "[2025-06-14 19:33:46] [-] Confirmed no background section found for "
            "index 238: Gish Biomedical Inc & CardioTech International Inc.",
        ),
        (
            "2025-06-14 22:56:17", 2,
            "Commonwealth Telephone Entrp", "Frontier Commun Parent Inc", "no_document",
            "[2025-06-14 22:56:17] [-] No document found for: "
            "Commonwealth Telephone Entrp & Frontier Commun Parent Inc",
        ),
        (
            "2025-06-14 19:11:50", 104,
            "Triton Energy Ltd", "Amerada Hess Corp", "flagged_manual_inspection",
            "[2025-06-14 19:11:50] [x] FLAGGED for Manual Inspection: Failed to "
            "locate a background chunk for index: 104; Companies: "
            "Triton Energy Ltd & Amerada Hess Corp",
        ),
    ]
    for n, (ts, i, a, b, status, want) in enumerate(cases):
        df = spark.createDataFrame(
            [(i, status, a, b)],
            "main_index long, status string, company_a string, company_b string",
        )
        path = str(tmp_path / f"log{n}")
        sink_log(df, path, ts=ts)
        got = [r.value for r in spark.read.text(path).collect()]
        assert got == [want], (got, want)


def test_sink_log_appends_and_counts_per_class(spark, tmp_path):
    from pyspark.sql import functions as F

    from mergeextractor_spark.sources.sinks import sink_log

    df = spark.createDataFrame(
        [
            (1, "accepted", "A Corp", "B Inc"),
            (2, "accepted", "C Corp", "D Inc"),
            (3, "no_document", "E Corp", "F Inc"),
        ],
        "main_index long, status string, company_a string, company_b string",
    )
    path = str(tmp_path / "logs")
    sink_log(df, path)
    sink_log(df.filter("main_index = 3"), path)  # append mode, like Logger
    back = spark.read.text(path)
    counts = {
        r.tag: r.n
        for r in back.select(
            F.regexp_extract("value", r"^\[[0-9: -]+\] (\[.\])", 1).alias("tag")
        )
        .groupBy("tag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"[+]": 2, "[-]": 2}


def test_csv_ordered_sink_evaluates_input_once(spark, tmp_path):
    """The sink runs its upstream plan once: ``orderBy`` samples its input
    for the range partitioner in a job of its own, which ran an upstream
    UDF (the identifier's LLM call, say) twice. The file it writes is the
    same as ``orderBy(...).coalesce(1)`` writes."""
    import glob

    import pandas as pd

    rows = spark.sparkContext.accumulator(0)

    def counted(batches):
        for b in batches:
            rows.add(len(b))
            yield pd.DataFrame(
                {"main_index": (b["id"] * 37) % 200, "name": "deal-" + b["id"].astype(str)}
            )

    df = spark.range(0, 200, numPartitions=4).mapInPandas(
        counted, "main_index long, name string"
    )
    path = str(tmp_path / "once")
    sink_csv_ordered(df, path)
    assert rows.value == 200

    ref = str(tmp_path / "range_sorted")
    df.orderBy("main_index").coalesce(1).write.option("header", True).csv(ref)
    (got,) = glob.glob(os.path.join(path, "part-*.csv"))
    (want,) = glob.glob(os.path.join(ref, "part-*.csv"))
    assert open(got, "rb").read() == open(want, "rb").read()
