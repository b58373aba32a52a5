"""Sinks (SURVEY §2.1): ordered CSV append, bucketed keyed store, per-row
file dump.

The reference's MongoDB store shards collections by ``main_index // 100``
(DatabaseHandler.py:24-34, hard-coded at 5 more call sites); here that is
a single partition column and Catalyst prunes it (O3). The "update" site
(patchabbrev.py:224-229) becomes dynamic partition overwrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store

BUCKET_SIZE = 100  # ref DatabaseHandler.py:24-34


def with_bucket(df: DataFrame, key: str = "main_index") -> DataFrame:
    return df.withColumn("bucket", F.floor(F.col(key) / BUCKET_SIZE).cast("long"))


def sink_kv_store(df: DataFrame, path: str, mode: str = "append") -> None:
    """Keyed document store: parquet partitioned by bucket (replaces the
    Mongo batch_{k*100}_{k*100+99} collections; insert sites
    Processor.py:288-297, 375-390, SeperatorHandler.py:80-88)."""
    with_bucket(df).write.mode(mode).partitionBy("bucket").parquet(path)


def scan_kv_point(spark: SparkSession, path: str, main_index: int) -> DataFrame:
    """Point lookup (ref find_one at SeperatorHandler.py:53-64): the bucket
    predicate prunes to one partition directory before the key filter."""
    bucket = main_index // BUCKET_SIZE
    return (
        spark.read.parquet(path)
        .filter((F.col("bucket") == bucket) & (F.col("main_index") == main_index))
    )


def update_kv_partition(df: DataFrame, path: str) -> None:
    """Partition-wholesale update (ref patchabbrev.py:224-229 update_one):
    overwrite only the partitions present in ``df`` (dynamic partition
    overwrite). Correct when the caller rewrites whole buckets; for
    row-level semantics use :func:`merge_kv_store`."""
    (
        with_bucket(df)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def merge_kv_store(
    spark: SparkSession, updates: DataFrame, path: str, key: str = "main_index"
) -> None:
    """Row-level upsert into the bucketed store — MERGE INTO semantics
    (WHEN MATCHED → replace row, WHEN NOT MATCHED → insert) on plain
    parquet, the exact behavior of the reference's Mongo ``update_one(...,
    upsert=True)`` (patchabbrev.py:224-229) without Delta/Iceberg jars.

    Plan: bucket the updates → list affected buckets (metadata-sized
    driver collect, bounded by the partition count, same class as a
    filesystem listing) → read ONLY those partitions (partition pruning) →
    anti-join out the rows being replaced → union the updates → write the
    merged buckets to a sibling staging dir, then ``store.swap`` moves
    each bucket directory in whole. At 100 TB the read and rewrite both
    touch |affected buckets| directories, never the full table; the
    anti-join shuffles on ``key`` within those buckets only.

    Restart safety: executors write only to the staging dir, so a crash
    during the write leaves the store untouched. A swap that raises puts
    every bucket back, so the store reads as it did before the call; the
    buckets a killed process left renamed aside are settled before the
    next merge reads the store (``store.settle``). The merge itself is
    idempotent, so a re-run converges to the merged state.

    ``path`` is a local-filesystem directory. Single-writer assumption:
    without a transaction log there is no concurrent-merge isolation (the
    reference's Mongo had per-document atomicity; a production deployment
    wanting concurrent writers should layer Delta/Iceberg on the same
    plan shape).
    """
    up = with_bucket(updates, key)
    buckets = [r[0] for r in up.select("bucket").distinct().collect()]
    if not buckets:
        return
    up = up.cache()  # read twice (anti-join + union); tiny vs the table
    staging = f"{path.rstrip('/')}__stage"
    try:
        if not os.path.isdir(path):
            # first write: build in staging, one rename publishes the store
            up.write.mode("overwrite").partitionBy("bucket").parquet(staging)
            os.rename(staging, path)
            return
        store.settle(path)
        target = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
        kept = target.join(up.select(key), on=key, how="left_anti")
        kept.unionByName(up).write.mode("overwrite").partitionBy("bucket").parquet(staging)
        store.swap(path, staging, [f"bucket={b}" for b in buckets])
    finally:
        # a raising write or swap must not pin one cached relation per call
        up.unpersist()


def sink_csv_ordered(df: DataFrame, path: str, order_col: str = "main_index") -> None:
    """Ordered CSV sink with header (ref CrawlerHandler.py:21-49 sort at
    139; InitiatorIdentifier.py:26-50 sort at 166). One partition gives the
    reference's single-file layout — callers that don't need one file
    should keep the parallel write. It is a repartition plus a local sort,
    not ``orderBy(...).coalesce(1)``: the range partitioner behind
    ``orderBy`` samples its input in a job of its own, which ran the
    upstream plan (an LLM UDF, say) twice."""
    df.repartition(1).sortWithinPartitions(order_col).write.mode("overwrite").option(
        "header", True
    ).csv(path)


def sink_fs_dump(df: DataFrame, path: str) -> None:
    """Store → one text file per row, directory per bucket (ref
    tools/dumpdata.py:4-38: filename {index}_{A}_&_{B}.txt, body
    'URL: ...\\n\\n{content}'). Expressed as a partitioned text write of
    pre-formatted lines — the scalable form of a per-row file dump."""
    body = F.concat(
        F.lit("FILE: "),
        F.col("main_index").cast("string"),
        F.lit("_"),
        F.col("company_a"),
        F.lit("_&_"),
        F.col("company_b"),
        F.lit(".txt\nURL: "),
        F.col("url"),
        F.lit("\n\n"),
        F.col("content"),
    )
    with_bucket(df).select("bucket", body.alias("value")).write.mode(
        "overwrite"
    ).partitionBy("bucket").text(path)


def sink_log(
    audit: DataFrame, path: str, ts: str = "2025-06-14 05:35:46"
) -> None:
    """Audit rows → the reference's logs.txt line taxonomy, appended as a
    text sink (ref src/utils/Logger.py:12-24: ``[YYYY-MM-DD HH:MM:SS]``
    prefix + message + newline; LOG_FILE_PATH append mode).

    One line per deal, formats byte-exact to the five outcome classes:
      accepted               → Processor.py:299
      no_document            → CrawlerSupport.py:414
      no_relevant_document   → CrawlerSupport.py:435
      no_background_section  → CrawlerSupport.py:445
      flagged_manual_inspection → SeperatorHandler.py:70

    ``ts`` is a fixed timestamp string: the engine is a deterministic
    batch system, so the stamp is an input (a pipeline-run id), not
    wall-clock — re-running a registered query must be byte-stable.
    ``audit`` needs (main_index, status, company_a, company_b)."""
    i = F.col("main_index").cast("string")
    a, b = F.col("company_a"), F.col("company_b")
    pair = F.concat(a, F.lit(" & "), b)
    msg = (
        F.when(
            F.col("status") == "accepted",
            F.concat(F.lit("[+] Successfully created document for: "), pair),
        )
        .when(
            F.col("status") == "no_document",
            F.concat(F.lit("[-] No document found for: "), pair),
        )
        .when(
            F.col("status") == "no_relevant_document",
            F.concat(
                F.lit("[-] No relevant document found for index "), i, F.lit(": "), pair
            ),
        )
        .when(
            F.col("status") == "no_background_section",
            F.concat(
                F.lit("[-] Confirmed no background section found for index "),
                i,
                F.lit(": "),
                pair,
                F.lit("."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(
                    "[x] FLAGGED for Manual Inspection: Failed to locate a "
                    "background chunk for index: "
                ),
                i,
                F.lit("; Companies: "),
                pair,
            )
        )
    )
    line = F.concat(F.lit(f"[{ts}] "), msg)
    audit.select(line.alias("value")).write.mode("append").text(path)
