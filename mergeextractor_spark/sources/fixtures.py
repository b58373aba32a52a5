"""Loaders for the driver-generated synthetic parquet tables.

See /root/repo/TESTDATA.md — tables live at ``{sf_dir}/{name}.parquet``.
Parquet scans get predicate pushdown + column pruning from Catalyst for
free; loaders deliberately do NOT ``persist()`` (an InMemoryTableScan
would hide the pushdown/pruning the plans are designed around, and at
100 TB you cannot cache the fact tables anyway). They DO memoize the
DataFrame handle per (session, sf_dir, table): re-registering the same
scan costs a py4j round-trip + parquet footer read per call, and the
correctness gate calls these loaders hundreds of times.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# session -> {(sf_dir, name) -> DataFrame}. Weak-keyed on the session
# object itself: keying on id(spark) could alias a new session onto a
# dead one's entries after GC reuses the address (ADVICE r2). Entries are
# plain logical plans (no pinned executor memory). NOTE (ADVICE r3): the
# cached DataFrames strongly reference their SparkSession, so the weak key
# can never be collected while its entry lives — entries are pinned for the
# life of the process by design (a handful of logical plans per session).
_DF_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_TUNED: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = weakref.WeakKeyDictionary()


# A TIMESTAMP(NANOS) parquet column surfaced as LongType arrives either as
# raw nanos (legacy nanosAsLong read) or already-converted micros
# (user-supplied long schema, Spark 4.1).  Values above this threshold are
# nanos: 1e17 ns ≈ 1973-03-03, while 1e17 us ≈ year 5138.
_NS_THRESHOLD = 100_000_000_000_000_000


def normalize_ns_or_us_ts(col: str):
    """Long ns-or-us epoch column → microsecond timestamp, exact integer
    arithmetic (matches DuckDB's ns→us truncation).

    Shared by the batch loader and streaming/events.read_events_stream so
    the two can never drift (ADVICE r4).  SUPPORTED RANGE: the per-value
    branch is unambiguous only for timestamps after ~1973-03 (in nanos)
    and before year ~5138 (in micros); pre-epoch/negative values and
    nano timestamps before 1973-03 would silently classify as micros —
    out of scope for event data, by contract."""
    return F.expr(
        f"timestamp_micros(CAST(CASE WHEN {col} > {_NS_THRESHOLD} "
        f"THEN {col} DIV 1000 ELSE {col} END AS LONG))"
    )


# Below this many bytes of parquet in sf_dir, size the shuffle to the
# session's own parallelism: the driver hands queries an untuned session
# (200 shuffle partitions by default), and at fixture scale a 200-task
# shuffle is pure scheduler overhead while FEWER tasks than cores starves
# CPU-bound stages. On a real cluster the data blows past this threshold
# and the session keeps its own sizing; AQE still coalesces either way.
_SMALL_DIR_BYTES = 512 * 1024 * 1024


def _tune_for_dir(spark: SparkSession, sf_dir: str) -> None:
    tuned = _TUNED.setdefault(spark, set())
    if sf_dir in tuned:
        return
    tuned.add(sf_dir)
    try:
        total = sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        return
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # an untuned session collects our results through row-at-a-time
        # toPandas; Arrow batches cut that bridge cost ~10x and the conf
        # is runtime-settable
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        if total < _SMALL_DIR_BYTES:
            cores = max(8, spark.sparkContext.defaultParallelism)
            current = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            if current > cores:
                spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    except Exception:
        pass  # conf may be locked down; queries still run correctly


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}")
    memo = _DF_MEMO.setdefault(spark, {})
    memo_key = (sf_dir, name)
    hit = memo.get(memo_key)
    if hit is not None:
        return hit
    path = os.path.join(sf_dir, f"{name}.parquet")
    # The driver hands queries its own (untuned) session; timestamp↔string
    # and unix-epoch conversions must agree with DuckDB's UTC-naive view,
    # so pin the session timezone at every load (runtime conf, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _tune_for_dir(spark, sf_dir)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects. Read it as raw long nanos (legacy conf, runtime
        # settable) and convert to a microsecond timestamp with exact
        # integer arithmetic — matching DuckDB's ns→us truncation.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", normalize_ns_or_us_ts("ts"))
        memo[memo_key] = df
        return df
    df = spark.read.parquet(path)
    memo[memo_key] = df
    return df
