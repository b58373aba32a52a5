"""Self-check harness: run every registered query on Spark AND its DuckDB
oracle, compare row count + columns + values (floats normalized), report
per-key PASS/FAIL. Mirrors the driver's CORRECTNESS gate so parity bugs
surface before a round ends.

Usage:
    python tools/selfcheck.py [--sf /root/testdata/sf0.01] [--keys k1,k2] [-q]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

from mergeextractor_spark.registry import load_all  # noqa: E402
from mergeextractor_spark.session import get_spark  # noqa: E402
from mergeextractor_spark.sources.fixtures import TABLE_NAMES  # noqa: E402


def norm_cell(v):
    """Normalize a cell to a type-tagged string.

    The driver hashes values after a pandas round-trip, so an int64 74539 and
    a float64 74539.0 hash DIFFERENTLY even though Python's ``==`` treats them
    as equal. Tagging the type keeps this mirror as strict as the driver
    (round-1 lesson: DuckDB HUGEINT -> float64 slipped through an untagged
    compare).
    """
    if isinstance(v, np.ndarray):
        v = v.tolist()
    elif isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{round(v, 4)!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda tup: tuple((x is None, str(x)) for x in tup))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SELF_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--keys", default="")
    ap.add_argument("-q", "--quiet", action="store_true")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare untuned SparkSession (200 shuffle partitions, no "
        "pre-set confs) — the closest mirror of the driver's own session; "
        "queries must self-tune through fixtures.table()",
    )
    args = ap.parse_args()

    reg = load_all()
    keys = [k.strip() for k in args.keys.split(",") if k.strip()] or sorted(reg)

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{args.sf}/{name}.parquet'"
        )

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("selfcheck-vanilla")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
            .getOrCreate()
        )
    else:
        spark = get_spark("selfcheck")
    n_pass = n_fail = 0
    failures = []
    for key in keys:
        q = reg[key]
        t0 = time.time()
        try:
            sdf = q.spark(spark, args.sf)
            scols = sdf.columns
            # Compare through the same pandas bridge the driver uses, so
            # dtype drift (e.g. DuckDB HUGEINT -> float64) surfaces here too.
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception:
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: spark error\n{traceback.format_exc()}")
            continue
        try:
            opdf = con.execute(q.oracle).df()
            ocols = list(opdf.columns)
            orows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        except Exception:
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: duckdb error\n{traceback.format_exc()}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(ocols, orows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            n_fail += 1
            failures.append(key)
            print(f"FAIL {key}: " + "; ".join(problems))
        else:
            n_pass += 1
            if not args.quiet:
                print(f"PASS {key} ({len(srows)} rows) [{time.time()-t0:.1f}s]")

    print(f"\n== {n_pass} pass, {n_fail} fail / {len(keys)} keys")
    if failures:
        print("failing:", ",".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
