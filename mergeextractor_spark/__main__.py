"""CLI runner: execute any registered operator against a fixture dir.

    python -m mergeextractor_spark list
    python -m mergeextractor_spark run <key> [--sf DIR] [--limit N] [--explain]
    python -m mergeextractor_spark views [--sf DIR]   # register mx_<key> temp views + SQL shell hint
    python -m mergeextractor_spark profile <key> [--sf DIR] [--min-ms N]   # hot plan nodes

`run` prints the result as JSON lines (driver-side limit applied BEFORE
collect, so a terabyte result never lands on the driver).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser(prog="mergeextractor_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered keys: key, defining module, doc")

    run = sub.add_parser("run", help="run one operator")
    run.add_argument("key")
    run.add_argument("--sf", default="/root/testdata/sf0.01")
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")

    views = sub.add_parser("views", help="register every operator as a temp view (mx_<key>)")
    views.add_argument("--sf", default="/root/testdata/sf0.01")

    prof = sub.add_parser(
        "profile", help="execute one operator and print hot plan nodes (SQLMetrics)"
    )
    prof.add_argument("key")
    prof.add_argument("--sf", default="/root/testdata/sf0.01")
    prof.add_argument("--min-ms", type=float, default=10.0)

    args = ap.parse_args()

    from .registry import load_all

    reg = load_all()

    if args.cmd == "list":
        for key, q in reg.items():
            print(f"{key:28s} {q.spark.__module__:48s} {q.doc.strip().splitlines()[0][:80]}")
        return

    from .session import get_spark

    spark = get_spark("mx-cli")

    if args.cmd == "run":
        if args.key not in reg:
            sys.exit(f"unknown key {args.key!r} — see `python -m mergeextractor_spark list`")
        df = reg[args.key].spark(spark, args.sf)
        if args.explain:
            df.explain("formatted")
            return
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
        return

    if args.cmd == "views":
        n = register_views(spark, args.sf)
        print(f"registered {n} temp views (mx_<key>); e.g. spark.sql('SELECT * FROM mx_text_quality_score')")
        return

    if args.cmd == "profile":
        import os as _os
        import sys as _sys

        _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
        from tools.profile_query import profile

        profile(args.key, args.sf, args.min_ms)
        return


def register_views(spark, sf_dir: str, prefix: str = "mx_") -> int:
    """Expose every pure-query operator as a temp view named
    ``<prefix><key>`` so the surface is queryable from plain spark.sql —
    the migration path for SQL-first users of the reference. Lazy: a view
    only executes when queried, and registration itself performs ZERO
    writes (eager-constructing keys are excluded via their registry flag;
    asserted in tests/test_contract.py)."""
    from .registry import load_all

    n = 0
    for key, q in load_all().items():
        if q.eager:
            continue
        q.spark(spark, sf_dir).createOrReplaceTempView(f"{prefix}{key}")
        n += 1
    return n


if __name__ == "__main__":
    main()
