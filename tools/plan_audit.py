"""Whole-contract plan red-flag audit (r14, detection fixed r15): build
every registered key's DataFrame (skipping eager keys' construction side
effects is not possible — they run; at sf0.001 that is cheap) and scan
its FORMATTED physical plan for the scale red flags the optimization
guide names:

  - BatchEvalPython / ArrowEvalPython duplicated for one UDF (guide §4.4)
  - CartesianProduct / BroadcastNestedLoopJoin (accidental cross joins;
    known-intentional keys are allowlisted with the reason)
  - Exchange SinglePartition (global sort/window/keyless-agg funnels).
    r15 fix for the r14 vacuous regex: in FORMATTED explain output the
    partitioning lives on a separate detail line ("Arguments:
    SinglePartition, ENSURE_REQUIREMENTS, ..."), never on the operator
    line, so the old `Exchange SinglePartition` pattern could not match
    anything.  scan_plan() now attributes each SinglePartition exchange
    block-accurately to its CHILD node: exchanges fed by a reducing
    operator (partial/final aggregate, WindowGroupLimit — one row per
    partition x group crosses) are reported as agg-reduced; any other
    child is a data-sized global funnel and flags UNEXPLAINED unless the
    key carries a pinned reason in ALLOW_SINGLE_PARTITION (consulted,
    ADVICE r14).  A seeded data-sized global window must be flagged —
    pinned in tests/test_plans.py.
  - ObjectHashAggregate (sort-fallback risk class; report count)

Prints one line per flagged key, then the totals, to stdout.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# intentional / result-sized exceptions, each with the reason pinned
ALLOW = {
    "CartesianProduct": {
        # nation x region broadcast cross join, 25 x 5 rows (documented)
        "fuzzy_partial_ratio",
    },
    "BroadcastNestedLoopJoin": {
        "fuzzy_partial_ratio",
    },
}

# SinglePartition exchanges that are RESULT-SIZED by construction but
# whose CHILD is not an aggregate (so the structural rule below cannot
# prove it) — key -> reason.  Consulted by scan_plan (ADVICE r14).
ALLOW_SINGLE_PARTITION: dict[str, str] = {}

# A SinglePartition exchange is result-sized BY CONSTRUCTION when its
# child already reduced the stream: a partial/final aggregate emits one
# row per (partition x group), a WindowGroupLimit / partial TakeOrdered
# emits <= k rows per partition.  Anything else feeding a
# single-partition exchange (raw scan, project, window output) is a
# data-sized global funnel — the real red flag.
_SP_REDUCING_CHILDREN = (
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "WindowGroupLimit", "TakeOrderedAndProject", "LocalTableScan",
)


def scan_plan(key: str, plan: str) -> tuple[list[str], dict[str, int]]:
    """Scan ONE formatted physical plan for the red flags; returns
    (flag strings, per-pattern counts).  Pure text function so the
    detection rules themselves are pytest-pinned (a seeded data-sized
    global window MUST produce a SinglePartition flag — the r14 audit's
    `Exchange SinglePartition` regex could never match formatted mode,
    where the partitioning lives on an `Arguments:` detail line, so its
    '0 SinglePartition' headline was vacuous).

    SinglePartition attribution is block-accurate: detail blocks are
    split per node header, and the exchange's child is node id-1
    (formatted-mode ids are assigned post-order, so a unary node's child
    subtree root is always the previous id).  Exchanges whose child is a
    reducing operator (_SP_REDUCING_CHILDREN) are reported as
    'agg-reduced' (result-sized by construction — one row per partition
    x group crosses); every other child means a data-sized global
    funnel and is flagged UNEXPLAINED unless the key carries a pinned
    reason in ALLOW_SINGLE_PARTITION."""
    row: list[str] = []
    counts = {k: 0 for k in (
        "BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
        "BroadcastNestedLoopJoin", "SinglePartition", "ObjectHashAggregate",
        "SinglePartitionUnexplained",
    )}
    for pat in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        n = len(re.findall(rf"\b{pat}\b", plan))
        if n:
            counts[pat] += n
            if key not in ALLOW.get(pat, set()):
                row.append(f"{pat} x{n}")
    for pat in ("BatchEvalPython", "ArrowEvalPython"):
        n = len(re.findall(rf"\b{pat}\b", plan))
        counts[pat] += n
        # duplicated evaluation of the SAME udf = the §4.4 trap
        udfs = re.findall(rf"{pat} \[([a-zA-Z0-9_]+)\(", plan)
        dups = {u for u in udfs if udfs.count(u) > 1}
        if dups:
            row.append(f"{pat} duplicated: {sorted(dups)}")
    # block-accurate SinglePartition attribution (formatted mode), plus
    # the simple-mode inline form for robustness
    node_name: dict[int, str] = {}
    sp_ids: list[int] = []
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        m = re.match(r"\((\d+)\) (\S+)", block)
        if not m:
            continue
        nid = int(m.group(1))
        node_name[nid] = m.group(2)
        if "Exchange" in m.group(2) and "Arguments: SinglePartition" in block:
            sp_ids.append(nid)
    n_simple = len(re.findall(r"Exchange SinglePartition", plan))
    counts["SinglePartition"] += len(sp_ids) + n_simple
    benign, hot = [], []
    for nid in sp_ids:
        child = node_name.get(nid - 1, "?")
        if child.split("(")[0] in _SP_REDUCING_CHILDREN:
            benign.append((nid, child))
        else:
            hot.append((nid, child))
    if n_simple:
        hot.append((-1, "simple-mode"))
    if benign:
        row.append(
            f"SinglePartition x{len(benign)} (agg-reduced: "
            f"{sorted({c for _, c in benign})})"
        )
    if hot:
        if key in ALLOW_SINGLE_PARTITION:
            row.append(
                f"SinglePartition x{len(hot)} (allowed: "
                f"{ALLOW_SINGLE_PARTITION[key]})"
            )
        else:
            counts["SinglePartitionUnexplained"] += len(hot)
            row.append(
                f"SinglePartition x{len(hot)} UNEXPLAINED "
                f"(children: {sorted({c for _, c in hot})})"
            )
    counts["ObjectHashAggregate"] += len(
        re.findall(r"\bObjectHashAggregate\b", plan)
    )
    return row, counts


def main() -> None:
    from mergeextractor_spark.registry import load_all
    from mergeextractor_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    spark = get_spark("plan-audit")
    reg = load_all()
    flags: dict[str, list[str]] = {}
    counts = {k: 0 for k in (
        "BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
        "BroadcastNestedLoopJoin", "SinglePartition", "ObjectHashAggregate",
        "SinglePartitionUnexplained",
    )}
    unexplained_sp: list[str] = []
    for key, q in sorted(reg.items()):
        try:
            df = q.spark(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:
            flags.setdefault(key, []).append(f"EXPLAIN-ERROR {type(e).__name__}")
            continue
        row, c = scan_plan(key, plan)
        for k, v in c.items():
            counts[k] += v
        if row:
            flags[key] = row
            if any("UNEXPLAINED" in r for r in row):
                unexplained_sp.append(key)
    out = [f"== plan red-flag audit over {len(reg)} keys at {args.sf} =="]
    for key in sorted(flags):
        out.append(f"{key}: {'; '.join(flags[key])}")
    out.append(f"== totals: {counts} ==")
    out.append(
        f"== SinglePartition UNEXPLAINED keys: {unexplained_sp or 'none'} =="
    )
    print("\n".join(out))


if __name__ == "__main__":
    main()
