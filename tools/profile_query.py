"""Per-query profiler: the Spark-native analogue of the reference's
cProfile harness (ref profiler/profile.py:20-53, which wraps one run and
prints user-code frames above a cumulative-time floor).

Here the unit of attribution is the PHYSICAL PLAN NODE, not the Python
frame — on Spark the JVM does the work, so a cProfile of the driver
process shows only py4j waits. After executing the query once with the
noop sink, every node of the executed plan is printed with its metrics
(rows, time, spill, shuffle bytes), filtered to nodes above a floor —
same "show me where the time went, hide the noise" contract as the
reference tool. The header line also gives the classes the key compiled
(construction and execution) and their compile time, so a cold key shows
its compile cost next to its node times.

Usage:
    python tools/profile_query.py KEY [--sf /root/testdata/sf0.1] [--min-ms 10]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from mergeextractor_spark.registry import load_all  # noqa: E402
from mergeextractor_spark.session import get_spark  # noqa: E402

# internal SQLMetric names (metrics() keys are names like aggTime /
# pipelineTime, not the UI display labels)
_TIME_METRIC = re.compile(r"(?i)time$")
# nano-timing metrics (created via createNanoTimingMetric) — everything
# else time-like is a createTimingMetric in milliseconds
_NANO_METRICS = {"shuffleWriteTime"}


def _ms(metric_name: str, value: int) -> float | None:
    """Normalize a Spark SQLMetric to milliseconds when it is time-like."""
    if not _TIME_METRIC.search(metric_name):
        return None
    if metric_name in _NANO_METRICS:
        return value / 1e6
    return float(value)


def profile(key: str, sf_dir: str, min_ms: float) -> None:
    reg = load_all()
    if key not in reg:
        sys.exit(f"unknown key {key!r}; known: {', '.join(sorted(reg))}")
    spark = get_spark("profile")
    q = reg[key]

    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n0, ns0 = compiles.getCount(), codegen.compileTime()
    df = q.spark(spark, sf_dir)
    # execute through the DataFrame's OWN QueryExecution (a noop write
    # builds a separate one and this plan's metrics would stay empty);
    # toRdd().count() runs every stage JVM-side without shipping rows
    # to Python
    jqe = df._jdf.queryExecution()
    t0 = time.time()
    jqe.toRdd().count()
    wall = time.time() - t0
    n_compiled = compiles.getCount() - n0
    compile_s = (codegen.compileTime() - ns0) / 1e9

    # walk the executed plan (post-AQE final plan) and pull node metrics
    jplan = jqe.executedPlan()

    rows: list[tuple[float, str, str]] = []

    def walk(node, depth: int) -> None:
        cls = node.getClass().getSimpleName()
        # unwrap AQE containers: the adaptive root holds the final plan,
        # and materialized query stages hold their executed subtree
        if "AdaptiveSparkPlan" in cls:
            walk(node.executedPlan(), depth)
            return
        if "QueryStage" in cls:
            walk(node.plan(), depth)
            return
        name = node.nodeName()
        metrics = node.metrics()
        it = metrics.iterator()
        best_time = 0.0
        parts = []
        while it.hasNext():
            kv = it.next()
            mname = kv._1()
            metric = kv._2()
            val = metric.value()
            ms = _ms(mname, val)
            if ms is not None:
                best_time = max(best_time, ms)
            if val:
                parts.append(f"{mname}={val}")
        rows.append((best_time, "  " * depth + name, "; ".join(parts[:4])))
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next(), depth + 1)

    walk(jplan, 0)

    print(
        f"== {key} at {sf_dir}: wall {wall:.3f}s (JVM-side execution, cold plan); "
        f"compiled {n_compiled} classes in {compile_s:.3f}s"
    )
    shown = 0
    for best_time, label, detail in rows:
        if best_time >= min_ms:
            print(f"  [{best_time:9.1f} ms] {label}")
            if detail:
                print(f"               {'':>2}{detail}")
            shown += 1
    hidden = len(rows) - shown
    print(f"== {shown} nodes >= {min_ms} ms shown, {hidden} below the floor")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("key")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--min-ms", type=float, default=10.0)
    args = ap.parse_args()
    profile(args.key, args.sf, args.min_ms)


if __name__ == "__main__":
    main()
