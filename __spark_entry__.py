"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``mergeextractor_spark/``; queries register
themselves in ``mergeextractor_spark.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from mergeextractor_spark.registry import load_all  # noqa: E402
from mergeextractor_spark.session import apply_session_tuning  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_session_tuning(spark)
    from mergeextractor_spark.plans.extract_pipeline import flagship

    return flagship(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {key: q.spark for key, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin of every registered query."""
    return {key: q.oracle for key, q in load_all().items()}
