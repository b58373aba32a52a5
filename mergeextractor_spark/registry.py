"""Query registry feeding ``__spark_entry__.py``.

Each operator from SURVEY.md §2 registers:
  key     — the stable slug (SURVEY §2 `key` column)
  spark   — Callable[(SparkSession, sf_dir) -> DataFrame]
  oracle  — equivalent DuckDB ANSI SQL over the pre-registered views
            (region nation customer supplier part orders lineitem events
            documents embeddings).

Parity rules (driver compares row-count + schema + order-insensitive
value hash, columns sorted by name):
  * alias every computed column identically on both sides;
  * round floating-point outputs to 4 decimals on both sides;
  * emit dates/timestamps as formatted strings on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    key: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""
    # True when merely CONSTRUCTING the DataFrame performs work (iterative
    # driver loops, warehouse/sink writes).  Declared at registration so
    # surfaces that must stay lazy (temp-view registration) can skip these
    # instead of maintaining a hand-list that drifts (VERDICT r4 item 4).
    eager: bool = False


REGISTRY: dict[str, Query] = {}


def register(key: str, oracle: str, doc: str = "", eager: bool = False):
    """Decorator: register a (spark_fn, oracle_sql) pair under ``key``.

    Every key carries a doc (``doc=`` or the function's docstring): the
    registry is the key inventory that ``python -m mergeextractor_spark
    list`` prints."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if key in REGISTRY:
            raise KeyError(f"duplicate query key {key!r}")
        text = doc or fn.__doc__ or ""
        if not text.strip():
            raise ValueError(f"query key {key!r} has neither doc nor a docstring")
        REGISTRY[key] = Query(key=key, spark=fn, oracle=oracle, doc=text, eager=eager)
        return fn

    return wrap


def load_all() -> dict[str, Query]:
    """Import every module that registers queries (idempotent) and return
    the registry in registration order."""
    from .operators import (  # noqa: F401
        relational,
        scalar_queries,
        text_queries,
        vector_queries,
        dedup,
        streaming_queries,
        domain_queries,
        mlops_queries,
        parity_queries,
        scale_queries,
        olap_queries,
        multimodal,
        curation_queries,
        corpus_queries,
        graph_queries,
    )
    from .plans import (  # noqa: F401
        extract_pipeline,
        curation_pipeline,
        pretrain_pipeline,
        incremental_pipeline,
        bpe_pipeline,
        classifier_pipeline,
    )

    return REGISTRY
