"""mergeextractor_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference MergeExtractor pipeline
(BryanL43/MergeExtractor), re-expressed Spark-first.

Layout:
  session.py    — SparkSession factory tuned for local[32] testing / cluster posture
  schemas.py    — declared StructTypes for the reference's implicit data model
  functions/    — scalar/column function battery (strings, dates, vectors, text)
  operators/    — relational + text-analytics + dedup/similarity operators
  sources/      — fixture loaders, headerless CSV deals scan, sinks, rate-limited HTTP
  plans/        — composed end-to-end pipelines (extract / identify)
  streaming/    — Structured Streaming wrappers over the events table
  registry.py   — query registry feeding __spark_entry__ (queries + DuckDB oracles)
"""

import sys

__version__ = "0.1.0"


def _skip_archive_rereads_in_worker() -> None:
    """Install ``worker_daemon``'s archive-stamp patch in a Python worker.

    A Python worker imports this package when it unpickles one of the
    package's UDFs, after pyspark marked the process as a worker, so
    every later task of that worker skips the ``pyspark.zip`` re-read —
    also in a session that starts pyspark's own daemon, whose
    ``spark.python.daemon.module`` only ``get_spark`` can set. The
    driver process is never marked and keeps the stock import system.
    """
    files = sys.modules.get("pyspark.core.files")
    if files is not None and getattr(files.SparkFiles, "_is_running_on_worker", False):
        from .worker_daemon import install

        install()


_skip_archive_rereads_in_worker()
