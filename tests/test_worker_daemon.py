"""The Python worker daemon re-reads a zip archive only when it changed.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task, which on Python 3.11/3.12 re-reads every zip on the worker path.
These tests pin the semantics of ``worker_daemon.install()`` without
Spark, inside a real worker, and the daemon's start-up from any cwd."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from mergeextractor_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


def test_install_rereads_an_archive_only_when_it_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "graft_probe.zip")
    _make_zip(archive, {"graft_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("graft_probe_a", "graft_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # teardown puts the original method back
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert importlib.import_module("graft_probe_a").VALUE == "a"

    reads = []
    real_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # without install: every call re-reads

    worker_daemon.install()
    worker_daemon.install()  # idempotent
    importlib.invalidate_caches()  # the first call records the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _make_zip(archive, {"graft_probe_a": "VALUE = 'a'\n", "graft_probe_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("graft_probe_b").VALUE == "b"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    os.remove(archive)
    importlib.invalidate_caches()  # drops the archive without raising
    assert archive not in zipimport._zip_directory_cache


def test_worker_tasks_skip_the_archive_reread(spark):
    """Every task of a session from ``get_spark`` runs pyspark's per-task
    ``invalidate_caches`` without re-reading an archive; pyspark's own
    daemon re-reads pyspark.zip 14-16 times per call."""
    import pandas as pd

    def probe(batches):
        import importlib
        import zipimport

        real, n = zipimport._read_directory, [0]

        def counted(path):
            n[0] += 1
            return real(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [n[0]]})

    rows = spark.range(0, 40, numPartitions=4).mapInPandas(probe, "reads long").collect()
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_package_udf_workers_skip_the_archive_reread_in_any_session():
    """A session built without ``spark.python.daemon.module`` (as a
    driver builds its own) keeps pyspark's daemon, whose tasks re-read
    pyspark.zip 14-16 times per ``invalidate_caches()``. Once a worker
    has run a package UDF, its later tasks re-read no archive; the
    driver process keeps the stock import system."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import zipimport

        import pandas as pd
        from pyspark.sql import SparkSession

        from mergeextractor_spark.functions.fuzzy import fuzz_partial_ratio_udf
        from mergeextractor_spark.session import apply_session_tuning

        spark = apply_session_tuning(
            SparkSession.builder.master("local[1]").appName("stock-daemon").getOrCreate()
        )
        assert spark.sparkContext.getConf().get("spark.python.daemon.module") is None
        pairs = spark.createDataFrame([("ab", "abc")], "a string, b string")
        pairs.select(fuzz_partial_ratio_udf("a", "b")).collect()

        def count_reads(batches):
            import os
            import zipimport

            real, reads = zipimport._read_directory, []

            def counted(path):
                reads.append(path)
                return real(path)

            zipimport._read_directory, zipimport.graft_reads = counted, reads
            patched = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
            for _ in batches:
                pass
            yield pd.DataFrame({{"pid": [os.getpid()], "n": [int(patched)]}})

        def reads_since(batches):
            import importlib
            import os
            import zipimport

            importlib.invalidate_caches()
            for _ in batches:
                pass
            yield pd.DataFrame({{"pid": [os.getpid()], "n": [len(zipimport.graft_reads)]}})

        one = spark.range(0, 1, numPartitions=1)
        first = one.mapInPandas(count_reads, "pid long, n long").collect()[0]
        later = one.mapInPandas(reads_since, "pid long, n long").collect()[0]
        print("SAME_WORKER", first.pid == later.pid, "PATCHED", first.n, "READS", later.n)
        print("DRIVER_PATCHED", hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SAME_WORKER True PATCHED 1 READS 0" in out.stdout, out.stdout + out.stderr[-3000:]
    assert "DRIVER_PATCHED False" in out.stdout


def test_python_udf_runs_from_any_cwd(tmp_path):
    """Workers start the daemon by module name, so a driver outside the
    repository with no PYTHONPATH must still run a Python UDF."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F

        from mergeextractor_spark.session import get_spark

        spark = get_spark("daemon-cwd")
        double = F.udf(lambda x: x * 2, "long")
        print("ROWS", [r[0] for r in spark.range(3).select(double("id")).collect()])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [0, 2, 4]" in out.stdout, out.stderr[-3000:]
