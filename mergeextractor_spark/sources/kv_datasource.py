"""Spark 4 Python DataSource WRITER: a keyed JSON-lines sink with a
staged-commit protocol (SURVEY §2.1 sink_kv_store surface, write side).

``df.write.format("kv_json_sink").option("path", p).mode("append")``
runs the full DataSourceWriter lifecycle:

- each task writes its partition to ``_staging/part-<pid>.jsonl`` —
  the name is a pure function of the partition id, so a RETRIED task
  overwrites its own file instead of duplicating rows (idempotent
  tasks, the write-side half of exactly-once);
- ``commit(messages)`` publishes atomically: staged files move into
  the target directory and a ``_SUCCESS`` manifest lists exactly the
  committed files — readers that filter on the manifest never observe
  a half-written batch (the write-temp-and-swap discipline
  sources/sinks.py uses for merge_kv_store, expressed through the
  engine-managed commit hook);
- ``abort(messages)`` removes the staging directory, leaving the
  target untouched.

This is the modern Spark answer to the reference's MongoDB insert
sites (Processor.py:288-297 etc.): the cluster manager owns retries
and the source owns atomicity, instead of ad-hoc driver loops.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


class KvCommit(WriterCommitMessage):
    def __init__(self, filename: str, rows: int):
        self.filename = filename
        self.rows = rows


class KvJsonWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite
        self.fail_partition = int(options.get("fail_partition", "-1"))

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid == self.fail_partition:
            raise RuntimeError(f"injected failure in partition {pid}")
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        name = f"part-{pid:05d}.jsonl"
        tmp = os.path.join(staging, name)
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return KvCommit(name, n)

    def commit(self, messages):
        staging = os.path.join(self.path, "_staging")
        committed = []
        for m in messages:
            if m is None:
                continue
            src = os.path.join(staging, m.filename)
            dst = os.path.join(self.path, m.filename)
            os.replace(src, dst)
            committed.append({"file": m.filename, "rows": m.rows})
        # a fault inside json.dump must leave the old manifest whole: write
        # it aside and swap it in. A re-run after a fault at any step lands
        # the same files, since part names are pure functions of the
        # partition id and os.replace overwrites.
        os.makedirs(staging, exist_ok=True)
        tmp = os.path.join(staging, "_SUCCESS")
        with open(tmp, "w") as f:
            json.dump({"files": committed}, f)
        os.replace(tmp, os.path.join(self.path, "_SUCCESS"))
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class KvJsonSinkDataSource(DataSource):
    @classmethod
    def name(cls):
        return "kv_json_sink"

    def writer(self, schema, overwrite: bool):
        return KvJsonWriter(self.options, overwrite)


def register_kv_sink(spark) -> None:
    """Idempotent registration of the sink format on a session."""
    spark.dataSource.register(KvJsonSinkDataSource)
