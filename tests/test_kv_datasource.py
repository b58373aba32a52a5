"""Python DataSource writer protocol: roundtrip equality, atomic
commit manifest, abort cleanliness, and retry idempotence."""

import json
import os

import pytest

from mergeextractor_spark.operators._util import t
from mergeextractor_spark.sources.kv_datasource import register_kv_sink

SF = "/root/testdata/sf0.001"


def _write(spark, path, fail_partition=-1):
    register_kv_sink(spark)
    os.makedirs(path, exist_ok=True)
    w = (
        t(spark, SF, "documents")
        .select("doc_id", "source", "n_chars")
        .repartition(4, "doc_id")
        .write.format("kv_json_sink")
        .option("path", path)
    )
    if fail_partition >= 0:
        w = w.option("fail_partition", str(fail_partition))
    w.mode("append").save()


def test_commit_publishes_manifest_and_all_rows(spark, tmp_path):
    path = str(tmp_path / "store")
    _write(spark, path)
    manifest = json.load(open(os.path.join(path, "_SUCCESS")))
    files = [f["file"] for f in manifest["files"]]
    assert len(files) == 4
    assert sum(f["rows"] for f in manifest["files"]) == 500  # sf0.001 docs
    back = spark.read.json([os.path.join(path, f) for f in files])
    src = t(spark, SF, "documents").select("doc_id", "source", "n_chars")
    assert {tuple(r) for r in back.select("doc_id", "source", "n_chars").collect()} == {
        tuple(r) for r in src.collect()
    }
    # staging fully cleaned after publish
    assert not os.path.exists(os.path.join(path, "_staging"))


def test_abort_leaves_target_untouched(spark, tmp_path):
    path = str(tmp_path / "store")
    with pytest.raises(Exception):
        _write(spark, path, fail_partition=2)
    # no manifest, no staged leftovers, no published parts
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "_staging"))
    assert not [f for f in os.listdir(path) if f.startswith("part-")]


def test_rewrite_is_idempotent_per_partition(spark, tmp_path):
    # a second write of the same data overwrites the same four files —
    # the task-retry model — so the store never accumulates duplicates
    path = str(tmp_path / "store")
    _write(spark, path)
    _write(spark, path)
    manifest = json.load(open(os.path.join(path, "_SUCCESS")))
    files = [f["file"] for f in manifest["files"]]
    assert len(files) == 4
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 4
    back = spark.read.json([os.path.join(path, f) for f in files])
    assert back.count() == 500


def _stage(path, batch):
    """Write ``batch`` ({partition id: rows}) the way ``write`` stages it."""
    from mergeextractor_spark.sources.kv_datasource import KvCommit

    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    messages = []
    for pid, rows in batch.items():
        name = f"part-{pid:05d}.jsonl"
        with open(os.path.join(staging, name), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        messages.append(KvCommit(name, len(rows)))
    return messages


def _tree(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, path)] = open(p, "rb").read()
    return out


_OLD = {pid: [{"k": pid * 10 + i, "v": "old"} for i in range(3)] for pid in range(3)}
_NEW = {pid: [{"k": pid * 10 + i, "v": "new"} for i in range(2 + pid)] for pid in range(3)}


@pytest.mark.parametrize("fault", ["move-0", "move-1", "move-2", "manifest"])
def test_commit_fault_then_rerun_matches_clean_commit(tmp_path, monkeypatch, fault):
    """A commit that fails at any step leaves the previous manifest whole,
    and re-running the write lands exactly what a clean commit lands."""
    from mergeextractor_spark.sources.kv_datasource import KvJsonWriter

    def commit(path, batch):
        KvJsonWriter({"path": path}, overwrite=False).commit(_stage(path, batch))

    clean = str(tmp_path / "clean")
    commit(clean, _OLD)
    commit(clean, _NEW)

    path = str(tmp_path / "faulted")
    commit(path, _OLD)
    old_manifest = json.load(open(os.path.join(path, "_SUCCESS")))
    with monkeypatch.context() as m:
        if fault == "manifest":
            def dump(obj, f):  # a fault part way through the manifest
                f.write(json.dumps(obj)[:10])
                raise OSError("injected fault in the manifest write")

            m.setattr(json, "dump", dump)
        else:
            real, calls, at = os.replace, [], int(fault.split("-")[1])

            def replace(src, dst):
                calls.append(src)
                if len(calls) == at + 1:
                    raise OSError(f"injected fault at move {at}")
                real(src, dst)

            m.setattr(os, "replace", replace)
        with pytest.raises(OSError, match="injected"):
            commit(path, _NEW)
    assert json.load(open(os.path.join(path, "_SUCCESS"))) == old_manifest

    commit(path, _NEW)  # the re-run re-stages every partition, then commits
    assert _tree(path) == _tree(clean)
