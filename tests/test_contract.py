"""Driver-contract regression guards."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    assert df.count() > 0
    assert df.schema.simpleString().startswith("struct<doc_id:bigint")


def test_every_oracle_key_has_a_query(spark):
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 100
    # every callable takes (spark, sf_dir)
    import inspect

    for fn in qs.values():
        assert len(inspect.signature(fn).parameters) == 2


def test_load_all_returns_registration_order():
    """load_all() hands back the registry as registered: same order, same
    Query objects on every call, and the driver contract's two maps cover
    the same keys."""
    from mergeextractor_spark import registry

    first = registry.load_all()
    assert list(first) == list(registry.REGISTRY)
    second = registry.load_all()
    assert list(second) == list(first)
    assert all(second[k] is q for k, q in first.items())
    mod = _load_entry()
    assert set(mod.queries()) == set(mod.oracle_sql())


def test_sql_view_surface(spark):
    """register_views exposes the pure-query surface as mx_<key> temp
    views for SQL-first users; a view is lazy and queryable."""
    from mergeextractor_spark.__main__ import register_views

    n = register_views(spark, "/root/testdata/sf0.001")
    assert n >= 90
    got = spark.sql(
        "SELECT count(*) AS n FROM mx_text_quality_score WHERE quality > 0"
    ).collect()[0]["n"]
    assert got > 0
    joined = spark.sql(
        """SELECT q.doc_id FROM mx_text_quality_score q
           JOIN mx_sample_hash_split s USING (doc_id) WHERE s.split = 'train'"""
    ).count()
    assert joined > 0


def test_sql_view_results_match_dataframe_surface(spark):
    """VERDICT r3 item 9: the mx_<key> temp-view surface must not drift
    from the registry — round-trip a deterministic 20-key sample through
    spark.sql and compare schema + full sorted row sets against the
    DataFrame results."""
    import random

    from mergeextractor_spark.__main__ import register_views
    from mergeextractor_spark.registry import load_all

    sf = "/root/testdata/sf0.001"
    register_views(spark, sf)
    reg = load_all()
    eligible = sorted(k for k, q in reg.items() if not q.eager)
    sample = random.Random(9).sample(eligible, 20)
    for key in sample:
        via_df = reg[key].spark(spark, sf)
        via_sql = spark.sql(f"SELECT * FROM mx_{key}")
        assert via_sql.schema == via_df.schema, key
        rows_df = sorted(map(tuple, via_df.collect()), key=repr)
        rows_sql = sorted(map(tuple, via_sql.collect()), key=repr)
        assert rows_sql == rows_df, f"SQL view drifted for {key!r}"


def test_profiler_reports_hot_nodes(spark, capsys):
    """tools/profile_query.py walks the executed (post-AQE) plan of the
    query's OWN QueryExecution and surfaces time-like node metrics —
    the Spark analogue of the reference's cProfile harness
    (ref profiler/profile.py:20-53)."""
    import tools.profile_query as pq

    pq.profile("agg_org_topk", "/root/testdata/sf0.001", min_ms=0.0)
    out = capsys.readouterr().out
    assert "wall" in out
    # at least one plan node above the 0ms floor with a metric detail line
    assert "ms]" in out
    assert "nodes >= 0.0 ms shown" in out


def test_profiler_header_reports_compiles(spark, capsys):
    """The profile header says how many classes the key compiled and how
    long the compiles took, so a cold key shows its compile cost."""
    import re

    import tools.profile_query as pq

    pq.profile("agg_org_topk", "/root/testdata/sf0.001", min_ms=1e9)
    header = capsys.readouterr().out.splitlines()[0]
    assert re.search(r"compiled \d+ classes in \d+\.\d{3}s$", header), header


def test_no_registered_output_is_canonicalizer_hostile(spark):
    """The driver canonicalizes results with a pandas sort; array/map/
    struct output columns raise 'unhashable type' there (the r5
    vector_pca_project red, and str_split_identifiers would have
    repeated it in r7).  Every registered key must emit scalar columns
    only.  Eager keys (sinks, iterative loops) are skipped — building
    them performs work — but all of them return scalar status/manifest
    rows by construction."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from mergeextractor_spark.registry import load_all

    offenders = []
    for key, q in load_all().items():
        if q.eager:
            continue
        df = q.spark(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append((key, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def test_list_names_every_key_with_its_module_and_doc():
    """The registry is the key inventory: ``python -m mergeextractor_spark
    list`` prints one line per registered key, in registration order,
    with its defining module and the first line of its doc. Module import
    order in this process depends on which tests ran first, so the order
    is compared within each module."""
    import subprocess
    import sys

    from mergeextractor_spark.registry import load_all

    out = subprocess.run(
        [sys.executable, "-m", "mergeextractor_spark", "list"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    rows = [line.split(None, 2) for line in out.splitlines()]
    reg = load_all()
    keys = [r[0] for r in rows]
    assert sorted(keys) == sorted(reg)
    for row in rows:
        assert len(row) == 3, row
        key, module, doc = row
        assert module == reg[key].spark.__module__, row
        assert doc.strip(), row
    for module in {q.spark.__module__ for q in reg.values()}:
        in_module = [k for k in reg if reg[k].spark.__module__ == module]
        assert [k for k in keys if reg[k].spark.__module__ == module] == in_module


def test_register_rejects_a_key_without_doc():
    """A key without ``doc`` or a docstring has no inventory line, so
    ``register()`` refuses it before touching the registry."""
    import pytest

    from mergeextractor_spark import registry

    before = dict(registry.REGISTRY)

    def undocumented(spark, sf_dir):
        return spark.range(1)

    for doc in ("", "  \n "):
        with pytest.raises(ValueError):
            registry.register("undocumented_key", oracle="SELECT 1", doc=doc)(undocumented)
    assert registry.REGISTRY == before


def test_cited_repo_files_exist():
    """Every repo-root document that code, README or the verify notes cite
    by name exists, so no comment points at a deleted diary."""
    import pathlib
    import re

    root = pathlib.Path(REPO)
    cite = re.compile(
        r"\b([A-Z][A-Z0-9_]*(_r[0-9]+)?|[a-z][a-z0-9_]*_r[0-9]+[a-z0-9_]*)\.(md|json|txt)\b"
    )
    sources = [root / "README.md", *(root / ".claude/skills/verify").glob("*.md")]
    for d in ("mergeextractor_spark", "tools", "tests", "plugins"):
        sources += sorted((root / d).rglob("*.py"))
    missing = sorted(
        {
            f"{src.relative_to(root)}: {m.group(0)}"
            for src in sources
            for m in cite.finditer(src.read_text())
            if not (root / m.group(0)).exists()
        }
    )
    assert not missing, missing


def test_sql_escape_roundtrips_backslashes_and_quotes(spark):
    """ADVICE r14: source names interpolated into SQL literals must
    survive backslashes (Spark parses backslash escapes inside single
    quotes) and single quotes. Round-trip each hostile value through a
    parsed literal and compare to the Python value."""
    from mergeextractor_spark.operators.corpus_queries import _sql_escape

    hostile = ["a\\b", "it's", "both\\'s", "tab\\t", "plain", "\\\\net"]
    for v in hostile:
        got = spark.sql(f"SELECT '{_sql_escape(v)}' AS v").collect()[0].v
        assert got == v, (v, got)


def test_store_decisions_live_in_store_module():
    """Where a derived store lives and when it is reused are decided in
    mergeextractor_spark/store.py alone: no other package module reads
    the warehouse dir or compares mtimes."""
    import pathlib

    import mergeextractor_spark

    pkg = pathlib.Path(mergeextractor_spark.__file__).parent
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != pkg / "store.py"
        and any(s in p.read_text() for s in ("spark.sql.warehouse.dir", "getmtime("))
    )
    assert offenders == []
