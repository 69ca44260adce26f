"""The three kinds of derived state owned by catalog.py.

Durable stores rebuild when an input file changes and leave nothing
behind when a build fails; session memos are dropped with the caches
they point at; and no module outside catalog.py (and the query
registries) grows its own module-level memo container.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pytest

from ex9_big_data_gal_drimer_spark import catalog
from ex9_big_data_gal_drimer_spark.catalog import durable_store

from conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / "ex9_big_data_gal_drimer_spark"


@pytest.fixture
def store_root(tmp_path, monkeypatch):
    root = tmp_path / "stores"
    monkeypatch.setattr(catalog, "STORE_ROOT", str(root))
    return root


@pytest.fixture
def inputs(tmp_path):
    d = tmp_path / "sf_in"
    d.mkdir()
    (d / "a.parquet").write_text("v1")
    (d / "b.parquet").write_text("other")
    return d


def _counting_build(calls):
    def build(path):
        calls.append(path)
        with open(os.path.join(path, "out.txt"), "w") as fh:
            fh.write(f"build {len(calls)}")

    return build


def test_durable_store_builds_once_per_input(store_root, inputs):
    calls = []
    build = _counting_build(calls)
    first = durable_store(str(inputs), "unit", build)
    second = durable_store(str(inputs), "unit", build)
    assert first == second and len(calls) == 1
    assert open(os.path.join(first, "out.txt")).read() == "build 1"
    # a different name is a different store
    durable_store(str(inputs), "unit2", build)
    assert len(calls) == 2


def test_durable_store_rebuilds_on_same_size_rewrite(store_root, inputs):
    calls = []
    build = _counting_build(calls)
    old = durable_store(str(inputs), "unit", build)
    f = inputs / "a.parquet"
    st = f.stat()
    f.write_text("v2")  # same size, new content
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert f.stat().st_size == st.st_size
    new = durable_store(str(inputs), "unit", build)
    assert new != old and len(calls) == 2
    assert open(os.path.join(new, "out.txt")).read() == "build 2"
    assert not os.path.exists(old), "the old fingerprint's store must be removed"
    assert os.listdir(os.path.dirname(new)) == [os.path.basename(new)]


def test_failed_build_leaves_no_store(store_root, inputs):
    def broken(path):
        with open(os.path.join(path, "partial.txt"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        durable_store(str(inputs), "unit", broken)
    home = next(store_root.glob("unit/*"))
    assert list(home.iterdir()) == [], "a failed build must leave nothing behind"
    calls = []
    path = durable_store(str(inputs), "unit", _counting_build(calls))
    assert len(calls) == 1 and os.path.exists(os.path.join(path, "out.txt"))


def test_incremental_agg_rebuilds_after_input_rewrite(spark, tmp_path, store_root):
    """The settled-slice state table is keyed by the input files, so a
    rewritten orders.parquet (pre-split prices doubled) must not be
    served from the state built over the old file."""
    import duckdb

    from ex9_big_data_gal_drimer_spark.plans import ORACLES, QUERIES
    from ex9_big_data_gal_drimer_spark.plans.queries_incremental import _SPLIT

    sf = tmp_path / "sf_copy"
    shutil.copytree(SF_DIR, sf)
    for f in sf.iterdir():
        f.chmod(0o644)
    name = "incremental_agg_maintenance"

    def spark_rows():
        return [tuple(r) for r in QUERIES[name](spark, str(sf)).collect()]

    def oracle_rows():
        con = duckdb.connect()
        for t in ("orders", "customer", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        rows = con.execute(ORACLES[name]).fetchall()
        con.close()
        return rows

    def assert_equal(got, want):
        assert [r[:2] for r in got] == [r[:2] for r in want]
        assert [r[3] for r in got] == [r[3] for r in want]
        assert [r[2] for r in got] == pytest.approx([r[2] for r in want], abs=1e-6)

    before = oracle_rows()
    assert_equal(spark_rows(), before)

    orders = sf / "orders.parquet"
    rewritten = tmp_path / "orders_new.parquet"
    duckdb.execute(
        f"""COPY (SELECT * REPLACE (
                CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT}'
                     THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice)
              FROM '{orders}') TO '{rewritten}' (FORMAT PARQUET)"""
    )
    os.replace(rewritten, orders)
    after = oracle_rows()
    assert after != before, "the rewrite must change the settled slice"
    assert_equal(spark_rows(), after)


def test_release_caches_drops_the_hotels_memo(spark):
    """A session memo must not outlive the cache it names: after
    release_caches, the hotels queries read a cached fixture parse
    again instead of re-parsing the multiLine CSV."""
    from ex9_big_data_gal_drimer_spark.catalog import release_caches
    from ex9_big_data_gal_drimer_spark.plans import QUERIES

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "InMemoryRelation" in optimized(QUERIES["hotels_q1"](spark, SF_DIR))
    release_caches(spark)
    assert "InMemoryRelation" in optimized(QUERIES["hotels_q1"](spark, SF_DIR))


#: Modules allowed module-level mutable containers: the state owner and
#: the query registries.
_ALLOWED = {"catalog.py", os.path.join("plans", "registry.py")}


def _empty_container(node):
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not (getattr(node, "keys", None) or getattr(node, "elts", None))
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in {"dict", "list", "set"}
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo_containers_outside_catalog():
    """Per-module memos each invent a key and a lifetime; derived state
    goes through catalog.session_memo / query_persist / durable_store."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel in _ALLOWED:
            continue
        for node in ast.parse(path.read_text()).body:
            value = getattr(node, "value", None)
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and value is not None:
                if _empty_container(value):
                    found.append(f"{rel}:{node.lineno}")
    assert found == [], f"module-level memo containers: {found}"
