"""The bench method shared by bench.py and the tools, tested without Spark.

``bench.run_query`` is driven with stub sessions and stub queries, so
the stopwatch rule, the per-rep job descriptions and the query-cache
release are checked without a JVM.  The tools import the method from
bench.py, so each one is imported here too (in a fresh interpreter,
checking that no JVM starts), and ``tools/close_round.sh`` is parsed,
so a moved import cannot break a round-close leg silently.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from ex9_big_data_gal_drimer_spark import catalog  # noqa: E402
from ex9_big_data_gal_drimer_spark.plans.registry import (  # noqa: E402
    ITERATIVE_CONSTRUCTION,
)

SLEEP_S = 0.05
ORDINARY = "hotels_q1"
ITERATIVE = sorted(ITERATIVE_CONSTRUCTION)[0]


class _Cache:
    """Stands in for a DataFrame registered through query_persist."""

    def __init__(self, log):
        self.log = log

    def persist(self):
        return self

    def unpersist(self):
        self.log.append(("unpersist", self))
        return self


class _Result:
    def toArrow(self):
        return self

    def to_pandas(self):
        return None


class _Context:
    def __init__(self, log):
        self.log = log

    def setJobDescription(self, value):
        self.log.append(("desc", value))


class _Spark:
    def __init__(self, log):
        self.sparkContext = _Context(log)


@pytest.fixture
def run(monkeypatch):
    """Run a stub query through bench.run_query; returns (runs, log)."""
    monkeypatch.setattr(catalog, "_QUERY_CACHES", [])

    def _run(name, repeats=3):
        log = []

        def fn(spark, sf_dir):
            time.sleep(SLEEP_S)  # plan construction
            cache = _Cache(log)
            catalog.query_persist(cache)
            log.append(("build", cache))
            return _Result()

        return bench.run_query(_Spark(log), name, fn, "sf", repeats), log

    return _run


def test_ordinary_query_times_fetch_only(run):
    assert ORDINARY not in ITERATIVE_CONSTRUCTION
    runs, _ = run(ORDINARY)
    assert len(runs) == 3
    for construct_s, timed_s in runs:
        assert construct_s >= SLEEP_S
        assert timed_s < SLEEP_S


def test_iterative_query_times_construction(run):
    runs, _ = run(ITERATIVE)
    assert len(runs) == 3
    for construct_s, timed_s in runs:
        assert construct_s >= SLEEP_S
        assert timed_s >= construct_s


def test_caches_released_before_each_rep_and_after_last(run):
    _, log = run(ORDINARY)
    built, released = [], set()
    for event, obj in log:
        if event == "build":
            # The warmup's and every earlier rep's caches are gone
            # before this rep builds its plan.
            assert all(id(c) in released for c in built)
            built.append(obj)
        elif event == "unpersist":
            released.add(id(obj))
    assert len(built) == 4  # warmup + 3 timed reps
    assert all(id(c) in released for c in built)
    assert catalog._QUERY_CACHES == []


def test_each_timed_rep_tags_its_jobs(run):
    _, log = run(ORDINARY)
    descs = [value for event, value in log if event == "desc"]
    assert descs == [f"{ORDINARY}#0", f"{ORDINARY}#1", f"{ORDINARY}#2", None]
    # The warmup runs untagged; each timed build runs under its own tag.
    current, tagged = None, []
    for event, value in log:
        if event == "desc":
            current = value
        elif event == "build":
            tagged.append(current)
    assert tagged == [None, f"{ORDINARY}#0", f"{ORDINARY}#1", f"{ORDINARY}#2"]


_IMPORT_TOOLS = """
import glob, importlib.util, os
from pyspark import SparkContext
paths = sorted(glob.glob("tools/*.py"))
for path in paths:
    name = os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None)), f"{path} has no main()"
assert SparkContext._gateway is None, "importing a tool started a JVM"
assert "SPARK_DRIVER_MEMORY" not in os.environ, "importing set the heap"
print(len(paths))
"""


def test_tools_import_without_jvm_and_have_main():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_DRIVER_MEMORY"}
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORT_TOOLS],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert int(proc.stdout.split()[-1]) >= 8


def test_close_round_script_parses():
    proc = subprocess.run(
        ["bash", "-n", os.path.join(ROOT, "tools", "close_round.sh")],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr


@pytest.mark.parametrize(
    "args",
    [
        ["shuffle_audit.py"],
        ["shuffle_audit.py", "sf_dir"],
        ["dump_plans.py", "hotels_q1"],
    ],
)
def test_shuffle_audit_requires_both_paths(args):
    """Tools that write files take their output path explicitly: with
    it missing they exit 2 with a usage line (shuffle_audit.py needs
    SF_DIR and OUT_JSON, dump_plans.py needs --out)."""
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", args[0]), *args[1:]],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert proc.stderr.startswith("usage:")
