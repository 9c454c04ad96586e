"""Contract tests for the measurement harness (`bench.py`,
`tools/harness.py`, `tools/probe.py`), without a full bench run."""

import argparse
import json
import os
import py_compile
import subprocess
import sys

import pytest

from conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
sys.path.insert(0, TOOLS)

import bench  # noqa: E402
import probe  # noqa: E402


def _child_env() -> dict[str, str]:
    # a second JVM next to the suite's: in-memory catalog (Derby admits
    # one process) and a small heap
    return {**os.environ, "SPARK_GRAFT_HIVE": "0", "SPARK_GRAFT_DRIVER_MEM": "1g"}


def test_bench_and_tools_compile():
    paths = [os.path.join(ROOT, "bench.py")]
    paths += [os.path.join(TOOLS, f) for f in sorted(os.listdir(TOOLS)) if f.endswith(".py")]
    for path in paths:
        py_compile.compile(path, doraise=True)


def test_tools_import_without_starting_spark():
    code = (
        "import sys; sys.path.insert(0, 'tools')\n"
        "import harness, probe, opt_stages, bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "print(len(harness.registry.QUERIES))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=_child_env(),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout.split()[-1]) == 399


def test_bench_output_keys_match_committed_bench_full():
    timings = {"a": 1.5, "b": -1.0, "c": 0.25}
    full, compact = bench.build_outputs(timings, [0.3, 0.4], {"a": 0, "b": 0, "c": 1}, "/x/sf0.01")
    assert list(compact) == ["metric", "value", "unit", "queries", "n_queries", "n_errors", "sf"]
    assert compact["value"] == 1.75 and compact["n_errors"] == 1 and compact["sf"] == 0.01
    with open(os.path.join(ROOT, "bench_full.json")) as fh:
        committed = json.load(fh)
    assert set(full) == set(committed)
    assert set(full["sentinel"]) == set(committed["sentinel"])
    # the compact line stays one short line: at most the 10 slowest keys
    many = {f"k{i}": float(i) for i in range(50)}
    assert list(bench.build_outputs(many, [], {}, "sf0.1")[1]["queries"]) == [
        f"k{i}" for i in range(49, 39, -1)
    ]


def test_probe_at_parsing():
    assert probe.parse_at("data/sf0.01:4") == ("data/sf0.01", 4)
    assert probe.parse_at("a:b:8") == ("a:b", 8)
    for bad in ("sf0.01", ":4", "sf0.01:", "sf0.01:x", "sf0.01:0"):
        with pytest.raises(argparse.ArgumentTypeError):
            probe.parse_at(bad)
    for argv in (
        ["--at", "a:4", "--at", "b:8", "q6_forecast_revenue"],  # both differ
        ["--at", "a:4", "--at", "a:4", "q6_forecast_revenue"],  # neither
        ["--at", "a:4", "--at", "b:4", "--at", "c:4", "q6_forecast_revenue"],
        ["--at", "a:4", "no_such_key"],
        ["--at", "a:4"],
    ):
        with pytest.raises(SystemExit):
            probe.main(argv)


def test_probe_ratio_row():
    rec = lambda median: {"key": "k", "median": median}  # noqa: E731
    assert probe.ratio_row([("sf0.1", 4), ("sf1", 4)], rec(2.0), rec(5.0)) == {
        "key": "k", "medians": [2.0, 5.0], "sf_ratio": 2.5
    }
    assert probe.ratio_row([("sf1", 32), ("sf1", 8)], rec(4.0), rec(6.0))["core_ratio"] == 1.5
    # a failed (-1.0) side has no ratio
    assert probe.ratio_row([("sf1", 32), ("sf1", 8)], rec(-1.0), rec(6.0))["core_ratio"] is None
    assert probe.ratio_row([("sf0.1", 4), ("sf1", 4)], rec(2.0), rec(-1.0))["sf_ratio"] is None


def test_time_key_good_and_raising_key(tmp_path):
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); sf = sys.argv[2]\n"
        "import harness\n"
        "def boom(spark, sf_dir):\n"
        "    raise RuntimeError('boom')\n"
        "harness.registry.QUERIES['_raises'] = boom\n"
        "spark = harness.get_spark('harness-test', master='local[2]')\n"
        "out = [harness.time_key(spark, sf, 'q6_forecast_revenue'),\n"
        "       harness.time_key(spark, sf, '_raises'),\n"
        "       spark.sparkContext.getLocalProperty('spark.jobGroup.id')]\n"
        "print(json.dumps(out))\n"
        "spark.stop()\n"
    )
    argv = [sys.executable, "-c", code, TOOLS, os.path.abspath(SF_DIR)]
    out = subprocess.run(
        argv, cwd=tmp_path, env=_child_env(), capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr
    good, bad, group_after = json.loads(out.stdout.strip().splitlines()[-1])
    assert good > 0
    assert bad == -1.0
    assert "BENCH-ERROR _raises: boom" in out.stderr
    assert group_after is None
