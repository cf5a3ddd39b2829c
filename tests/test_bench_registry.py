"""Structural checks: bench.builders is the one bench query registry
(bench.py times it and bench_extra.py times, noop-sinks and plan-dumps the
same leaves), and session.materialize is the one eager checkpoint."""

import ast
import glob
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_registry_is_the_only_one_and_analyses(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip("driver testdata not present")
    sys.path.insert(0, ROOT)
    import bench
    import bench_extra

    bs = bench.builders(spark, sf_dir, 2000)
    # leaf names and order are bench.py's JSON `queries` keys, unchanged
    # since the recorded rounds
    with open(os.path.join(ROOT, "BENCH_r06.json")) as f:
        assert list(bs) == list(json.load(f)["parsed"]["queries"])
    assert not hasattr(bench_extra, "builders")
    # every leaf builds and analyses (schema only, nothing executed)
    for name, build in bs.items():
        assert build().schema.fields, name


def test_local_checkpoint_is_called_only_inside_materialize():
    """Every eager checkpoint in the package goes through
    ``session.materialize``: no other code names ``localCheckpoint``."""
    calls = []
    for path in sorted(glob.glob(os.path.join(ROOT, "seraster_spark", "*.py"))):
        tree = ast.parse(open(path).read(), path)
        owner = {}  # node -> its outermost enclosing function (walk is BFS)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        calls += [
            (os.path.basename(path), owner.get(node))
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint"
        ]
    assert set(calls) == {("session.py", "materialize")}, calls
