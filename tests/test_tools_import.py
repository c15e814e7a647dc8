"""Every tool compiles, and the ones built on shared helpers import.

bench.py, tools/dump_plans.py, tools/scale_ladder.py and tools/oracle.py
import their shared helpers at module level and guard ``main``, so
importing them catches a tool that still names a deleted helper, and
importing them must not start Spark.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import py_compile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "tool.pyc"), doraise=True)


@pytest.mark.parametrize(
    "rel",
    ["bench.py", "tools/dump_plans.py", "tools/scale_ladder.py", "tools/oracle.py"],
)
def test_tool_imports(rel, monkeypatch):
    from pyspark.sql import SparkSession

    def no_session(self):
        raise AssertionError(f"importing {rel} built a SparkSession")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    name = "_imported_" + os.path.basename(rel).removesuffix(".py")
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
