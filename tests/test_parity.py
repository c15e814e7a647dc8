"""Oracle-parity for every registered SQL-expressible query (the driver's
correctness gate), run locally at the driver's own scale (sf0.01 via
the ``sf_dir`` fixture; override with PARITY_SF_DIR for a quick
sf0.001 smoke), plus pins on the comparator and its skip rule."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import parquet_importer_spark.suite  # noqa: F401  (populates registry)
from parquet_importer_spark.registry import ORACLES, QUERIES
from tests.parity import QUADRATIC, compare, oracle_skips, run_pair


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duckdb_con, sf_dir, name):
    why = oracle_skips(sf_dir, [name]).get(name)
    if why:
        pytest.skip(why)
    run_pair(spark, duckdb_con, sf_dir, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


_BASE = pd.DataFrame({"k": [1, 2, 3], "s": ["a", None, "c"], "x": [0.5, 1.5, 2.5]})
_LISTS = _BASE.assign(v=[[1, 2]] * 3)


@pytest.mark.parametrize(
    "got, want, error",
    [
        pytest.param(_BASE.iloc[::-1], _BASE, None, id="row_order"),
        pytest.param(
            _BASE.assign(s=["a", "None", "c"]), _BASE, "value mismatch", id="null_vs_None_string"
        ),
        pytest.param(
            _BASE.assign(s=pd.Series(["a", math.nan, "c"], dtype=object)),
            _BASE,
            "value mismatch",
            id="null_vs_nan_object",
        ),
        pytest.param(
            _BASE.rename(columns={"x": "y"}), _BASE, "column mismatch", id="column_name"
        ),
        pytest.param(_BASE.iloc[:2], _BASE, "row count mismatch", id="row_count"),
        # equal as lists, but the driver hashes str(ndarray) as '[1 2]'
        pytest.param(
            _LISTS.assign(v=[np.array([1, 2])] * 3),
            _LISTS,
            "driver hash mismatch",
            id="ndarray_vs_list",
        ),
    ],
)
def test_compare_rule(got, want, error):
    if error is None:
        compare(got, want, "pin")
    else:
        with pytest.raises(AssertionError, match=f"pin: {error}"):
            compare(got, want, "pin")


_ONE_QUADRATIC = sorted(QUADRATIC)[0]
_KEYS = ["scan_rowgroup_stats", _ONE_QUADRATIC, "agg_stats"]


@pytest.mark.parametrize("named", [False, True], ids=["all_keys", "named_keys"])
@pytest.mark.parametrize(
    "sf_dir, skipped, skipped_if_named",
    [
        ("/data/sf0.01", set(), set()),
        ("/x/sf0.015", {"scan_rowgroup_stats"}, {"scan_rowgroup_stats"}),
        ("sf0.01", set(), set()),
        ("/data/sf0.1", {"scan_rowgroup_stats"}, {"scan_rowgroup_stats"}),
        (".scale/sf1/", {"scan_rowgroup_stats", _ONE_QUADRATIC}, {"scan_rowgroup_stats"}),
        (".scale/sf03", {"scan_rowgroup_stats"}, {"scan_rowgroup_stats"}),
    ],
)
def test_oracle_skips(sf_dir, skipped, skipped_if_named, named):
    want = skipped_if_named if named else skipped
    assert set(oracle_skips(sf_dir, _KEYS, named=named)) == want
