"""Round-14 regression pins.

1. The overflow gate resolves `.cast(NAME)` strings PER FUNCTION
   (round-14 advice): a file-wide flatten let two functions binding the
   same name to different strings mis-resolve across functions.
2. The bounded-memory oracle rewrites that cleared the three round-13
   DuckDB walls stay bounded: the LSH verify arrays are hoisted per-doc
   (never re-hashed per candidate pair) and every kcore peel round is
   MATERIALIZED (never re-inlined multiplicatively).
"""

from __future__ import annotations

import ast

from tests.test_round12_ops import (
    _decimal_bound_names,
    _has_decimal_cast,
    _string_const_names,
)


def test_cast_name_resolution_is_per_function():
    """f() binds _D to a decimal type-string and is promoted; g()
    REBINDS _D to a non-promoting string and must NOT inherit f()'s
    binding (the old last-walked-wins flatten resolved g's cast through
    whichever assignment ast.walk met last — a silent false negative
    for the BIGINT overflow gate)."""
    src = (
        'def f(df):\n'
        '    _D = "decimal(38,0)"\n'
        '    xd = F.col("x").cast(_D)\n'
        '    return df.agg(F.sum(xd * F.col("y").cast(_D)))\n'
        'def g(df):\n'
        '    _D = "string"\n'
        '    xs = F.col("x").cast(_D)\n'
        '    return df.agg(F.sum(xs * F.col("y")))\n'
    )
    tree = ast.parse(src)
    module_map = _string_const_names(tree)
    assert "_D" not in module_map, (
        "module-level map must not absorb function-local bindings"
    )
    fns = {
        n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
    }

    def unpromoted(fn):
        fn_map = {**module_map, **_string_const_names(fn)}
        dec = _decimal_bound_names(fn, fn_map)
        out = []
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sum"
            ):
                continue
            for prod in ast.walk(node.args[0]):
                if isinstance(prod, ast.BinOp) and isinstance(
                    prod.op, ast.Mult
                ):
                    for side in (prod.left, prod.right):
                        if (
                            isinstance(side, ast.Name) and side.id in dec
                        ) or _has_decimal_cast(side, fn_map):
                            break
                    else:
                        out.append(prod)
        return out

    assert not unpromoted(fns["f"]), "f() promotes both operands"
    assert unpromoted(fns["g"]), (
        "g() rebinds _D to a non-promoting string; its product must be "
        "flagged — resolution leaked across functions"
    )


def test_lsh_oracles_hoist_verify_arrays_per_doc():
    """The llm_dedup_near / graph_pagerank oracles must keep the
    round-14 bounded-memory shape: 60-bit verify arrays computed once
    per doc in a MATERIALIZED hv CTE, never via per-pair
    ANY_VALUE(grams) re-hashing (the round-13 sf03 OOM)."""
    from parquet_importer_spark.suite import ORACLES

    for key in ("llm_dedup_near", "graph_pagerank"):
        sql = ORACLES[key]
        assert "hv AS MATERIALIZED" in sql, key
        assert "ANY_VALUE" not in sql, (
            f"{key}: per-pair gram re-hash reintroduced"
        )


def test_kcore_oracle_materializes_every_round():
    """Every kcore peel round's CTEs carry MATERIALIZED: the un-hinted
    chain let DuckDB inline each round's edge set into its three
    consumers, multiplying the upstream lineitem self-join per
    reference path (the round-13 'disk wall' at sf0.1)."""
    from parquet_importer_spark.suite import ORACLES
    from parquet_importer_spark.suite.llm_dedup import _KCORE_ROUNDS

    sql = ORACLES["graph_kcore"]
    for r in range(1, _KCORE_ROUNDS + 1):
        for cte in (f"d{r}", f"k{r}", f"u{r}"):
            assert f"{cte} AS MATERIALIZED" in sql, cte
    for cte in ("co", "e", "u0"):
        assert f"{cte} AS MATERIALIZED" in sql, cte


def test_stream_checkpoint_conf_points_at_scratch(spark):
    """get_spark routes streaming TEMP checkpoints (memory-sink queries
    with uuid queryNames, no explicit location) to a PID-scoped tmpfs
    dir — the r14 state-snapshot fsync fix — unless SPARK_GRAFT_STREAM_CK
    overrides. Explicit per-query checkpointLocation options are
    untouched by this conf."""
    import os

    if not os.path.isdir("/dev/shm") and not os.environ.get(
        "SPARK_GRAFT_STREAM_CK"
    ):
        import pytest

        pytest.skip("no tmpfs and no override on this host")
    ck = spark.conf.get("spark.sql.streaming.checkpointLocation", "")
    expected = os.environ.get("SPARK_GRAFT_STREAM_CK")
    if expected:
        assert ck == expected
    else:
        assert ck.startswith("/dev/shm/pis_stream_ck_")


def test_ngram_digest_oracles_use_60bit_ints():
    """r14 narrower-shuffle contract: llm_contamination_ngram and
    llm_decontam_substring hash grams to 60-bit md5-prefix BIGINTs on
    BOTH sides (the _verify_hash_arr convention) — the oracle SQL must
    carry the identical transform or a collision would diverge."""
    from parquet_importer_spark.suite import ORACLES

    for key in ("llm_contamination_ngram", "llm_decontam_substring"):
        sql = ORACLES[key]
        assert "substr(md5(" in sql and "AS BIGINT" in sql, key
