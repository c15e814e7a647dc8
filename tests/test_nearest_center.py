"""operators.similarity.nearest_center: the one nearest-center kernel.

The numpy kernel must reproduce the ``functions.vectors`` folds bit for
bit, so it is checked here against a plain-Python sequential fold
(Python floats are IEEE doubles, like the JVM's), then end to end
against the higher-order-function form it replaced.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_importer_spark.functions.vectors import cosine, dist2
from parquet_importer_spark.operators.similarity import (
    _center_scorer,
    kmeans_centroids,
    nearest_center,
)
from tests.conftest import SF_ORACLE, spark  # noqa: F401


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _fold_dist2(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (float(x) - float(y)) * (float(x) - float(y))
    return acc


def _fold_cosine(a, b):
    na, nb = math.sqrt(_fold_dot(a, a)), math.sqrt(_fold_dot(b, b))
    # Spark orders NaN above every number, so NaN > 0 holds there
    ok = (na > 0 or math.isnan(na)) and (nb > 0 or math.isnan(nb))
    return _fold_dot(a, b) / (na * nb) if ok else 0.0


def _reference(vectors, centers, metric, slices=1):
    fold = _fold_cosine if metric == "cosine" else _fold_dist2
    w = len(centers[0]) // slices
    return [
        [
            fold(v[j * w:(j + 1) * w], c[j * w:(j + 1) * w])
            for j in range(slices)
            for c in centers
        ]
        for v in vectors
    ]


def _kernel(vectors, centers, metric, slices=1, vtype=pa.float32()):
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vectors, pa.list_(vtype))], names=["v"]
    )
    out = list(_center_scorer("v", centers, metric, slices)(iter([batch])))
    assert len(out) == 1 and out[0].schema.names == ["v", "_raw"]
    assert repr(out[0].column("v").to_pylist()) == repr(vectors)  # NaN-safe
    return out[0].column("_raw").to_pylist()


def _bits(rows):
    return [[struct.pack("<d", x) for x in r] for r in rows]


def _f32(rows):
    """Values as the JVM sees an array<float>: float32, widened exactly."""
    return [[float(np.float32(x)) for x in r] for r in rows]


_RNG = np.random.default_rng(11)
_VECS = _f32(_RNG.standard_normal((40, 12)).tolist())
_CENTS = _f32(_RNG.standard_normal((5, 12)).tolist())


@pytest.mark.parametrize("metric", ["cosine", "dist2"])
@pytest.mark.parametrize("slices", [1, 3])
def test_kernel_matches_sequential_fold(metric, slices):
    got = _kernel(_VECS, _CENTS, metric, slices)
    assert _bits(got) == _bits(_reference(_VECS, _CENTS, metric, slices))


@pytest.mark.parametrize("metric", ["cosine", "dist2"])
def test_kernel_zero_norm_ties_and_negative_zero(metric):
    vecs = [[0.0, 0.0, 0.0], [-0.0, -0.0, 1.0], [1.0, 2.0, -0.0], [0.5, 0.25, 2.0]]
    cents = [[1.0, 2.0, 0.0], [1.0, 2.0, 0.0], [0.0, 0.0, 0.0], [-0.0, 3.0, -1.5]]
    got = _kernel(vecs, cents, metric, vtype=pa.float64())
    assert _bits(got) == _bits(_reference(vecs, cents, metric))
    if metric == "cosine":
        assert got[0] == [0.0] * 4 and [r[2] for r in got] == [0.0] * 4
    assert all(r[0] == r[1] for r in got)  # identical centers tie exactly


@pytest.mark.parametrize("metric", ["cosine", "dist2"])
def test_kernel_nan_element_follows_the_fold(metric):
    vecs = [[float("nan"), 1.0], [1.0, 2.0]]
    cents = [[1.0, 0.0], [float("nan"), 0.5], [0.0, 0.0]]
    got = _kernel(vecs, cents, metric, vtype=pa.float64())
    want = _reference(vecs, cents, metric)
    assert [[math.isnan(x) for x in r] for r in got] == [
        [math.isnan(x) for x in r] for r in want
    ]
    assert _bits([[x for x in r if not math.isnan(x)] for r in got]) == _bits(
        [[x for x in r if not math.isnan(x)] for r in want]
    )


@pytest.mark.parametrize(
    "vectors, match",
    [
        ([[1.0, None]], "NULL element"),
        ([None, [1.0, 2.0]], "NULL vector"),
        ([[1.0, 2.0, 3.0]], "length"),
    ],
    ids=["null_element", "null_vector", "ragged"],
)
def test_kernel_rejects_what_the_fold_cannot_score(vectors, match):
    with pytest.raises(ValueError, match=match):
        _kernel(vectors, [[1.0, 0.0]], "cosine")


def test_nearest_center_rejects_bad_centers(spark):  # noqa: F811
    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    with pytest.raises(ValueError, match="metric"):
        nearest_center(df, "v", [(0, [1.0, 2.0])], "dot")
    with pytest.raises(ValueError, match="one length"):
        nearest_center(df, "v", [(0, [1.0, 2.0]), (1, [1.0])], "cosine")
    with pytest.raises(ValueError, match="NULL center"):
        nearest_center(df, "v", [(0, [1.0, None])], "cosine")


def _hof_pick(df, cents, metric):
    """The cross join + max_by/min-struct assignment nearest_center
    replaced: (id, cid, rounded score)."""
    cdf = df.sparkSession.createDataFrame(cents, "cid bigint, cvec array<double>")
    fold = cosine if metric == "cosine" else dist2
    d = F.round(fold(F.col("v"), F.col("cvec")), 6)
    best = (
        F.max_by(F.struct("cid", d.alias("s")), F.struct(d, -F.col("cid")))
        if metric == "cosine"
        else F.min(F.struct(d.alias("s"), F.col("cid")))
    )
    rows = df.crossJoin(cdf).groupBy("id").agg(best.alias("b")).collect()
    return {r.id: (r.b.cid, r.b.s) for r in rows}


@pytest.mark.parametrize("metric", ["cosine", "dist2"])
def test_nearest_center_picks_as_the_hof_assignment(spark, metric):  # noqa: F811
    """Rounding and the pick (best score, smallest cid on ties, NaN
    above every number) happen in Spark, so every edge case lands on
    the cross join + max_by answer."""
    vecs = _VECS[:8] + [
        [0.0] * 12,
        [-0.0] * 11 + [1.0],
        [float("nan")] + [1.0] * 11,
        list(_CENTS[2]),
    ]
    cents = [(7, _CENTS[2]), (3, _CENTS[2]), (5, [0.0] * 12)] + [
        (10 + i, c) for i, c in enumerate(_CENTS)
    ]
    df = spark.createDataFrame(list(enumerate(vecs)), "id long, v array<double>")
    got = {
        r.id: (r.cid, r.score)
        for r in nearest_center(df, "v", cents, metric).collect()
    }
    want = _hof_pick(df, cents, metric)
    assert set(got) == set(want)
    for i in got:
        (gc, gs), (wc, ws) = got[i], want[i]
        assert gc == wc and (gs == ws or math.isnan(gs) and math.isnan(ws)), i
    # the last vector IS the center held by cids 3, 7 and 12: a 3-way tie
    assert got[len(vecs) - 1][0] == 3


def test_nearest_center_with_no_centers_keeps_no_rows(spark):  # noqa: F811
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")
    out = nearest_center(df, "v", [], "dist2")
    assert out.collect() == [] and {"cid", "score", "scores"} <= set(out.columns)


def test_nearest_center_plans_one_python_map_and_no_exchange(spark):  # noqa: F811
    df = spark.createDataFrame(list(enumerate(_VECS)), "id long, v array<double>")
    plan = (
        nearest_center(df, "v", list(enumerate(_CENTS)), "cosine")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan and "NestedLoopJoin" not in plan


#: sha256 over (cid, cvec) little-endian of kmeans_centroids(sf0.01
#: embeddings, seed=42), recorded with the cross join + array_min
#: assignment the kernel replaced
_KMEANS_SF001 = {
    8: "575e08d0a04c2706ab0857f39cc16b71e39308be16945a27fb8c0810607f2f4e",
    16: "7937fc1022f2feba124ba93ec3c83db6cbbebc415479b6b5cb1ba7f47a4bf311",
}


@pytest.mark.parametrize("k", sorted(_KMEANS_SF001))
def test_kmeans_centroids_bit_identical_to_recorded(spark, k):  # noqa: F811
    from parquet_importer_spark.io import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    rows = sorted(kmeans_centroids(emb, "embedding", n_centroids=k, seed=42).collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(struct.pack("<q", r.cid))
        h.update(struct.pack(f"<{len(r.cvec)}d", *r.cvec))
    assert len(rows) == k and h.hexdigest() == _KMEANS_SF001[k]
