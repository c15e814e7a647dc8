"""Round-15 optimization-round tests.

Pins for internals the round restructured: graph_pagerank's
single-exchange round (operators/graph.py) must stay bit-identical to
the dedicated-dangling-aggregate form it replaced, including on graphs
that exercise the sentinel seed (no dangling nodes at all).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401


def _reference_pagerank(nodes, edges, n_iter, damping=0.85):
    """The pre-r15 loop, verbatim semantics: dedicated dangling
    aggregate + base-side left join per round. Kept here as the float-
    contract reference for the single-exchange rewrite."""
    n = nodes.count()
    edges = edges.localCheckpoint(eager=True)
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    base = (
        nodes.select(F.col("id").alias("node"))
        .join(out_deg, "node", "left")
        .withColumn("out_deg", F.coalesce(F.col("out_deg"), F.lit(0)))
        .localCheckpoint(eager=True)
    )
    ranks = base.select("node", "out_deg", F.lit(1.0 / n).alias("rank"))
    teleport = (1.0 - damping) / n
    d15 = "decimal(38,15)"
    for _ in range(n_iter):
        dangling = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(
                F.round(F.sum(F.col("rank").cast(d15)).cast("double"), 15),
                F.lit(0.0),
            ).alias("d")
        )
        contribs = (
            edges.join(
                ranks.filter(F.col("out_deg") > 0),
                edges["src"] == F.col("node"),
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(
                F.round(
                    F.sum(F.col("c").cast(d15)).cast("double"), 15
                ).alias("in_mass")
            )
        )
        ranks = (
            base.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_mass"), F.lit(0.0))
                        + F.col("d") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "rank")


def test_pagerank_single_exchange_matches_reference(spark):  # noqa: F811
    """The r15 single-exchange round (sentinel dangling group + presence
    messages in ONE shuffle) must reproduce the old two-pass form's
    doubles EXACTLY — the decimal-sum-snap contract is bit-level."""
    from parquet_importer_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # a clique (0,1,2), a chain 3->4->5, isolates 6,7 (dangling), and a
    # dangling sink 5 — mixes contributing, receiving-only and dangling
    pairs = [(0, 1), (1, 0), (0, 2), (2, 0), (1, 2), (2, 1), (3, 4), (4, 5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(nodes, edges, n_iter=4).collect()
    }
    want = {
        r.node: r.rank
        for r in _reference_pagerank(nodes, edges, n_iter=4).collect()
    }
    assert got == want  # exact double equality, not approx


def test_pagerank_edges_to_absent_nodes_drop_their_mass(spark):  # noqa: F811
    """An edge whose endpoint is not in ``nodes`` used to open a second
    NULL-out_deg group that passed for the dangling row, so the cross
    join multiplied every rank (3 nodes + 2 such edges: 9 rows). The
    mass sent to absent nodes is dropped instead, as the SQL oracle's
    base LEFT JOIN does: one row per node, equal to the reference."""
    from parquet_importer_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    pairs = [(0, 1), (1, 2), (0, 7), (1, 9)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = pagerank(nodes, edges, n_iter=4).collect()
    assert len(rows) == 3
    want = {
        r.node: r.rank
        for r in _reference_pagerank(nodes, edges, n_iter=4).collect()
    }
    assert {r.node: r.rank for r in rows} == want


def test_kmeans_centroids_partitioning_invariant(spark):  # noqa: F811
    """The r15 hand-rolled Lloyd fit must produce IDENTICAL centers
    regardless of input partitioning — the decimal-exact snapped means
    are the property that makes llm_sim_ivf_kmeans's recall bound a
    code constant instead of a reduction-order coin flip (the MLlib
    fit it replaced had no such guarantee)."""
    from parquet_importer_spark.io import read_table
    from parquet_importer_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = {
        r.cid: list(r.cvec)
        for r in kmeans_centroids(emb, n_centroids=8, seed=42).collect()
    }
    b = {
        r.cid: list(r.cvec)
        for r in kmeans_centroids(
            emb.repartition(17), n_centroids=8, seed=42
        ).collect()
    }
    assert a == b  # exact double equality across partitionings


def test_kmeans_centroids_clamps_k_to_corpus(spark):  # noqa: F811
    """A corpus with fewer rows than n_centroids yields one center per
    row instead of raising IndexError: each row is its own cluster, so
    the centers are the rows themselves."""
    from parquet_importer_spark.operators.similarity import (
        kmeans_centroids,
    )

    rows = [[0.0, 1.0], [1.0, 1.0], [2.0, 1.0]]
    emb = spark.createDataFrame([(r,) for r in rows], "embedding array<double>")
    cent = kmeans_centroids(emb, n_centroids=16).collect()
    assert sorted(r.cid for r in cent) == [0, 1, 2]
    assert sorted(list(r.cvec) for r in cent) == rows


def test_kmeans_centroids_empty_corpus(spark):  # noqa: F811
    """An empty corpus yields an empty (cid, cvec) frame, not a raise."""
    from parquet_importer_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.createDataFrame([], "embedding array<double>")
    cent = kmeans_centroids(emb, n_centroids=16)
    assert cent.schema.simpleString() == "struct<cid:int,cvec:array<double>>"
    assert cent.count() == 0


def test_gram_digest_convention_shared_across_engines(spark):  # noqa: F811
    """r14 verdict "What's wrong" #3: llm_contamination_ngram /
    llm_decontam_substring apply the SAME 60-bit md5-prefix BIGINT
    transform on both the engine and the oracle, so the oracle no
    longer checks the digest convention itself. This test pins that
    convention directly:

    1. at the production width (15 hex chars) the two expressions —
       Spark ``conv(substr(md5(g),1,15),16,10)::bigint`` and DuckDB
       ``CAST('0x' || substr(md5(g),1,15) AS BIGINT)`` — must agree
       value-for-value (1-based substr, lowercase hex, unsigned range);
    2. when two DISTINCT grams collide (constructible at width 1:
       md5('gram1') and md5('gram3') share their first hex char), BOTH
       engines must merge them into ONE digest group with count 2 —
       the merge behavior a shared-transform bug would corrupt.
    """
    import duckdb

    grams = ["gram1", "gram3", "x0"]  # gram1/gram3 collide at width 1
    sdf = spark.createDataFrame([(g,) for g in grams], "g string")

    def spark_digests(width: int) -> dict[str, int]:
        rows = sdf.select(
            "g",
            F.conv(F.substring(F.md5("g"), 1, width), 16, 10)
            .cast("bigint")
            .alias("d"),
        ).collect()
        return {r.g: r.d for r in rows}

    con = duckdb.connect()

    def duck_digests(width: int) -> dict[str, int]:
        rows = con.execute(
            "SELECT g, CAST(concat('0x', substr(md5(g), 1, ?)) AS BIGINT)"
            " FROM (SELECT unnest(?) AS g)",
            [width, grams],
        ).fetchall()
        return {g: d for g, d in rows}

    # production width: values identical per gram, no merge among these
    s15, d15 = spark_digests(15), duck_digests(15)
    assert s15 == d15
    assert len(set(s15.values())) == 3
    assert all(0 <= v < 2**60 for v in s15.values())

    # collision width: both engines merge gram1/gram3, keep x0 apart
    s1, d1 = spark_digests(1), duck_digests(1)
    assert s1 == d1
    assert s1["gram1"] == s1["gram3"] != s1["x0"]

    # merged-count behavior: one group of 2, one group of 1 — on BOTH
    # engines (the exact shape the contamination keys aggregate on)
    sc = {
        (r.d, r.n)
        for r in sdf.select(
            F.conv(F.substring(F.md5("g"), 1, 1), 16, 10)
            .cast("bigint")
            .alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    dc = set(
        con.execute(
            "SELECT CAST(concat('0x', substr(md5(g), 1, 1)) AS BIGINT) AS d,"
            " CAST(COUNT(*) AS BIGINT) FROM (SELECT unnest(?) AS g) GROUP BY 1",
            [grams],
        ).fetchall()
    )
    assert sc == dc and sorted(n for _, n in sc) == [1, 2]


def test_pagerank_no_dangling_graph(spark):  # noqa: F811
    """No dangling nodes at all: the sentinel group holds only the
    0.0 seed row, so d must be exactly 0.0 every round — equal ranks on
    a symmetric cycle, summing to 1."""
    from parquet_importer_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = {r.node: r.rank for r in pagerank(nodes, edges, n_iter=6).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert max(out.values()) == pytest.approx(min(out.values()), abs=1e-12)
