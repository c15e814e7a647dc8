"""Semantic invariants for the round-2 operators, on small constructed
frames where the expected answer is computable by hand: planted
duplicates for span dedup, permutation laws for shard shuffle, and gap
semantics for sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_importer_spark.operators.dedup import duplicate_span_stats


def test_span_dedup_detects_planted_duplicate(spark):
    """A doc sharing an 8-token run with another doc must show exactly
    that many duplicated spans; a fully unique doc must show zero."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, shared + " one two three four five six seven eight nine ten"),
        (2, "x1 x2 x3 " + shared + " y1 y2 y3 y4 y5 y6 y7 y8"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in duplicate_span_stats(df, "text", "doc_id", k=8).collect()
    }
    # docs 1 and 2 share exactly ONE 8-token span (the planted run);
    # every other span includes tokens unique to its doc
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    assert out[3].n_dup_spans == 0 and out[3].dup_frac == 0.0
    # n_spans = n_tokens - 7 for each doc
    for doc_id, text in rows:
        assert out[doc_id].n_spans == len(text.split()) - 7


def test_span_dedup_identical_docs_fully_duplicated(spark):
    df = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10") for i in range(3)],
        "doc_id long, text string",
    )
    out = duplicate_span_stats(df, "text", "doc_id", k=8).collect()
    assert all(r.dup_frac == 1.0 for r in out)


def test_span_dedup_excludes_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    out = duplicate_span_stats(df, "text", "doc_id", k=8).collect()
    assert {r.doc_id for r in out} == {2}


def test_shuffle_shard_is_permutation(spark):
    """Sharding must cover every doc exactly once, with per-shard
    positions forming a contiguous 1..n_shard sequence."""
    from parquet_importer_spark.suite.llm_sampling import llm_shuffle_shard

    out = llm_shuffle_shard(spark, "/root/testdata/sf0.001").collect()
    docs = [r.doc_id for r in out]
    assert len(docs) == len(set(docs))
    by_shard: dict[str, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r.pos)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1)), shard
    # 1-hex-char shards
    assert set(by_shard) <= set("0123456789abcdef")


def test_shuffle_shard_deterministic(spark):
    from parquet_importer_spark.suite.llm_sampling import llm_shuffle_shard

    a = sorted(map(tuple, llm_shuffle_shard(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(tuple, llm_shuffle_shard(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_sessionize_gap_semantics(spark, tmp_path):
    """Events 30min+1s apart split sessions; events exactly 30min apart
    do not (the predicate is strictly greater-than 1800s)."""
    from parquet_importer_spark.suite.streaming import ts_sessionize
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: three events inside one session (gaps of exactly 1800s)
        (1, 1, base),
        (2, 1, base + dt.timedelta(seconds=1800)),
        (3, 1, base + dt.timedelta(seconds=3600)),
        # user 2: second event 1801s later -> two sessions
        (4, 2, base),
        (5, 2, base + dt.timedelta(seconds=1801)),
    ]
    import pandas as pd

    pd.DataFrame(rows, columns=["event_id", "user_id", "ts"]).to_parquet(
        str(tmp_path / "events.parquet")
    )
    out = ts_sessionize(spark, str(tmp_path)).collect()
    sessions = {(r.user_id, r.session_id): r for r in out}
    u1 = [k for k in sessions if k[0] == 1]
    u2 = [k for k in sessions if k[0] == 2]
    assert len(u1) == 1 and sessions[u1[0]].n_events == 3
    assert sessions[u1[0]].duration_s == 3600
    assert len(u2) == 2
    assert all(sessions[k].n_events == 1 for k in u2)


def test_quality_filter_keeps_at_most_half_per_source(spark):
    from parquet_importer_spark.suite.llm_text import llm_quality_filter_pct
    from parquet_importer_spark.io import read_table

    sf = "/root/testdata/sf0.001"
    kept = (
        llm_quality_filter_pct(spark, sf)
        .groupBy("source")
        .count()
        .collect()
    )
    totals = {
        r.source: r["count"]
        for r in read_table(spark, sf, "documents")
        .groupBy("source")
        .count()
        .collect()
    }
    for r in kept:
        # PERCENT_RANK <= 0.5 keeps floor(n/2)+1 rows (plus score ties)
        assert r["count"] >= 1
        assert r["count"] <= totals[r.source]


def test_ngram_freq_counts_multiplicity(spark, tmp_path):
    """A token repeated inside one doc must count each occurrence
    (frequency), while n_docs counts distinct documents."""
    rows = [
        (1, "a b c a b c a b c"),  # 'a b c' occurs 3x in doc 1
        (2, "a b c x y z q r s"),  # and once in doc 2
    ]
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(tmp_path / "documents.parquet")
    )
    from parquet_importer_spark.suite.llm_text import llm_ngram_freq

    out = {r.ng: r for r in llm_ngram_freq(spark, str(tmp_path)).collect()}
    assert out["a b c"].freq == 4 and out["a b c"].n_docs == 2


def test_compaction_reduces_file_count_preserving_rows(spark):
    from parquet_importer_spark.suite.sinks_suite import (
        sink_compact_small_files,
    )
    from parquet_importer_spark.io import read_table

    r = sink_compact_small_files(spark, "/root/testdata/sf0.001").first()
    assert r.n_files_before == 64 and r.n_files_after == 4
    assert r.n_rows == read_table(
        spark, "/root/testdata/sf0.001", "orders"
    ).count()


def test_schema_evolution_nulls_only_pre_evolution_rows(spark):
    from parquet_importer_spark.suite.sinks_suite import sink_schema_evolution

    rows = {r.segment: r for r in
            sink_schema_evolution(spark, "/root/testdata/sf0.001").collect()}
    assert "(pre-evolution)" in rows
    assert len(rows) > 1  # real segments surfaced from v2 files


def test_file_sink_exactly_once_on_checkpoint_replay(spark):
    """Re-running an availableNow drain with the SAME checkpoint must
    emit nothing new — the _spark_metadata commit log dedupes."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from parquet_importer_spark.io import as_stream_dir, table_path, table_schema

    sf = "/root/testdata/sf0.001"
    schema = table_schema(table_path(sf, "events"))
    base = tempfile.mkdtemp(prefix="pis_eo_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    # stage ONCE: the checkpoint pins the source path, so both drains
    # must read the same staged dir
    src = as_stream_dir(table_path(sf, "events"))

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .select("event_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out).count()
    drain()
    assert spark.read.parquet(out).count() == first


def test_pagerank_invariants(spark):
    """Rank mass must sum to ~1, every node positive, and a node with
    edges must outrank the isolated-node floor."""
    from parquet_importer_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    # a 3-clique (0,1,2) + isolated nodes 3,4,5
    pairs = [(0, 1), (1, 0), (0, 2), (2, 0), (1, 2), (2, 1)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = {r.node: r.rank for r in pagerank(nodes, edges, n_iter=15).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in out.values())
    # clique members absorb the teleport+dangling mass of the isolates
    assert min(out[0], out[1], out[2]) > max(out[3], out[4], out[5])
    # symmetric clique -> equal ranks
    assert abs(out[0] - out[1]) < 1e-9 and abs(out[1] - out[2]) < 1e-9


def test_pagerank_loop_has_no_driver_actions():
    """Round-6 contract: the dangling-mass term rides the plan as a
    broadcast 1-row aggregate — no .first()/.collect() driver
    round-trip inside the iteration loop (round-5 verdict, item #6).
    localCheckpoint (lineage truncation) and the one upfront
    nodes.count() are the only permitted actions."""
    import inspect

    from parquet_importer_spark.operators import graph

    src = inspect.getsource(graph.pagerank)
    loop = src[src.index("for _ in range(n_iter)") :]
    assert ".first()" not in loop and ".collect()" not in loop


def test_rowgroup_stats_cover_table(spark):
    from parquet_importer_spark.suite.scans import scan_rowgroup_stats
    from parquet_importer_spark.io import read_table

    sf = "/root/testdata/sf0.001"
    stats = scan_rowgroup_stats(spark, sf).collect()
    total = read_table(spark, sf, "orders").count()
    assert sum(r.num_rows for r in stats) == total
    assert all(r.key_min is not None and r.key_min <= r.key_max for r in stats)


def test_hll_partial_union_matches_exact_within_5pct(spark):
    """The day-sketch union must estimate per-type distinct users
    within HLL's error envelope of the exact answer."""
    from parquet_importer_spark.suite.aggregates import agg_hll_partial_union
    from parquet_importer_spark.io import read_table

    sf = "/root/testdata/sf0.01"
    got = {
        r.event_type: (r.exact_users, r.within_envelope)
        for r in agg_hll_partial_union(spark, sf).collect()
    }
    exact = {
        r.event_type: r.n
        for r in read_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, n in exact.items():
        assert got[t][0] == n, (t, got[t], n)
        assert got[t][1], f"{t}: unioned estimate left the 5-rsd envelope"


def test_connected_components_converges_at_exact_max_iter_diameter(spark):
    """A path graph whose diameter equals max_iter must return the
    correct fixpoint (the confirming round is granted on top of the
    propagation budget, not taken from it)."""
    from parquet_importer_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    out = connected_components(nodes, edges, max_iter=3).collect()
    assert {r.lab for r in out} == {0}


def test_file_stream_picks_up_only_new_files(spark):
    """A second availableNow drain with the same checkpoint must process
    ONLY files that arrived after the first drain — the incremental
    ingestion contract of the file source."""
    import os
    import shutil
    import tempfile

    from parquet_importer_spark.io import as_stream_dir, table_path, table_schema

    sf = "/root/testdata/sf0.001"
    schema = table_schema(table_path(sf, "events"))
    src = as_stream_dir(table_path(sf, "events"))
    base = tempfile.mkdtemp(prefix="pis_inc_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    # a "new" file arrives in the source directory
    existing = [f for f in os.listdir(src) if f.endswith(".parquet")]
    shutil.copy(
        os.path.join(src, existing[0]), os.path.join(src, "late_arrival.parquet")
    )
    drain()
    assert spark.read.parquet(out).count() == 2 * n1
    # nothing new -> nothing emitted
    drain()
    assert spark.read.parquet(out).count() == 2 * n1
