"""Round-11 operator gates.

llm_sim_pairs_lsh_capped (round-10 verdict item 2): the scale-safe
sibling of the exact in-bucket enumeration. Three contracts pinned:

1. NO-OP AT DRIVER SF — with every bucket under the cap, the capped
   form equals the exact form bit-for-bit (same pairs, same cosines).
2. THE VALVE ACTUALLY BOUNDS — with a forced tiny cap, only the
   ``cap`` lowest-id members of each bucket contribute pairs, and the
   output is exactly the pairs of the kept subset (not an arbitrary
   truncation of the exact output).
3. RECALL ON A BOUNDED SUB-CORPUS — on the sf0.01 corpus the capped
   top-20 under a production-shaped cap recovers the exact top-20 (the
   no-op case), and under a deliberately tight cap still recovers a
   measured, asserted fraction — the recall-vs-exact flag the verdict
   asked for, kept as a local gate so the driver key stays a clean
   full-value hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_importer_spark.io import read_table
from parquet_importer_spark.operators.similarity import (
    adaptive_sign_bits,
    bucketed_topk_pairs,
    bucketed_topk_pairs_capped,
    sign_bucket,
)
from tests.conftest import SF_ORACLE


def _rows(df):
    return [
        (r["bucket"], r["id_1"], r["id_2"], r["cos_sim"]) for r in df.collect()
    ]


def test_capped_is_noop_at_driver_sf(spark):
    emb = read_table(spark, SF_ORACLE, "embeddings")
    exact = _rows(bucketed_topk_pairs(emb, bucket_dims=None, top=20))
    capped = _rows(
        bucketed_topk_pairs_capped(emb, bucket_dims=None, top=20, bucket_cap=256)
    )
    assert capped == exact


def test_forced_cap_keeps_lowest_ids_per_bucket(spark):
    """cap=3: every bucket contributes pairs only among its 3 lowest
    vec_ids — recompute that subset independently and compare the FULL
    pair sets (top large enough to disable the limit)."""
    emb = read_table(spark, SF_ORACLE, "embeddings")
    bits = adaptive_sign_bits(emb.count())
    got = sorted(
        _rows(
            bucketed_topk_pairs_capped(
                emb, bucket_dims=bits, top=10**6, bucket_cap=3
            )
        )
    )
    # independent reference: bucket → 3 lowest ids → all pairs
    b = emb.select(
        sign_bucket(F.col("embedding"), bits).alias("bucket"),
        "vec_id",
        "embedding",
    )
    kept = {}
    for r in b.collect():
        kept.setdefault(r["bucket"], []).append((r["vec_id"], r["embedding"]))
    expect_pairs = set()
    for bucket, members in kept.items():
        members = sorted(members)[:3]
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                expect_pairs.add((bucket, members[i][0], members[j][0]))
    assert {(b_, i, j) for b_, i, j, _ in got} == expect_pairs
    # and every bucket contributes at most 3 distinct members
    for bucket in kept:
        ids = {i for b_, i, j, _ in got if b_ == bucket} | {
            j for b_, i, j, _ in got if b_ == bucket
        }
        assert len(ids) <= 3


def test_parallelize_counts_row_groups_not_byte_splits(spark, tmp_path):
    """Round-11 fix of the round-10-documented hazard: a parquet file
    whose byte-range split count satisfies the target but whose ROW
    GROUP count doesn't must still be repartitioned — the vectorized
    reader assigns whole row groups to splits, so the extra byte
    splits read zero rows (llm_dedup_near's sf30 minhash stage ran
    6-wide instead of 32-wide: 88.5 s vs 23.9 s repartitioned)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_importer_spark.io import _parquet_row_groups, parallelize

    rng = np.random.default_rng(7)
    # ~6 MB incompressible single-row-group file: byte splits = 2
    # (4 MB openCost floor), row groups = 1
    blob = ["".join(map(str, rng.integers(0, 10, 600))) for _ in range(10_000)]
    one_rg = str(tmp_path / "one_rg.parquet")
    pq.write_table(pa.table({"v": blob}), one_rg, row_group_size=10_000)
    df = spark.read.parquet(one_rg)
    assert _parquet_row_groups(df) == 1
    n_byte_splits = df.rdd.getNumPartitions()
    assert n_byte_splits >= 2  # the lying precondition: splits ≥ target
    out = parallelize(df, min_partitions=2)
    assert out.rdd.getNumPartitions() >= 2, (
        "row-group-starved scan was not repartitioned"
    )
    assert out.count() == 10_000

    # many-row-group file: helper sums them; no repartition needed when
    # the row-group count already meets the target
    many_rg = str(tmp_path / "many_rg.parquet")
    pq.write_table(pa.table({"v": blob}), many_rg, row_group_size=1_000)
    df2 = spark.read.parquet(many_rg)
    assert _parquet_row_groups(df2) == 10

    # non-parquet input: helper declines, byte-split count stands
    csv = str(tmp_path / "x.csv")
    spark.createDataFrame([(1,)], "a int").write.mode("overwrite").csv(csv)
    assert _parquet_row_groups(spark.read.schema("a int").csv(csv)) is None


def test_parallelize_below_target_row_groups_plans_no_rdd(spark, tmp_path, monkeypatch):
    """Footer row groups below the target decide the repartition on
    their own (effective splits ≤ row groups), so parallelize must not
    plan the byte-range split count — ``df.rdd`` costs ~65 ms a plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_importer_spark.io import parallelize

    path = str(tmp_path / "one_rg.parquet")
    pq.write_table(pa.table({"v": list(range(100))}), path)
    df = spark.read.parquet(path)

    def no_rdd(self):
        raise AssertionError("parallelize planned df.rdd")

    with monkeypatch.context() as m:
        m.setattr(type(df), "rdd", property(no_rdd))
        out = parallelize(df, min_partitions=2)
    assert out.rdd.getNumPartitions() == 2
    assert out.count() == 100


def test_embedding_capped_is_noop_at_driver_sf(spark):
    """llm_dedup_embedding_capped equals the exact form bit-for-bit at
    the driver SF (every bucket under the cap), and a forced tiny cap
    keeps only lowest-id members' pairs — the same valve contract as
    the LSH capped sibling, on the emit-all-≥τ output shape."""
    from parquet_importer_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_capped,
    )

    emb = read_table(spark, SF_ORACLE, "embeddings")
    exact = sorted(
        (r["id_1"], r["id_2"], r["cos_sim"])
        for r in embedding_near_dup_pairs(
            emb, bucket_dims=None, threshold=0.4
        ).collect()
    )
    capped = sorted(
        (r["id_1"], r["id_2"], r["cos_sim"])
        for r in embedding_near_dup_pairs_capped(
            emb, bucket_dims=None, threshold=0.4, bucket_cap=256
        ).collect()
    )
    assert capped == exact and len(exact) > 0
    tight = sorted(
        (r["id_1"], r["id_2"], r["cos_sim"])
        for r in embedding_near_dup_pairs_capped(
            emb, bucket_dims=None, threshold=0.4, bucket_cap=4
        ).collect()
    )
    assert set(tight) <= set(exact)  # never invents pairs
    # only ids that are among some bucket's 4 lowest can appear
    assert len(tight) < len(exact)


def test_semdedup_adaptive_contract(spark):
    """llm_semdedup_adaptive (the §8.7 watch-item close): k stays 64 at
    the driver SF (chain floor), every bucket-orphan row is cluster −1
    with a NULL centroid cosine and keep=True (approximate assignment's
    documented recall cost never DROPS a document), and assigned
    clusters reference real centroid ids below k."""
    import math

    from parquet_importer_spark.suite import QUERIES

    out = QUERIES["llm_semdedup_adaptive"](spark, SF_ORACLE).collect()
    n = len(out)
    assert n == 500  # full corpus, one verdict per vector
    orphans = [r for r in out if r["cluster"] == -1]
    for r in orphans:
        assert r["keep"] is True
        assert r["cos_centroid"] is None or math.isnan(r["cos_centroid"])
    assigned = [r for r in out if r["cluster"] >= 0]
    assert assigned, "no vector got a same-bucket centroid"
    assert all(r["cluster"] < 64 for r in assigned)  # k = 64 at this SF
    assert any(not r["keep"] for r in out), "adaptive form dropped nothing"


def test_semdedup_adaptive_k_chain():
    """The integer k chain (k = 64 doubling while n > 32·k, cap 65536)
    mirrored by the SQL CASE chain — spot the decade boundaries."""

    def k_of(n: int) -> int:
        k = 64
        while k < 65536 and n > 32 * k:
            k *= 2
        return k

    assert k_of(500) == 64
    assert k_of(2048) == 64
    assert k_of(2049) == 128
    assert k_of(20_000) == 1024  # sf1 embeddings: mean cluster ~20
    assert k_of(200_000) == 8192  # sf10: mean ~24
    assert k_of(2_000_000) == 65536  # sf100: the paper's regime, capped
    assert k_of(10**9) == 65536  # cap holds
    # mean cluster size n/k stays inside the [2,256] pair window up to
    # the cap: at the cap boundary n = 32*65536 -> mean 32
    for n in (2049, 20_000, 200_000, 2_000_000):
        assert 2 <= n / k_of(n) <= 256


def _cp_fixture(spark):
    """Events-shaped frame engineered for the bucketed-path hazards:
    series 'flat' is all-equal cents → EVERY position's CUSUM score is
    0, the maximal tie (pick must fall to the (ts, rn) order); series
    'dupts' carries duplicate timestamps (ties on ts → rn tiebreak,
    which in turn hangs on the (ts, event_id) window order); series
    'shift' has a genuine level shift at row 256. 1200 rows total so a
    small rows_per_bucket forces real multi-bucket chaining."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        rows.append(("flat", base + dt.timedelta(seconds=7 * i), eid, 250))
        eid += 1
    for i in range(400):
        # two events per second → duplicate ts within the series
        rows.append(
            ("dupts", base + dt.timedelta(seconds=i // 2), eid, 100 + (i % 3))
        )
        eid += 1
    for i in range(400):
        rows.append(
            (
                "shift",
                base + dt.timedelta(seconds=11 * i),
                eid,
                100 if i < 256 else 900,
            )
        )
        eid += 1
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, cents long"
    )


def test_change_points_bucketed_path_matches_single_window(spark):
    """Round-10 ADVICE (medium): the nb>1 bucketed branch had no
    checked-in verification — all driver SFs run nb==1. Force it with
    a small rows_per_bucket and assert row-for-row equality against
    the single-window form on the tied-score multi-series fixture,
    across several bucket counts (including one far above the series
    row count, so empty buckets and the offsets chain both exercise)."""
    from parquet_importer_spark.suite.streaming import change_points_frame

    ev = _cp_fixture(spark)
    single = sorted(
        tuple(r) for r in change_points_frame(ev, rows_per_bucket=10**9).collect()
    )
    assert len(single) == 3
    for rpb in (400, 64, 17):  # nb = 4, 32, 128
        bucketed = sorted(
            tuple(r)
            for r in change_points_frame(ev, rows_per_bucket=rpb).collect()
        )
        assert bucketed == single, f"rows_per_bucket={rpb} diverged"
    # the flat series' maximal tie resolves to its FIRST row on both
    # paths — the comparator contract, not an accident of bucketing
    flat = [r for r in single if r[0] == "flat"][0]
    assert flat[2] == 1 and flat[4] == 0  # cp_row, score_cents


def test_capped_recall_vs_exact_bounded_subcorpus(spark):
    """Recall contract on the bounded sub-corpus (vec_id < 300): the
    production cap is a no-op (recall 1.0); a tight cap of 16 per
    bucket still recovers a measured majority of the exact top-20 —
    near-dup clusters keep their lowest-id representatives, so the top
    pairs survive the valve. Measured 12/20 on this sub-corpus at cap
    16 (vs 300-vector buckets of ~18 expected members — the cap bites
    hard here by design); the assertion pins a 0.5 floor so a
    semantics change in the valve is caught without pinning fixture
    noise."""
    emb = read_table(spark, SF_ORACLE, "embeddings").filter(
        F.col("vec_id") < 300
    )
    exact = {
        (i, j)
        for _, i, j, _ in _rows(bucketed_topk_pairs(emb, bucket_dims=4, top=20))
    }
    prod = {
        (i, j)
        for _, i, j, _ in _rows(
            bucketed_topk_pairs_capped(emb, bucket_dims=4, top=20, bucket_cap=256)
        )
    }
    tight = {
        (i, j)
        for _, i, j, _ in _rows(
            bucketed_topk_pairs_capped(emb, bucket_dims=4, top=20, bucket_cap=16)
        )
    }
    assert prod == exact  # production cap: recall 1.0 here
    recall = len(tight & exact) / len(exact)
    assert recall >= 0.5, f"tight-cap recall collapsed: {recall}"
