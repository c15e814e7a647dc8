"""§2.J — similarity search over the embeddings table.

Brute-force cosine top-k (broadcast query, no corpus shuffle) as the
exact baseline; LSH sign-bucketed pairwise as the scale path. Both are
pure higher-order-function arithmetic — fold order is list order, so
DuckDB reproduces every similarity bit-for-bit (rounded to 6 to absorb
nothing: the folds are identical — rounding only guards future drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_importer_spark.functions.vectors import (
    oracle_cosine,
    oracle_dist2,
)
from parquet_importer_spark.io import parallelize, read_table
from parquet_importer_spark.operators.similarity import (
    bucketed_topk_pairs,
    bucketed_topk_pairs_capped,
    cid_array,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_capped,
    ivf_topk,
    nearest_center,
    topk_cosine,
)
from parquet_importer_spark.registry import query


@query(
    "llm_sim_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND({oracle_cosine('embedding', 'qvec')}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by cosine against the vec_id=0 query vector.
    Plan: broadcast 1-row query → codegen'd fold per row →
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    emb = read_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    return topk_cosine(emb, qdf, "embedding", "vec_id", k=10)


@query(
    "llm_sim_pairs_lsh",
    oracle=f"""
    WITH nb AS (
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(COUNT(*) / 125.0, 1.0))) AS INT)))
               AS bits
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(range(1, 1 + (SELECT bits FROM nb)),
               i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM embeddings
    )
    SELECT x.bucket, x.vec_id AS id_1, y.vec_id AS id_2,
           ROUND({oracle_cosine('x.embedding', 'y.embedding')}, 6) AS cos_sim
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ORDER BY cos_sim DESC, id_1 ASC, id_2 ASC
    LIMIT 20
    """,
)
def llm_sim_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest pairs: sign-bit LSH buckets shrink the
    pairwise space ~2^bits×; exact cosine within buckets; top-20
    deterministic. Bit count adapts to corpus size
    (operators.similarity.adaptive_sign_bits; 4 at the test SFs) so the
    BUCKETING stage scales linearly — but the in-bucket enumeration is
    workload-bound: whole near-dup clusters share a bucket, so true
    pair counts (which this exact contract must touch) grow
    quadratically with cluster size (sf100 rung: xlin_c 4.98). This
    key is the oracle-pinned exact SPEC; at production scale run
    ``llm_sim_pairs_lsh_capped`` (round 11), whose per-bucket
    membership cap restores linearity (xlin_c 0.35) at a measured
    recall cost. Swap fixed dims for seeded random hyperplanes +
    multi-probe at production — same plan shape."""
    return bucketed_topk_pairs(
        read_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        bucket_dims=None,
        top=20,
    )


@query(
    "llm_sim_pairs_lsh_capped",
    # Same adaptive-bit bucketing as the exact form, then the valve:
    # only the 256 lowest-id vectors of each bucket enter pair
    # expansion (row_number per bucket — deterministic, so this is a
    # FULL-value oracle, not a bound oracle). At every driver SF the
    # cap is a provable no-op (expected bucket ~125) and the result
    # equals llm_sim_pairs_lsh bit-for-bit.
    oracle=f"""
    WITH nb AS (
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(COUNT(*) / 125.0, 1.0))) AS INT)))
               AS bits
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(range(1, 1 + (SELECT bits FROM nb)),
               i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM embeddings
    ),
    capped AS (
      SELECT vec_id, embedding, bucket
      FROM b
      QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 256
    )
    SELECT x.bucket, x.vec_id AS id_1, y.vec_id AS id_2,
           ROUND({oracle_cosine('x.embedding', 'y.embedding')}, 6) AS cos_sim
    FROM capped x JOIN capped y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ORDER BY cos_sim DESC, id_1 ASC, id_2 ASC
    LIMIT 20
    """,
)
def llm_sim_pairs_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe near-pairs (round-10 verdict item 2): the exact
    ``llm_sim_pairs_lsh`` stays the oracle-pinned spec of in-bucket
    enumeration; THIS key is the 100-TB form — per-bucket membership
    capped at the 256 lowest ids BEFORE the array build, so per-bucket
    work is ≤ cap²/2 and total work stays linear even when near-dup
    clusters grow quadratically many true pairs (the sf100 rung
    measured xlin_c 4.98 on the uncapped form; the cap restores
    linearity by contract, not by luck). Every emitted pair's cosine
    is exact; recall vs the exact form on a bounded sub-corpus is
    pinned in tests/test_round11_ops.py. The agg_rfm_rankcut
    precedent: exact spec + scale sibling, both fully hash-checked."""
    return bucketed_topk_pairs_capped(
        read_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        bucket_dims=None,
        top=20,
        bucket_cap=256,
    )


@query(
    "llm_dedup_embedding",
    oracle=f"""
    WITH nb AS (
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(COUNT(*) / 125.0, 1.0))) AS INT)))
               AS bits
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(range(1, 1 + (SELECT bits FROM nb)),
               i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM embeddings
    )
    SELECT id_1, id_2, cos_sim FROM (
      SELECT x.vec_id AS id_1, y.vec_id AS id_2,
             ROUND({oracle_cosine('x.embedding', 'y.embedding')}, 6) AS cos_sim
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ) WHERE cos_sim >= 0.4
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-bit LSH prune →
    exact cosine ≥ threshold. The synthetic corpus is random (max
    in-bucket cosine ~0.5), so the demo threshold is 0.4; real embedding
    spaces use ~0.95 — same plan, one constant. Bit count ADAPTS to the
    corpus size (operators.similarity.adaptive_sign_bits — 4 bits at the
    test SFs, more as n grows) so bucket occupancy, and with it the
    candidate-pair stage, stays linear; the oracle derives the identical
    bit count from COUNT(*)."""
    return embedding_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        bucket_dims=None,
        threshold=0.4,
    )


@query(
    "llm_dedup_embedding_capped",
    # Same adaptive-bit bucketing + 0.4 threshold as the exact form,
    # with the keep-lowest-256-ids-per-bucket valve (QUALIFY
    # row_number) — deterministic, so a FULL-value oracle; a provable
    # no-op at every driver SF (expected bucket ~125).
    oracle=f"""
    WITH nb AS (
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(COUNT(*) / 125.0, 1.0))) AS INT)))
               AS bits
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             array_to_string(list_transform(range(1, 1 + (SELECT bits FROM nb)),
               i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')
               AS bucket
      FROM embeddings
    ),
    capped AS (
      SELECT vec_id, embedding, bucket
      FROM b
      QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 256
    )
    SELECT id_1, id_2, cos_sim FROM (
      SELECT x.vec_id AS id_1, y.vec_id AS id_2,
             ROUND({oracle_cosine('x.embedding', 'y.embedding')}, 6) AS cos_sim
      FROM capped x JOIN capped y
        ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ) WHERE cos_sim >= 0.4
    """,
)
def llm_dedup_embedding_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``llm_dedup_embedding`` (round 11: the sf100
    tranche measured the exact form at xlin_c 4.67 / 1004 s — its
    contract emits EVERY within-bucket pair ≥ τ and the fixture grows
    true pairs ~100×/decade, the same workload-bound shape as
    ``llm_sim_pairs_lsh``). Per-bucket membership capped at the 256
    lowest ids BEFORE the array build (map-side WindowGroupLimit, one
    shared bucket exchange); a near-dup CLUSTER keeps its lowest-id
    members pairing each other, so downstream connected-components
    still finds the cluster — dropped members' pairs are the recall
    cost, bounded by the same argument as the LSH capped sibling. At
    every driver SF the valve is a provable no-op (bit-identical to
    the exact form); deterministic keep-lowest-ids ⇒ full-value
    oracle."""
    return embedding_near_dup_pairs_capped(
        read_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        bucket_dims=None,
        threshold=0.4,
        bucket_cap=256,
    )


@query(
    "llm_sim_ivf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
    ),
    assigned AS (
      SELECT id, cid AS cluster, v FROM (
        SELECT e.vec_id AS id, e.embedding AS v, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({oracle_cosine('e.embedding', 'c.cvec')}, 6)
                            DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT cid AS cluster FROM cent CROSS JOIN q
      ORDER BY ROUND({oracle_cosine('cvec', 'qvec')}, 6) DESC, cid ASC
      LIMIT 4
    )
    SELECT a.id AS vec_id, a.cluster,
           ROUND({oracle_cosine('a.v', 'qvec')}, 6) AS cos_sim
    FROM assigned a JOIN probes USING (cluster) CROSS JOIN q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def llm_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, the scale path past brute force: assign every vector to
    its nearest of 16 deterministic centroids (map-side, no shuffle),
    probe the 4 clusters nearest the query, exact-score only inside them
    — ~4/16 of the corpus scanned instead of all of it."""
    emb = read_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    return ivf_topk(
        emb, qdf, "embedding", "vec_id", n_centroids=16, nprobe=4, k=10
    )


@query(
    "llm_sim_ivf_kmeans",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND({oracle_cosine('embedding', 'qvec')}, 6) AS cos_sim,
           TRUE AS ivf_recall_ok
    FROM embeddings CROSS JOIN q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def llm_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with LEARNED centroids — the production swap llm_sim_ivf's
    docstring promises: a hand-rolled distributed Lloyd fit (seeded,
    KB-scale centers; replaced MLlib's ~25-job fit in r15 — see
    operators/similarity.kmeans_centroids) feeds the identical
    assignment/probe/exact-score machinery.

    BOUND oracle (round-7 verdict item 7, the llm_dedup_minhash_mllib
    pattern): the learned centroids themselves depend on float
    reduction order across partitionings, so the IVF candidate list
    can never hash-match a SQL oracle — but the index's RECALL
    contract can. The query returns the EXACT brute-force top-10
    (bit-stable: same fold + round(6) as llm_sim_topk) carrying one
    constant flag ``ivf_recall_ok`` = "the kmeans-IVF probe recovered
    at least 6 of the true top-10"; the oracle recomputes the exact
    top-10 and asserts the flag literally. A recall collapse (bad
    centroids, broken probe routing, assignment drift) flips the flag
    on every row and hash-mismatches. The >=6 bound is the same one
    tests/test_lsh_scale.py pins locally — loose enough to absorb
    centroid float jitter, tight enough to catch structural breaks."""
    from parquet_importer_spark.operators.similarity import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    truth = topk_cosine(emb, qdf, "embedding", "vec_id", k=10)
    cent = kmeans_centroids(emb, "embedding", n_centroids=16, seed=42)
    # nprobe=8/16 (r15, with the hand-rolled deterministic fit):
    # measured recall 10/7/9/10 of 10 at sf0.001/0.01/0.1/sf1-replica —
    # >=1 of margin over the oracle's >=6 bound at every fixture, and
    # the decimal-snapped centers make those numbers code constants
    # rather than reduction-order luck. Learned centroids pack the true
    # neighbors into fewer, hotter cells than llm_sim_ivf's seed-set
    # index, so the probe list must reach deeper to cover the same mass.
    ivf = ivf_topk(
        emb, qdf, "embedding", "vec_id", nprobe=8, k=10, centroids=cent
    )
    flag = truth.join(ivf.select("vec_id"), "vec_id").agg(
        (F.count(F.lit(1)) >= 6).alias("ivf_recall_ok")
    )
    return truth.crossJoin(F.broadcast(flag))


@query(
    "llm_sim_nearest_per_label",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT label, vec_id,
             ROUND({oracle_cosine('embedding', 'qvec')}, 6) AS cos_sim
      FROM embeddings CROSS JOIN q
    ),
    ranked AS (
      SELECT label, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT label, vec_id, cos_sim FROM ranked WHERE rn = 1
    """,
)
def llm_sim_nearest_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ANN: the single nearest vector to the query within each
    label class — window top-1 over the scored scan (one shuffle on
    label, which rides the same partitioning as any later per-label agg)."""
    from pyspark.sql import Window

    from parquet_importer_spark.functions.vectors import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    qdf = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    )
    scored = emb.crossJoin(qdf).select(
        "label",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", "vec_id", "cos_sim")
    )


@query(
    "llm_sim_range",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND({oracle_cosine('embedding', 'qvec')}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE {oracle_cosine('embedding', 'qvec')} >= 0.2
    """,
)
def llm_sim_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search: every vector with cosine ≥ τ against the
    broadcast query — the retrieval-filter dual of top-k. Unlike top-k
    there is no ordering stage at all: the plan is scan → codegen'd fold
    → filter, embarrassingly parallel at any corpus size."""
    from parquet_importer_spark.functions.vectors import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    qdf = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    )
    sim = cosine(F.col("embedding"), F.col("qvec"))
    return (
        emb.crossJoin(qdf)
        .filter(sim >= 0.2)
        .select("vec_id", "label", F.round(sim, 6).alias("cos_sim"))
    )


@query(
    "llm_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             GREATEST(list_max(list_transform(embedding,
                               x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale * 127.0)
                         AS INTEGER)) AS q8
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(list_min(q8) AS INTEGER) AS q_min,
           CAST(list_max(q8) AS INTEGER) AS q_max,
           ROUND(list_sum(list_transform(q8, v -> CAST(v AS DOUBLE)
                                                  * CAST(v AS DOUBLE))), 1)
             AS q_energy
    FROM q
    """,
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (per-vector max-abs scale →
    [-127,127]) — the 4× ANN memory/bandwidth shrink every production
    vector index applies before search. Pure array-expression math, no
    shuffle; the summary columns (range + energy) certify the codes
    without hauling the arrays through the compare. round() is
    half-away-from-zero in both engines (Spark non-ANSI `round` and
    DuckDB agree on exact halves like 0.5/127)."""
    emb = parallelize(read_table(spark, sf_dir, "embeddings"))
    xd = lambda x: x.cast("double")  # noqa: E731
    scale = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x)))),
        F.lit(1e-12),
    )
    s = emb.select("vec_id", "embedding", scale.alias("scale"))
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.round(xd(x) / F.col("scale") * 127.0).cast("int"),
    )
    q = s.select("vec_id", "scale", q8.alias("q8"))
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_min("q8").alias("q_min"),
        F.array_max("q8").alias("q_max"),
        F.round(
            F.aggregate(
                "q8", F.lit(0.0), lambda acc, v: acc + xd(v) * xd(v)
            ),
            1,
        ).alias("q_energy"),
    )


@query(
    "llm_sim_topk_batch",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 4
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND({oracle_cosine('e.embedding', 'q.qvec')}, 6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, cos_sim
    FROM ranked WHERE rnk <= 5
    """,
)
def llm_sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN retrieval — production retrieval is never one query:
    top-5 neighbors for each of a broadcast query batch, in ONE corpus
    scan (each corpus row scores against every query in-loop, then a
    per-query window top-k). Corpus never shuffles for scoring; the only
    exchange carries (qid, vec_id, score) triples, pruned to k·|Q| rows
    by the rank filter. At 100 TB batch further: chunk the query set so
    each broadcast fits executor memory, one scan per chunk."""
    from pyspark.sql import Window

    from parquet_importer_spark.functions.vectors import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    qdf = F.broadcast(
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    )
    scored = (
        emb.crossJoin(qdf)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "rnk", "vec_id", "cos_sim")
    )


@query(
    "llm_embed_centroid_dist",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, i.i AS pos,
             CAST(embedding[i.i] AS DOUBLE) AS x
      FROM embeddings, LATERAL (
        SELECT unnest(range(1, len(embedding) + 1)) AS i
      ) i
    ),
    cent AS (
      SELECT label, pos,
             ROUND(CAST(SUM(CAST(round(x, 6) AS DECIMAL(30,8)))
                        AS DOUBLE), 6) / COUNT(*) AS c
      FROM ex GROUP BY label, pos
    ),
    cvec AS (
      SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
    )
    SELECT e.vec_id, e.label,
           ROUND(list_sum(list_transform(list_zip(e.embedding, v.centroid),
             p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2]))), 6) AS dist2
    FROM embeddings e JOIN cvec v ON e.label = v.label
    """,
)
def llm_embed_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring: squared L2 distance of every
    vector to its LABEL's centroid — the distance-to-class-center
    signal curation pipelines threshold to drop mislabeled/garbage
    samples before training.

    Bit-portability: the centroid's cross-ROW mean is order-dependent
    in doubles, so components quantize to the 6-dp grid, accumulate in
    exact decimal, snap back to the grid, then one IEEE division —
    identical on both engines (the registry exact_avg recipe applied
    per dimension). The per-vector distance is then a position-ORDERED
    fold like every other vector op here.

    Scale shape: explode to (label, pos, x) rows → partial-aggregated
    groupBy — the classic mergeable element-wise mean, no single
    reducer sees a whole class; centroids (n_labels × dim rows →
    n_labels arrays) broadcast back to the un-shuffled corpus."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "label",
        F.col("pos0"),
        F.round(F.col("xf").cast("double"), 6).alias("xq"),
    )
    cent = ex.groupBy("label", "pos0").agg(
        (
            F.round(F.sum(F.col("xq").cast("decimal(30,8)")).cast("double"), 6)
            / F.count(F.lit(1))
        ).alias("c")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )
    diff2 = F.zip_with(
        F.col("embedding"),
        F.col("centroid"),
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    return emb.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(
            F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v), 6
        ).alias("dist2"),
    )


def _pca_oracle(n_iter: int = 8) -> str:
    """UNROLLED power-iteration oracle mirroring llm_emb_pca_power's
    float contract expression by expression. Since round 8 the corpus
    is reduced ONCE to the d x d mean outer-product (covariance) matrix
    — the only cross-ROW reduction, snapped to the 12-decimal grid via
    DECIMAL(38,12) accumulation — and every iteration is then pure
    d-sized arithmetic: the matvec row fold, the norm fold, and the
    normalizing division are LEFT FOLDS over position-ordered lists
    (list_reduce ≡ the Spark-side Python loop — IEEE addition in the
    identical order; list_reduce's first-element seed equals a 0.0
    init exactly). MATERIALIZED keeps DuckDB from inlining rounds."""
    head = """
    WITH e AS MATERIALIZED (SELECT embedding FROM embeddings),
    meta AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             (SELECT len(embedding) FROM embeddings LIMIT 1) AS d
      FROM e
    ),
    cov AS MATERIALIZED (
      SELECT j.j AS j, k.k AS k,
             ROUND(CAST(SUM(CAST(floor(
                 CAST(embedding[j.j] AS DOUBLE)
                   * CAST(embedding[k.k] AS DOUBLE) * 1000000.0 + 0.5
               ) AS BIGINT)) AS DOUBLE) / (1000000.0 * meta.n), 12) AS c
      FROM e, meta,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS j) j,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS k) k
      GROUP BY j.j, k.k, meta.n
    ),
    crow AS MATERIALIZED (
      SELECT j, list(c ORDER BY k) AS cj FROM cov GROUP BY j
    ),
    v0 AS MATERIALIZED (
      SELECT i.i AS pos, 1.0 / sqrt(meta.d) AS comp
      FROM meta, LATERAL (SELECT unnest(range(1, meta.d + 1)) AS i) i
    )"""
    blocks = []
    for i in range(n_iter):
        blocks.append(f""",
    vl{i} AS MATERIALIZED (
      SELECT list(comp ORDER BY pos) AS v FROM v{i}
    ),
    w{i} AS MATERIALIZED (
      SELECT crow.j AS pos,
             list_reduce(
               list_transform(list_zip(crow.cj, vl.v),
                              p -> CAST(p[1] AS DOUBLE) * p[2]),
               (a, b) -> a + b) AS w
      FROM crow, vl{i} vl
    ),
    eig{i} AS MATERIALIZED (
      SELECT sqrt(list_reduce(
               list_transform((SELECT list(w ORDER BY pos) FROM w{i}),
                              x -> x * x),
               (a, b) -> a + b)) AS ev
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT w{i}.pos, w{i}.w / eig{i}.ev AS comp FROM w{i}, eig{i}
    )""")
    return (
        head
        + "".join(blocks)
        + f"""
    SELECT CAST(v.pos - 1 AS INT) AS pos, v.comp AS component,
           g.ev AS eigenvalue
    FROM v{n_iter} v, eig{n_iter - 1} g
    """
    )


@query("llm_emb_pca_power", oracle=_pca_oracle())
def llm_emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by distributed
    POWER ITERATION — the building block of corpus-level spectral
    diagnostics (anisotropy measurement, whitening, spectral dedup of
    embedding spaces): v ← normalize((1/n)·Σ_rows x·(xᵀv)), 8 rounds
    from a deterministic uniform start (the 1/n makes it the MEAN
    outer-product operator — same eigenvectors as Σ x xᵀ, and it keeps
    every cross-row sum O(feature scale), which the float contract
    below depends on).

    Float contract (round 5 — was rows-only; same technique as
    graph_pagerank's unrolled oracle): the only cross-ROW sum — the
    covariance cells — quantizes each product to the 1e-6 integer
    grid (floor(p*1e6 + 0.5), half-away, identical in both engines)
    and accumulates as EXACT BIGINT, then one shared divide + 12dp
    snap; every iteration is then a sequential LEFT FOLD over d=64
    snapped values (matvec row, norm) plus one IEEE divide — the
    identical operation sequence DuckDB's list_reduce executes, so 8
    rounds of floats match bit-for-bit by induction.

    Scale shape (round 8 — was one corpus pass PER ROUND): the corpus
    reduces ONCE to the d x d mean outer-product matrix via a double
    posexplode → groupBy(j, k) partial-aggregated sum — 4096 cells at
    d=64, the classic 'the matrix IS the reduction' shape — and the
    8 power iterations run on that dimension-sized object (here: a
    4096-value collect and a Python loop whose arithmetic the oracle
    reproduces fold-for-fold; on a cluster the same matrix broadcasts
    wherever needed). 10 corpus actions became 2 (count rides the
    covariance pass structurally; the dim probe is head(1)):
    measured 11.5 s -> 2.4 s at sf0.1, and a 100-TB run touches the
    corpus once instead of eight times."""
    import math

    # the eager checkpoint guarantees upstream lineage is computed
    # EXACTLY once: the covariance pass references the embedding column
    # twice (posexplode + carry), which Catalyst would otherwise inline
    # twice into the collapsed projection (pinned by
    # tests/test_round4_ops.py::test_pca_power_scans_input_once)
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .localCheckpoint(eager=True)
    )
    # dimension probe is an eager 1-row job at construction time; guard
    # the empty-table case explicitly instead of crashing on None[0]
    head = emb.select("embedding").head(1)
    if not head:
        return spark.createDataFrame(
            [], "pos int, component double, eigenvalue double"
        )
    dim = len(head[0][0])
    e1 = emb.select(
        F.posexplode("embedding").alias("j", "xj"), F.col("embedding")
    )
    e2 = e1.select(
        "j", "xj", F.posexplode("embedding").alias("k", "xk")
    )
    # products quantize to the 1e-6 integer grid (floor(p*1e6 + 0.5),
    # the repo's portable half-away rounding) and sum as exact BIGINT
    # — 27x faster per row than a DECIMAL(38,12) cast at identical
    # determinism; |sum| <= n * max|x_j x_k| * 1e6 stays under 2^63
    # to ~1e9 rows of O(30)-magnitude products. n rides the same
    # aggregate (every cell's row count IS n), so the corpus is
    # computed exactly once: the 1-row dim probe plus this pass.
    prod = F.col("xj").cast("double") * F.col("xk").cast("double")
    cells = (
        e2.groupBy("j", "k")
        .agg(
            F.sum(
                F.floor(prod * 1000000.0 + F.lit(0.5)).cast("bigint")
            ).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .collect()
    )
    n = cells[0].n if cells else 0
    cov = [[0.0] * dim for _ in range(dim)]
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    snap = Decimal("1e-12")
    for r in cells:
        # same shared expression the oracle evaluates: exact integer
        # sum -> one IEEE divide -> 12dp snap. Python round() is
        # half-to-EVEN (banned, udf_suite.py header); Spark's ROUND on
        # doubles is exact-decimal HALF_UP, which Decimal reproduces
        # bit-for-bit (Decimal(double) is the exact binary value).
        q = r.s / (1000000.0 * n)
        cov[r.j][r.k] = float(
            Decimal(q).quantize(snap, rounding=ROUND_HALF_UP)
        )
    v = [1.0 / math.sqrt(dim)] * dim
    eigval = 0.0
    for _ in range(8):
        # left folds in position order — the oracle's list_reduce runs
        # the same additions in the same order (0.0 + x == x in IEEE)
        w = [0.0] * dim
        for j in range(dim):
            acc = 0.0
            for k in range(dim):
                acc = acc + cov[j][k] * v[k]
            w[j] = acc
        acc = 0.0
        for x in w:
            acc = acc + x * x
        eigval = math.sqrt(acc)
        if eigval == 0.0:
            break
        v = [x / eigval for x in w]
    return spark.createDataFrame(
        [(i, float(v[i]), float(eigval)) for i in range(dim)],
        "pos int, component double, eigenvalue double",
    )


def _semdedup_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_semdedup's (vec_id, cluster, v, cos_centroid) assignment — the
    64 centroids are collected and every vector is scored map-side by
    nearest_center's Arrow batch kernel (no exchange, no window: the
    contract tests/test_plans.py pins against THIS un-checkpointed
    frame, since the query itself reads it through a localCheckpoint)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 64).select("vec_id", "embedding")
    return nearest_center(
        emb.select("vec_id", F.col("embedding").alias("v")), "v", cent, "cosine"
    ).select(
        "vec_id",
        F.col("cid").alias("cluster"),
        "v",
        F.col("score").alias("cos_centroid"),
    )


@query(
    "llm_semdedup",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 64
    ),
    assigned AS (
      SELECT id AS vec_id, cid AS cluster, v, cosc AS cos_centroid FROM (
        SELECT e.vec_id AS id, e.embedding AS v, c.cid,
               ROUND({oracle_cosine('e.embedding', 'c.cvec')}, 6) AS cosc,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({oracle_cosine('e.embedding', 'c.cvec')}, 6)
                            DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    ok AS (
      SELECT cluster FROM assigned
      GROUP BY cluster HAVING COUNT(*) BETWEEN 2 AND 256
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.cos_centroid AS ca, b.cos_centroid AS cb
      FROM assigned a
      JOIN ok o ON o.cluster = a.cluster
      JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ROUND({oracle_cosine('a.v', 'b.v')}, 6) >= 0.4
    ),
    drops AS (
      SELECT DISTINCT CASE WHEN (ca, id_a) > (cb, id_b)
                           THEN id_a ELSE id_b END AS vec_id
      FROM pairs
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster, a.cos_centroid,
           d.vec_id IS NULL AS keep
    FROM assigned a LEFT JOIN drops d USING (vec_id)
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (public method: Abbas et al. 2023):
    cluster the embedding space, then call any within-cluster pair above
    a cosine threshold semantically duplicated and keep ONE member — the
    member closer to the centroid is dropped (the kept, more peripheral
    point preserves diversity, per the paper), ties by vec_id. Output is
    the full corpus with keep/drop verdicts.

    Deterministic parameterization for oracle parity: the 64 centroids
    are the first 64 vectors (swap kmeans_centroids for learned ones —
    rows-only — exactly as llm_sim_ivf_kmeans does for IVF); threshold
    0.4 suits the random test corpus (real embedding spaces use ~0.95).
    k=64 keeps the within-cluster quadratic ~n²/64 — the k-scaling IS
    SemDeDup's cost control (the paper runs k in the tens of thousands
    at corpus scale).

    Scale shape: the centroid table is collected (KB-scale) and the
    assignment is operators/similarity.nearest_center, the same Arrow
    batch kernel as IVF and PQ — each vector is scored against all 64
    centroids map-side, with no cross join, no exchange and no window
    (pinned in test_plans.py); the pairwise stage only runs inside
    clusters whose size is in [2, 256] — the max-cluster cap (mirrored in the oracle's HAVING) bounds any
    degenerate cluster exactly like the LSH max_bucket valve, so one
    all-zero-embedding cluster can never go quadratic."""
    from parquet_importer_spark.functions.vectors import cosine

    # four plan branches read the assignment (cluster census, both
    # pair sides, the final verdict join); without a checkpoint the
    # 64-centroid scoring re-executes per branch (guide §2.4, share
    # one computation). The assignment plan itself (one Python map, no
    # exchange, no window) is pinned by tests/test_plans.py against
    # _semdedup_assignment. It runs as one task over a one-row-group
    # scan, which the kernel makes cheap; parallelize AFTER it so the
    # pairwise cosine stage gets every core (measured at sf0.1: ~1.6 s
    # per query against ~2.1 s with the whole pipeline in one task).
    assigned = parallelize(_semdedup_assignment(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    ok = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= 256))
        .select("cluster")
    )
    eligible = assigned.join(F.broadcast(ok), "cluster")
    a = eligible.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("cos_centroid").alias("ca"),
    )
    b = eligible.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("cos_centroid").alias("cb"),
    )
    pairs = a.join(b, "cluster").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.4)
    )
    drops = pairs.select(
        F.when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("vec_id")
    ).distinct()
    return (
        assigned.join(
            F.broadcast(drops.withColumn("dropped", F.lit(True))),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            "cos_centroid",
            F.col("dropped").isNull().alias("keep"),
        )
    )


#: sign-bucket SQL over the adaptive bit count (bb CTE must define bits)
_SB = (
    "array_to_string(list_transform(range(1, 1 + (SELECT bits FROM bb)),"
    " i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '')"
)


def _adaptive_k_sql() -> str:
    """CASE chain deriving the adaptive centroid count from COUNT(*) —
    the exact integer chain the Spark side walks (k = 64 doubling while
    n > 32·k, capped at 65536); threshold comparisons only, so both
    engines agree bit-for-bit (the int_threshold_bucket rationale)."""
    from parquet_importer_spark.operators.similarity import (
        int_threshold_bucket_sql,
    )

    return int_threshold_bucket_sql(
        "(SELECT n FROM nn)",
        base=2048,
        factor=2,
        max_s=10,
        values=[64 * 2**s for s in range(11)],
    )


@query(
    "llm_semdedup_adaptive",
    oracle=f"""
    WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    kk AS (SELECT {_adaptive_k_sql()} AS k FROM nn),
    bb AS (
      SELECT GREATEST(4, LEAST(16,
               CAST(CEIL(LOG2(GREATEST(n / 125.0, 1.0))) AS INT))) AS bits
      FROM nn
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS cvec, {_SB} AS bucket
      FROM embeddings WHERE vec_id < (SELECT k FROM kk)
    ),
    vec AS (
      SELECT vec_id, embedding AS v, {_SB} AS bucket FROM embeddings
    ),
    scored AS (
      SELECT vec.vec_id, vec.v, c.cid,
             ROUND({oracle_cosine('vec.v', 'c.cvec')}, 6) AS cosc,
             ROW_NUMBER() OVER (
               PARTITION BY vec.vec_id
               ORDER BY ROUND({oracle_cosine('vec.v', 'c.cvec')}, 6) DESC,
                        c.cid ASC) AS rn
      FROM vec JOIN cent c USING (bucket)
    ),
    assigned AS (
      SELECT vec_id, cid AS cluster, v, cosc AS cos_centroid
      FROM scored WHERE rn = 1
    ),
    allv AS (
      SELECT * FROM assigned
      UNION ALL
      SELECT vec_id, -1 AS cluster, v, CAST(NULL AS DOUBLE) AS cos_centroid
      FROM vec WHERE vec_id NOT IN (SELECT vec_id FROM assigned)
    ),
    ok AS (
      SELECT cluster FROM allv WHERE cluster >= 0
      GROUP BY cluster HAVING COUNT(*) BETWEEN 2 AND 256
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.cos_centroid AS ca, b.cos_centroid AS cb
      FROM allv a
      JOIN ok o ON o.cluster = a.cluster
      JOIN allv b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE ROUND({oracle_cosine('a.v', 'b.v')}, 6) >= 0.4
    ),
    drops AS (
      SELECT DISTINCT CASE WHEN (ca, id_a) > (cb, id_b)
                           THEN id_a ELSE id_b END AS vec_id
      FROM pairs
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster, a.cos_centroid,
           d.vec_id IS NULL AS keep
    FROM allv a LEFT JOIN drops d USING (vec_id)
    """,
)
def llm_semdedup_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form of ``llm_semdedup`` (the §8.7 watch item: fixed k=64
    leaves zero clusters inside the [2,256] pair window beyond ~16k
    vectors, so the spec key silently stops dropping at scale — and
    scaling k naively makes the exact n×k assignment quadratic,
    since SemDeDup wants k ∝ n). Two adaptive knobs close both ends:

    - **k adapts to the corpus**: k = 64 doubling while n > 32·k,
      capped at 65536 (the paper's tens-of-thousands regime) — an
      integer threshold chain both engines derive from COUNT(*), so
      mean cluster size stays ~32, inside the pair window, at every
      decade up to the cap.
    - **assignment is LSH-bucketed (approximate)**: vectors score only
      the centroids sharing their adaptive sign bucket
      (adaptive_sign_bits — the same bit count llm_sim_pairs_lsh
      uses), ≈ 125·k/n ≈ 4 candidates per vector instead of k, so
      assignment work is LINEAR in n. A vector whose bucket holds no
      centroid gets cluster −1 (kept, excluded from pairing) — the
      documented recall cost of approximate assignment; SemDeDup's
      own clustering is approximate k-means, so the contract matches
      the method. Deterministic end to end → full-value oracle.

    Plan shape: ONE footer-served count feeds both knobs; the centroid
    table is the ONLY explicitly-broadcast frame (≤65536 rows × 64
    floats ≈ 16 MB — bounded by the k cap, so the hint is safe at any
    n); assignment is the bucket-equi broadcast join collapsed by a
    map-side-combinable max_by (no window, no row_number — the
    llm_semdedup plan); the orphan anti-join and the final drops left
    join carry NO broadcast hint — both of those sides are O(n)
    (~one row per input vector), so a forced broadcast would collect
    multi-GB frames to the driver at exactly the scale this key exists
    for (round-11 ADVICE); AQE broadcasts them when they measure small
    and shuffles when they don't. The pair stage inherits the spec
    key's [2,256] cluster window, so no degenerate cluster can go
    quadratic. Drop rule identical: within a ≥0.4-cosine pair the
    member CLOSER to its centroid drops (diversity-preserving, ties by
    vec_id)."""
    from parquet_importer_spark.functions.vectors import cosine
    from parquet_importer_spark.operators.similarity import (
        adaptive_sign_bits,
        sign_bucket,
    )

    emb = parallelize(read_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    bits = adaptive_sign_bits(n)
    k = 64
    while k < 65536 and n > 32 * k:
        k *= 2
    # BOTH join sides are EAGERLY checkpointed before the bucket
    # equi-join: with the bucket columns defined by sign_bucket's
    # higher-order lambdas, Catalyst inlines both definitions into the
    # join condition and pushes an invalid cross-side filter into the
    # centroid scan (an `!Filter` whose lambda still references the
    # probe side's embedding attribute -> INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND at execution; session-config-dependent, reproduced under
    # the pytest profile). localCheckpoint truncates the lineage to
    # LogicalRDDs with plain columns, so there is nothing to inline or
    # mis-push — and the truncation is in the RETURNED PLAN for lazy
    # checkpoints too, so only the small bounded cent side is eager
    # (k<=65536 rows, one cheap construction-time job). The n-row vec
    # frame checkpoints lazily on first use: plan-only callers
    # (explain tools) pay no job and no executor storage, and the
    # materialized footprint appears only when the query actually runs
    # (round-11 ADVICE — the eager form cached the whole embeddings
    # projection at DataFrame-construction time).
    cent = (
        emb.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
            sign_bucket(F.col("embedding"), bits).alias("bucket"),
        )
        .localCheckpoint()
    )
    vec = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        sign_bucket(F.col("embedding"), bits).alias("bucket"),
    ).localCheckpoint(eager=False)
    scored = vec.join(F.broadcast(cent), "bucket").select(
        "vec_id",
        "v",
        "cid",
        F.round(cosine(F.col("v"), F.col("cvec")), 6).alias("cosc"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "cosc", "v"),
                F.struct(F.col("cosc"), -F.col("cid")),
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.cid").alias("cluster"),
            F.col("best.v").alias("v"),
            F.col("best.cosc").alias("cos_centroid"),
        )
        # read twice (allv union + the orphan anti-join) — checkpoint
        # so the bucket-join + max_by assignment executes once
        # (guide §2.4; same fix as llm_semdedup, measured r14)
        .localCheckpoint(eager=False)
    )
    # no broadcast hint: assigned is ~n rows (round-11 ADVICE) — AQE
    # picks broadcast at small SFs and a shuffle join at scale
    orphans = vec.join(
        assigned.select("vec_id"), "vec_id", "left_anti"
    ).select(
        "vec_id",
        F.lit(-1).alias("cluster"),
        F.col("v"),
        F.lit(None).cast("double").alias("cos_centroid"),
    )
    # four plan branches read allv (cluster census, both pair sides,
    # the final verdict join) — one materialization instead of four
    allv = assigned.unionByName(orphans).localCheckpoint(eager=False)
    ok = (
        allv.filter(F.col("cluster") >= 0)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter((F.col("cn") >= 2) & (F.col("cn") <= 256))
        .select("cluster")
    )
    eligible = allv.join(F.broadcast(ok), "cluster")
    a = eligible.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("cos_centroid").alias("ca"),
    )
    b = eligible.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("cos_centroid").alias("cb"),
    )
    pairs = a.join(b, "cluster").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.4)
    )
    drops = pairs.select(
        F.when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("vec_id")
    ).distinct()
    # no broadcast hint on drops either — worst case it is O(n) rows
    return (
        allv.join(
            drops.withColumn("dropped", F.lit(True)),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            "cos_centroid",
            F.col("dropped").isNull().alias("keep"),
        )
    )


def _pq_subdist_sql(a: str, b: str, lo: str, hi: str) -> str:
    """DuckDB SQL: rounded squared-L2 distance between slices
    [lo:hi] of two float vectors (same left fold as the Spark side)."""
    return (
        f"ROUND(list_sum(list_transform(list_zip({a}[{lo}:{hi}], "
        f"{b}[{lo}:{hi}]), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)"
    )


_PQ_ENC_COLS = ", ".join(
    f"CAST(MIN([{_pq_subdist_sql('e.embedding', 'c.cvec', str(j * 16 + 1), str((j + 1) * 16))},"
    f" CAST(c.cid AS DOUBLE)])[2] AS INT) AS c{j}"
    for j in range(4)
)

_PQ_ADC_CASE = " ".join(
    f"WHEN {j} THEN {_pq_subdist_sql('q.qvec', 'c.cvec', str(j * 16 + 1), str((j + 1) * 16))}"
    for j in range(4)
)


@query(
    "llm_sim_pq",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 16
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id, {_PQ_ENC_COLS}
      FROM embeddings e CROSS JOIN cb c GROUP BY e.vec_id
    ),
    adc AS (
      SELECT c.cid, j.j,
             CASE j.j {_PQ_ADC_CASE} END AS tdist
      FROM cb c CROSS JOIN q CROSS JOIN
           (SELECT unnest(range(0, 4)) AS j) j
    ),
    melted AS (
      SELECT vec_id, j.j,
             CASE j.j WHEN 0 THEN c0 WHEN 1 THEN c1
                      WHEN 2 THEN c2 ELSE c3 END AS code
      FROM enc CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
    )
    SELECT m.vec_id,
           ROUND(CAST(SUM(CAST(a.tdist AS DECIMAL(30,6))) AS DOUBLE), 6)
             AS approx_dist
    FROM melted m JOIN adc a ON m.j = a.j AND m.code = a.cid
    GROUP BY m.vec_id
    ORDER BY approx_dist ASC, vec_id ASC LIMIT 10
    """,
)
def llm_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the PQ half of IVF-PQ — the memory side of
    production ANN): each 64-dim vector splits into 4 subvectors,
    each encoded as its nearest of 16 sub-centroids (4 bytes/vector vs
    256), and the query scores every vector by Asymmetric Distance
    Computation — summing 4 precomputed query↔centroid subdistances
    from a 64-entry lookup table instead of touching the raw vector.

    Deterministic parameterization (codebook = subvectors of the first
    16 embeddings, ties by centroid id; swap in learned sub-centroids
    exactly as llm_sim_ivf_kmeans does) keeps every encode and score
    oracle-reproducible: subdistances are identical left folds rounded
    to 6, the argmin takes the smallest rounded distance with ties to
    the lower cid (the oracle's lexicographic MIN over [dist, cid]
    arrays), and the 4-term ADC sum accumulates in decimal so grouping
    order cannot matter.

    Scale shape: the codebook (KB) is collected and the encode is one
    map-side pass of operators/similarity.nearest_center over all four
    sub-spaces (no exchange); the ADC table is the same kernel on the
    query, 64 rows broadcast into the melted (vector, subspace, code)
    join; scoring never reads raw vectors —
    at 100 TB the encode output (4 ints/vector) IS the stored index,
    and queries cost a table lookup + TakeOrderedAndProject."""
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", "embedding")
    cb = sorted(tuple(r) for r in vecs.filter(F.col("vec_id") < 16).collect())
    enc = nearest_center(vecs, "embedding", cb, "dist2", slices=4).select(
        "vec_id", *[F.col(f"cid{j}").cast("int").alias(f"c{j}") for j in range(4)]
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    # ADC table: every (sub-space j, cid) entry of the query's scores,
    # which nearest_center lays out slice-major (j·k + cid position)
    k = len(cb)
    adc = (
        nearest_center(q, "qvec", cb, "dist2", slices=4)
        .select(F.posexplode("scores").alias("p", "tdist"))
        .select(
            F.element_at(cid_array([c for c, _ in cb]), F.col("p") % k + 1).alias(
                "cid"
            ),
            (F.col("p") / k).cast("int").alias("j"),
            "tdist",
        )
    )
    melted = enc.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"c{j}") for j in range(4)])).alias(
            "j", "code"
        ),
    )
    return (
        melted.join(
            F.broadcast(adc),
            (melted["j"] == adc["j"]) & (melted["code"] == adc["cid"]),
        )
        .groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.col("tdist").cast("decimal(30,6)")).cast("double"), 6
            ).alias("approx_dist")
        )
        .orderBy(F.col("approx_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


@query(
    "llm_emb_whiten",
    oracle="""
    WITH ex AS (
      SELECT vec_id, i.i - 1 AS pos,
             ROUND(CAST(embedding[i.i] AS DOUBLE), 6) AS xq
      FROM embeddings, LATERAL (
        SELECT unnest(range(1, len(embedding) + 1)) AS i
      ) i
    ),
    stats AS (
      SELECT pos,
             CAST(COUNT(*) AS BIGINT) AS n_vectors,
             ROUND(CAST(SUM(CAST(xq AS DECIMAL(30,8))) AS DOUBLE), 6)
               / COUNT(*) AS mean,
             ROUND(CAST(SUM(CAST(ROUND(xq * xq, 12) AS DECIMAL(32,12)))
                        AS DOUBLE), 12) / COUNT(*) AS m2,
             MAX(CASE WHEN vec_id = 0 THEN xq END) AS qx
      FROM ex GROUP BY pos
    )
    SELECT pos, n_vectors,
           ROUND(mean, 6) AS mean,
           ROUND(sqrt(m2 - mean * mean), 6) AS std,
           ROUND(CASE WHEN sqrt(m2 - mean * mean) > 0
                      THEN (qx - mean) / sqrt(m2 - mean * mean)
                      ELSE 0.0 END, 6) AS q_whitened
    FROM stats
    """,
)
def llm_emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding whitening statistics: per-dimension corpus mean and
    standard deviation (the fit half of a whitening transform — the
    standard post-processing that removes per-dimension bias/scale
    before cosine retrieval), plus the query vector (vec_id 0)
    standardized against them as the applied example.

    Bit-portability: components quantize to the 6-dp grid and both
    moments (Σx, Σx²) accumulate in exact decimal (the centroid-dist
    recipe, extended to second moments via a 12-dp product grid);
    variance, sqrt, and the standardization are then single IEEE ops
    over identical doubles.

    Scale shape: one explode → per-dimension partial-aggregated
    groupBy (d groups — the mergeable element-wise moment pattern, no
    reducer sees the corpus); the query component rides the SAME
    aggregation as a conditional max, so the whole operator is one
    shuffle producing d rows. Applying the transform corpus-wide is
    then a broadcast of the d-row stats table into a pure map."""
    emb = parallelize(read_table(spark, sf_dir, "embeddings"))
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("xf").cast("double"), 6).alias("xq"),
    )
    stats = ex.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        (
            F.round(F.sum(F.col("xq").cast("decimal(30,8)")).cast("double"), 6)
            / F.count(F.lit(1))
        ).alias("mean"),
        (
            F.round(
                F.sum(
                    F.round(F.col("xq") * F.col("xq"), 12).cast(
                        "decimal(32,12)"
                    )
                ).cast("double"),
                12,
            )
            / F.count(F.lit(1))
        ).alias("m2"),
        F.max(F.when(F.col("vec_id") == 0, F.col("xq"))).alias("qx"),
    )
    std = F.sqrt(F.col("m2") - F.col("mean") * F.col("mean"))
    return stats.select(
        "pos",
        "n_vectors",
        F.round(F.col("mean"), 6).alias("mean"),
        F.round(std, 6).alias("std"),
        F.round(
            F.when(std > 0, (F.col("qx") - F.col("mean")) / std).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("q_whitened"),
    )


@query(
    "llm_cluster_kmeans_exact",
    oracle=f"""
    WITH xv AS (
      SELECT vec_id,
             list_transform(embedding,
                            e -> round(CAST(e AS DOUBLE), 6)) AS v
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, v AS cvec FROM xv WHERE vec_id < 8),
    a1 AS (
      SELECT vec_id, cid AS cluster_r1, v FROM (
        SELECT x.vec_id, x.v, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY ROUND({oracle_dist2('x.v', 'c.cvec')}, 6) ASC,
                          c.cid ASC) AS rn
        FROM xv x CROSS JOIN c0 c
      ) WHERE rn = 1
    ),
    ex AS (
      SELECT cluster_r1 AS cid, i.i AS pos, v[i.i] AS x
      FROM a1, LATERAL (
        SELECT unnest(range(1, len(v) + 1)) AS i
      ) i
    ),
    m AS (
      SELECT cid, pos,
             ROUND(CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE), 6)
               / COUNT(*) AS c
      FROM ex GROUP BY cid, pos
    ),
    c1 AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM m GROUP BY cid),
    a2 AS (
      SELECT vec_id, cluster_r1, cid AS cluster, d AS dist2 FROM (
        SELECT a.vec_id, a.cluster_r1, c.cid,
               ROUND({oracle_dist2('a.v', 'c.cvec')}, 6) AS d,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({oracle_dist2('a.v', 'c.cvec')}, 6) ASC,
                          c.cid ASC) AS rn
        FROM a1 a CROSS JOIN c1 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cluster_r1, cluster, dist2 FROM a2
    """,
)
def llm_cluster_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled Lloyd k-means over the embedding corpus — k = 8,
    TWO full assign→update→assign rounds, every step deterministic: the
    8 lowest vec_ids seed the centroids, assignment breaks distance
    ties by centroid id, and centroid updates use the per-dimension
    decimal-exact mean (the llm_embed_centroid_dist recipe). That
    determinism is the point: where llm_sim_ivf_kmeans wraps MLlib's
    seeded sampling fit (correctly rows-only checkable), THIS k-means
    is reproducible expression-for-expression, so the DuckDB oracle
    unrolls both rounds and the driver hash-checks per-vector cluster
    assignments AND distances — the first fully hash-verified
    clustering in the suite (the kcore/pagerank unrolled-oracle
    playbook applied to geometry).

    Float contract: inputs quantize to the 6-dp grid; each dist² is
    the identical ordered zip-fold on both engines (functions.vectors
    dist2 / oracle_dist2), argmin compares ROUND(d, 6) with id
    tie-break; centroid means accumulate DECIMAL(30,8), snap back to
    the grid, and divide once (registry exact_avg shape).

    Scale shape: per round the k×dim centroid table is collected and
    scored against the un-shuffled corpus map-side
    (operators/similarity.nearest_center, the llm_semdedup assignment)
    and ONE partial-aggregatable (cluster, pos) mean — the canonical
    distributed Lloyd round; the corpus localCheckpoints once for its
    three consumers. k and the round count are the only cost knobs at
    100 TB; nothing is quadratic in n."""
    emb = read_table(spark, sf_dir, "embeddings")
    xv = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda e: F.round(e.cast("double"), 6)
        ).alias("v"),
    ).localCheckpoint(eager=False)

    def assign(df: DataFrame, cent: DataFrame, label: str) -> DataFrame:
        return nearest_center(df, "v", cent, "dist2").select(
            *df.columns,
            F.col("cid").alias(label),
            F.col("score").alias(f"{label}_d"),
        )

    c0 = xv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    # read by the c1 collect and by a2: checkpoint so the first
    # assignment's kernel runs once
    a1 = assign(xv, c0, "cluster_r1").localCheckpoint(eager=False)
    m = (
        a1.select(F.col("cluster_r1").alias("cid"), F.posexplode("v"))
        .groupBy("cid", "pos")
        .agg(
            (
                F.round(
                    F.sum(F.col("col").cast("decimal(30,8)")).cast("double"),
                    6,
                )
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    c1 = m.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.c,
        ).alias("cvec")
    )
    a2 = assign(a1, c1, "cluster")
    return a2.select(
        "vec_id",
        "cluster_r1",
        "cluster",
        F.col("cluster_d").alias("dist2"),
    )
