"""Similarity search over embedding columns (SURVEY §2.J llm_sim_topk).

Two tiers, as a 100-TB design requires:

- **brute-force top-k vs a query vector**: broadcast the 1-row query,
  cosine via zip_with/aggregate (interpreted lambdas, no Python), then
  TakeOrderedAndProject — per-partition local top-k, driver merges
  k·partitions rows. Linear scan, zero shuffle of the corpus.
- **LSH-bucketed pairwise (the scale path)**: random-hyperplane-style
  sign buckets — here the deterministic variant: the sign bits of a
  fixed subset of dimensions. Pairwise cosine runs only within a
  bucket, turning O(n²) into Σ O(nᵦ²). Deterministic → SQL-oracle-able;
  swap the fixed dims for seeded random hyperplanes at production scale
  (same plan shape, still no UDFs).

Nearest-center assignment (semdedup, IVF, PQ, k-means) is one Arrow
batch kernel, :func:`nearest_center`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_importer_spark.functions.vectors import cosine
from parquet_importer_spark.io import parallelize
from parquet_importer_spark.operators.dedup import in_bucket_pairs


def _center_scorer(
    vec_col: str, centers: list[list[float]], metric: str, slices: int
):
    """The ``mapInArrow`` function behind :func:`nearest_center`: appends
    ``_raw`` (array<double>), the unrounded score of each row's
    ``vec_col`` against every center, slice-major.

    Self-contained (numpy/pyarrow imported inside, no package globals):
    executor Python workers may not have the package on ``sys.path``.
    Bit-identical to the ``functions.vectors`` folds: float32 widens to
    float64, then ``acc = acc + x*y`` (or ``(x-y)*(x-y)``) runs one
    dimension at a time in list order — never ``np.dot``/``@``/
    ``einsum``/``np.sum``, which reorder the sum or fuse the
    multiply-add — and cosine keeps ``d / (na * nb)`` with the zero-norm
    guard (→ 0.0; NaN norms pass the guard, as Spark's ``NaN > 0`` is
    true). Rounding is left to Spark, whose HALF_UP on
    ``Double.toString`` numpy does not reproduce.

    Raises ``ValueError`` (inside the task) on a NULL vector, a NULL
    element, a vector whose length differs from the centers', and a
    cosine whose nonzero norms multiply to 0.0 — inputs on which the
    folds return NULL or divide by zero."""

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        c = np.asarray(centers, dtype=np.float64)
        k, dim = c.shape
        w = dim // slices
        ct = np.ascontiguousarray(c.T)  # (dim, k): row i = every center's x_i

        def sq_norms(m):  # m: (dim, rows) -> per-slice sqrt(Σ x²), (slices, rows)
            out = np.empty((slices, m.shape[1]))
            for j in range(slices):
                acc = np.zeros(m.shape[1])
                for i in range(j * w, (j + 1) * w):
                    acc = acc + m[i] * m[i]
                out[j] = np.sqrt(acc)
            return out

        cn = sq_norms(ct) if metric == "cosine" else None
        for batch in batches:
            col = batch.column(vec_col)
            n = len(col)
            if col.null_count:
                raise ValueError(f"nearest_center: NULL vector in {vec_col!r}")
            vals = col.flatten()
            if vals.null_count:
                raise ValueError(f"nearest_center: NULL element in {vec_col!r}")
            if n and pc.any(pc.not_equal(pc.list_value_length(col), dim)).as_py():
                raise ValueError(
                    f"nearest_center: {vec_col!r} length is not the centers' {dim}"
                )
            xt = np.ascontiguousarray(
                vals.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim).T
            )
            scores = np.empty((n, slices, k))
            xn = sq_norms(xt) if metric == "cosine" else None
            for j in range(slices):
                acc = np.zeros((n, k))
                for i in range(j * w, (j + 1) * w):
                    if metric == "dist2":
                        t = xt[i][:, None] - ct[i][None, :]
                        acc = acc + t * t
                    else:
                        acc = acc + xt[i][:, None] * ct[i][None, :]
                if metric == "cosine":
                    na, nb = xn[j][:, None], cn[j][None, :]
                    ok = ~(na <= 0) & ~(nb <= 0)  # NaN > 0 holds in Spark
                    prod = na * nb
                    if np.any(ok & (prod == 0)):
                        raise ValueError("nearest_center: norm product underflows to 0")
                    with np.errstate(divide="ignore", invalid="ignore"):
                        acc = np.where(ok, acc / prod, 0.0)
                scores[:, j, :] = acc
            m = slices * k
            raw = pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * m + 1, m, dtype=np.int32)),
                pa.array(scores.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, raw], names=[*batch.schema.names, "_raw"]
            )

    return score


def cid_array(cids: list[int]) -> Column:
    """``cids`` as one bigint array literal, to map a position in
    :func:`nearest_center`'s ``scores`` back to its cid (one SQL string:
    a py4j call per ``F.lit`` costs ~0.5 ms of build time each)."""
    return F.expr(f"CAST(array({', '.join(map(str, cids))}) AS array<bigint>)")


def nearest_center(
    df: DataFrame,
    vec_col: str,
    centers: DataFrame | Sequence[tuple[int, Sequence[float]]],
    metric: str = "cosine",
    dp: int | None = 6,
    slices: int = 1,
) -> DataFrame:
    """Assign every row of ``df`` to its nearest center, map-side: one
    Arrow batch kernel (:func:`_center_scorer`) scores each batch
    against the collected center matrix, and Spark rounds and picks —
    no cross join, no exchange, no per-vector aggregate.

    ``centers``: ``(cid, vector)`` pairs, or a frame whose first two
    columns are those (collected here; it must be small). ``metric``
    ``"cosine"`` (``functions.vectors.cosine``; best = largest) or
    ``"dist2"`` (``dist2``; best = smallest). ``dp``: scores are
    ``F.round(score, dp)`` before the pick (None: unrounded).
    ``slices`` > 1 splits the vectors into that many equal sub-vectors
    scored separately (product quantization's sub-spaces).

    Adds ``scores`` (array<double>: every center's score in cid order;
    slice j's are elements j·k … j·k+k−1) and, per slice, the best
    center's ``cid`` (bigint) and its ``score`` — named ``cid``/
    ``score`` when ``slices`` is 1, else ``cid{j}``/``score{j}``. Ties
    go to the smallest cid; NaN scores order above every number, as in
    Spark. With no centers no row survives, like an inner cross join.
    NULL vectors or elements and lengths other than the centers' raise
    ``ValueError`` (see :func:`_center_scorer`)."""
    if metric not in ("cosine", "dist2"):
        raise ValueError(f"metric must be cosine or dist2, got {metric!r}")
    if isinstance(centers, DataFrame):
        centers = [(r[0], r[1]) for r in centers.collect()]
    centers = sorted(centers, key=lambda c: c[0])
    if any(v is None or None in v for _, v in centers):
        raise ValueError("nearest_center: NULL center vector or element")
    cids = [int(c) for c, _ in centers]
    mat = [[float(x) for x in v] for _, v in centers]
    dim = len(mat[0]) if mat else 0
    if slices < 1 or any(len(v) != dim for v in mat) or dim % slices:
        raise ValueError(
            f"nearest_center: centers need one length divisible by slices={slices}"
        )
    k = len(cids)
    if k:
        raw_type = T.StructField("_raw", T.ArrayType(T.DoubleType()))
        raw = df.mapInArrow(
            _center_scorer(vec_col, mat, metric, slices),
            T.StructType([*df.schema.fields, raw_type]),
        )
    else:  # like an inner cross join with no centers: no row survives
        raw = df.limit(0).withColumn("_raw", F.lit(None).cast("array<double>"))
    # F.transform's interpreted lambda measured faster here than one
    # codegen'd round() per element (0.38 s vs 0.48 s for 2000 × 64)
    scores = (
        F.col("_raw") if dp is None else F.transform("_raw", lambda s: F.round(s, dp))
    )
    out = raw.select(*(raw[c] for c in df.columns), scores.alias("scores"))
    pick = F.array_max if metric == "cosine" else F.array_min
    cid_arr = cid_array(cids)
    picks = []
    for j in range(slices):
        sub = F.col("scores") if slices == 1 else F.slice("scores", j * k + 1, k)
        tag = "" if slices == 1 else str(j)
        best = pick(sub)
        pos = F.array_position(sub, best).cast("int")
        picks += [
            F.element_at(cid_arr, pos).alias(f"cid{tag}"),
            best.alias(f"score{tag}"),
        ]
    return out.select("*", *picks)


def topk_cosine(
    corpus: DataFrame,
    query_vec_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k most similar corpus vectors to the (single-row) query.

    ``query_vec_df`` must have one row with column ``qvec``. Broadcast
    cross join keeps the corpus scan shuffle-free.
    """
    q = F.broadcast(query_vec_df)
    scored = parallelize(corpus).crossJoin(q).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("qvec")), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def sign_bucket(vec: Column, dims: int = 8) -> Column:
    """Deterministic LSH bucket: '0'/'1' string of the sign bits of the
    first ``dims`` components (1 = non-negative)."""
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(dims)),
            lambda i: F.when(F.element_at(vec, i) >= 0, "1").otherwise("0"),
        ),
        "",
    )


def sign_bucket_probes(
    vec: Column, dims: int = 8, probe_epsilon: float | None = None
) -> Column:
    """Multi-probe bucket list for ``vec``: its exact sign bucket plus —
    when ``probe_epsilon`` is set — one variant per STRADDLING dimension
    (|component| < ε) with that dim's sign bit flipped.

    Sign-bit LSH only misses a true near-dup when some component sits
    close enough to zero that the two copies land on opposite signs;
    probing the flipped bucket for exactly those dims recovers them at
    the cost of ≤ (1 + n_straddling) bucket rows per vector — bounded
    and data-proportional, unlike widening ε-insensitive bit counts.
    Pure array expressions, no UDFs; still deterministic/oracle-able."""

    def bucket_with_flip(flip: Column) -> Column:
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(dims)),
                lambda i: F.when(
                    (F.element_at(vec, i) >= 0) != (i == flip), "1"
                ).otherwise("0"),
            ),
            "",
        )

    main = bucket_with_flip(F.lit(0))  # dims are 1-based; 0 flips nothing
    if probe_epsilon is None:
        return F.array(main)
    candidates = F.transform(
        F.sequence(F.lit(1), F.lit(dims)),
        lambda i: F.struct(
            bucket_with_flip(i).alias("b"),
            F.abs(F.element_at(vec, i)).alias("mag"),
        ),
    )
    flipped = F.transform(
        F.filter(candidates, lambda s: s["mag"] < F.lit(probe_epsilon)),
        lambda s: s["b"],
    )
    return F.array_distinct(F.concat(F.array(main), flipped))


def bucketed_scored_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_dims: int = 4,
    max_bucket: int | None = 10_000,
    probe_epsilon: float | None = None,
) -> DataFrame:
    """All within-bucket vector pairs with exact cosine, id_1 < id_2.
    ``probe_epsilon`` enables multi-probe (sign_bucket_probes): vectors
    additionally visit the flipped bucket of each near-zero component,
    and the pair set is deduped afterwards — recall over straddling
    near-dups at a bounded fan-out cost.

    The shared pruning stage: cross-bucket pairs are never scored, so
    the pairwise space shrinks ~2^bucket_dims×. Columns
    (bucket, id_1, id_2, cos_sim).

    Shape: ONE scan → group per bucket → in-bucket pair expansion, not a
    bucket self-join — half the scans/shuffles, and it sidesteps a Spark
    self-join-dedup bug where higher-order-function lambdas in a filter
    merged into the join condition keep stale attribute ids
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution). Buckets must fit
    in executor memory — ``max_bucket`` is ON by default (10k, a no-op
    below 10k vectors so test-SF results stay oracle-exact); tune down
    or add more bits at scale.

    Each vector's L2 norm is computed ONCE at scan time and carried with
    it, so the O(pairs) stage runs a single dot fold per pair instead of
    three — the values are bit-identical to norm-per-pair (same
    expression, same inputs), so SQL oracles need no reformulation."""
    from parquet_importer_spark.functions.vectors import dot, sq_norm

    b = parallelize(df).select(
        F.explode(
            sign_bucket_probes(F.col(vec_col), bucket_dims, probe_epsilon)
        ).alias("bucket"),
        F.struct(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.sqrt(sq_norm(F.col(vec_col))).alias("nrm"),
        ).alias("x"),
    )
    buckets = (
        b.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("x")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    if max_bucket is not None:
        # scale valve: cap degenerate buckets (B docs → B²/2 pairs);
        # raise bucket_dims or add multi-probe instead of raising the cap
        buckets = buckets.filter(F.size("xs") <= max_bucket)
    sim = F.when(
        (F.col("p.a.nrm") > 0) & (F.col("p.b.nrm") > 0),
        dot(F.col("p.a.v"), F.col("p.b.v")) / (F.col("p.a.nrm") * F.col("p.b.nrm")),
    ).otherwise(F.lit(0.0))
    out = buckets.select(
        "bucket", F.explode(in_bucket_pairs("xs", "a", "b")).alias("p")
    ).select(
        "bucket",
        F.col("p.a.id").alias("id_1"),
        F.col("p.b.id").alias("id_2"),
        F.round(sim, 6).alias("cos_sim"),
    )
    if probe_epsilon is not None:
        # a pair met in k probed buckets appears k times with the same
        # cosine — dedupe on the pair key (min bucket for determinism)
        out = (
            out.groupBy("id_1", "id_2")
            .agg(
                F.min("bucket").alias("bucket"),
                F.max("cos_sim").alias("cos_sim"),
            )
            .select("bucket", "id_1", "id_2", "cos_sim")
        )
    return out


def bucketed_topk_pairs_capped(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_dims: int | None = 4,
    top: int = 20,
    bucket_cap: int = 256,
) -> DataFrame:
    """Scale-safe sibling of :func:`bucketed_topk_pairs` (round-10
    verdict item 2: the exact form's in-bucket enumeration is
    workload-bound — TRUE near-pair counts grow ~quadratically on
    boilerplate-heavy corpora because whole near-dup clusters share a
    bucket, and the exact contract must touch every pair; measured
    xlin_c 4.98 at the sf100 rung).

    The valve: within each bucket only the ``bucket_cap`` LOWEST-id
    vectors enter pair expansion — ``row_number() OVER (PARTITION BY
    bucket ORDER BY id) <= cap``, applied BEFORE the per-bucket array
    build, which also bounds the ``collect_list`` array at ``cap``
    structs (the exact form materializes a whole degenerate bucket on
    one executor before its size filter can see it). Per-bucket pair
    work is ≤ cap²/2 and bucket count is ~n/target, so total work is
    linear in n regardless of cluster growth. Dropped-member pairs are
    the accepted recall cost — for the top-k-of-near-dup-cluster use
    case the retained members of a cluster still produce its
    representative top pairs (recall measured against the exact form in
    tests/test_round11_ops.py on a bounded sub-corpus).

    Unlike a drop-the-whole-bucket filter, the keep-lowest-ids rule is
    a DETERMINISTIC total function of the input, so the key carries a
    FULL-value DuckDB oracle (QUALIFY row_number() ...), not a bound
    oracle. The window and the groupBy hash the same key, so Catalyst
    plans ONE exchange on bucket for both.

    At every driver SF (≤2000 vectors, expected bucket ~125 «
    ``bucket_cap``) the valve is a provable no-op and the output equals
    the exact form's bit-for-bit.
    """
    return _capped_bucket_scored_pairs(
        df, vec_col, id_col, bucket_dims, bucket_cap
    ).orderBy(
        F.col("cos_sim").desc(), F.col("id_1").asc(), F.col("id_2").asc()
    ).limit(top)


def embedding_near_dup_pairs_capped(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_dims: int | None = None,
    threshold: float = 0.4,
    bucket_cap: int = 256,
) -> DataFrame:
    """Scale-safe sibling of :func:`embedding_near_dup_pairs` — the
    round-11 sf100 tranche measured the exact form at xlin_c 4.67
    (1004 s): like the LSH pair spec, its contract must EMIT every
    within-bucket pair ≥ threshold, and true pairs grow ~100×/decade
    on cluster-growing corpora. Same valve as
    :func:`bucketed_topk_pairs_capped` (keep-lowest-``bucket_cap``-ids
    per bucket, map-side WindowGroupLimit, one shared exchange,
    deterministic ⇒ full-value oracle), same no-op-at-driver-SF
    argument; the output keeps the exact form's columns
    (id_1, id_2, cos_sim ≥ threshold)."""
    return (
        _capped_bucket_scored_pairs(df, vec_col, id_col, bucket_dims, bucket_cap)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_1", "id_2", "cos_sim")
    )


def _capped_bucket_scored_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bucket_dims: int | None,
    bucket_cap: int,
) -> DataFrame:
    """Shared core of the two capped siblings: adaptive sign buckets,
    keep the ``bucket_cap`` LOWEST-id vectors per bucket (row_number
    BEFORE the array build — Spark plans a partial WindowGroupLimit so
    at most cap rows per bucket per input partition ever shuffle, and
    the groupBy reuses the window's single exchange), then exact
    in-bucket pair cosines. Columns (bucket, id_1, id_2, cos_sim)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    from parquet_importer_spark.functions.vectors import dot, sq_norm

    if bucket_dims is None:
        bucket_dims = adaptive_sign_bits(df.count())
    b = parallelize(df).select(
        sign_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
        F.struct(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.sqrt(sq_norm(F.col(vec_col))).alias("nrm"),
        ).alias("x"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("x.id").asc())
    survivors = (
        b.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= bucket_cap)
        .drop("rn")
    )
    buckets = (
        survivors.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("x")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    sim = F.when(
        (F.col("p.a.nrm") > 0) & (F.col("p.b.nrm") > 0),
        dot(F.col("p.a.v"), F.col("p.b.v"))
        / (F.col("p.a.nrm") * F.col("p.b.nrm")),
    ).otherwise(F.lit(0.0))
    return (
        buckets.select("bucket", F.explode(in_bucket_pairs("xs", "a", "b")).alias("p"))
        .select(
            "bucket",
            F.col("p.a.id").alias("id_1"),
            F.col("p.b.id").alias("id_2"),
            F.round(sim, 6).alias("cos_sim"),
        )
    )


def bucketed_topk_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_dims: int | None = 4,
    top: int = 20,
) -> DataFrame:
    """Most-similar vector pairs, searched only within LSH sign buckets.

    Approximate by construction (cross-bucket pairs are never scored) but
    fully deterministic. Returns top pairs under the total order
    (cos_sim desc, id_1, id_2). ``bucket_dims=None`` scales the bit
    count with corpus size (:func:`adaptive_sign_bits`) to keep the
    in-bucket pair stage linear.
    """
    if bucket_dims is None:
        bucket_dims = adaptive_sign_bits(df.count())
    return bucketed_scored_pairs(df, vec_col, id_col, bucket_dims).orderBy(
        F.col("cos_sim").desc(), F.col("id_1").asc(), F.col("id_2").asc()
    ).limit(top)


def adaptive_sign_bits(
    n_rows: int, target_bucket: int = 125, min_bits: int = 4, max_bits: int = 16
) -> int:
    """Sign-LSH bit count that holds expected bucket occupancy at
    ``target_bucket`` as the corpus grows: bits = ⌈log2(n/target)⌉,
    clamped. A FIXED bit count makes in-bucket pair expansion grow
    quadratically with corpus size (n²/2^bits) — the round-7 sf1
    spot-run measured exactly that on llm_dedup_embedding (xlin 1.46
    at 10× data with 4 fixed bits). Scaling bits with n keeps the
    per-bucket candidate work constant, so total cost stays linear.
    The formula is integer-exact and reproducible in SQL (the oracle
    derives the same value from COUNT(*)), and at the driver's test
    SFs (≤2000 vectors / target 125) it returns the historical 4."""
    import math

    if n_rows <= 0:
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(max(n_rows / target_bucket, 1.0)))))


def int_threshold_bucket(
    n_col: Column,
    base: int,
    factor: int,
    max_s: int,
    values: list[int] | None = None,
) -> Column:
    """Smallest integer s in [0, max_s] with ``n <= base * factor**s``
    — the adaptive-knob exponent (grid pitch halvings, plane-size
    doublings) derived from COUNT(*) by PURE integer comparisons.

    The float formulation ``ceil(log2(n/base))`` is 1-ulp fragile
    across engines: Spark computes log2 as ln(x)/ln(2) while DuckDB
    uses native log2, so at n exactly ``base * 2**k`` the ceil can
    flip and change every derived cell id (round-8 ADVICE on
    spatial_knn_join's pitch). A threshold CASE chain is bit-exact by
    construction in any engine. ``int_threshold_bucket_sql`` emits the
    same chain for a SQL oracle.

    ``values[s]`` (when given) is returned instead of s itself — e.g.
    precomputed plane sizes 1000·2^s as exact BIGINT literals, keeping
    even the knob's CONSUMER float-free."""
    branch = values if values is not None else list(range(max_s + 1))
    expr: Column = F.lit(branch[max_s])
    for s in range(max_s - 1, -1, -1):
        expr = F.when(
            n_col <= F.lit(base * factor**s), F.lit(branch[s])
        ).otherwise(expr)
    return expr


def int_threshold_bucket_sql(
    n_sql: str,
    base: int,
    factor: int,
    max_s: int,
    values: list[int] | None = None,
) -> str:
    """ANSI-SQL CASE chain equivalent of :func:`int_threshold_bucket`."""
    branch = values if values is not None else list(range(max_s + 1))
    branches = " ".join(
        f"WHEN {n_sql} <= {base * factor**s} THEN {branch[s]}"
        for s in range(max_s)
    )
    return f"(CASE {branches} ELSE {branch[max_s]} END)"


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_dims: int | None = 4,
    threshold: float = 0.95,
    probe_epsilon: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH sign buckets prune the
    pairwise space, exact cosine ≥ threshold confirms. Near-identical
    vectors agree on every sign bit, so true near-dups stay in-bucket;
    misses only arise from components straddling zero — pass
    ``probe_epsilon`` (the production-scale setting) to multi-probe the
    flipped bucket of every |component| < ε and recover exactly those.

    ``bucket_dims=None`` derives the bit count from the corpus size via
    :func:`adaptive_sign_bits` (one footer-cheap count), keeping bucket
    occupancy — and therefore candidate-pair cost — linear in n."""
    if bucket_dims is None:
        bucket_dims = adaptive_sign_bits(df.count())
    return (
        bucketed_scored_pairs(
            df, vec_col, id_col, bucket_dims, probe_epsilon=probe_epsilon
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_1", "id_2", "cos_sim")
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 2,
) -> DataFrame:
    """Learned IVF centroids via a hand-rolled distributed Lloyd loop —
    the production swap for :func:`ivf_topk`'s seed-set index. Returns
    a (cid, cvec) frame.

    Replaced MLlib's ``KMeans.fit`` in round 15 (r14 verdict item 5):
    the MLlib fit ran its own ~25-job iteration loop (init sampling +
    per-iteration cost/center actions) where an IVF index needs only a
    few Lloyd rounds of "assign → per-dimension mean". Each round here
    is ONE partial-aggregatable exchange of k×dim (cid, pos) rows plus
    one KB-scale collect (the centers come back to the driver each
    round exactly like MLlib's fit, and the next round ships them to
    the assignment kernel — the llm_cluster_kmeans_exact shape):

    - assignment is :func:`nearest_center`'s map-side Arrow batch
      argmin over the k collected centers (squared-L2, MLlib's metric,
      unrounded; ties break on the lower cid) — no shuffle, no
      per-vector groupBy;
    - the update shuffles only (cid, pos, x) partial sums — the
      exchange is k×dim rows after map-side combine, independent of n;
    - init picks the ``n_centroids`` vectors with the smallest
      xxhash64(seed, vec) — seeded and reproducible for a fixed
      partitioning, like MLlib's seeded sampling.

    An empty cluster keeps its previous center (MLlib does the same).
    k clamps to the corpus size: fewer than ``n_centroids`` rows yield
    one center per row, and an empty corpus yields an empty frame.
    Unlike MLlib's fit, the centers are REPRODUCIBLE across
    partitionings and core counts: every per-dimension mean accumulates
    in DECIMAL(30,8) and snaps to the 6-dp grid (the
    llm_cluster_kmeans_exact recipe), so downstream recall per fixture
    is a code constant, not a float-reduction-order coin flip — the
    margin over llm_sim_ivf_kmeans's >=6/10 recall bound holds by
    measurement, not luck (measured at nprobe=8 with the default 2 rounds: 10/7/9/10
    of 10 at sf0.001/0.01/0.1/sf1-replica). Still rows-only verification (never
    in ``oracle_sql``) — consumers pin the index's RECALL, not the
    centers. ``max_iter`` default dropped 5 → 2: each extra round is a
    full corpus pass at 100 TB, and measured recall had converged by
    round 2 at every fixture (round 3 read equal or lower)."""
    spark = df.sparkSession
    v = F.col(vec_col)
    init = (
        df.select(v.alias("cvec"))
        .orderBy(F.xxhash64(F.lit(seed), v))
        .limit(n_centroids)
        .collect()
    )
    centers: list[list[float]] = [
        [round(float(x), 6) for x in r.cvec] for r in init
    ]
    dim = len(centers[0]) if centers else 0
    for _ in range(max_iter if centers else 0):
        # Per-dimension means as `dim` flat aggregate columns, NOT a
        # posexplode: a generator re-evaluates its input per EXPLODED
        # row (measured 64× — 17 s vs 1.3 s per round at sf0.1). Grouped
        # on the assigned cid, the aggregate partial-combines map-side
        # and the exchange carries k rows regardless of corpus size.
        def mean6(i: int):  # DECIMAL-exact, 6-dp-snapped (order-free)
            return F.round(
                F.round(
                    F.sum(v.getItem(i).cast("decimal(30,8)")).cast(
                        "double"
                    ),
                    6,
                )
                / F.count(F.lit(1)),
                6,
            )

        rows = (
            nearest_center(
                df.select(v), vec_col, list(enumerate(centers)), "dist2", dp=None
            )
            .groupBy("cid")
            .agg(*[mean6(i).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        got = {r.cid: [r[f"m{i}"] for i in range(dim)] for r in rows}
        centers = [got.get(i, centers[i]) for i in range(len(centers))]
    return spark.createDataFrame(
        list(enumerate(centers)), "cid int, cvec array<double>"
    )


def ivf_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    Index: every vector is assigned to its nearest centroid map-side
    (:func:`nearest_center`, no shuffle). Search: score the query
    against the same collected centroids, probe the ``nprobe`` best
    clusters, and run exact cosine ONLY inside them — scanning
    ~nprobe/n_centroids of the corpus instead of all of it.

    Default centroids are the deterministic seed set (vectors with
    id < n_centroids) so a SQL oracle reproduces the index exactly;
    pass ``centroids`` (columns ``cid, cvec``) to swap in learned ones —
    :func:`kmeans_centroids` is the production path (same plan: the
    centroids are collected either way, and the assignment / probe
    machinery is unchanged).
    """
    if centroids is None:
        centroids = df.filter(F.col(id_col) < n_centroids).select(id_col, vec_col)
    cent = sorted(((r[0], r[1]) for r in centroids.collect()), key=lambda c: c[0])
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # assignment: best cosine, ties to the lower cid (both engines agree)
    assigned = nearest_center(base, "v", cent, "cosine").select(
        "id", F.col("cid").alias("cluster"), "v"
    )
    # probe list: nprobe clusters nearest to the query
    probes = (
        nearest_center(query_vec_df.select("qvec"), "qvec", cent, "cosine")
        .select(F.posexplode("scores").alias("pos", "qsim"))
        .select(
            F.element_at(cid_array([c for c, _ in cent]), F.col("pos") + 1).alias(
                "cluster"
            ),
            "qsim",
        )
        .orderBy(F.col("qsim").desc(), F.col("cluster").asc())
        .limit(nprobe)
        .select("cluster")
    )
    hits = assigned.join(F.broadcast(probes), "cluster")
    return (
        hits.crossJoin(F.broadcast(query_vec_df))
        .select(
            F.col("id").alias(id_col),
            F.col("cluster"),
            F.round(cosine(F.col("v"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
