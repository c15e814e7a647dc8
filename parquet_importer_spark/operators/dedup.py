"""Document deduplication family (SURVEY §2.J).

Four public schemes, each built scale-first:

- **exact**: normalize → sha256 → one groupBy. One shuffle on the hash.
- **MinHash + LSH banding**: per-doc signature of k seeded-md5 shingle
  minima (computed entirely inside array expressions — NO explode, no
  shuffle); docs explode only into (band, key) rows, so candidate
  generation is an equi-join on band keys — the pairwise step only ever
  sees hash-colliding docs. This is the standard shingle→minhash→band
  →bucket-join pipeline; at 100 TB the band join is the only wide op.
  Every MinHash operator here (Jaccard, affine, containment,
  cross-corpus, edit distance) is written once as the same steps:
  ``_lsh_base`` (shingles + digests) → ``_band_keys`` (seeded-md5 or
  affine signatures) → ``_band_candidates`` (bucket pairs via
  :func:`in_bucket_pairs`) → ``_jaccard_verify``; only the verify
  metric differs.
- **SimHash**: 16-bit signature as a pure array fold, no shuffle at all.
- **n-gram Jaccard**: inverted-index join on shingles (candidate pairs
  share ≥1 shingle), exact |∩|/|∪| on the pruned pair set.

Determinism: all hashing is md5 (portable hex), so a SQL oracle
reproduces every bucket, signature, and pair exactly — unlike MLlib's
seed-dependent MinHashLSH (kept as a rows-only alt in suite/llm_dedup).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquet_importer_spark.functions.text import shingles, shingles_all, tokens
from parquet_importer_spark.io import parallelize


def normalized_text_hash(text: Column) -> Column:
    """sha256 of whitespace-collapsed lowercase text."""
    return F.sha2(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "), 256)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: content hash, copy count,
    and the minimum id as the deterministic canonical representative."""
    return (
        parallelize(df)
        .withColumn("content_hash", normalized_text_hash(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


#: MinHash LSH parameter presets. "toy" is the 8-hash/4-band shape the
#: sf-scale SQL oracles reproduce term-for-term (2 rows/band → the
#: similarity s-curve knees near (1/4)^(1/2) = 0.5, catching even weak
#: overlap on a small corpus). "production" is the industry-standard
#: 128-hash/16-band config (8 rows/band → knee ≈ (1/16)^(1/8) ≈ 0.71):
#: far fewer false-positive candidates per doc at corpus scale, with
#: near-certain capture of true near-dups (a 0.8-Jaccard pair lands in
#: ≥1 of 16 bands with p ≈ 1-(1-0.8^8)^16 ≈ 0.96). Same pipeline, same
#: plan shape — signatures just carry 128 array elements instead of 8.
MINHASH_PROFILES: dict[str, dict[str, int]] = {
    "toy": {"num_hashes": 8, "bands": 4},
    "production": {"num_hashes": 128, "bands": 16},
}


def in_bucket_pairs(arr_col: str, left: str, right: str) -> Column:
    """Every pair of a bucket's array column as ``struct<left, right>``,
    left element before right in array order — the triangular in-bucket
    expansion behind every bucket/posting pair generator. Sort the array
    first and ``left < right`` holds for distinct elements."""
    arr = F.col(arr_col)
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias(left), y.alias(right)),
            ),
        )
    )


#: affine universal-hash family parameters: p is the Mersenne prime
#: 2^31−1; per-seed multipliers/offsets derive from fixed public mixing
#: constants (Knuth 2654435761, 40503) reduced mod p. With the 28-bit
#: md5-prefix base hash, a·h+b < 2^59 — exact BIGINT on every engine.
AFFINE_P = 2_147_483_647
AFFINE_MULT = 2_654_435_761
AFFINE_OFF = 40_503


def _md5_seed_min(s: Column) -> Column:
    """Seeded-md5 family: min over the shingles of md5('s<seed>|' || g)."""
    return F.array_min(
        F.transform(
            F.col("sh"),
            lambda g: F.md5(F.concat(F.lit("s"), s.cast("string"), F.lit("|"), g)),
        )
    )


def _affine_seed_min(s: Column) -> Column:
    """Affine family: min over the base hashes ``hv`` of
    (a_s·H(g) + b_s) mod p, a_s = MULT·(s+1) mod p, b_s = OFF·(2s+1) mod p."""
    a = F.pmod(F.lit(AFFINE_MULT) * (s + 1), F.lit(AFFINE_P))
    b = F.pmod(F.lit(AFFINE_OFF) * (2 * s + 1), F.lit(AFFINE_P))
    return F.array_min(
        F.transform(F.col("hv"), lambda h: F.pmod(a * h + b, F.lit(AFFINE_P)))
    ).cast("string")


def _band_keys(
    num_hashes: int, bands: int, affine: bool = False
) -> Callable[[DataFrame], DataFrame]:
    """Check the band contract and return the band-row builder:
    (doc, sh[, extra cols]) → slim (doc, …, band, key) LSH band rows.

    Band b's key joins the per-seed minima of seeds
    b·r … (b+1)·r − 1 with '|', r = num_hashes / bands; the shingle
    array (the wide payload) is dropped before any shuffle, and every
    seed's pass runs exactly once across bands. Raises ValueError
    unless ``bands ≥ 1`` splits ``num_hashes`` into equal bands of
    r ≥ 1 hashes — a silent floor would build every key from seeds
    [0, −1] (r = 0) or drop the trailing hashes.

    Two signature families, byte-identical to their SQL oracles:

    - seeded md5 (default): one md5 pass per seed over the shingles;
    - ``affine``: ONE md5 per shingle, H(g) = int(md5(g)[:7], 16), and
      h_s(g) = (a_s·H(g) + b_s) mod p for every seed — the classic
      universal family, ~``num_hashes``× less signature work at the
      128-hash production profile. The trade is base-hash collisions
      (2^28 space) merging a negligible fraction of distinct shingles —
      widen the prefix and lift p to a 61-bit prime for >10^7-shingle
      corpora. All arithmetic is exact BIGINT (a·h+b < 2^59).
    """
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} must split into bands={bands} equal "
            "bands of at least one hash"
        )
    rows_per_band = num_hashes // bands
    seed_min = _affine_seed_min if affine else _md5_seed_min

    def build(base: DataFrame) -> DataFrame:
        other = [c for c in base.columns if c != "sh"]
        if affine:
            base = base.withColumn(
                "hv",
                F.transform(
                    F.col("sh"),
                    lambda g: F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast(
                        "bigint"
                    ),
                ),
            )
        return base.select(
            *other,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.cast("int").alias("band"),
                        F.array_join(
                            F.transform(
                                F.sequence(
                                    b * rows_per_band,
                                    (b + 1) * rows_per_band - 1,
                                ),
                                seed_min,
                            ),
                            "|",
                        ).alias("key"),
                    ),
                )
            ).alias("bk"),
        ).select(*other, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    return build


def _verify_hash_arr(sh: Column) -> Column:
    """Shingle-string array → distinct 60-bit md5-prefix BIGINT array,
    the slim representation the exact-verify joins carry (round 11):
    the verify stage shuffles one array per CANDIDATE pair side, and at
    the sf30 rung the ~25-char shingle strings made that exchange the
    dominant super-linear-looking cost (absolute volume, not row
    count — candidates measured perfectly linear, 5.35M → 16.16M at
    3×). 8-byte ints cut the shuffled bytes ~4× and array_intersect
    compares longs instead of strings (the prefix-filter op measured
    2.2× on the same swap). Set metrics are IDENTICAL to string-gram
    metrics unless two distinct grams collide in 60 bits (birthday odds
    ~1e-15 per doc at 50 grams) — and the SQL oracles apply the same
    transform, so the engines agree even then. 15 hex chars = 60 bits
    keeps conv() inside exact BIGINT range in every engine."""
    return F.array_distinct(
        F.transform(
            sh,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "bigint"
            ),
        )
    )


def _lsh_base(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc, sh, vh): each doc's k-shingle array and its 60-bit verify
    digests (:func:`_verify_hash_arr`), checkpointed so the band keys
    and both verify sides read one shingle pass instead of three — at
    production scale this is the written digest artifact.

    Not lazy: ``parallelize`` repartitions an under-split input, and
    under AQE building the checkpoint's RDD runs that shuffle while the
    DataFrame is built (one job per build at sf0.001); the checkpointed
    partitions themselves are filled by the first action."""
    return (
        parallelize(df)
        .select(
            F.col(id_col).alias("doc"),
            shingles(F.col(text_col), k).alias("sh"),
        )
        .withColumn("vh", _verify_hash_arr(F.col("sh")))
        .localCheckpoint(eager=False)
    )


def _band_candidates(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc, band, key) band rows → (d1, d2, n_shared_bands), d1 < d2.

    Bucket-group pair generation instead of a self-join: one slim
    shuffle on (band, key), pairs built inside each sorted bucket, one
    count per pair over the bands it shares. ``max_bucket`` drops
    buckets larger than the cap before pair expansion — the valve that
    bounds a degenerate bucket of B docs (B²/2 candidates)."""
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket)
    return (
        buckets.select(F.explode(in_bucket_pairs("docs", "d1", "d2")).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def _jaccard_verify(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    col: str = "vh",
    hint: str | None = None,
) -> tuple[DataFrame, Column, Column]:
    """Join both docs' sets (``col`` of ``left``/``right`` as sh1/sh2)
    onto the (d1, d2, …) candidates; returns (frame, |∩|, |∪|) as
    doubles. ``hint`` is a join-strategy hint for both set sides."""
    s1 = left.select(F.col("doc").alias("d1"), F.col(col).alias("sh1"))
    s2 = right.select(F.col("doc").alias("d2"), F.col(col).alias("sh2"))
    if hint is not None:
        s1, s2 = s1.hint(hint), s2.hint(hint)
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    return cand.join(s1, "d1").join(s2, "d2"), inter, union


def _jaccard_filter(
    verified: DataFrame,
    inter: Column,
    union: Column,
    threshold: float,
    ids: tuple[str, str] = ("id_1", "id_2"),
) -> DataFrame:
    """Keep pairs with Jaccard ≥ threshold: (ids…, n_shared_bands, jaccard)."""
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("d1").alias(ids[0]),
            F.col("d2").alias(ids[1]),
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            "jaccard",
        )
    )


def _containment_filter(
    verified: DataFrame,
    inter: Column,
    union: Column,
    threshold: float,
    count_col: str,
) -> DataFrame:
    """Keep pairs where either direction's containment |A∩B|/|A| clears
    the threshold: (id_1, id_2, count_col, containment_1in2,
    containment_2in1, jaccard)."""
    c12 = F.round(inter / F.size("sh1").cast("double"), 6)
    c21 = F.round(inter / F.size("sh2").cast("double"), 6)
    return (
        verified.withColumn("containment_1in2", c12)
        .withColumn("containment_2in1", c21)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(
            (F.col("containment_1in2") >= threshold)
            | (F.col("containment_2in1") >= threshold)
        )
        .select(
            F.col("d1").alias("id_1"),
            F.col("d2").alias("id_2"),
            F.col(count_col).cast("bigint").alias(count_col),
            "containment_1in2",
            "containment_2in1",
            "jaccard",
        )
    )


def _lsh_verified(
    df: DataFrame,
    text_col: str,
    id_col: str,
    band_keys: Callable[[DataFrame], DataFrame],
    k: int,
    max_bucket: int | None,
) -> tuple[DataFrame, Column, Column]:
    """The shared LSH body: shingle base → band keys → bucket
    candidates → both docs' digest sets, as :func:`_jaccard_verify`
    returns them; callers only pick the verify metric."""
    base = _lsh_base(df, text_col, id_col, k)
    cand = _band_candidates(band_keys(base.select("doc", "sh")), max_bucket)
    return _jaccard_verify(cand, base, base)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    k: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    rows_per_band = num_hashes / bands (``bands`` must divide
    ``num_hashes``). Two docs become a candidate pair iff some band of
    their signatures is identical; candidates are then verified with
    exact shingle-set Jaccard and filtered.
    Returns (id_1, id_2, n_shared_bands, jaccard), id_1 < id_2.

    ``max_bucket`` drops band buckets larger than the cap before pair
    expansion — the mandatory valve at production scale (a degenerate
    bucket of B docs emits B²/2 candidates; boilerplate-heavy corpora
    produce them). ON by default (10k): no bucket can exceed the corpus
    size at test SFs, so results stay oracle-exact there, while any
    adversarial hot bucket at scale is bounded at ~50M pairs. Tune DOWN
    per corpus; ``None`` disables (exact, unbounded).
    """
    verified = _lsh_verified(
        df, text_col, id_col, _band_keys(num_hashes, bands), k, max_bucket
    )
    return _jaccard_filter(*verified, jaccard_threshold)


def affine_minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    k: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs with the affine universal-hash MinHash —
    identical pipeline, bucket caps, and verify as
    :func:`minhash_lsh_pairs`, but the signature stage hashes each
    shingle with md5 ONCE and derives all ``num_hashes`` values by
    affine re-mixing (see :func:`_band_keys`). The scale choice when
    signatures dominate (wide production profiles)."""
    verified = _lsh_verified(
        df, text_col, id_col, _band_keys(num_hashes, bands, affine=True), k,
        max_bucket,
    )
    return _jaccard_filter(*verified, jaccard_threshold)


def minhash_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    containment_threshold: float = 0.5,
    k: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate CONTAINMENT pairs: same LSH candidate pipeline as
    :func:`minhash_lsh_pairs`, but the verify metric is the asymmetric
    containment C(A in B) = |A∩B| / |A| — the signal that catches a
    short document embedded verbatim inside a longer one (wire stories
    in aggregator pages, quoted posts, licence boilerplate), which
    symmetric Jaccard dilutes toward 0 as the size ratio grows.

    Keeps a pair when EITHER direction's containment clears the
    threshold; returns (id_1, id_2, n_shared_bands, containment_1in2,
    containment_2in1, jaccard) with id_1 < id_2. Candidates still come
    from symmetric MinHash banding, which under-recalls extreme
    small-in-large pairs (their Jaccard, hence band-collision odds, is
    low) — :func:`bottomk_containment_pairs` below is the bottom-k
    sketch variant that fixes exactly that (recall 1.0 for full
    containment); the verify and output schema are shared.
    """
    verified = _lsh_verified(
        df, text_col, id_col, _band_keys(num_hashes, bands), k, max_bucket
    )
    return _containment_filter(*verified, containment_threshold, "n_shared_bands")


def bottomk_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sketch_k: int = 4,
    containment_threshold: float = 0.5,
    k: int = 2,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Containment pairs via BOTTOM-K sketches — the recall fix
    :func:`minhash_containment_pairs` documents for extreme
    small-in-large pairs: symmetric MinHash banding's collision odds
    track Jaccard, which tends to 0 as the size ratio grows, so a short
    doc fully embedded in a long one is invisible to it. Here each doc
    probes with its ``sketch_k`` smallest md5(shingle) values against an
    inverted index over ALL docs' shingle hashes: if A ⊆ B, every probe
    of A hits B (recall 1.0 for full containment, ≥ 1−(1−c)^k for
    partial containment c, regardless of |B|/|A|).

    Same exact verify and output schema as minhash_containment_pairs
    (id_1 < id_2, both containment directions, jaccard).

    Scale shape: probes are k slim (hash, doc) rows per doc; the
    inverted index is one explode + the ``max_posting`` cap — the same
    posting-length valve as the n-gram Jaccard index (a boilerplate
    shingle shared by B docs would otherwise emit B candidates per
    probe). Candidate dedup and the verify join-back follow the LSH
    pipeline exactly.

    Every join in this operator carries an explicit SORT-MERGE hint —
    the round-10 100× ladder found this was the ONE registry key that
    DIED at sf10 rather than slowing: the cap set ``ok``, the probe
    set, and the verify-side shingle table are all VOCABULARY- or
    CORPUS-cardinality relations (millions of rows / wide arrays at
    500k docs × 4-gram shingles), but Spark's estimator read them as
    small through the checkpointed lineage and planned broadcasts —
    the 8 GB HashedRelation build blew driver memory
    (notEnoughMemoryToBuildAndBroadcastTableError). Shuffle-hash was
    tried first and ALSO OOM'd at sf10 (32 concurrent per-task hash
    builds share one heap: cannotAcquireMemoryToBuildUnsafeHashedRelation);
    sort-merge is the only strategy whose memory is flat in both
    corpus size and task concurrency (sorts spill). Values are
    identical at every SF; only the physical strategy changed.
    """
    # materialize the shingle/digest table ONCE: five branches consume
    # it (probes, posting, the posting-length count, and both verify
    # sides) and would otherwise each re-tokenize the corpus. At
    # production scale this materialization is a written digest table
    # (the inverted index IS the artifact); localCheckpoint models it.
    base = parallelize(df).select(
        F.col(id_col).alias("doc"),
        shingles(F.col(text_col), k).alias("sh"),
    ).localCheckpoint(eager=False)
    hashed = base.select(
        "doc", F.transform(F.col("sh"), lambda g: F.md5(g)).alias("hv")
    )
    probes = hashed.select(
        "doc",
        F.explode(
            F.slice(F.array_sort(F.col("hv")), 1, sketch_k)
        ).alias("h"),
    )
    posting = hashed.select("doc", F.explode("hv").alias("h"))
    if max_posting is not None:
        ok = (
            posting.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_posting)
            .select("h")
        )
        posting = posting.join(ok.hint("merge"), "h")
    cand = (
        probes.hint("merge").alias("a")
        .join(posting.alias("b"), "h")
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("d1"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("d2"),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_probe_hits"))
    )
    # the verify sides are the corpus-sized shingle table - wide array
    # payloads that must never be broadcast or hash-built in memory;
    # sort-merge on the id keys keeps memory flat in corpus size (same
    # OOM class as the ok/probe joins above, hit at the sf10 rung after
    # those were hinted)
    verified = _jaccard_verify(cand, base, base, "sh", "merge")
    return _containment_filter(*verified, containment_threshold, "n_probe_hits")


def minhash_lsh_cross_pairs(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    k: int = 2,
    max_side: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora — the fuzzy-contamination
    primitive: probe (e.g. the test split) × corpus (the train split)
    candidates only, never within-side pairs.

    Same pipeline shape as :func:`minhash_lsh_pairs` (shared banding via
    :func:`_band_keys`): one slim (doc, side, band, key) shuffle, pair
    expansion inside each band bucket restricted to probe×corpus cross
    products, exact-Jaccard verify on the pruned candidate set. A
    within-side hot bucket (boilerplate in train) costs nothing here —
    only the cross product counts, and ``max_side`` caps each side's
    bucket list so an adversarial bucket is bounded at max_side² pairs.

    Returns (probe_id, corpus_id, n_shared_bands, jaccard).
    """
    band_keys = _band_keys(num_hashes, bands)
    # the two-sided shingle table feeds the band keys and both verify
    # sides, checkpointed as in _lsh_base
    base = parallelize(
        probe.select(
            F.col(id_col).alias("doc"),
            F.lit("p").alias("side"),
            shingles(F.col(text_col), k).alias("sh"),
        ).unionByName(
            corpus.select(
                F.col(id_col).alias("doc"),
                F.lit("c").alias("side"),
                shingles(F.col(text_col), k).alias("sh"),
            )
        )
    ).localCheckpoint(eager=False)
    buckets = (
        band_keys(base)
        .groupBy("band", "key")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("side") == "p", F.col("doc")))
            ).alias("pd"),
            F.array_sort(
                F.collect_list(F.when(F.col("side") == "c", F.col("doc")))
            ).alias("cd"),
        )
        .filter((F.size("pd") >= 1) & (F.size("cd") >= 1))
    )
    if max_side is not None:
        buckets = buckets.filter(
            (F.size("pd") <= max_side) & (F.size("cd") <= max_side)
        )
    pair_structs = F.flatten(
        F.transform(
            F.col("pd"),
            lambda x: F.transform(
                F.col("cd"),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    verified = _jaccard_verify(
        cand,
        base.filter(F.col("side") == "p"),
        base.filter(F.col("side") == "c"),
        "sh",
    )
    return _jaccard_filter(*verified, jaccard_threshold, ("probe_id", "corpus_id"))


def simhash16(text: Column) -> Column:
    """16-bit SimHash as a '0'/'1' string (portable across engines).

    bit i weight = Σ over distinct tokens of ±1, where the sign is the
    top bit of hex digit i of the token's md5; bit = (weight ≥ 0).
    Pure fold — no explode, no shuffle, codegen-friendly. ONE pass over
    the tokens with an array<int>[16] accumulator: each token is md5'd
    exactly once. (A per-bit outer loop would re-evaluate the token-hash
    subtree 16× — lambda bodies re-evaluate outer subtrees per element.)
    """
    hashes = F.transform(F.array_distinct(tokens(text)), lambda t: F.md5(t))
    weights = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.when(h.substr(i + 1, F.lit(1)) >= "8", 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.array_join(
        F.transform(weights, lambda w: F.when(w >= 0, "1").otherwise("0")), ""
    )


def jaccard_topk_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top: int = 20,
    k: int = 3,
    max_posting: int | None = 10_000,
) -> DataFrame:
    """Most-similar doc pairs by EXACT k-gram-set Jaccard, via an
    inverted index on the grams.

    Exactness: |A∩B| for gram sets IS the number of postings a pair
    shares, so the posting grouping computes the intersection for free,
    and any pair with jaccard > 0 shares ≥1 gram — candidate generation
    misses nothing. Unigrams would be the degenerate case (a small
    vocabulary makes every posting huge and the pair space quadratic);
    word k-grams keep postings short — measured on the test corpus,
    k=1 → 36M candidate pairs, k=3 → 1.3M at sf0.1.

    Shape: ONE scan → explode grams → group per gram (postings) →
    in-posting pair expansion → count shared grams per pair → join the
    two set sizes. All shuffled rows are slim (gram, doc) / (d1, d2).

    Scale path: cap posting length (drop boilerplate grams shared by
    thousands of docs — they contribute candidates quadratically but
    little Jaccard mass). ``max_posting`` is ON by default (10k): a
    no-op below 10k docs (oracle-exact at test SFs), a mandatory bound
    above; with an active cap the intersection count is a lower bound.
    Returns top-k pairs under the deterministic total order
    (jaccard desc, id_1, id_2).
    """
    t = parallelize(df).select(
        F.col(id_col).alias("doc"),
        shingles(F.col(text_col), k).alias("ts"),
    )
    postings = (
        t.select(F.explode("ts").alias("tok"), "doc")
        .groupBy("tok")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_posting is not None:
        # the scale valve: a gram shared by B docs emits B²/2 candidate
        # pairs but carries almost no Jaccard information — drop it.
        # NB: with a cap the intersection count is a lower bound, so
        # results become approximate (document when enabling).
        postings = postings.filter(F.size("docs") <= max_posting)
    inter = (
        postings.select(F.explode(in_bucket_pairs("docs", "d1", "d2")).alias("p"))
        .groupBy("p.d1", "p.d2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = t.select("doc", F.size("ts").alias("n"))
    out = (
        inter.join(sizes.withColumnRenamed("doc", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc", "d2").withColumnRenamed("n", "n2"), "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    return (
        out.select(
            F.col("d1").alias("id_1"), F.col("d2").alias("id_2"), "jaccard"
        )
        .orderBy(F.col("jaccard").desc(), "id_1", "id_2")
        .limit(top)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    init: DataFrame | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes``: one column ``node``; ``edges``: columns ``src, dst``
    (one direction — symmetrized here). Each round every node takes the
    min label among itself and its neighbors; converges in O(component
    diameter) rounds, checked via the strictly-decreasing global label
    sum (one tiny action per round). ``localCheckpoint`` truncates the
    lineage so round N's plan does not re-execute rounds 1..N-1 — the
    standard Spark iterative-algorithm guard. At 100 TB swap the naive
    propagation for :func:`connected_components_twophase` (the
    large-star/small-star variant below, same ``(node, lab)`` contract)
    — provably O(log n) rounds on high-diameter graphs; dup-cluster
    graphs are near-star-shaped, so diameter stays small in practice
    and the naive loop's single shuffle per round wins there.

    ``init`` (optional ``node, lab`` frame) seeds the labels: any lab
    that is (a) ≤ its node's id and (b) the id of a node in the same
    component preserves the fixpoint (the seed's own, smaller label
    still propagates through it) while skipping the first rounds —
    e.g. seeding with per-hash-group minima resolves most dup clusters
    before the loop even starts.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        init.select("node", "lab")
        if init is not None
        else nodes.select(F.col("node"), F.col("node").alias("lab"))
    )
    prev_sum = None
    converged = False
    # max_iter PROPAGATION rounds plus one confirming round: detecting
    # the fixpoint needs an extra no-change pass, and a component whose
    # diameter is exactly max_iter would otherwise be rejected despite
    # having converged on the final allowed round
    for _ in range(max_iter + 1):
        prop = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), F.col("lab")
        )
        new = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
            # lazy: the convergence action below materializes the
            # checkpoint in the SAME job — eager=True paid one extra
            # driver-scheduled job (a full materialization pass) per
            # round for the identical lineage truncation (r14, guide
            # §1.2: one pass per round, not two)
            .localCheckpoint(eager=False)
        )
        cur_sum = new.agg(F.sum("lab")).first()[0]
        labels = new
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # a component whose diameter exceeds max_iter would otherwise
        # silently yield a non-fixpoint labeling (wrong cluster ids)
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (label sum still decreasing); raise max_iter or switch to "
            "the large-star/small-star variant for high-diameter graphs"
        )
    return labels


def connected_components_twophase(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round alternative to
    :func:`connected_components`' naive min-label propagation, whose
    round count is the component DIAMETER. On dup-cluster graphs
    (near-star-shaped) both finish in a handful of rounds; on a
    pathological chain (each doc near-dups only its neighbor) the
    naive loop needs n rounds while this needs ~log n — the variant
    SURVEY §8 prescribes for 100-TB corpora.

    Same contract as :func:`connected_components`: ``nodes`` has one
    column ``node``, ``edges`` has ``src, dst`` (one direction),
    returns ``(node, lab)`` with ``lab`` = the component's minimum node
    id. Per round: two groupBy-min shuffles on slim (u, v) pairs plus
    one scalar convergence action; ``localCheckpoint`` truncates
    lineage exactly like the naive loop.

    Round semantics on the symmetrized neighbor sets Γ(u):

    - large-star: every strictly-larger neighbor of u re-links to
      m(u) = min(Γ(u) ∪ {u}) — long chains contract toward small ids.
    - small-star: u and its ≤-neighbors (minus m) re-link to m(u) —
      flattens the remaining 2-level trees into stars.

    The edge multiset only shrinks in (count, endpoint-sum) potential;
    a round that leaves both unchanged is the fixpoint (stars centered
    at component minima), confirmed by one extra pass like the naive
    loop's convergence check.
    """

    def star_round(e: DataFrame, large: bool) -> DataFrame:
        nbr = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbr.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        joined = nbr.join(m, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = (
                joined.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(joined.select("u", F.col("m").alias("v")))
            )
        return (
            out.filter(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the per-iteration convergence action materializes
            # both star outputs in ONE job — the eager form scheduled
            # a dedicated materialization job per star round (3 jobs/
            # iteration instead of 1; r14, guide §1.2). The checkpoint
            # sits directly on the distinct's exchange, so the two
            # symmetrize branches of the NEXT round share the shuffle
            # output rather than recomputing the edge build.
            .localCheckpoint(eager=False)
        )

    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    converged = False
    for _ in range(max_iter + 1):
        e = star_round(star_round(e, large=True), large=False)
        stat = e.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("u") + F.col("v")).alias("s")
        ).first()
        cur = (stat["n"], stat["s"])
        if prev is not None and cur == prev:
            # (count, endpoint-sum) stability could in principle alias
            # two different edge sets; confirm the fixpoint structurally
            # — a true star forest never reuses a root (v) as a member
            # (u). One tiny join, only on the rare stable round.
            non_star = (
                e.select(F.col("v").alias("x"))
                .distinct()
                .join(e.select(F.col("u").alias("x")).distinct(), "x")
                .count()
            )
            if non_star == 0:
                converged = True
                break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_twophase did not converge within "
            f"max_iter={max_iter} rounds (edge potential still decreasing)"
        )
    # at the fixpoint every edge is (member, component_min); the min
    # guards a 2-level leftover in case count+sum aliased a non-star
    labels = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("lab"))
    return (
        nodes.select("node")
        .join(labels, "node", "left")
        .select("node", F.coalesce("lab", F.col("node")).alias("lab"))
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Sub-document duplication signal (the paragraph/span-level pass of
    CCNet/RefinedWeb-style pipelines, adapted to the fixture's
    single-paragraph docs): for every document, the fraction of its
    distinct k-token spans that also occur in at least one OTHER
    document.

    Plan shape (ONE narrow shuffle — the llm_contamination_ngram
    pattern, r14):
    1. spans are built per-doc inside array expressions (shingles —
       no explode yet), deduped, then exploded to slim
       (doc_id, md5(span)) rows — the 32-hex hash crosses the wire,
       never the span text;
    2. one exchange on the hash serves the whole query: a window count
       over the hash partitioning marks every span with its doc
       frequency (spans are distinct per doc, so the partition row
       count == doc frequency), then the per-doc rollup
       partial-aggregates. The previous groupBy(hash) + join-back
       formulation ran the span pipeline TWICE (once per branch) and
       paid a second exchange for the join (r14 measured; the same
       two-branch shape llm_contamination_ngram already replaced with
       a window, 1.7× there).

    Docs shorter than k tokens are excluded (no spans exist).
    At 100 TB every stage stays O(total spans) with fixed-width rows."""
    spans = (
        parallelize(df)
        .filter(F.size(tokens(F.col(text_col))) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(shingles_all(F.col(text_col), k))
            ).alias("span"),
        )
        .select("doc_id", F.md5(F.col("span")).alias("h"))
    )
    from pyspark.sql import Window

    n_docs = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        spans.withColumn("is_dup", F.when(n_docs >= 2, 1).otherwise(0))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("is_dup")).cast("bigint").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
    )


def minhash_editdist_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_edit: int = 60,
    prefix: int = 120,
    k: int = 2,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs verified by EDIT DISTANCE: the same LSH
    candidate pipeline as :func:`minhash_lsh_pairs`, but the verify
    metric is character-level Levenshtein over the documents' first
    ``prefix`` characters — the signal that catches single-character
    mutations, OCR noise, and template fills that shingle-set Jaccard
    blurs (a one-char edit flips up to k shingles; Levenshtein counts
    it as exactly one). The distance is an integer DP on both engines,
    so the metric itself carries no float contract at all.

    The prefix cap is the scale contract: pairwise Levenshtein is
    O(L²) per pair, so production passes bound L (and candidates are
    already LSH-bounded here). Returns (id_1, id_2, n_shared_bands,
    edit_dist, edit_sim) with id_1 < id_2, keeping pairs with
    edit_dist ≤ ``max_edit``; edit_sim = 1 − d/max(len) rounded 6.
    """
    band_keys = _band_keys(num_hashes, bands)
    base = parallelize(df).select(
        F.col(id_col).alias("doc"),
        shingles(F.col(text_col), k).alias("sh"),
    )
    cand = _band_candidates(band_keys(base), max_bucket)
    txt = parallelize(df).select(
        F.col(id_col).alias("doc"),
        F.substring(F.col(text_col), 1, prefix).alias("pfx"),
    )
    t1 = txt.select(F.col("doc").alias("d1"), F.col("pfx").alias("pfx1"))
    t2 = txt.select(F.col("doc").alias("d2"), F.col("pfx").alias("pfx2"))
    d = F.levenshtein("pfx1", "pfx2").cast("bigint")
    max_len = F.greatest(
        F.length("pfx1"), F.length("pfx2"), F.lit(1)
    ).cast("bigint")
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .select(
            F.col("d1").alias("id_1"),
            F.col("d2").alias("id_2"),
            F.col("n_shared_bands").cast("bigint").alias("n_shared_bands"),
            d.alias("edit_dist"),
            F.round(
                F.lit(1.0) - d.cast("double") / max_len.cast("double"), 6
            ).alias("edit_sim"),
        )
        .filter(F.col("edit_dist") <= max_edit)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via AllPairs/PPJoin-style prefix
    filtering (Bayardo, Ma & Srikant, WWW 2007) — the recall-lossless
    alternative to MinHash-LSH for Jaccard(shingles) >= t_num/t_den.

    Order every doc's shingle set rarest-token-first (global document
    frequency, ties by token text), keep only the first
    ``L - ceil(t*L) + 1`` elements as the doc's *prefix*: two sets
    with Jaccard >= t MUST share a prefix token (if a pair avoided
    both prefixes, their overlap is bounded below t·L — pigeonhole).
    Candidates come from an equi-join on prefix tokens, pre-trimmed
    by the length filter ``t_den·min(|x|,|y|) >= t_num·max(|x|,|y|)``
    (J <= min/max), then verified with one exact intersection.

    Portability: the frequency order is realized as the plain string
    order of ``lpad(df, 12, '0') || '|' || token`` — zero-padded
    document frequency then token, byte-comparable identically in
    Spark and DuckDB — and the prefix length uses pure integer
    arithmetic (``L - (t_num*L + t_den - 1) div t_den + 1``), so no
    float ceil ever disagrees between engines.

    Scale shape: one corpus-shingle explode + vocab-sized groupBy for
    df, one join back (shuffle on token), per-doc sort of an ~L-sized
    array, then postings only for PREFIX tokens — and because prefixes
    hold each doc's globally rarest tokens, posting lists are short by
    construction (the frequent head of the vocabulary never enters a
    posting). No bucket cap is needed for exactness. The one
    driver-memory valve is ``max_df``: the broadcast df table is
    vocab-sized, and a hot-vocabulary corpus can outgrow the driver —
    with ``max_df`` set, grams with df > max_df are PRUNED from the
    broadcast and every missing gram keys off the shared ceiling
    ``max_df + 1`` (realized as a LEFT join + coalesce; an inner join
    here would silently shrink doc shingle sets and break exactness).
    Capped grams then tie in the order and fall back to byte order of
    the gram text — still one total order shared by all docs, so the
    prefix theorem and the exact verification are untouched; only the
    candidate count can grow (hot grams drift toward prefixes).
    Verification joins the candidate pair ids back to the
    doc-sized keyed table twice — slim int pairs against sorted-array
    rows, never a pairwise pass outside the candidate set.
    """
    from parquet_importer_spark.functions.text import shingles

    base = parallelize(df).select(
        F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k).alias("g")
    )
    return prefix_filter_jaccard_pairs_from_sets(
        base, "doc_id", "g", t_num=t_num, t_den=t_den, max_df=max_df
    )


def prefix_filter_jaccard_pairs_from_sets(
    sets_df: DataFrame,
    id_col: str,
    set_col: str,
    t_num: int = 4,
    t_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Prefix-filter core over precomputed element-set rows — split out
    so callers that already hold a (shared, checkpointed) shingle frame
    (e.g. the MLlib MinHash recall harness, which feeds the SAME
    2-gram sets to HashingTF) don't re-tokenize the corpus.

    ``set_col`` is treated as a SET: the explode runs through
    ``F.array_distinct`` (cheap, idempotent — round-10 verdict item 6),
    because the df aggregate counts exploded rows and ``sz`` feeds the
    union size as ``sza + szb − inter`` while the verification's
    ``array_intersect`` dedupes — a bag input would otherwise silently
    inflate df and union and deflate every Jaccard. Both in-repo
    callers already pass ``array_distinct``'ed shingles, so the guard
    costs them one no-op array scan; a duplicate-bearing caller now
    gets true Jaccards instead of corrupted ones (pinned by
    tests/test_round9_ops.py::test_prefix_filter_from_sets_requires_distinct).

    Two engineering upgrades over the round-7 string-keyed form, both
    output-invariant (the candidate set can only shrink; verification
    is a bijection away from the old one, so d1/d2/inter/union/jacc
    are identical and no oracle changes):

    - PPJoin POSITIONAL filter (Xiao, Wang, Lin & Yu, WWW 2008) on top
      of AllPairs prefixes: a pair matching at 0-based prefix positions
      (pa, pb) can overlap at most ``1 + min(sza-pa-1, szb-pb-1)``
      (arrays share one total order, so at the pair's FIRST common
      token every other common token sits after both positions; later,
      looser matches of a true pair only ADD candidate rows, and the
      first match always survives the bound) — that must reach
      ``ceil(t·(sza+szb)/(1+t))``, the minimum intersection Jaccard ≥ t
      implies. Integer arithmetic in both engines. Measured 2.5× fewer
      candidates (454k → 181k) on the k=2/t=0.9 corpus.
    - INT-RANK order keys on the uncapped path: each gram's
      row_number in (df, gram) order is a bijection onto the padded
      string keys with identical sort order, so prefixes and
      intersection sizes are unchanged — but the prefix equi-join and
      the per-pair verification run on primitive int arrays instead of
      25-char strings (array_intersect measured 2.2× faster, and the
      rank table rides the SAME vocab-sized broadcast the df table
      already uses; at a vocabulary too big to broadcast, use max_df,
      whose string path needs no global rank). The capped path keeps
      string keys: pruned grams must keep distinct identities under
      the shared df ceiling, which the ``lpad(df)||gram`` key encodes
      for free.

    The exploded (doc, gram) frame is lazily checkpointed so the
    tokenize/shingle projection runs ONCE even though both the df
    aggregate and the doc-set rebuild consume it.
    """
    ex = (
        sets_df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(F.col(set_col))).alias("gram"),
        )
        .localCheckpoint(eager=False)
    )
    dfreq = ex.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # The prefix theorem only needs a total order SHARED by all docs —
    # document frequency is an efficiency choice (rarest-first keeps
    # postings short), not a correctness requirement. So the df table
    # may be broadcast (vocab-sized, measured 25% faster than the
    # second gram shuffle). With max_df set, the hot tail is pruned
    # from the broadcast and the LEFT join assigns every pruned gram
    # the shared ceiling max_df + 1 — an inner join would silently
    # drop those grams from the doc sets and break exactness.
    if max_df is not None:
        # 12-digit pad bounds every df (and the max_df+1 ceiling) the
        # order can see; wider dfs would silently truncate and corrupt
        # the shared total order, so refuse loudly instead
        if max_df + 1 >= 10**12:
            raise ValueError(f"max_df {max_df} overflows the 12-char df pad")
        dfreq = dfreq.filter(F.col("df") <= max_df)
        df_key = F.coalesce(F.col("df"), F.lit(max_df + 1)).cast("string")
        keyed_col = F.concat(F.lpad(df_key, 12, "0"), F.lit("|"), F.col("gram"))
        joined = ex.join(F.broadcast(dfreq), "gram", "left")
    else:
        # uncapped: the (df, gram) rank is the same total order as the
        # padded string key but joins/intersects as a primitive int
        from pyspark.sql.window import Window  # noqa: PLC0415

        vocab = dfreq.select(
            "gram",
            F.row_number().over(Window.orderBy("df", "gram")).alias("rid"),
        )
        keyed_col = F.col("rid")
        joined = ex.join(F.broadcast(vocab), "gram")
    keyed = (
        joined.select("doc_id", keyed_col.alias("key"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("key")).alias("ks"))
        .select("doc_id", "ks", F.size("ks").alias("sz"))
        .localCheckpoint(eager=False)
    )
    plen = F.expr(
        f"sz - CAST(({t_num} * sz + {t_den - 1}) DIV {t_den} AS INT) + 1"
    )
    pre = keyed.select(
        "doc_id",
        "sz",
        F.posexplode(F.slice(F.col("ks"), F.lit(1), plen)).alias("pos", "k"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    # minimum intersection Jaccard >= t implies: i >= t(sa+sb)/(1+t)
    need = F.expr(
        f"CAST(({t_num} * (a.sz + b.sz) + {t_num + t_den} - 1)"
        f" DIV {t_num + t_den} AS INT)"
    )
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(t_den) * F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(t_num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            )
            # PPJoin positional filter: overlap achievable from this
            # match position onward must reach the minimum intersection
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.pos") - 1,
                    F.col("b.sz") - F.col("b.pos") - 1,
                )
                >= need
            ),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    k1 = keyed.select(
        F.col("doc_id").alias("d1"), F.col("ks").alias("ks1"), F.col("sz").alias("sz1")
    )
    k2 = keyed.select(
        F.col("doc_id").alias("d2"), F.col("ks").alias("ks2"), F.col("sz").alias("sz2")
    )
    inter = F.size(F.array_intersect("ks1", "ks2")).cast("bigint")
    return (
        cand.join(k1, "d1")
        .join(k2, "d2")
        .select(
            "d1",
            "d2",
            inter.alias("inter_sz"),
            (F.col("sz1") + F.col("sz2") - inter).cast("bigint").alias("union_sz"),
        )
        .filter(F.lit(t_den) * F.col("inter_sz") >= F.lit(t_num) * F.col("union_sz"))
        .select(
            "d1",
            "d2",
            "inter_sz",
            "union_sz",
            F.round(
                F.col("inter_sz").cast("double") / F.col("union_sz").cast("double"),
                6,
            ).alias("jacc"),
        )
    )
