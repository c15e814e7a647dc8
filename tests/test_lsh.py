"""MinHash-LSH family: the band contract of the shared band-key builder
and the materialize-once shingle base every LSH pair operator reads."""

from __future__ import annotations

import pytest

from parquet_importer_spark.operators.dedup import (
    affine_minhash_lsh_pairs,
    minhash_containment_pairs,
    minhash_editdist_pairs,
    minhash_lsh_cross_pairs,
    minhash_lsh_pairs,
)
from tests.conftest import SF_SMOKE


def test_band_contract_rejects_uneven_bands(spark):
    """``bands`` must be ≥ 1 and split ``num_hashes`` into equal bands
    of at least one hash: 8/16 would build every key from seeds
    [0, −1] (rows_per_band 0) and 12/8 would silently drop four
    hashes. Every LSH operator raises at call time, before a job runs;
    the shipped 8/4 and 128/16 shapes build."""
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")], ["doc_id", "text"]
    )
    ops = {
        "jaccard": lambda **kw: minhash_lsh_pairs(docs, "text", "doc_id", **kw),
        "affine": lambda **kw: affine_minhash_lsh_pairs(docs, "text", "doc_id", **kw),
        "containment": lambda **kw: minhash_containment_pairs(
            docs, "text", "doc_id", **kw
        ),
        "cross": lambda **kw: minhash_lsh_cross_pairs(
            docs, docs, "text", "doc_id", **kw
        ),
        "editdist": lambda **kw: minhash_editdist_pairs(docs, "text", "doc_id", **kw),
    }
    sc = spark.sparkContext
    try:
        for name, op in ops.items():
            for num_hashes, bands in ((8, 16), (12, 8), (8, 0), (8, -2), (0, 4)):
                group = f"band_contract_{name}_{num_hashes}_{bands}"
                sc.setJobGroup(group, group)
                with pytest.raises(ValueError, match="bands"):
                    op(num_hashes=num_hashes, bands=bands)
                assert sc.statusTracker().getJobIdsForGroup(group) == [], name
            for num_hashes, bands in ((8, 4), (128, 16)):
                op(num_hashes=num_hashes, bands=bands)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.5)
    assert [(r.id_1, r.id_2) for r in got.collect()] == [(1, 2)]


@pytest.mark.parametrize(
    "key", ["llm_dedup_near", "llm_dedup_affine", "llm_dedup_containment"]
)
def test_minhash_base_materializes_once(spark, key):
    """r14 materialize-once contract for the LSH family: the final plan
    reads the (doc, sh, vh) checkpoint — the band branch and both
    verify sides scan the SAME materialized RDD, and no parquet scan
    (i.e. no re-tokenize of the corpus) remains in the consumer plan.
    A regression that drops the checkpoint re-introduces three full
    shingle pipelines."""
    from parquet_importer_spark.suite import QUERIES

    plan = (
        QUERIES[key](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan.count("Scan ExistingRDD") >= 3, plan[:2000]
    assert "Scan parquet" not in plan
