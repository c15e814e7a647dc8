"""Physical-plan invariants — the 100-TB design contract.

Correctness tests prove the operators compute the right answer at
small scale; these prove the PLANS are the ones that survive scale-up:
filters reach the parquet scan, dimension joins broadcast, top-k avoids
global sorts, aggregates combine map-side, and no oracle-checked query
falls back to a driver-side collect of the corpus.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parquet_importer_spark.io import read_table
from parquet_importer_spark.suite import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """Comparison predicates must appear as parquet PushedFilters."""
    plan = plan_of(spark, "filter_compare")
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_flagship_pushes_shipdate_filter(spark):
    plan = plan_of(spark, "flagship_pricing_summary")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan


def test_column_pruning(spark):
    """A two-column projection must not scan every lineitem column."""
    df = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("ReadSchema") :]
    assert "l_orderkey" in scan and "l_quantity" in scan
    assert "l_comment" not in scan, "unprojected column reached the scan"


@pytest.mark.parametrize(
    "name", ["join_broadcast", "join_inner_eq", "join_semi_anti"]
)
def test_dim_joins_broadcast(spark, name):
    """Joins against region/nation-sized dims must be broadcast — a
    shuffled sort-merge join against a 25-row table is the canonical
    scale failure."""
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_full_outer_join_reuses_child_partitioning(spark):
    """Full outer can't broadcast (no Spark support); the scale
    requirement is instead that the join reuses its aggregated
    children's hash partitioning — no exchange between agg and join."""
    plan = plan_of(spark, "join_outer")
    assert "SortMergeJoin" in plan
    join_at = plan.index("SortMergeJoin")
    agg_at = plan.index("HashAggregate", join_at)
    assert "Exchange" not in plan[join_at:agg_at], (
        "extra shuffle between aggregation and full-outer join"
    )


@pytest.mark.parametrize("name", ["topk", "llm_sim_topk", "llm_tfidf"])
def test_topk_avoids_global_sort(spark, name):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a full Exchange+Sort."""
    assert "TakeOrderedAndProject" in plan_of(spark, name)


def test_agg_partial_final(spark):
    """groupBy aggregates must combine map-side (partial_*) before the
    exchange — the shuffle then carries groups, not rows."""
    plan = plan_of(spark, "agg_groupby")
    assert "partial_" in plan
    assert plan.index("partial_") > plan.index("Exchange"), (
        "partial aggregate should sit below the exchange"
    )


def test_dedup_near_shuffles_slim_rows(spark):
    """The MinHash band shuffle must not carry shingle arrays — only
    (band, key, doc). A plan that exchanges the `sh` column re-ships
    the corpus bands× times."""
    plan = plan_of(spark, "llm_dedup_near")
    lines = plan.splitlines()
    band_exchanges = [
        i for i, l in enumerate(lines) if "hashpartitioning(band" in l
    ]
    assert band_exchanges, "band shuffle missing from plan"
    # the operator feeding the exchange prints its output schema —
    # shingle arrays (sh#N) must not be in it
    child = lines[band_exchanges[0] + 1]
    assert "sh#" not in child, f"shingles shipped through band shuffle: {child}"
    # and candidate verification must broadcast the candidate pairs,
    # not shuffle the corpus
    assert "BroadcastExchange" in plan


def test_scan_parquet_counts_from_footer(spark):
    """count(*) over parquet must not materialize columns (footer-served
    count: the scan's ReadSchema is empty)."""
    df = read_table(spark, SF, "nation").groupBy().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan


def test_q6_pushes_all_predicates(spark):
    """Q6's selectivity comes entirely from scan-level pruning: every
    predicate column must appear in PushedFilters."""
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan[plan.index("PushedFilters") :].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan: {pushed}"


def test_q4_plans_left_semi(spark):
    """EXISTS must decorrelate to a semi join — lineitem columns never
    flow past the join."""
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name", ["llm_filter_gopher", "llm_repetition", "llm_pii_redact"]
)
def test_filter_ops_never_shuffle(spark, name):
    """Per-doc filtering/scoring must stay embarrassingly parallel:
    no hash-partition exchange anywhere in the plan."""
    assert "hashpartitioning" not in plan_of(spark, name)


def test_sim_range_no_shuffle_no_sort(spark):
    """Range similarity search is scan → broadcast probe → filter:
    no hash exchange, no sort stage (unlike top-k)."""
    plan = plan_of(spark, "llm_sim_range")
    assert "hashpartitioning" not in plan
    assert "BroadcastExchange" in plan
    assert "Sort " not in plan


def test_explode_lateral_is_narrow(spark):
    """posexplode is a 1→N narrow op — rows stream out of the scan
    partition-local, no exchange."""
    plan = plan_of(spark, "fn_explode_lateral")
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_skew_salted_join_keys_include_salt(spark):
    """The salted join must shuffle on (key, salt) — that's the whole
    point: a hot orderkey spreads over SALT partitions."""
    plan = plan_of(spark, "join_skew_salted")
    joins = [l for l in plan.splitlines() if "Join" in l and "salt" in l]
    assert joins, "salt missing from join keys"


def test_partitioned_read_prunes(spark, tmp_path):
    """A filter on a partition column must become a PartitionFilter
    (directory pruning) — not a post-scan predicate over all files."""
    out = str(tmp_path / "part")
    read_table(spark, SF, "documents").select("doc_id", "lang").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "lang" in pf, f"partition filter not pruned: {pf}"


def test_bucketed_join_has_no_join_side_exchange(spark):
    """Bucketed orders ⋈ lineitem must be bucket-co-located: a
    SortMergeJoin with no Exchange below it (the only exchange allowed
    is the post-join group-by)."""
    plan = plan_of(spark, "sink_bucketed_join")
    assert "SortMergeJoin" in plan
    below = plan[plan.index("SortMergeJoin") :]
    assert "Exchange" not in below, "join sides re-shuffled despite bucketing"


def test_sql_entrypoint_gets_same_optimizations(spark):
    """Raw SQL text must hit the same Catalyst rules as the DataFrame
    API: filter pushed to the scan, partial aggregation below the
    exchange."""
    plan = plan_of(spark, "sql_entrypoint")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    assert "partial_" in plan


def test_q18_preaggregates_before_semi_join(spark):
    """The HAVING subquery must aggregate lineitem BEFORE the semi-join
    probe (a semi join against raw lineitem would carry the full fact
    table twice), and the final top-20 must be TakeOrderedAndProject."""
    plan = plan_of(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    # the pre-aggregation is evidenced by a hash aggregate keyed on
    # l_orderkey ALONE with a partial quantity sum (the outer aggregate
    # carries five keys) — a raw semi-join build side would have no
    # such node anywhere in the plan
    import re

    assert re.search(
        r"HashAggregate\(keys=\[l_orderkey#\d+L?\],"
        r" functions=\[partial_sum\(l_quantity",
        plan,
    ), plan[:800]


def test_q19_pushes_envelope_halves(spark):
    """The disjunctive brand/size/quantity envelope must still produce
    pushed filters on both scans (Catalyst extracts per-table OR
    halves), never a nested-loop join."""
    plan = plan_of(spark, "q19_discount_revenue")
    assert "PushedFilters: [" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_span_shuffles_hashes_not_text(spark):
    """The span-dedup exchanges must carry md5 hashes (32-hex), never
    raw span text or token arrays."""
    plan = plan_of(spark, "llm_dedup_span")
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "span" not in keys and "toks" not in keys, keys


def test_sessionize_single_exchange(spark):
    """Both window passes and the session aggregate must share ONE
    user_id exchange — the plan has exactly one shuffle."""
    plan = plan_of(spark, "ts_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ngram_freq_topk_no_global_sort(spark):
    plan = plan_of(spark, "llm_ngram_freq")
    assert "TakeOrderedAndProject" in plan


def test_inverted_index_lookup_prunes_partitions(spark):
    """The term lookup must carry a PartitionFilters entry on the
    bucket column — reading one directory of the index, not all 16."""
    plan = plan_of(spark, "llm_index_inverted")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), m.group(0) if m else plan[:500]


def test_aqe_splits_skewed_join_partitions(spark):
    """With skew thresholds scaled to local data volume, AQE must
    rewrite the skewed sort-merge join (SortMergeJoin(skew=true)) —
    the runtime re-plan that handles hot keys at cluster scale without
    manual salting. Thresholds are config, not code: at 100 TB the
    defaults (256 MB) do the same thing."""
    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100k",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(300000).select(
            F.when(F.col("id") < 250000, 0)
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        # execute THIS dataset's own QueryExecution (count()/write()
        # spawn separate ones whose plans we can't inspect)
        assert len(j.collect()) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", ["win_pct_change", "win_moving_zscore"])
def test_series_window_queries_parallel_aggregate(spark, name):
    """Round 11 inverted this pin: the old form pre-repartitioned the
    RAW events on event_type to ride one exchange, which collapsed the
    heavy daily aggregate onto |series| tasks (constant cardinality —
    win_pct_change read xlin_c 2.27 at the sf100 rung). The scale
    contract is now: (1) the aggregate PARTIAL-combines map-side at
    scan parallelism (no pre-shuffle of raw events), and (2) exactly
    two hash exchanges — the (series, day) partials into the final
    aggregate, and the tiny daily rollup into the window."""
    plan = plan_of(spark, name)
    assert plan.count("Exchange hashpartitioning") == 2, plan[:600]
    # the partial aggregate must sit BELOW the first exchange
    first_ex = plan.index("Exchange hashpartitioning")
    below = plan[first_ex:]
    assert "partial_" in below, plan[:600]


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q8_market_share",
        "q9_product_profit",
        "q11_important_parts",
        "q16_supplier_cnt",
        "q20_promotion_suppliers",
        "q21_waiting_suppliers",
    ],
)
def test_tpch_round3_no_cartesian_all_dims_broadcast(spark, name):
    """The round-3 TPC-H composites must broadcast every dim side and
    never degenerate to a cartesian product."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q15_single_fact_scan(spark):
    """The Q15 scalar-MAX diamond must NOT re-scan lineitem: the max
    rides a dim-sized window over the grouped frame (one scan, one
    exchange of the fact)."""
    plan = plan_of(spark, "q15_top_supplier")
    per_node_mentions = 2  # Location + staged path line per FileScan
    assert plan.count("lineitem.parquet") <= per_node_mentions, plan[:900]


def test_q21_exists_pair_single_fact_exchange(spark):
    """q21's EXISTS/NOT-EXISTS decorrelation must compute both per-order
    stats on ONE orderkey exchange (windows share partitioning), not a
    join-back re-shuffle of the fact."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:900]


def test_rerank_broadcasts_candidates_no_corpus_shuffle(spark):
    """llm_sim_rerank's second stage must broadcast the BM25 candidate
    set and the query vector — the embedding corpus never hash-shuffles
    for the rerank join."""
    plan = plan_of(spark, "llm_sim_rerank")
    assert "BroadcastHashJoin" in plan
    # the only hashpartitioning exchanges belong to the BM25 tf/doc aggs
    import re

    exch = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert all(c.startswith(("doc_id", "term")) for c in exch), exch


def test_bloom_bits_table_broadcasts(spark):
    """The Bloom set-bit table and train-digest table must reach the
    probe side as broadcasts, never a shuffled join."""
    plan = plan_of(spark, "llm_contamination_bloom")
    assert plan.count("BroadcastHashJoin") >= 2


def test_bloom_prefilter_probes_broadcast(spark):
    """join_bloom_prefilter's three bit-table probes must be broadcast
    left-semi hash joins (zero fact shuffle, zero row expansion before
    the exact join) — a shuffled semi join would defeat the pattern."""
    plan = plan_of(spark, "join_bloom_prefilter")
    semis = plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert "LeftSemi" in plan
    assert semis >= 4, (
        "expected 3 broadcast semi probes + 1 broadcast exact join, "
        f"found {semis} broadcast joins"
    )
    assert "SortMergeJoin" not in plan, "fact side must never shuffle"


def test_chunk_overlap_has_no_shuffle(spark):
    """llm_chunk_overlap is a pure map-side 1→N fan-out: chunk starts
    are array expressions, the explode is a Generate — any Exchange
    means the chunker would reshuffle 100 TB for nothing."""
    plan = plan_of(spark, "llm_chunk_overlap")
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_centroid_dist_broadcasts_centroids(spark):
    """llm_embed_centroid_dist: the n_labels-row centroid table joins
    back by broadcast — the corpus itself must not shuffle — and the
    per-dimension mean combines map-side before its exchange."""
    plan = plan_of(spark, "llm_embed_centroid_dist")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_count_min_cells_broadcast(spark):
    """agg_count_min: the ≤1024-cell sketch grid broadcasts into the
    probe join; the top-10 avoids a global sort."""
    plan = plan_of(spark, "agg_count_min")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_rank_fusion_has_no_sort_merge_join(spark):
    """Round-5 rewrite contract: the RRF fusion is union + groupBy-sum —
    the full-outer SortMergeJoin over the two rank lists (which Spark
    cannot broadcast) must be gone from the plan."""
    assert "SortMergeJoin" not in plan_of(spark, "llm_rank_fusion")


def test_dedup_affine_shuffles_slim_rows(spark):
    """The affine-family production-profile LSH must keep the same slim
    band shuffle contract as llm_dedup_near: only (band, key, doc)
    crosses the exchange — never shingle or base-hash arrays."""
    plan = plan_of(spark, "llm_dedup_affine")
    lines = plan.splitlines()
    band_exchanges = [
        i for i, l in enumerate(lines) if "hashpartitioning(band" in l
    ]
    assert band_exchanges, "band shuffle missing from plan"
    child = lines[band_exchanges[0] + 1]
    assert "sh#" not in child and "hv#" not in child, (
        f"wide arrays shipped through band shuffle: {child}"
    )
    assert "BroadcastExchange" in plan


def test_gaps_islands_single_customer_exchange(spark):
    """Dedup, row_number window, and both island rollups must all ride
    ONE o_custkey hash partitioning — the pattern's whole point."""
    plan = plan_of(spark, "win_gaps_islands")
    n = plan.count("Exchange hashpartitioning(o_custkey")
    assert n == 1, f"expected exactly one customer-key exchange, got {n}"


def test_quality_calibrated_single_source_exchange(spark):
    """The percent_rank window is the only wide op — exactly one
    exchange, on source."""
    plan = plan_of(spark, "llm_quality_calibrated")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(source" in plan


def _semdedup_assignment_plan(spark):
    """The assignment subtree's own plan: since r14 the query reads it
    through a localCheckpoint, so the consumer plan shows only a Scan
    ExistingRDD — the round-6 assignment contract is pinned against the
    un-checkpointed helper the query builds from."""
    from parquet_importer_spark.suite.llm_similarity import (
        _semdedup_assignment,
    )

    df = _semdedup_assignment(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_semdedup_assignment_has_no_exchange(spark):
    """The centroids are collected and every vector is scored map-side,
    so the assignment plans no exchange at all — neither the broadcast
    of the centroid table nor the per-vector max_by shuffle of the
    cross join it replaced."""
    plan = _semdedup_assignment_plan(spark)
    assert "Exchange" not in plan, "semdedup assignment must not shuffle"
    assert "NestedLoopJoin" not in plan


def test_semdedup_assignment_is_one_python_map_not_window(spark):
    """Round-6 contract, tightened: no Window/row_number over a 64×
    candidate expansion (round-5 verdict, What's wrong #3) — and now no
    expansion at all: exactly one Arrow batch kernel (MapInArrow)."""
    plan = _semdedup_assignment_plan(spark)
    assert "Window" not in plan, "semdedup must not plan a window"
    assert "row_number" not in plan
    assert plan.count("MapInArrow") == 1


@pytest.mark.parametrize("name", ["agg_kmv_distinct", "agg_kmv_union"])
def test_kmv_order_statistic_sort_is_bucketed(spark, name):
    """Round-6 contract: the min-k selection is two-stage — the first
    sort partitions on (grp, bucket) so no whole group is ever sorted
    in one task; the group-level sort only sees the ≤ k·P survivors
    (round-5 verdict, item #5). agg_kmv_union reads the selection
    through an r14 localCheckpoint, so its pin inspects the shared
    _kmv_pruned subtree directly."""
    if name == "agg_kmv_union":
        from parquet_importer_spark.suite.aggregates import (
            _kmv_base,
            _kmv_pruned,
        )

        plan = (
            _kmv_pruned(_kmv_base(spark, SF))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    else:
        plan = plan_of(spark, name)
    sorts = [l for l in plan.splitlines() if "Sort [grp" in l]
    assert any(", b#" in l for l in sorts), (
        f"stage-1 bucketed (grp, b) sort missing from {name} plan"
    )
    assert "hashpartitioning(grp" in plan


def test_interval_bucketed_join_is_equi_not_nested_loop(spark):
    """The bucketed interval join's whole point: the range predicate
    must ride an equi-join on (user_id, bucket), never the
    BroadcastNestedLoopJoin Spark plans for a raw theta join."""
    plan = plan_of(spark, "join_interval_bucketed")
    assert "NestedLoop" not in plan
    assert "bucket" in plan


def test_line_dedup_shuffles_digests_not_text(spark):
    """Only (md5, doc, pos) rows may cross the exchanges — document
    text must stay below the posexplode, and the within-doc collapse
    means no Window operator appears anywhere."""
    plan = plan_of(spark, "llm_line_dedup")
    assert "Window" not in plan, "line dedup regressed to a window pass"
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange hashpartitioning" in l:
            assert "text#" not in lines[i + 1], (
                f"document text shipped through a shuffle: {lines[i + 1]}"
            )


def test_dsir_models_broadcast(spark):
    """Both 256-row bucket model tables and the 1-row totals must
    broadcast into the per-doc scoring join — shuffling the corpus
    against a 256-row table is the scale failure."""
    plan = plan_of(spark, "llm_dsir_weights")
    assert plan.count("BroadcastExchange") >= 3


def test_triangle_count_no_cartesian_no_float_threshold(spark):
    """The wedge and closing joins must be hash equi-joins (no
    cartesian / nested-loop), and the mu+sigma edge cut must appear as
    decimal arithmetic, never a stddev call."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "stddev" not in plan.lower()


def test_seasonal_decompose_single_rollup_shared_exchange(spark):
    """The raw-events rollup is the only full-data pass; the trend
    window must reuse the (event_type, bucket) aggregation exchange
    rather than adding its own full-width shuffle."""
    plan = plan_of(spark, "ts_seasonal_decompose")
    assert plan.count("Scan parquet") == 1, "events scanned more than once"
    assert "Window" in plan
