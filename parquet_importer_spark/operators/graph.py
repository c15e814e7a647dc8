"""Iterative graph analytics over document-relation edges (EXT scope:
rank/centrality signals for corpus curation — e.g. propagate quality
through a near-duplicate/similarity graph).

Same scale discipline as operators/dedup.connected_components: every
iteration is one slim shuffle (join on node id) + one aggregate, with
``localCheckpoint`` truncating lineage so round N's plan doesn't
re-execute rounds 1..N-1.

Float contract (what makes the 10-round fixpoint hash-checkable
against an UNROLLED SQL oracle): the only order-dependent operation
in PageRank is the per-node contribution sum, so contributions
accumulate in DECIMAL(38,15) — c casts to 15 decimals (deterministic:
decimal midpoints are not representable as binary doubles, so both
engines' double→decimal casts see no tie), the sum is exact with
unscaled value ≤ 10^15 < 2^53, and the cast back to double snaps to
the 15dp grid via ROUND(..., 15) (a ≤1-ulp conversion difference is
under half the grid step). Every other op — rank/out_deg, the damping
affine map, dangling/n — is a single identical IEEE expression given
identical inputs, so ranks match bit-for-bit by induction over
rounds. The dangling mass uses the same decimal-sum-snap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Standard damped PageRank with uniform dangling-mass
    redistribution, fixed ``n_iter`` rounds.

    ``nodes``: one row per node (column ``id_col``). ``edges``: directed
    (src, dst) pairs — pass both directions for an undirected graph.
    Rank sent along an edge to a node absent from ``nodes`` is dropped,
    as in the SQL oracle's base LEFT JOIN; such nodes get no row.

    Per round: contributions = rank/out_degree shuffled on dst (slim
    (dst, contrib) rows), one aggregate, dangling mass folded back
    uniformly. At 100 TB this is the canonical iterative-join workload:
    partition both sides on the node id once and every round's join
    reuses that partitioning; localCheckpoint bounds the plan.
    """
    n = nodes.count()
    # materialize edges ONCE: every eager round below joins against
    # them, and an expensive upstream (e.g. an LSH candidate pipeline)
    # would otherwise re-execute n_iter times
    edges = edges.localCheckpoint(eager=True)
    out_deg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    base = (
        nodes.select(F.col(id_col).alias("node"))
        .join(out_deg, "node", "left")
        .withColumn("out_deg", F.coalesce(F.col("out_deg"), F.lit(0)))
        .localCheckpoint(eager=True)
    )
    ranks = base.select("node", "out_deg", F.lit(1.0 / n).alias("rank"))
    teleport = (1.0 - damping) / n
    _D15 = "decimal(38,15)"
    node_type = dict(ranks.dtypes)["node"]
    od_type = dict(ranks.dtypes)["out_deg"]
    # 1-row seed for the sentinel group: guarantees the NULL-node group
    # exists (so the dangling broadcast is always exactly one row) even
    # on a graph with no dangling nodes, and tags it out_deg = -1 so no
    # other group can pass for it; adding an exact decimal 0 to the sum
    # changes nothing.
    sentinel_seed = nodes.sparkSession.range(1).select(
        F.lit(None).cast(node_type).alias("node"),
        F.lit(-1).cast(od_type).alias("od"),
        F.lit(0.0).alias("c"),
    )
    for _ in range(n_iter):
        # Single-exchange round (r15, guide §2.2/§2.4): the dangling
        # mass AND the per-node base rows ride the contribution shuffle
        # instead of running their own per-round passes. Three message
        # kinds share one (node, od, c) exchange:
        #   - contributions: (dst, NULL, rank/out_deg)
        #   - dangling mass: (NULL node sentinel, NULL, rank)
        #   - node presence: (node, out_deg, NULL) from the base table
        # One groupBy(node) then yields in_mass = the decimal-sum-snap
        # over the contribution rows (SUM skips the NULL c of presence
        # rows; a node with no in-edges sums an all-NULL set to NULL,
        # which COALESCE maps to 0.0 exactly like the old left join)
        # and out_deg = MAX(od) (exactly one non-NULL od per node). The
        # old per-round shape — a dedicated dangling scan + global
        # aggregate + broadcast, plus a base-side join after the
        # aggregate (at scale: one extra full-node-set exchange per
        # round) — collapses into this one exchange. Float contract
        # unchanged expression by expression: the sentinel group's
        # in_mass is ROUND(CAST(SUM(CAST(rank AS DEC(38,15))) AS
        # DOUBLE), 15) over exactly the dangling ranks (plus an exact
        # decimal 0 from the seed), the identical decimal-sum-snap the
        # dedicated aggregate computed, and the empty-set case yields
        # 0.0 just like the old COALESCE.
        msgs = (
            edges.join(
                ranks.filter(F.col("out_deg") > 0),
                edges[src_col] == F.col("node"),
            )
            .select(
                F.col(dst_col).alias("node"),
                F.lit(None).cast(od_type).alias("od"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .unionByName(
                ranks.filter(F.col("out_deg") == 0).select(
                    F.lit(None).cast(node_type).alias("node"),
                    F.lit(None).cast(od_type).alias("od"),
                    F.col("rank").alias("c"),
                )
            )
            .unionByName(
                base.select(
                    F.col("node"),
                    F.col("out_deg").alias("od"),
                    F.lit(None).cast("double").alias("c"),
                )
            )
            .unionByName(sentinel_seed)
        )
        agg = msgs.groupBy("node").agg(
            F.round(
                F.sum(F.col("c").cast(_D15)).cast("double"), 15
            ).alias("in_mass"),
            F.max("od").alias("out_deg"),
        )
        # Both consumers below must sit over the byte-identical exchange
        # so the shuffle runs once (stage skipping / ReuseExchange — the
        # llm_tfidf shape). Selecting the sentinel group via
        # isnull(node) would NOT reuse: a predicate on the grouping key
        # pushes below the aggregate into every union branch, forking a
        # second, filtered copy of the whole message shuffle (measured:
        # the expensive edges-join map stage ran twice per round).
        # out_deg = MAX(od) is an aggregate OUTPUT, so predicates on it
        # stay above the exchange: the sentinel group is the only group
        # whose out_deg is -1, and every node of ``nodes`` carries
        # exactly one presence row with out_deg >= 0. An edge to a node
        # absent from ``nodes`` makes a group of its own with a NULL
        # out_deg, which both filters drop: its mass is lost, as in the
        # SQL oracle's base LEFT JOIN, instead of a second dangling row
        # multiplying every rank through the cross join.
        dangling = agg.filter(F.col("out_deg") == -1).select(
            F.col("in_mass").alias("d")
        )
        ranks = (
            agg.filter(F.col("out_deg") >= 0)
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
            # truncates the lineage at each round boundary. Not lazy
            # under AQE: building the checkpoint's RDD from an adaptive
            # plan runs that round's shuffle stages at build time, so the
            # rounds run in the builder (sf0.1, 4-core host: 61 build
            # jobs; 15 with AQE off, but a slower build, 10.8 -> 18.8 s).
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", "rank")
