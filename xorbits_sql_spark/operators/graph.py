"""Iterative graph algorithms as pure dataflow.

Companion to operators/dedup.connected_components (min-label
propagation): PageRank with a FIXED iteration count, expressed entirely
as joins + keyed aggregations so an SQL oracle can replay it
iteration-by-iteration. No vertex-centric framework, no driver-side
loop state — the "loop" is Python building a deeper lazy plan, and the
per-iteration rank tables are persisted (they are one row per node) so
consumers execute the chain once, not once per reference.

Scale shape per iteration: one join of the rank table onto the edge
list keyed by source (both sides hash-partitioned on the node id — the
Exchange is reused across iterations since the key never changes), one
aggregation keyed by destination. Contributions are FLOOR-quantized to
1e-18 grains and summed as exact integers (DECIMAL(38,0)), which makes
every iteration's ranks independent of partition/merge order —
reproducible on any cluster and bit-equal to the DuckDB replay. floor()
rather than a double->DECIMAL cast because the engines' cast rounding
modes differ (half-up vs half-even) while floor is mode-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _persist


def kcore_peel_counts(
    edges: DataFrame,
    src: str = "p1",
    dst: str = "p2",
    k: int = 3,
    rounds: int = 2,
    algorithm: str = "auto",
    driver_threshold: int = 250_000,
) -> DataFrame:
    """Bounded k-core peeling over an undirected edge list; returns ONE
    row ``(nodes_0, edges_0, nodes_1, edges_1, ..., nodes_R, edges_R)``
    where round ``i>=1`` keeps nodes of degree >= ``k`` in round
    ``i-1``'s edge set and drops every edge touching a peeled node.
    All counts are exact integers, so both tiers below are
    value-identical by construction.

    Two tiers, the ``connected_components`` size-gate contract:

    - ``"driver"``: entered only when the EXACT edge count is at most
      ``driver_threshold`` (~4 MB of two-bigint rows at the default —
      far under maxResultSize, never an unbounded materialization).
      Peeling an instance that small is microseconds of numpy work,
      while the distributed loop pays ``rounds`` x (degree aggregate +
      two semi-joins + persist) in scheduler barriers — measured on the
      sf0.1 co-purchase graph (s77: ~3.9k edges): ~30 jobs, 4-7 s, for
      a computation that fits in one task. An explicit
      ``algorithm="driver"`` above the gate refuses loudly.
    - ``"distributed"``: degree aggregation + two left-semi joins per
      round against the persisted edge set — the uncapped scale path,
      linear shuffles in |E| per round with ``rounds`` bounded by
      contract.
    """
    if algorithm not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown k-core algorithm: {algorithm!r}")
    spark = edges.sparkSession
    cols = [
        name
        for i in range(rounds + 1)
        for name in (f"nodes_{i}", f"edges_{i}")
    ]
    schema = ", ".join(f"{c} bigint" for c in cols)
    if algorithm != "distributed":
        # Materialize the edge pipeline once before the size probe; the
        # chosen tier then reuses the checkpointed set (same pattern as
        # connected_components' dispatch).
        raw = edges.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        ).localCheckpoint()
        n_edges = raw.count()
        if algorithm == "driver" and n_edges > driver_threshold:
            raise ValueError(
                f"algorithm='driver' requires at most driver_threshold="
                f"{driver_threshold:,} edges (got {n_edges:,}); use "
                "'auto' so the distributed tier handles large graphs."
            )
        if n_edges <= driver_threshold:
            import numpy as np

            pdf = raw.toPandas()
            u = pdf["u"].to_numpy()
            v = pdf["v"].to_numpy()
            ids, deg = np.unique(
                np.concatenate([u, v]), return_counts=True
            )
            out = [len(ids), len(u)]
            for _ in range(rounds):
                keep = ids[deg >= k]
                mask = np.isin(u, keep) & np.isin(v, keep)
                u, v = u[mask], v[mask]
                out.extend((len(keep), len(u)))
                ids, deg = np.unique(
                    np.concatenate([u, v]), return_counts=True
                )
            return spark.createDataFrame(
                [tuple(int(x) for x in out)], schema=schema
            )
        edges = raw
        src, dst = "u", "v"

    ecur = _persist(edges.select(F.col(src), F.col(dst)))

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col(src).alias("p"))
            .unionAll(e.select(F.col(dst).alias("p")))
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def cnt(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(alias))

    # degree tables feed several branches (node counts, keep filters,
    # both peel semi-joins) — persist them or each branch re-runs the
    # degree shuffle against the persisted edge list
    dcur = _persist(degrees(ecur))
    result = cnt(dcur, cols[0]).crossJoin(cnt(ecur, cols[1]))
    for i in range(1, rounds + 1):
        keep = dcur.filter(F.col("d") >= k).select("p")
        ecur = _persist(
            ecur.join(keep.select(F.col("p").alias(src)), src, "left_semi")
            .join(keep.select(F.col("p").alias(dst)), dst, "left_semi")
            .select(src, dst)
        )
        dcur = _persist(degrees(ecur))
        result = result.crossJoin(cnt(keep, f"nodes_{i}")).crossJoin(
            cnt(ecur, f"edges_{i}")
        )
    return result


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 2,
    damping: float = 0.85,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list; returns (id, pr).

    The node universe is src ∪ dst: a node with no in-edges keeps its
    (1-d)/N floor every iteration instead of silently vanishing from
    the rank table (which also lost its outgoing mass in later
    rounds), and a dangling node (no out-edges) redistributes its mass
    evenly — the standard correction, so ranks sum to 1 on any
    directed input. The node count N enters the formula as a driver
    scalar (one count job on the persisted node table). The other
    driver-side reads are the edge count that sizes the loop's
    shuffles and one existence probe of the (persisted) dangling-node
    table; the per-round dangling mass is the only one-row aggregate
    left in the plan.

    ``symmetric=True`` is the caller's assertion that every node
    appears as BOTH a source and a destination (true whenever the
    caller symmetrized the edges itself, as undirected-graph users
    do). It skips the node-universe distinct, the per-iteration
    left-join, and all dangling machinery — the exact pre-correction
    plan, whose values are bit-identical to the corrected one on such
    input (measured ~25% cheaper at sf0.1 on r74's graph).
    """
    # The caller's edge lineage is often expensive (a join + distinct);
    # without this persist both `deg` and `ed` below would re-derive it.
    edges = _persist(edges)
    deg = _persist(edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")))
    if symmetric:
        nodes = deg.select(F.col(src).alias("id"))
        has_dangling = False
    else:
        nodes = _persist(
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
        # dangling nodes are rank-independent: compute the set once;
        # when empty the per-iteration mass agg is skipped entirely
        dang_nodes = _persist(
            nodes.join(deg, nodes["id"] == deg[src], "left_anti")
        )
        has_dangling = bool(dang_nodes.head(1))
    # N as a driver scalar instead of a per-round broadcast crossJoin of
    # the 1-row count aggregate: every round's formula needs N only as a
    # plain divisor, and attaching it relationally re-ran a
    # BroadcastExchange job (plus a deeper plan to analyze) per round.
    # One count job on the persisted deg/nodes table replaces init + per
    # -round broadcasts; long→double is exact below 2^53 and the
    # divisions are the same IEEE ops on the same operands, so every
    # rank value is bit-identical (pinned by
    # test_pagerank_symmetric_values_unchanged / ..._directed_...).
    n_count = nodes.count()
    if n_count == 0:
        # empty graph: the old crossJoin produced an empty rank table
        return nodes.select("id", F.lit(0.0).alias("pr"))
    inv_n = 1.0 / n_count
    ranks = _persist(nodes.select("id", F.lit(inv_n).alias("pr")))
    _dsum = (
        F.sum(
            F.floor(F.col("pr") * F.lit(1e18)).cast("decimal(38,0)")
        ).cast("double")
        / F.lit(1e18)
    )
    ed = _persist(edges.join(deg, src).select(src, dst, "deg"))
    # Size the loop's shuffles from the edge count (guide §2 via
    # loop_shuffle_partitions): the per-iteration contribution join +
    # aggregate moves at most ~|E| short rows, yet inherited the
    # session's shuffle-partition count — r74's ~500k-edge graph ran
    # each round across 67-132 near-empty tasks. The count is one
    # partial-agg scan that materializes the edge cache the first
    # round would build anyway. The round chain stays lazy (persist
    # per round — n_iter is small and bounded by contract, so the plan
    # is shallow); the final localCheckpoint below executes the whole
    # chain while the scope is active, so every round's shuffle runs
    # at the derived partition count, and the caller gets a
    # plan-truncated, already-materialized rank table.
    from .dedup import loop_shuffle_partitions

    n_edges = edges.count()
    with loop_shuffle_partitions(edges.sparkSession, n_edges):
        for _ in range(n_iter):
            contribs = (
                ed.join(ranks, ed[src] == ranks["id"])
                .select(
                    F.col(dst).alias("id"),
                    (F.col("pr") / F.col("deg")).alias("c"),
                )
                .groupBy("id")
                .agg(
                    (
                        F.sum(
                            F.floor(F.col("c") * F.lit(1e18)).cast(
                                "decimal(38,0)"
                            )
                        ).cast("double")
                        / F.lit(1e18)
                    ).alias("s")
                )
            )
            if symmetric:
                # every node has in-edges, so contribs IS the node universe
                base = contribs
            else:
                base = nodes.join(contribs, "id", "left").select(
                    "id", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
                )
            if has_dangling:
                dmass = dang_nodes.join(ranks, "id").agg(
                    F.coalesce(_dsum, F.lit(0.0)).alias("__dang")
                )
                # (1-d)/N and __dang/N spelled on the same IEEE operand
                # values as the old crossJoin form (N was a LONG column;
                # lit(n_count) is the same long, converted to double by
                # the same division)
                pr_expr = F.lit((1.0 - damping) / n_count) + damping * (
                    F.col("s") + F.col("__dang") / F.lit(n_count)
                )
                ranks = _persist(
                    base.crossJoin(F.broadcast(dmass)).select(
                        "id", pr_expr.alias("pr")
                    )
                )
            else:
                ranks = _persist(
                    base.select(
                        "id",
                        (
                            F.lit((1.0 - damping) / n_count)
                            + damping * F.col("s")
                        ).alias("pr"),
                    )
                )
        # One eager action executes the whole (lazy) round chain while
        # the partition scope is active; the caller gets a truncated,
        # already-materialized rank table.
        return ranks.localCheckpoint()
