"""Iterative graph algorithms: PageRank and bounded k-core peeling.

Companion to operators/dedup.connected_components (min-label
propagation). Each operator has two tiers with identical output, split
by a size gate read from the job that materializes the edge list
(``dedup._observed_checkpoint``): small graphs are collected once and
iterated in numpy on the driver, and larger ones run as pure dataflow.

The distributed PageRank is a FIXED iteration count expressed entirely
as joins + keyed aggregations, so an SQL oracle can replay it
iteration-by-iteration. No vertex-centric framework — the "loop" is
Python building a deeper lazy plan, and the per-iteration rank tables
are persisted (they are one row per node) so consumers execute the
chain once, not once per reference.

Scale shape per iteration: one join of the rank table onto the edge
list keyed by source (both sides hash-partitioned on the node id — the
Exchange is reused across iterations since the key never changes), one
aggregation keyed by destination. Contributions are FLOOR-quantized to
1e-18 grains and summed as exact integers (DECIMAL(38,0)), which makes
every iteration's ranks independent of partition/merge order —
reproducible on any cluster, bit-equal to the DuckDB replay and to the
driver tier's int64 sums. floor() rather than a double->DECIMAL cast
because the engines' cast rounding modes differ (half-up vs half-even)
while floor is mode-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from . import dedup
from .dedup import _INTEGRAL, _observed_checkpoint, _persist, _require_integral


def kcore_peel_counts(
    edges: DataFrame,
    src: str = "p1",
    dst: str = "p2",
    k: int = 3,
    rounds: int = 2,
) -> DataFrame:
    """Bounded k-core peeling over an undirected edge list; returns ONE
    row ``(nodes_0, edges_0, nodes_1, edges_1, ..., nodes_R, edges_R)``
    where round ``i>=1`` keeps nodes of degree >= ``k`` in round
    ``i-1``'s edge set and drops every edge touching a peeled node.
    All counts are exact integers, so both tiers below are
    value-identical by construction. Ids must be integral
    (``TypeError`` otherwise, as in ``connected_components``), and an
    edge with a NULL end names no node: it is dropped before counting,
    as ``connected_components`` drops such pairs.

    Two tiers, picked from the edge count alone, the
    ``connected_components`` size-gate contract. One job checkpoints
    the edge list cast to bigint and observes its row count; both
    tiers read that checkpoint.

    - driver, at most ``dedup._DRIVER_ROWS`` edges (~4 MB of
      two-bigint rows — far under maxResultSize, never an unbounded
      materialization): the peel in numpy (``_kcore_driver``).
      Peeling an instance that small is microseconds of work, while
      the distributed loop pays ``rounds`` x (degree aggregate + two
      semi-joins + persist) in scheduler barriers — measured on the
      sf0.1 co-purchase graph (s77: ~3.9k edges): ~30 jobs, 4-7 s, for
      a computation that fits in one task.
    - distributed: degree aggregation + two left-semi joins per
      round against the persisted edge set — the uncapped scale path,
      linear shuffles in |E| per round with ``rounds`` bounded by
      contract.
    """
    _require_integral(edges, "kcore_peel_counts", src, dst)
    spark = edges.sparkSession
    cols = [
        name
        for i in range(rounds + 1)
        for name in (f"nodes_{i}", f"edges_{i}")
    ]
    schema = ", ".join(f"{c} bigint" for c in cols)
    # Materialize the edge pipeline once, counting it in the same job.
    raw, seen = _observed_checkpoint(
        edges.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        ).dropna()
    )
    if seen["rows"] <= dedup._DRIVER_ROWS:
        pdf = raw.toPandas()
        counts = _kcore_driver(pdf["u"].to_numpy(), pdf["v"].to_numpy(), k, rounds)
        return spark.createDataFrame([counts], schema=schema)
    src, dst = "u", "v"
    ecur = _persist(raw)

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


def _kcore_driver(u, v, k: int, rounds: int) -> tuple[int, ...]:
    """``kcore_peel_counts``' peel in numpy over the collected edge
    list (two int64 arrays): the counts the distributed tier gives."""
    import numpy as np

    ids, deg = np.unique(np.concatenate([u, v]), return_counts=True)
    out = [len(ids), len(u)]
    for _ in range(rounds):
        keep = ids[deg >= k]
        mask = np.isin(u, keep) & np.isin(v, keep)
        u, v = u[mask], v[mask]
        out.extend((len(keep), len(u)))
        ids, deg = np.unique(np.concatenate([u, v]), return_counts=True)
    return tuple(int(x) for x in out)


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
    scalar.

    ``symmetric=True`` is the caller's assertion that every node
    appears as BOTH a source and a destination (true whenever the
    caller symmetrized the edges itself, as undirected-graph users
    do). It skips the node-universe distinct, the per-iteration
    left-join, and all dangling machinery — the exact pre-correction
    plan, whose values are bit-identical to the corrected one on such
    input (measured ~25% cheaper at sf0.1 on r74's graph).

    Two tiers, bit-identical output (the ``connected_components``
    size-gate contract). One job checkpoints the ``(src, dst)`` edge
    list and observes its row count; both tiers read that checkpoint.

    - driver: at most ``dedup._DRIVER_ROWS`` edges whose ids share
      one integral type and are never NULL. The edges come back as one
      Arrow collect (~4 MB at the bound) and the rounds run in numpy
      with the distributed tier's arithmetic (``_pagerank_driver``);
      the ranks re-enter Spark as one Arrow-backed DataFrame. A graph
      that small is microseconds of work per round, while every
      distributed round costs several scheduler barriers — r74's
      1,600-node graph builds in 4 jobs here, against 20 distributed.
    - distributed: per round, one join of the rank table onto the edge
      list and one aggregation keyed by destination, rank tables
      persisted. N, and whether any node dangles, are observed on the
      job that checkpoints the node table; the gate's edge count sizes
      the loop's shuffles. It is the uncapped scale path and the
      reference the equivalence tests hold the driver tier to.
    """
    # The caller's edge lineage is often expensive (a join + distinct):
    # materialize it once, counting it in the same job.
    edges, seen = _observed_checkpoint(edges.select(src, dst))
    n_edges = seen["rows"]
    spark = edges.sparkSession
    id_type = edges.schema[src].dataType
    if (
        n_edges <= dedup._DRIVER_ROWS
        and id_type.simpleString() in _INTEGRAL
        and edges.schema[dst].dataType == id_type
    ):
        import numpy as np
        import pandas as pd

        pdf = edges.toPandas()
        if not pdf.isna().to_numpy().any():
            ranked = _pagerank_driver(
                pdf[src].to_numpy(np.int64),
                pdf[dst].to_numpy(np.int64),
                n_iter,
                damping,
                symmetric,
            )
            if ranked is not None:
                return spark.createDataFrame(
                    pd.DataFrame({"id": ranked[0], "pr": ranked[1]}),
                    schema=StructType(
                        [StructField("id", id_type), StructField("pr", DoubleType())]
                    ),
                )
    deg = _persist(edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")))
    if symmetric:
        nodes, seen = _observed_checkpoint(deg.select(F.col(src).alias("id")))
        has_dangling = False
    else:
        # The node universe with a flag for dangling nodes (no
        # out-edges), and their number, from one checkpoint job. The
        # dangling set is rank-independent; when it is empty the
        # per-iteration mass agg is skipped entirely.
        universe = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
        )
        out = deg.select(F.col(src).alias("__src"))
        flagged, seen = _observed_checkpoint(
            universe.join(out, F.col("id") == F.col("__src"), "left").select(
                "id", F.col("__src").isNull().alias("dangling")
            ),
            dangling=F.count_if(F.col("dangling")),
        )
        nodes = flagged.select("id")
        dang_nodes = flagged.filter(F.col("dangling")).select("id")
        has_dangling = seen["dangling"] > 0
    # N as a driver scalar instead of a per-round broadcast crossJoin of
    # the 1-row count aggregate: every round's formula needs N only as a
    # plain divisor, and attaching it relationally re-ran a
    # BroadcastExchange job (plus a deeper plan to analyze) per round.
    # long→double is exact below 2^53 and the divisions are the same
    # IEEE ops on the same operands as the relational form, so every
    # rank value is bit-identical (and equal to the driver tier's:
    # tests/test_driver_tiers.py).
    n_count = seen["rows"]
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
    # each round across 67-132 near-empty tasks. The round chain stays
    # lazy (persist per round — n_iter is small and bounded by
    # contract, so the plan is shallow); the final localCheckpoint
    # below executes the whole chain while the scope is active, so
    # every round's shuffle runs at the derived partition count, and
    # the caller gets a plan-truncated, already-materialized rank table.
    from .dedup import loop_shuffle_partitions

    with loop_shuffle_partitions(spark, n_edges):
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


def _pagerank_driver(src, dst, n_iter: int, damping: float, symmetric: bool):
    """``pagerank``'s rounds in numpy over a collected edge list (two
    int64 arrays, no NULL), bit-identical to its distributed tier
    because every step is the same IEEE operation on the same operands:

    - out-degrees count duplicate edges (``count(*)`` per source);
    - a contribution is ``pr / deg``, floored to 1e-18 grains as an
      int64 (Spark's ``floor`` of a double is a long);
    - per destination the grains sum as exact integers, so order does
      not matter, and the sum rounds to double once, as Spark's
      integral ``decimal -> double`` cast does, then divides by 1e18;
    - the rank is ``(1-d)/N + d*s``, directed with dangling mass
      ``(1-d)/N + d*(s + dang/N)``, where ``(1-d)/N`` is folded in
      Python as the distributed tier's literal is.

    Symmetric mode ranks only the nodes that received a contribution,
    like the distributed tier's inner join; directed mode keeps the
    whole ``src ∪ dst`` universe at ``s = 0`` where nothing arrived.
    Returns ``(ids, pr)``, or None when the grains could leave int64
    (only a damping outside [0, 1] gets there); the caller then runs
    the distributed tier.
    """
    import numpy as np

    def grains(c):
        f = np.floor(c * 1e18)
        # bounds every per-destination sum too (NaN fails the test)
        if not np.abs(f).sum() < 2.0**62:
            return None
        return f.astype(np.int64)

    srcs, deg = np.unique(src, return_counts=True)
    ids = srcs if symmetric else np.unique(np.concatenate([src, dst]))
    n_nodes = len(ids)
    if n_nodes == 0:
        return ids, np.zeros(0)
    pr = np.full(n_nodes, 1.0 / n_nodes)
    edge_deg = deg[np.searchsorted(srcs, src)]
    dangling = None if symmetric else ~np.isin(ids, srcs)
    if dangling is not None and not dangling.any():
        dangling = None
    floor = (1.0 - damping) / n_nodes
    for _ in range(n_iter):
        if not len(ids):
            break  # symmetric mode on a graph that is not: nothing ranked
        # edges whose source holds a rank this round (the rank join)
        at = np.minimum(np.searchsorted(ids, src), len(ids) - 1)
        live = ids[at] == src
        g = grains(pr[at[live]] / edge_deg[live])
        if g is None:
            return None
        got, slot = np.unique(dst[live], return_inverse=True)
        sums = np.zeros(len(got), np.int64)
        np.add.at(sums, slot, g)
        s = sums.astype(np.float64) / 1e18
        if symmetric:
            ids, pr = got, floor + damping * s
            continue
        full = np.zeros(n_nodes)
        full[np.searchsorted(ids, got)] = s
        if dangling is None:
            pr = floor + damping * full
            continue
        g = grains(pr[dangling])
        if g is None:
            return None
        dang = float(g.sum()) / 1e18
        pr = floor + damping * (full + dang / n_nodes)
    return ids, pr
