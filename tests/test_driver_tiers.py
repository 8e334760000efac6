"""Driver tiers of the iterative operators against their distributed
tiers.

``graph.pagerank`` and ``similarity.kmeans_lloyd`` run small inputs on
the driver in numpy and larger ones as distributed loops; the contract
is bit-identical output, so doubles are compared by bit pattern. The
distributed tier is forced by patching the module's gate constant, and
which tier ran is read from a spy on the driver-tier function. The
last test pins the construction-job counts the driver tiers exist for.
"""

from __future__ import annotations

from contextlib import contextmanager
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xorbits_sql_spark.operators import graph, similarity
from xorbits_sql_spark.operators.dedup import release_caches

from .conftest import SF_ORACLE

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@contextmanager
def _spy(module, name):
    """Patch ``module.name`` with a wrapper; yields the list of values
    it returned (empty when it was never called)."""
    real, results = getattr(module, name), []

    def wrapper(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    with mock.patch.object(module, name, wrapper):
        yield results


def _bits(values) -> list[int]:
    return np.asarray(values, dtype=np.float64).view(np.int64).tolist()


# --- PageRank ---------------------------------------------------------


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1]))


def _ranks(edges, **kw) -> list[tuple]:
    got = graph.pagerank(edges, **kw).collect()
    release_caches()
    return _sorted((r.id, _bits([r.pr])[0]) for r in got)


def _pagerank_tiers(edges, **kw):
    """(driver-tier result, distributed result, driver-tier returns)."""
    with _spy(graph, "_pagerank_driver") as seen:
        small = _ranks(edges, **kw)
    with mock.patch.object(graph, "_PAGERANK_DRIVER_EDGES", -1):
        big = _ranks(edges, **kw)
    return small, big, seen


@st.composite
def _graphs(draw):
    nodes = st.integers(0, 12)
    pairs = draw(st.lists(st.tuples(nodes, nodes), min_size=1, max_size=30))
    symmetric = draw(st.booleans())
    if symmetric:
        pairs += [(d, s) for s, d in pairs]
    else:
        # nodes that are only destinations, hence dangling
        extra = draw(st.lists(st.tuples(nodes, nodes), max_size=4))
        pairs += [(s, 100 + d) for s, d in extra]
    # duplicate edges count twice in the out-degree; self-loops come
    # from the draw itself
    pairs += draw(st.lists(st.sampled_from(pairs), max_size=5))
    return pairs, symmetric, draw(st.integers(0, 3)), draw(st.sampled_from([0.85, 0.5, 1.0]))


@given(_graphs())
@settings(**_SETTINGS)
def test_pagerank_driver_tier_is_bit_identical(spark, case):
    pairs, symmetric, n_iter, damping = case
    edges = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["src", "dst"]), "src bigint, dst bigint"
    )
    small, big, seen = _pagerank_tiers(
        edges, n_iter=n_iter, damping=damping, symmetric=symmetric
    )
    assert len(seen) == 1 and seen[0] is not None
    assert small == big


def test_pagerank_keeps_the_id_type(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3, 3], "b": [2, 3, 1, 1]}), "a int, b int"
    )
    with _spy(graph, "_pagerank_driver") as seen:
        got = graph.pagerank(edges, "a", "b", n_iter=2)
    assert seen[0] is not None
    assert got.schema.simpleString() == "struct<id:int,pr:double>"
    release_caches()


def test_pagerank_symmetric_flag_on_a_directed_chain(spark):
    """``symmetric=True`` on input that is not: each round ranks only
    the previous round's destinations, until nothing is left."""
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2], "dst": [2, 3]}), "src bigint, dst bigint"
    )
    for n_iter in (3, 4):
        small, big, seen = _pagerank_tiers(edges, n_iter=n_iter, symmetric=True)
        assert seen[0] is not None
        assert small == big


def test_pagerank_null_id_takes_the_distributed_tier(spark):
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, None, 3], "dst": [2, 3, 1, 1]}, dtype="Int64"),
        "src bigint, dst bigint",
    )
    small, big, seen = _pagerank_tiers(edges, n_iter=2)
    assert seen == []
    assert small == big


# --- k-means ----------------------------------------------------------


def _centroids(corpus, k, n_iter) -> list[tuple]:
    got = similarity.kmeans_lloyd(corpus, k=k, n_iter=n_iter).collect()
    return _sorted((r.cell, tuple(_bits(r.cvec))) for r in got)


def _kmeans_tiers(corpus, k, n_iter):
    with _spy(similarity, "_kmeans_driver") as seen:
        small = _centroids(corpus, k, n_iter)
    with mock.patch.object(similarity, "_KMEANS_DRIVER_ROWS", -1):
        big = _centroids(corpus, k, n_iter)
    return small, big, seen


def _corpus(spark, ids, vectors):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": vectors}),
        "vec_id bigint, embedding array<float>",
    )


@st.composite
def _corpora(draw):
    n = draw(st.integers(1, 40))
    dim = draw(st.integers(1, 6))
    kind = draw(st.sampled_from(["coarse", "float", "tiny", "large"]))
    if kind == "coarse":
        # exactly representable values, many ties
        vals = st.sampled_from([-1.0, -0.5, -0.25, 0.0, 0.25, 0.5, 1.0])
    else:
        vals = st.floats(-1, 1, width=32)
    rows = []
    for _ in range(n):
        row = draw(st.lists(vals, min_size=dim, max_size=dim))
        # a positive first element keeps every vector and every
        # centroid sum off zero norm, so the driver tier runs to the end
        row[0] = abs(row[0]) or 0.25
        rows.append(row)
    x = np.asarray(rows, dtype=np.float32)
    if kind == "tiny":
        x = x * np.float32(1e-3)
    elif kind == "large":
        # unscaled decimals near 1e18: the centroid sums leave int64
        x = x * np.float32(1e6)
    ids = draw(st.lists(st.integers(0, 10**6), min_size=n, max_size=n, unique=True))
    return ids, list(x), draw(st.integers(1, n + 3)), draw(st.integers(1, 4))


@given(_corpora())
@settings(**_SETTINGS)
def test_kmeans_driver_tier_is_bit_identical(spark, case):
    ids, vectors, k, n_iter = case
    small, big, seen = _kmeans_tiers(_corpus(spark, ids, vectors), k, n_iter)
    assert len(seen) == 1 and seen[0] is not None
    assert small == big


def test_kmeans_long_vectors_come_in_a_second_collect(spark):
    """Vectors longer than the per-row share of the element bound are
    left out of the gate's first collect; a corpus that is within the
    bound fetches them in a second one and still trains on the driver."""
    dim = similarity._KMEANS_DRIVER_ELEMENTS // similarity._KMEANS_DRIVER_ROWS + 2
    x = np.random.default_rng(7).normal(size=(12, dim)).astype(np.float32)
    small, big, seen = _kmeans_tiers(_corpus(spark, list(range(12)), list(x)), 3, 2)
    assert len(seen) == 1 and seen[0] is not None
    assert small == big


def test_kmeans_sums_beyond_int64(spark):
    """Values near 1e6 have unscaled decimals near 1e18; forty of them
    can sum past int64, so the driver tier sums Python integers."""
    x = np.random.default_rng(11).uniform(0.5, 1.0, size=(40, 3)).astype(np.float32)
    x = x * np.float32(1e6)
    small, big, seen = _kmeans_tiers(_corpus(spark, list(range(40)), list(x)), 2, 2)
    assert len(seen) == 1 and seen[0] is not None
    assert small == big


_BASE = [(1, [1.0, 0.0, 0.2]), (2, [0.9, 0.1, 0.2]), (4, [0.5, 0.5, 0.1]), (5, [0.1, 0.9, 0.3])]


@pytest.mark.parametrize(
    "extra",
    [
        pytest.param((3, [0.0, 0.0, 0.0]), id="zero-norm"),
        pytest.param((3, [float("nan"), 0.0, 1.0]), id="nan"),
        pytest.param((3, [0.3, 0.3]), id="ragged"),
        pytest.param((2, [0.3, 0.3, 0.3]), id="duplicate-id"),
        pytest.param((None, [0.3, 0.3, 0.3]), id="null-id"),
    ],
)
def test_kmeans_fallbacks_take_the_distributed_tier(spark, extra):
    rows = _BASE + [extra]
    corpus = _corpus(
        spark, pd.array([r[0] for r in rows], dtype="Int64"), [r[1] for r in rows]
    )
    small, big, seen = _kmeans_tiers(corpus, 2, 2)
    assert seen == [None]
    assert small == big


# --- construction jobs ------------------------------------------------


def test_driver_tiers_cut_construction_jobs(spark):
    """Warm construction of the registry entries that call the driver
    tiers, counted per job group: r74 built in 20 jobs and r72 in 11
    before PageRank and k-means had driver tiers, and r63 in 10 before
    its decisive edge estimate skipped the pair checkpoint."""
    from xorbits_sql_spark.queries import load_all

    registry = load_all()
    sc = spark.sparkContext
    bounds = {"r74_pagerank": 4, "r72_kmeans_lloyd": 3, "r63_dedup_clusters": 9}
    jobs = {}
    try:
        for name in bounds:
            registry[name].fn(spark, SF_ORACLE)  # warm
            release_caches()
            group = f"construct-{name}"
            sc.setJobGroup(group, name)
            registry[name].fn(spark, SF_ORACLE)
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_caches()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    over = {n: jobs[n] for n, bound in bounds.items() if jobs[n] > bound}
    assert not over, f"construction jobs {jobs} over the bounds {bounds}"
