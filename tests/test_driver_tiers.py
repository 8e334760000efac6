"""Driver tiers of the iterative operators and the text pair
generators against their distributed tiers.

``graph.pagerank``, ``similarity.kmeans_lloyd`` and the MinHash, n-gram
and SimHash pair generators in ``dedup`` run small inputs on the
driver and larger ones distributed; the contract is bit-identical
output, so doubles are compared by bit pattern. The distributed tier
is forced by patching the module's gate constants (``dedup._DRIVER_ROWS``
for all but k-means), and which tier ran is read from a spy on the
driver-tier function. One test pins that single bound across all six
operators that share it; the last pins the construction-job counts the
driver tiers exist for.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xorbits_sql_spark.errors import PairBudgetExceededError
from xorbits_sql_spark.operators import dedup, graph, similarity
from xorbits_sql_spark.operators.dedup import release_caches

from .conftest import SF_ORACLE, spy

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


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
    with spy(graph, "_pagerank_driver") as seen:
        small = _ranks(edges, **kw)
    with mock.patch.object(dedup, "_DRIVER_ROWS", -1):
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
    with spy(graph, "_pagerank_driver") as seen:
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
    with spy(similarity, "_kmeans_driver") as seen:
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


# --- text pair generators -------------------------------------------

_WORDS = ("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")


@st.composite
def _texts(draw):
    """Document texts over a small vocabulary: exact copies, near
    copies, docs with fewer words than a shingle, empty text, and
    words shared widely enough to be hot shingles."""
    n = draw(st.integers(1, 14))
    texts: list[str] = []
    for _ in range(n):
        kind = draw(
            st.sampled_from(["fresh", "fresh", "copy", "edit", "short", "empty"])
        )
        if kind == "copy" and texts:
            texts.append(draw(st.sampled_from(texts)))
        elif kind == "edit" and texts:
            words = draw(st.sampled_from(texts)).split() or ["alpha"]
            words[draw(st.integers(0, len(words) - 1))] = draw(st.sampled_from(_WORDS))
            texts.append(" ".join(words))
        elif kind == "short":
            texts.append(draw(st.sampled_from(_WORDS)))
        elif kind == "empty":
            texts.append("")
        else:
            words = draw(st.lists(st.sampled_from(_WORDS), min_size=2, max_size=9))
            texts.append(" ".join(words))
    return texts


def _doc_frame(spark, texts, id_type, ids=None, sources=None):
    ids = ids if ids is not None else list(range(3, 3 + 2 * len(texts), 2))
    sources = sources if sources is not None else ["s"] * len(texts)
    return spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": pd.array(ids, dtype="Int64"), "text": texts, "source": sources}
        ),
        f"doc_id {id_type}, text string, source string",
    )


def _outcome(build):
    """(schema, sorted rows with doubles as bit patterns, the edge
    estimate), or the refusal's class and message."""
    try:
        got = build()
    except PairBudgetExceededError as e:
        release_caches()
        return type(e), str(e)
    rows = [
        tuple(_bits([v])[0] if isinstance(v, float) else v for v in r)
        for r in got.collect()
    ]
    release_caches()
    return (
        got.schema.simpleString(),
        sorted(rows),
        getattr(got, "_xss_edge_estimate", None),
    )


def _generator_tiers(driver_fn: str, build):
    """(driver-tier outcome, distributed outcome, driver-tier returns).
    The gates go to -1, not 0, so that an empty signature table (every
    doc shorter than a shingle) takes the distributed tier too."""
    with spy(dedup, driver_fn) as seen:
        small = _outcome(build)
    with mock.patch.object(dedup, "_DRIVER_ROWS", -1):
        big = _outcome(build)
    return small, big, seen


def _ran_on_driver(small, seen) -> bool:
    refused = small[0] is PairBudgetExceededError
    return refused or (len(seen) == 1 and seen[0] is not None)


@given(
    _texts(),
    st.sampled_from(["int", "bigint"]),
    st.sampled_from([(4, 1), (4, 2), (2, 2)]),
    st.integers(1, 3),
    st.sampled_from([None, 1, 3, 100_000]),
)
@settings(**_SETTINGS)
def test_minhash_driver_tier_matches_distributed(
    spark, texts, id_type, bands, shingle_k, max_bucket
):
    docs = _doc_frame(spark, texts, id_type)
    seeds, band_size = bands
    small, big, seen = _generator_tiers(
        "_band_pairs_driver",
        lambda: dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", seeds=seeds, band_size=band_size,
            shingle_k=shingle_k, max_bucket=max_bucket,
        ),
    )
    assert _ran_on_driver(small, seen)
    assert small == big
    assert small[0] == f"struct<id_a:{id_type},id_b:{id_type}>"


@given(
    _texts(),
    st.sampled_from(["int", "bigint"]),
    st.integers(1, 3),
    st.sampled_from([None, 1, 2, 3, 10_000]),
    st.sampled_from([None, 3, 100_000_000]),
    st.lists(st.sampled_from(["a", "b", None]), min_size=14, max_size=14)
    | st.none(),
    st.sampled_from(["jaccard", "containment"]),
)
@settings(**_SETTINGS)
def test_ngram_driver_tier_matches_distributed(
    spark, texts, id_type, shingle_k, max_df, pair_budget, sources, score
):
    docs = _doc_frame(
        spark, texts, id_type, sources=sources[: len(texts)] if sources else None
    )
    pairs = (
        dedup.ngram_jaccard_pairs
        if score == "jaccard"
        else dedup.ngram_containment_pairs
    )
    small, big, seen = _generator_tiers(
        "_shingle_stats_driver",
        lambda: pairs(
            docs, "text", "doc_id", shingle_k=shingle_k, threshold=0.0,
            partition_col="source" if sources else None,
            max_df=max_df, pair_budget=pair_budget,
        ),
    )
    assert _ran_on_driver(small, seen)
    assert small == big


@given(
    _texts(),
    st.sampled_from(["int", "bigint"]),
    st.sampled_from([0, 1, 2, 4, 16]),
    st.sampled_from([None, 1, 3, 100_000]),
    st.sampled_from([None, 3, 100_000_000]),
    st.sampled_from([0, 12, 64]),
)
@settings(**_SETTINGS)
def test_simhash_driver_tier_matches_distributed(
    spark, texts, id_type, prefix_bits, max_bucket, pair_budget, max_hamming
):
    docs = _doc_frame(spark, texts, id_type)
    small, big, seen = _generator_tiers(
        "_simhash_pairs_driver",
        lambda: dedup.simhash_pairs(
            docs, "text", "doc_id", max_hamming=max_hamming,
            prefix_bits=prefix_bits, max_bucket=max_bucket,
            pair_budget=pair_budget,
        ),
    )
    assert _ran_on_driver(small, seen)
    assert small == big


@pytest.mark.parametrize(
    "driver_fn, build",
    [
        pytest.param(
            "_band_pairs_driver",
            lambda d: dedup.minhash_lsh_pairs(
                d, "text", "doc_id", seeds=4, band_size=2, max_bucket=3
            ),
            id="minhash",
        ),
        pytest.param(
            "_simhash_pairs_driver",
            lambda d: dedup.simhash_pairs(
                d, "text", "doc_id", prefix_bits=0, max_bucket=3
            ),
            id="simhash",
        ),
    ],
)
def test_bucket_of_exactly_max_bucket_is_all_pairs(spark, driver_fn, build):
    """A bucket of ``max_bucket`` members is paired in full, and counts
    bn·(bn-1)/2 in the estimate; one more member makes it a star."""
    for n, pairs, est in ((3, 3, 3.0), (4, 3, 3.0)):
        docs = _doc_frame(spark, ["alpha beta gamma delta"] * n, "bigint")
        small, big, seen = _generator_tiers(driver_fn, lambda: build(docs))
        assert _ran_on_driver(small, seen)
        assert small == big
        assert len(small[1]) == pairs
        assert small[2] == est * (2 if driver_fn == "_band_pairs_driver" else 1)


def test_ngram_null_partition_never_pairs(spark):
    """Spark's inner join never matches a NULL ``partition_col``, so
    copies whose group is NULL share no pair on either tier."""
    texts = ["alpha beta gamma delta"] * 4
    docs = _doc_frame(spark, texts, "bigint", sources=[None, None, "a", "a"])
    small, big, seen = _generator_tiers(
        "_shingle_stats_driver",
        lambda: dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.0, partition_col="source"
        ),
    )
    assert _ran_on_driver(small, seen)
    assert small == big
    assert [r[:2] for r in small[1]] == [(7, 9)]


_NULL_ID_TEXTS = [
    "alpha beta gamma delta",
    "alpha beta gamma delta",
    "alpha beta gamma eps",
]


@pytest.mark.parametrize(
    "driver_fn, build",
    [
        pytest.param(
            "_band_pairs_driver",
            lambda d: dedup.minhash_lsh_pairs(d, "text", "doc_id", seeds=4, band_size=1),
            id="minhash",
        ),
        pytest.param(
            "_shingle_stats_driver",
            lambda d: dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.0),
            id="ngram",
        ),
        pytest.param(
            "_simhash_pairs_driver",
            lambda d: dedup.simhash_pairs(
                d, "text", "doc_id", prefix_bits=0, max_hamming=64
            ),
            id="simhash",
        ),
    ],
)
def test_pair_generators_null_id_takes_the_distributed_tier(spark, driver_fn, build):
    docs = _doc_frame(spark, _NULL_ID_TEXTS, "bigint", ids=[1, None, 2])
    small, big, seen = _generator_tiers(driver_fn, lambda: build(docs))
    assert seen == []
    assert small == big and small[1]


def test_pair_generators_driver_tiers_without_arrow(spark):
    """The driver tiers collect with ``toPandas`` and return
    ``createDataFrame(pandas, schema)``; both must keep the id type and
    the results with Arrow off, as on a vanilla session."""
    docs = _doc_frame(spark, _NULL_ID_TEXTS + ["zeta eta alpha beta"], "int")
    builds = {
        "_band_pairs_driver": lambda: dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", seeds=4, band_size=1
        ),
        "_shingle_stats_driver": lambda: dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.0, partition_col="source"
        ),
        "_simhash_pairs_driver": lambda: dedup.simhash_pairs(
            docs, "text", "doc_id", prefix_bits=0, max_hamming=64
        ),
    }
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for driver_fn, build in builds.items():
            small, big, seen = _generator_tiers(driver_fn, build)
            assert _ran_on_driver(small, seen)
            assert small == big and small[1]
            assert small[0].startswith("struct<id_a:int,id_b:int")
    finally:
        spark.conf.set(key, prev)


# --- the shared bound -------------------------------------------------

_BOUND_SHARERS = {
    (dedup, "_cc_driver"): lambda e, d: dedup.connected_components(e, "a", "b"),
    (graph, "_kcore_driver"): lambda e, d: graph.kcore_peel_counts(
        e, "a", "b", k=2, rounds=1
    ),
    (graph, "_pagerank_driver"): lambda e, d: graph.pagerank(e, "a", "b"),
    (dedup, "_band_pairs_driver"): lambda e, d: dedup.minhash_lsh_pairs(
        d, "text", "doc_id", seeds=4, band_size=1
    ),
    (dedup, "_shingle_stats_driver"): lambda e, d: dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", threshold=0.0
    ),
    (dedup, "_simhash_pairs_driver"): lambda e, d: dedup.simhash_pairs(
        d, "text", "doc_id", prefix_bits=0, max_hamming=64
    ),
}


def test_one_bound_moves_every_driver_tier(spark):
    """``dedup._DRIVER_ROWS`` is the one size bound of connected
    components, k-core, PageRank and the three pair generators: on a
    small input each takes its driver tier at the default bound, and
    none does with the bound patched to -1."""
    edges = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3, 4], "b": [2, 3, 1, 5]}), "a bigint, b bigint"
    )
    docs = _doc_frame(spark, _NULL_ID_TEXTS + ["zeta eta alpha beta"], "bigint")
    for bound, driver in ((dedup._DRIVER_ROWS, True), (-1, False)):
        for (module, driver_fn), build in _BOUND_SHARERS.items():
            with mock.patch.object(dedup, "_DRIVER_ROWS", bound), spy(
                module, driver_fn
            ) as seen:
                build(edges, docs).collect()
            release_caches()
            assert bool(seen) == driver, (driver_fn, bound)


# --- construction jobs ------------------------------------------------


def test_driver_tiers_cut_construction_jobs(spark):
    """Warm construction of the registry entries that call the driver
    tiers, counted per job group. Before the driver tiers: r74 built in
    20 jobs, r72 in 11, t15 in 24, q67 in 6 and r63 in 9 (10 before
    its decisive edge estimate skipped the pair checkpoint)."""
    from xorbits_sql_spark.queries import load_all

    registry = load_all()
    sc = spark.sparkContext
    bounds = {
        "r74_pagerank": 4,
        "r72_kmeans_lloyd": 3,
        "t15_blocking_quality_audit": 12,
        "q67_doc_simhash": 4,
        "r63_dedup_clusters": 7,
    }
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
