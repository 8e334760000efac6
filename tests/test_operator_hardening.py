"""Regression tests for the round-6 operator-hardening review fixes:
degenerate inputs (zero-norm vectors, NULL measurements, string ids,
non-0-based id spaces, duplicate probes, indivisible band configs,
corrupt snapshots) that previously crashed, silently corrupted, or
silently no-op'd."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _vec_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
        )
    )


def test_zero_norm_vectors_never_rank(spark):
    """A zero-norm corpus vector has no defined cosine: all three top-k
    paths (brute, LSH, IVF) must exclude it instead of crashing under
    ANSI."""
    from xorbits_sql_spark.operators.similarity import (
        brute_topk,
        kmeans_lloyd,
        ivf_topk,
        lsh_topk,
    )

    corpus = _vec_df(
        spark,
        [
            (1, [1.0, 0.0, 0.2, 0.1]),
            (2, [0.9, 0.1, 0.2, 0.1]),
            (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [0.5, 0.5, 0.1, 0.3]),
        ],
    )
    queries = _vec_df(spark, [(10, [1.0, 0.05, 0.2, 0.1])])
    for fn in (brute_topk, lsh_topk):
        got = fn(queries, corpus, k=3).toPandas()
        assert 3 not in set(got["cid"]), fn.__name__
        assert got["cosine"].notna().all(), fn.__name__
        assert (got[got["rank"] == 1]["cid"] == 1).all(), fn.__name__
    cents = kmeans_lloyd(corpus.filter("vec_id != 3"), k=2, n_iter=1)
    got = ivf_topk(queries, corpus, cents, k=3, nprobe=2).toPandas()
    assert 3 not in set(got["cid"])
    assert got["cosine"].notna().all()


def test_kmeans_seeds_are_lowest_ids_not_id_lt_k(spark):
    """Seeding must take the k lowest ids; ids starting at 1000
    previously matched filter(id < k) nowhere and every downstream
    result went silently empty."""
    from xorbits_sql_spark.operators.similarity import kmeans_lloyd

    corpus = _vec_df(
        spark,
        [(1000 + i, [float(i % 3), float((i + 1) % 3)]) for i in range(9)],
    )
    cents = kmeans_lloyd(corpus, k=3, n_iter=1)
    assert cents.count() > 0
    # 0-based contiguous ids keep the historical seeding exactly
    corpus0 = _vec_df(
        spark, [(i, [float(i % 3), float((i + 1) % 3)]) for i in range(9)]
    )
    cents0 = kmeans_lloyd(corpus0, k=3, n_iter=1)
    seeded = {r["cell"] for r in cents0.select("cell").collect()}
    assert seeded  # non-empty on the old-style id space too


def test_connected_components_refuses_string_ids(spark):
    from xorbits_sql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ["uuid-1", "uuid-2"], "id_b": ["uuid-2", "uuid-3"]})
    )
    with pytest.raises(TypeError, match="integral ids"):
        connected_components(pairs)


def test_minhash_band_index_refuses_indivisible_seeds(spark):
    from xorbits_sql_spark.operators.dedup import minhash_band_index

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["hello world text"]})
    )
    with pytest.raises(ValueError, match="divisible"):
        minhash_band_index(docs, "text", "doc_id", seeds=8, band_size=3)


def test_pagerank_directed_keeps_sources_and_dangling_mass(spark):
    """On a directed chain A->B->C: A must keep its (1-d)/N floor (it
    previously vanished after iteration 1), and total mass stays 1
    (C's dangling mass redistributes)."""
    from xorbits_sql_spark.operators.dedup import release_caches
    from xorbits_sql_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2], "dst": [2, 3]})
    )
    got = pagerank(edges, n_iter=3).toPandas().set_index("id")["pr"]
    release_caches()
    assert set(got.index) == {1, 2, 3}
    assert got.sum() == pytest.approx(1.0, abs=1e-9)
    # A has no in-edges: exactly the floor plus its dangling share
    assert got[1] > 0
    # B receives all of A's mass each round, so B > A
    assert got[2] > got[1]


def test_pagerank_symmetric_values_unchanged(spark):
    """Symmetric input (the documented contract and the r74 oracle
    shape) must be bit-identical to the no-correction closed form."""
    from xorbits_sql_spark.operators.dedup import release_caches
    from xorbits_sql_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 2, 3, 1, 3], "dst": [2, 1, 3, 2, 3, 1]})
    )
    got = pagerank(edges, n_iter=2).toPandas().set_index("id")["pr"]
    release_caches()
    fast = (
        pagerank(edges, n_iter=2, symmetric=True)
        .toPandas()
        .set_index("id")["pr"]
    )
    release_caches()
    # complete symmetric triangle: uniform stationary distribution,
    # and the formula is exactly (1-d)/3 + d*(1/3) at every iteration
    for node in (1, 2, 3):
        assert got[node] == 0.15 / 3 + 0.85 * (1.0 / 3)
        # the symmetric fast path is bit-identical to the corrected one
        assert fast[node] == got[node]


def test_approx_tiles_null_value_gets_null_tile(spark):
    from xorbits_sql_spark.operators.skew import approx_tiles

    df = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0, None]})
    )
    got = approx_tiles(df, "v", n=4).toPandas()
    null_tiles = got[got["v"].isna()]["tile"]
    assert null_tiles.isna().all()  # not silently cohorted into tile n
    assert got[got["v"].notna()]["tile"].notna().all()


def test_countmin_lookup_preserves_duplicate_probe_rows(spark):
    from xorbits_sql_spark.operators.sketches import (
        countmin_lookup,
        countmin_sketch,
    )

    items = spark.createDataFrame(
        pd.DataFrame({"tok": ["a", "a", "b", "c", "c", "c"]})
    )
    sketch = countmin_sketch(items, "tok", depth=4, width=32)
    probes = spark.createDataFrame(
        pd.DataFrame({"tok": ["a", "a", "c"]})  # duplicate probe rows
    )
    got = countmin_lookup(sketch, probes, "tok", depth=4, width=32).toPandas()
    assert len(got) == 3  # previously collapsed to 2
    assert sorted(got["tok"]) == ["a", "a", "c"]
    ests = dict(zip(got["tok"], got["est"]))
    assert ests["a"] >= 2 and ests["c"] >= 3  # count-min never undercounts


def test_countmin_lookup_null_probe_estimates_zero(spark):
    """A NULL probe item is an unseen item: est must be 0, not NULL —
    the join-back's plain equi-join silently dropped the match for
    NULL items (round-6 ADVICE)."""
    from xorbits_sql_spark.operators.sketches import (
        countmin_lookup,
        countmin_sketch,
    )

    items = spark.createDataFrame(pd.DataFrame({"tok": ["a", "a", "b"]}))
    sketch = countmin_sketch(items, "tok", depth=4, width=32)
    probes = spark.createDataFrame(pd.DataFrame({"tok": ["a", None, None]}))
    got = countmin_lookup(sketch, probes, "tok", depth=4, width=32).toPandas()
    assert len(got) == 3  # NULL probe rows preserved (both of them)
    nulls = got[got["tok"].isna()]["est"]
    assert len(nulls) == 2 and (nulls == 0).all()
    assert (got[got["tok"] == "a"]["est"] >= 2).all()


def test_welford_min_history_validation():
    from xorbits_sql_spark.streaming.stateful import welford_anomalies

    with pytest.raises(ValueError, match="min_history"):
        welford_anomalies(None, min_history=1)


def test_upsert_corrupt_snapshot_aborts_instead_of_clobbering(spark, tmp_path):
    """A snapshot that exists but cannot be read must FAIL the batch —
    the old bare `except Exception` treated it as 'first batch' and
    overwrote the state table with one micro-batch."""
    import os

    from xorbits_sql_spark.streaming.sinks import upsert_latest_to_parquet
    from xorbits_sql_spark.streaming.windows import read_parquet_stream

    from .conftest import SF_ORACLE

    out = str(tmp_path / "state")
    os.makedirs(out)
    corrupt = os.path.join(out, "part-00000.parquet")
    with open(corrupt, "w") as f:
        f.write("this is not parquet")
    stream = read_parquet_stream(spark, f"{SF_ORACLE}/events.parquet").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    with pytest.raises(Exception):
        upsert_latest_to_parquet(
            stream,
            out,
            key_cols=["user_id"],
            ts_col="ts",
            tiebreak="event_id",
            checkpoint=str(tmp_path / "ckpt"),
        )
    # the corrupt marker is still there: nothing clobbered the directory
    with open(corrupt) as f:
        assert f.read() == "this is not parquet"


def test_asof_join_ignores_null_time_rows(spark):
    """NULL-time rows never match and never receive a match: a NULL
    right_time row sorts first under the asc window and previously
    became the 'latest' match for every left row before the first real
    right row (round-7 review — silent wrong data on defaults)."""
    from xorbits_sql_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "a"], "t": [1, 5, None], "lv": [10, 20, 30]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "t": [None, 4], "val": [9, 7]})
    )
    got = {
        r["lv"]: r["val"]
        for r in asof_join(
            left, right, on="k", left_time="t", right_time="t", right_values=["val"]
        ).collect()
    }
    # t=1: no real right row at or before -> NULL (was 9 via the NULL-time row)
    # t=5: matches the real t=4 row; NULL left time: no match
    assert got == {10: None, 20: 7, 30: None}


def test_asof_join_refuses_colliding_value_names(spark):
    from xorbits_sql_spark.operators.joins import asof_join

    left = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [1], "val": [0]}))
    right = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [1], "val": [9]}))
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_time="t", right_time="t", right_values=["val"])


def test_connected_components_accepts_all_integral_widths(spark):
    """simpleString() spells ByteType/ShortType as tinyint/smallint —
    the old allowlist ('byte', 'short', ...) rejected them (round-7
    review)."""
    from pyspark.sql import functions as F
    from xorbits_sql_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]}))
    for t in ("tinyint", "smallint", "int", "bigint"):
        cast = pairs.select(
            F.col("id_a").cast(t).alias("id_a"), F.col("id_b").cast(t).alias("id_b")
        )
        comp = {r["id"]: r["component"] for r in connected_components(cast).collect()}
        assert comp == {1: 1, 2: 1, 3: 1}
    with pytest.raises(TypeError, match="integral"):
        connected_components(
            pairs.select(
                F.col("id_a").cast("string").alias("id_a"), F.col("id_b").alias("id_b")
            )
        )


def test_lsh_topk_bits_zero_is_full_scan(spark):
    """bits=0 is the documented full-recall knob: it must delegate to
    brute_topk, not crash on a missing bucket column (round-7 review)."""
    from xorbits_sql_spark.operators.similarity import brute_topk, lsh_topk

    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [0, 10, 11], "embedding": [[1.0, 0.0], [0.9, 0.1], [-1.0, 0.2]]}
        )
    )
    q = emb.filter(emb.vec_id < 10)
    c = emb.filter(emb.vec_id >= 10)
    got = [tuple(r) for r in lsh_topk(q, c, k=2, bits=0).collect()]
    want = [tuple(r) for r in brute_topk(q, c, k=2).collect()]
    assert got == want and len(got) == 2


def test_brute_topk_empty_query_set(spark):
    """Zero queries return an empty frame with the usual columns."""
    from xorbits_sql_spark.operators.similarity import brute_topk

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [10, 11], "embedding": [[1.0, 0.0], [0.0, 1.0]]})
    )
    q = emb.filter(emb.vec_id < 0)
    out = brute_topk(q, emb, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["qid", "cid", "cosine", "rank"]
