"""Operator-level unit tests: as-of join, range join, dedup families,
similarity — small synthetic frames with hand-computed expectations."""

from __future__ import annotations

from unittest import mock

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from xorbits_sql_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    winnow_fingerprints,
)
from xorbits_sql_spark.operators.joins import asof_join, range_join
from xorbits_sql_spark.operators.similarity import brute_topk, ivf_topk
from xorbits_sql_spark.operators.skew import salted_join

from .conftest import SF_ORACLE, spy


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [
            Row(sym="A", t=10, trade_id=1),
            Row(sym="A", t=20, trade_id=2),
            Row(sym="B", t=15, trade_id=3),
            Row(sym="C", t=5, trade_id=4),  # no quote before it
        ]
    )
    quotes = spark.createDataFrame(
        [
            Row(sym="A", qt=5, px=100.0),
            Row(sym="A", qt=10, px=101.0),  # ties with trade t=10 → eligible
            Row(sym="A", qt=18, px=102.0),
            Row(sym="B", qt=1, px=50.0),
            Row(sym="C", qt=99, px=1.0),  # after the trade
        ]
    )
    out = asof_join(
        trades,
        quotes,
        on="sym",
        left_time="t",
        right_time="qt",
        right_values=["px"],
        tie_breakers=["qt"],
    )
    got = {(r["sym"], r["trade_id"]): r["px"] for r in out.collect()}
    assert got == {("A", 1): 101.0, ("A", 2): 102.0, ("B", 3): 50.0, ("C", 4): None}


def test_asof_join_tolerance(spark):
    trades = spark.createDataFrame(
        [Row(sym="A", t=10, trade_id=1), Row(sym="A", t=100, trade_id=2)]
    )
    quotes = spark.createDataFrame(
        [Row(sym="A", qt=8, px=1.0), Row(sym="A", qt=50, px=2.0)]
    )
    out = asof_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        right_values=["px"], tolerance=10, tie_breakers=["qt"],
    )
    got = {r["trade_id"]: r["px"] for r in out.collect()}
    # trade 1: quote at 8 is 2 ticks old -> kept; trade 2: quote at 50 is
    # 50 ticks old -> outside tolerance, nulled (pandas merge_asof semantics)
    assert got == {1: 1.0, 2: None}


def test_asof_join_null_right_value(spark):
    """A genuine NULL in the matched right row must survive — not be
    backfilled from an older right row (pandas merge_asof / DuckDB ASOF
    semantics). Pins the per-column-last bug fixed by the struct carry."""
    left = spark.createDataFrame([(1, i) for i in (1, 2, 3, 4, 5)], "k int, v int")
    right = spark.createDataFrame(
        [(1, 1, 10), (1, 2, None), (1, 4, 40)], "k int, t int, rv int"
    )
    out = asof_join(
        left, right, on="k", left_time="v", right_time="t", right_values=["rv"]
    )
    got = {r["v"]: r["rv"] for r in out.collect()}
    # v=2 and v=3 match the t=2 right row whose rv IS NULL.
    assert got == {1: 10, 2: None, 3: None, 4: 40, 5: 40}

    # Tolerance is judged against the time of the row that supplied the
    # values (t=4 for v=5: age 1, fresh; t=2 for v=3: age 1, fresh but
    # value still NULL; nothing within 1 tick of v=1 besides t=1).
    tol = asof_join(
        left, right, on="k", left_time="v", right_time="t",
        right_values=["rv"], tolerance=1,
    )
    got_tol = {r["v"]: r["rv"] for r in tol.collect()}
    assert got_tol == {1: 10, 2: None, 3: None, 4: 40, 5: 40}


def test_range_join(spark):
    facts = spark.createDataFrame([Row(v=5.0), Row(v=55.0), Row(v=500.0)])
    bands = spark.createDataFrame(
        [Row(band="lo", lo=0.0, hi=50.0), Row(band="hi", lo=50.0, hi=100.0)]
    )
    out = range_join(facts, bands, value="v").select("v", "band").collect()
    assert {(r["v"], r["band"]) for r in out} == {(5.0, "lo"), (55.0, "hi")}


def _distributed_tiers(monkeypatch):
    """Pin the operators to their distributed tiers: the fixtures here
    are far below the driver-tier bound, and the tests that take this
    pin check distributed mechanics (scaled partitioning, the block
    decomposition, star pairs, plan shapes)."""
    from xorbits_sql_spark.operators import dedup as D

    monkeypatch.setattr(D, "_DRIVER_ROWS", 0)


_CC_TIER_FNS = {
    "driver": "_cc_driver",
    "propagation": "_cc_propagation",
    "stars": "_cc_alternating_stars",
}
# The bounds that pin each connected-components tier at fixture scale.
_CC_PINS = {
    "driver": {},
    "propagation": {"_DRIVER_ROWS": -1},
    "stars": {"_DRIVER_ROWS": -1, "_CC_STARS_EDGES": 0},
}


def _cc_run(pairs, **bounds) -> tuple[dict, str, int]:
    """connected_components' labels with ``bounds`` patched into
    ``dedup``, the tier that ran and the rounds it executed (0 on the
    driver), read from spies on the three tier functions."""
    from contextlib import ExitStack

    from xorbits_sql_spark.operators import dedup

    with ExitStack() as stack:
        if bounds:
            stack.enter_context(mock.patch.multiple(dedup, **bounds))
        ran = {
            tier: stack.enter_context(spy(dedup, fn))
            for tier, fn in _CC_TIER_FNS.items()
        }
        rows = dedup.connected_components(pairs).collect()
    labels = {r["id"]: r["component"] for r in rows}
    assert len(labels) == len(rows)  # one row per node
    (tier,) = [t for t, seen in ran.items() if seen]
    rounds = 0 if tier == "driver" else ran[tier][0][1]
    return labels, tier, rounds


def _cc_labels(pairs, tier: str) -> dict:
    labels, ran, _rounds = _cc_run(pairs, **_CC_PINS[tier])
    assert ran == tier
    return labels


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=3, text="the quick brown fox jumps over a lazy dog"),  # near dup
        Row(doc_id=4, text="completely different words entirely here now"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_minhash_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(_docs(spark), "text", "doc_id", seeds=8, band_size=1).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares most shingles
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.3 < out[(1, 3)] < 1.0
    assert not any(4 in p for p in out)


def test_ngram_jaccard_pair_budget_guard(spark):
    """Round-4 verdict #2: a dense clique must be REFUSED by the
    pre-flight Σ df·(df-1)/2 estimate before any pair joins run, with
    the error naming the bounded alternatives; a generous budget leaves
    results identical to budget-off."""
    import pytest as _pytest

    from xorbits_sql_spark.errors import PairBudgetExceededError

    # 40-doc clique of identical texts → C(40,2) = 780 exact pairs
    clique = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(40)],
        "doc_id long, text string",
    )
    with _pytest.raises(PairBudgetExceededError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(clique, "text", "doc_id", pair_budget=500)
    ok = ngram_jaccard_pairs(clique, "text", "doc_id", pair_budget=10_000)
    assert ok.count() == 40 * 39 // 2
    # budget respected on the docs fixture: tiny corpus, no refusal,
    # identical output with the default budget vs disabled
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.0, pair_budget=None
        ).collect()
    }
    budgeted = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.0
        ).collect()
    }
    assert base == budgeted


def test_pair_volume_scaled_partitions_equivalence(spark, monkeypatch):
    """Round-4 verdict #4: when the Σdf² estimate exceeds the session
    shuffle-partition budget, the pair join/agg repartition to the
    scaled count — same rows, more partitions. Forced here by shrinking
    the rows-per-partition target below the fixture's pair volume.
    Pinned to the distributed tiers, whose plans the scaling shapes;
    the driver tiers at the default gates give the same rows."""
    from xorbits_sql_spark.operators import dedup as D

    _distributed_tiers(monkeypatch)
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.0, pair_budget=None
        ).collect()
    }
    monkeypatch.setattr(D, "_PAIR_ROWS_PER_PARTITION", 1)
    df = ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.0)
    scaled = {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}
    assert scaled == plain
    assert "RoundRobin" not in df._jdf.queryExecution().executedPlan().toString()
    # LSH capped path rides the same scaling
    lsh_plain = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            _docs(spark), "text", "doc_id", seeds=8, band_size=1, max_bucket=2
        ).collect()
    }
    monkeypatch.setattr(D, "_PAIR_ROWS_PER_PARTITION", 4_000_000)
    lsh_base = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            _docs(spark), "text", "doc_id", seeds=8, band_size=1, max_bucket=2
        ).collect()
    }
    assert lsh_plain == lsh_base
    monkeypatch.undo()
    driver = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), "text", "doc_id", threshold=0.0
        ).collect()
    }
    assert driver == plain
    lsh_driver = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            _docs(spark), "text", "doc_id", seeds=8, band_size=1, max_bucket=2
        ).collect()
    }
    assert lsh_driver == lsh_plain


def test_simhash_pairs(spark):
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark), "text", "doc_id", max_hamming=64, prefix_bits=0).collect()
    }
    assert out[(1, 2)] == 0  # identical text → identical simhash
    assert out[(1, 3)] <= 12  # near dup → small hamming distance


def test_simhash_relational_matches_python_reference(spark):
    """Each signature bit is set when at least half of the document's
    tokens vote 1 for it (ties set the bit). Tokens hash to the first 15
    hex chars of their md5; repeated tokens vote once per occurrence."""
    import hashlib

    from xorbits_sql_spark.operators.dedup import simhash_relational

    docs = {
        1: "solo",  # one token: the signature is its hash
        2: "tie breaker",  # two tokens: every bit they disagree on ties
        3: "  echo echo   echo delta ",  # repeats, ragged whitespace
        4: "alpha beta gamma delta epsilon zeta eta theta",
    }

    def reference(text: str) -> int:
        hashes = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in text.split()]
        return sum(
            1 << i
            for i in range(60)
            if 2 * sum((h >> i) & 1 for h in hashes) >= len(hashes)
        )

    a, b = (int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in ("tie", "breaker"))
    assert a ^ b  # document 2 really holds a tie
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc"]: r["sh"] for r in simhash_relational(df, "text", "doc_id").collect()}
    assert got == {d: reference(text) for d, text in docs.items()}
    assert got[2] == a | b


def test_simhash_pair_budget_guard(spark):
    """Round-8 graph-tier rehearsal: within-bucket volume is
    N²/2^prefix_bits at fixed prefix_bits, so simhash_pairs gets the
    same submit-time refusal contract as ngram_jaccard_pairs. A
    one-bucket clique over budget must be REFUSED before the pair join
    runs; a generous budget leaves results identical to budget-off."""
    import pytest as _pytest

    from xorbits_sql_spark.errors import PairBudgetExceededError

    # prefix_bits=0 → ONE bucket of 40 docs → C(40,2) = 780 pairs
    clique = spark.createDataFrame(
        [(i, f"common shared text body variant {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    with _pytest.raises(PairBudgetExceededError, match="prefix_bits"):
        simhash_pairs(clique, "text", "doc_id", prefix_bits=0, pair_budget=500)
    ok = simhash_pairs(
        clique, "text", "doc_id", max_hamming=64, prefix_bits=0, pair_budget=10_000
    )
    assert ok.count() == 40 * 39 // 2
    # the guard estimates even with bucket capping OFF (max_bucket=None)
    with _pytest.raises(PairBudgetExceededError, match="prefix_bits"):
        simhash_pairs(
            clique, "text", "doc_id", prefix_bits=0,
            max_bucket=None, pair_budget=500,
        )
    # tiny corpus: default budget never fires, output identical to off
    base = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            _docs(spark), "text", "doc_id", max_hamming=64, prefix_bits=0,
            pair_budget=None,
        ).collect()
    }
    budgeted = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            _docs(spark), "text", "doc_id", max_hamming=64, prefix_bits=0
        ).collect()
    }
    assert base == budgeted


def test_salted_join_equals_plain_join(spark):
    # heavily skewed left: 900 of 1000 rows share key 'hot'
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, "hot").otherwise(F.concat(F.lit("k"), "id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.createDataFrame(
        [Row(k="hot", rv=1), Row(k="k950", rv=2), Row(k="missing", rv=3)]
    )
    for how in ("inner", "left"):
        got = salted_join(left, right, on="k", how=how, salt=4)
        want = left.join(right, "k", how)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_winnow_fingerprints(spark):
    out = winnow_fingerprints(_docs(spark), "text", "doc_id", k=8, w=4)
    fps = {}
    for r in out.collect():
        fps.setdefault(r["doc"], set()).add(r["fp"])
    assert fps[1] == fps[2]  # identical text → identical fingerprint set
    assert fps[1] & fps[3]  # near dup shares fingerprints (overlap >= k+w-1)
    assert not (fps[1] & fps[4])  # unrelated text shares none


def test_ivf_topk(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.95, 0.05]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
            Row(vec_id=4, embedding=[0.05, 0.95]),
        ]
    )
    cents = spark.createDataFrame(
        [Row(cell=0, cvec=[1.0, 0.0]), Row(cell=1, cvec=[0.0, 1.0])]
    )
    out = ivf_topk(
        vecs.filter(F.col("vec_id") == 1), vecs, cents, k=2, nprobe=1, exclude_self=True
    )
    # nprobe=1 → only the x-axis cell is searched: 2 is found, 3/4 are not.
    assert [(r["cid"], r["rank"]) for r in out.orderBy("rank").collect()] == [(2, 1)]


def test_brute_topk_exact(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.9, 0.1]),
            Row(vec_id=3, embedding=[0.0, 1.0]),
        ]
    )
    out = brute_topk(vecs.filter(F.col("vec_id") == 1), vecs, k=2)
    ranked = [(r["cid"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert ranked == [(1, 1), (2, 2)]


def test_distinct_sketch_accuracy(spark):
    """HLL sketches (q89) stay within 5% of the exact distinct count."""
    from xorbits_sql_spark.queries import load_all

    out = load_all()["q89_distinct_sketch"].fn(spark, "/root/testdata/sf0.001")
    for r in out.collect():
        for approx_col in ("approx_users", "hll_users"):
            err = abs(r[approx_col] - r["exact_users"]) / max(r["exact_users"], 1)
            assert err < 0.05, (r["event_type"], approx_col, err)


def test_approx_tiles_matches_exact_ntile(spark):
    """approx_tiles tile populations stay within 2% of exact NTILE."""
    from pyspark.sql.window import Window as W
    from xorbits_sql_spark.operators.skew import approx_tiles

    df = spark.range(0, 20000).select((F.col("id") % 9973).cast("double").alias("v"))
    exact = df.select(F.ntile(4).over(W.orderBy("v")).alias("tile")).groupBy("tile").count()
    approx = approx_tiles(df, "v", n=4).groupBy("tile").count()
    e = {r["tile"]: r["count"] for r in exact.collect()}
    a = {r["tile"]: r["count"] for r in approx.collect()}
    assert set(a) == {1, 2, 3, 4}
    for tile in e:
        assert abs(a[tile] - e[tile]) / e[tile] < 0.02, (tile, a[tile], e[tile])


def test_shingles_k1_returns_words(spark):
    from xorbits_sql_spark.operators.dedup import shingles_relational

    df = spark.createDataFrame([(1, "a b a"), (2, "")], "doc_id int, text string")
    got = shingles_relational(df, "text", "doc_id", k=1, distinct=True).collect()
    assert {(r["doc"], r["shingle"]) for r in got} == {(1, "a"), (1, "b")}


def test_lsh_bucket_cap_star_pairs(spark, monkeypatch):
    """A pathological duplicate-heavy corpus (every doc identical, one
    giant LSH bucket) must produce a BOUNDED pair count: n-1 star pairs
    to the bucket representative, not n*(n-1)/2. Checked on the
    distributed tier, then on the driver tier at the default gates."""
    from xorbits_sql_spark.operators.dedup import minhash_lsh_pairs

    n = 40
    docs = spark.createDataFrame(
        [(i, "the same exact boilerplate text everywhere") for i in range(n)],
        "doc_id int, text string",
    )
    _distributed_tiers(monkeypatch)
    for _ in ("distributed", "driver"):
        pairs = minhash_lsh_pairs(
            docs, "text", "doc_id", seeds=4, band_size=2, max_bucket=10
        ).collect()
        assert len(pairs) == n - 1
        assert all(r["id_a"] == 0 for r in pairs)
        # uncapped: the full clique
        full = minhash_lsh_pairs(
            docs, "text", "doc_id", seeds=4, band_size=2, max_bucket=None
        ).count()
        assert full == n * (n - 1) // 2
        monkeypatch.undo()


def test_simhash_bucket_cap_star_pairs(spark, monkeypatch):
    from xorbits_sql_spark.operators.dedup import simhash_pairs

    n = 30
    docs = spark.createDataFrame(
        [(i, "identical words for every single document") for i in range(n)],
        "doc_id int, text string",
    )
    varied = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz yy xx qq")],
        "doc_id int, text string",
    )
    # the distributed tier, then the driver tier at the default gates
    _distributed_tiers(monkeypatch)
    for _ in ("distributed", "driver"):
        pairs = simhash_pairs(docs, "text", "doc_id", max_bucket=5).collect()
        assert len(pairs) == n - 1
        assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in pairs)
        # small buckets are unaffected by the cap
        got = simhash_pairs(varied, "text", "doc_id", max_bucket=100).collect()
        assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
        monkeypatch.undo()


def test_release_dedup_caches(spark):
    from xorbits_sql_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id int, text string"
    )
    dedup.minhash_lsh_pairs(docs, "text", "doc_id").count()
    assert dedup.release_caches() >= 1
    assert dedup.release_caches() == 0


def test_connected_components_chain_star_singleton(spark):
    from xorbits_sql_spark.operators.dedup import connected_components, dedup_keepers

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round),
    # star 10-{11,12,13}, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (21, 20)],
        "id_a bigint, id_b bigint",
    )
    comps = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id bigint, text string"
    )
    kept = sorted(r.doc_id for r in dedup_keepers(docs, pairs, "doc_id").collect())
    # one representative per cluster (min id) + untouched singleton 99
    assert kept == [1, 10, 20, 99]


def test_connected_components_stars_equals_propagation(spark):
    """The alternating-star contraction must label every node exactly
    like the reference propagation loop on adversarial shapes: a long
    chain, overlapping cliques, a binary-tree star-cap topology, a
    deterministic pseudo-random graph, and self-loop-only nodes."""
    from xorbits_sql_spark.operators.dedup import release_caches

    edges = (
        # chain 0..60
        [(i, i + 1) for i in range(60)]
        # two overlapping cliques on 100..104 and 103..107
        + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
        + [(a, b) for a in range(103, 108) for b in range(a + 1, 108)]
        # binary tree rooted at 200 (star-cap-ish topology)
        + [(200 + i, 200 + 2 * i + 1) for i in range(15)]
        + [(200 + i, 200 + 2 * i + 2) for i in range(15)]
        # self-loop-only node
        + [(500, 500)]
        # deterministic pseudo-random graph on 300..399
        + [
            (300 + (i * 37) % 100, 300 + (i * i * 13 + 7) % 100)
            for i in range(80)
        ]
    )
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    stars, ran, stars_rounds = _cc_run(pairs, **_CC_PINS["stars"])
    assert ran == "stars"
    prop = _cc_labels(pairs, "propagation")
    release_caches()
    assert stars == prop
    assert stars[500] == 500
    # contraction converges fast even on the 60-hop chain
    assert stars_rounds <= 8, stars_rounds


def test_connected_components_auto_pick(spark):
    """connected_components measures the edge count once and tiers on
    it: driver union-find at/below ``_DRIVER_ROWS``, propagation below
    ``_CC_STARS_EDGES``, stars at/above it — identical labels at every
    crossing."""
    from xorbits_sql_spark.operators.dedup import release_caches

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)],
        "id_a bigint, id_b bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    assert _cc_run(pairs) == (expected, "driver", 0)
    # five edges: at the bounds and one below them
    for bounds, tier in [
        ({"_DRIVER_ROWS": 5}, "driver"),
        ({"_DRIVER_ROWS": 4, "_CC_STARS_EDGES": 6}, "propagation"),
        ({"_DRIVER_ROWS": 4, "_CC_STARS_EDGES": 5}, "stars"),
    ]:
        assert _cc_run(pairs, **bounds)[:2] == (expected, tier), bounds
    release_caches()


def test_connected_components_drops_null_ended_pairs(spark):
    """A pair with a NULL end names no edge: every tier drops it before
    labelling, and no NULL id or label comes back."""
    from xorbits_sql_spark.operators.dedup import release_caches

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {"id_a": [1, 2, None, 5, 6], "id_b": [2, 3, 4, None, 7]}, dtype="Int64"
        ),
        "id_a bigint, id_b bigint",
    )
    got = {tier: _cc_labels(pairs, tier) for tier in _CC_PINS}
    release_caches()
    for labels in got.values():
        assert labels == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}


def test_connected_components_driver_tier_guard_and_equivalence(spark):
    """The driver union-find tier must label adversarial shapes
    exactly like the distributed propagation reference."""
    from xorbits_sql_spark.operators.dedup import release_caches

    edges = (
        [(i, i + 1) for i in range(60)]  # 60-hop chain
        + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
        + [(a, b) for a in range(103, 108) for b in range(a + 1, 108)]
        + [(500, 500)]  # self-loop-only node
        + [
            (300 + (i * 37) % 100, 300 + (i * i * 13 + 7) % 100)
            for i in range(80)
        ]
    )
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    drv = _cc_labels(pairs, "driver")
    prop = _cc_labels(pairs, "propagation")
    release_caches()
    assert drv == prop
    assert drv[500] == 500


def test_kcore_peel_tier_guard_and_equivalence(spark):
    """kcore_peel_counts' driver tier must produce the exact same
    single-row counts as the distributed peel on a shape with hubs,
    chains, self-contained cliques and peeled-away tendrils."""
    from xorbits_sql_spark.operators import dedup, graph
    from xorbits_sql_spark.operators.dedup import release_caches
    from xorbits_sql_spark.operators.graph import kcore_peel_counts

    edges = (
        [(i, i + 1) for i in range(30)]  # chain: fully peeled at k=3
        + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
        + [(200, x) for x in range(201, 210)]  # star: hub survives r0 only
        + [(300 + (i * 7) % 40, 300 + (i * i * 11 + 3) % 40) for i in range(90)]
    )
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges if a != b],
        "p1 bigint, p2 bigint",
    ).distinct()
    with spy(graph, "_kcore_driver") as on_driver:
        drv = kcore_peel_counts(pairs).collect()
    with spy(graph, "_kcore_driver") as off_driver, mock.patch.object(
        dedup, "_DRIVER_ROWS", -1
    ):
        dist = kcore_peel_counts(pairs).collect()
    release_caches()
    assert len(on_driver) == 1 and off_driver == []
    assert len(drv) == len(dist) == 1
    assert drv[0].asDict() == dist[0].asDict()
    # the clique survives both peels: 6 nodes of degree 5, 15 edges
    assert drv[0]["nodes_2"] >= 6 and drv[0]["edges_2"] >= 15


def test_kcore_refuses_non_integral_ids(spark):
    """Fractional ids would be cast to bigint, merging 1.2 and 1.7 into
    one node: kcore_peel_counts refuses them at submit time, as
    connected_components does."""
    import pytest

    from xorbits_sql_spark.operators.graph import kcore_peel_counts

    edges = spark.createDataFrame(
        [(1.2, 1.7), (1.7, 2.0), (2.0, 1.2), (3.0, 4.0)], "p1 double, p2 double"
    )
    with pytest.raises(TypeError, match="kcore_peel_counts requires integral ids"):
        kcore_peel_counts(edges, k=2, rounds=1)


def test_kcore_drops_null_ended_edges(spark):
    """An edge with a NULL end names no node: both tiers drop it before
    counting, as connected_components does, so NULL is neither a node
    nor an edge end in any round."""
    from xorbits_sql_spark.operators import dedup, graph
    from xorbits_sql_spark.operators.dedup import release_caches
    from xorbits_sql_spark.operators.graph import kcore_peel_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (None, 1), (None, 2), (None, 3), (1, 4), (2, 4)],
        "p1 bigint, p2 bigint",
    )
    with spy(graph, "_kcore_driver") as on_driver:
        drv = kcore_peel_counts(edges, k=2, rounds=2).collect()
    with spy(graph, "_kcore_driver") as off_driver, mock.patch.object(
        dedup, "_DRIVER_ROWS", -1
    ):
        dist = kcore_peel_counts(edges, k=2, rounds=2).collect()
    release_caches()
    assert len(on_driver) == 1 and off_driver == []
    assert tuple(drv[0]) == tuple(dist[0]) == (4, 5, 4, 5, 4, 5)


def test_pack_sequences_assignment(spark):
    from xorbits_sql_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "s", 30), (2, "s", 80), (3, "s", 10), (4, "s", 0), (5, "t", 250)],
        "id bigint, shard string, n_tok bigint",
    )
    rows = {r.id: r for r in pack_sequences(docs, "n_tok", "id", "shard", seq_len=100).collect()}
    assert 4 not in rows  # zero-token doc occupies no positions
    # shard s packs 120 tokens -> 2 sequences; cumulative order is md5-based
    s_rows = [rows[i] for i in (1, 2, 3)]
    assert sorted(r.cum_tokens for r in s_rows) == [sorted(r.cum_tokens for r in s_rows)[0]] + sorted(
        r.cum_tokens for r in s_rows
    )[1:]
    assert max(r.cum_tokens for r in s_rows) == 120
    # exactly the docs crossing a 100-token boundary straddle
    for r in s_rows:
        first, last = (r.cum_tokens - r.n_tok) // 100, (r.cum_tokens - 1) // 100
        assert (r.first_seq, r.last_seq, r.n_straddles) == (first, last, last - first)
    # shard t: one 250-token doc spans sequences 0..2
    assert (rows[5].first_seq, rows[5].last_seq, rows[5].n_straddles) == (0, 2, 2)


def test_kmeans_lloyd_separates_obvious_clusters(spark):
    from xorbits_sql_spark.operators.similarity import assign_with_score, kmeans_lloyd

    # two tight groups on orthogonal axes; seeds (ids 0,1) start one in each
    rows = [
        (0, [1.0, 0.0, 0.05]), (2, [0.9, 0.1, 0.0]), (4, [1.1, -0.1, 0.0]),
        (1, [0.0, 1.0, 0.05]), (3, [0.1, 0.9, 0.0]), (5, [-0.1, 1.1, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = kmeans_lloyd(emb, k=2, n_iter=2)
    assigned = {r.cid: r.cell for r in assign_with_score(emb, cents).collect()}
    assert {assigned[0], assigned[2], assigned[4]} == {0}
    assert {assigned[1], assigned[3], assigned[5]} == {1}
    for r in assign_with_score(emb, cents).collect():
        assert r.score > 0.9


def test_zorder_locality_bounds_both_dims(spark):
    from pyspark.sql import functions as F

    from xorbits_sql_spark.operators.layout import zorder_key

    # 64x64 grid, every cell once: a z-bucket of the top 6 bits must
    # cover a small tile of BOTH dimensions, not a stripe of one.
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    zed = zorder_key(grid, ["x", "y"], bits=16)
    spans = (
        zed.groupBy(F.shiftright("zval", 26).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(spans) == 64  # 6 top bits over a full 4096-cell grid
    for r in spans:
        # each bucket is an 8x8 tile: span 7 in each dim (global span 63)
        assert r.xs <= 7 and r.ys <= 7 and r.n == 64


def test_countmin_overcounts_only_and_merges(spark):
    from pyspark.sql import functions as F

    from xorbits_sql_spark.operators.sketches import countmin_lookup, countmin_sketch

    words = ["a", "b", "c", "d"] * 25 + ["hot"] * 300
    items = spark.createDataFrame([(w,) for w in words], "tok string")
    sketch = countmin_sketch(items, "tok", depth=4, width=32)
    exact = items.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    est = {r.tok: (r.n, r.est) for r in
           countmin_lookup(sketch, exact, "tok", depth=4, width=32).collect()}
    for tok, (n, e) in est.items():
        assert e >= n, tok  # count-min never undercounts
    assert est["hot"][1] < 400  # and the heavy hitter stays near truth

    # mergeability: sketches of two disjoint halves, unioned and
    # re-summed, equal the sketch of the whole corpus
    half1 = items.filter(F.col("tok").isin("a", "b", "hot"))
    half2 = items.filter(~F.col("tok").isin("a", "b", "hot"))
    merged = (
        countmin_sketch(half1, "tok", depth=4, width=32)
        .unionAll(countmin_sketch(half2, "tok", depth=4, width=32))
        .groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r.d, r.bucket): r.cnt for r in sketch.collect()}
    b = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    assert a == b


def test_applyinpandas_ols_matches_relational(spark):
    """Grouped-map (applyInPandas) per-group OLS equals the relational
    decimal-exact r57 formulation on the same data — the grouped pandas
    API and the pure-SQL path agree to float tolerance."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from xorbits_sql_spark.queries import load_all
    from xorbits_sql_spark.queries._util import t

    sf = "/root/testdata/sf0.001"
    rel = {
        r.event_type: r.slope
        for r in load_all()["r57_trend_slope"].fn(spark, sf).collect()
    }

    daily = (
        t(spark, sf, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("bigint").alias("x"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        sx, sy = pdf.x.sum(), pdf.y.sum()
        sxy, sxx = (pdf.x * pdf.y).sum(), (pdf.x * pdf.x).sum()
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return pd.DataFrame({"event_type": [pdf.event_type.iloc[0]], "slope": [slope]})

    got = {
        r.event_type: r.slope
        for r in daily.groupBy("event_type")
        .applyInPandas(fit, "event_type string, slope double")
        .collect()
    }
    assert set(got) == set(rel)
    for k in rel:
        assert math.isclose(got[k], rel[k], rel_tol=1e-9), k


def test_semdedup_drops_higher_id_near_dups(spark):
    from xorbits_sql_spark.operators.similarity import kmeans_lloyd, semdedup

    # two orthogonal groups; ids 2/4 duplicate id 0's direction, id 5
    # duplicates id 3; id 1 and 3 are distinct directions within their
    # groups (cosine below threshold).
    rows = [
        (0, [1.0, 0.0, 0.0]), (2, [2.0, 0.0, 0.0]), (4, [1.0, 0.001, 0.0]),
        (1, [0.0, 1.0, 0.0]), (3, [0.0, 0.7, 0.7]), (5, [0.0, 0.7001, 0.7]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = kmeans_lloyd(emb, k=2, n_iter=2)
    decisions = {r.vec_id: r.kept for r in semdedup(emb, cents, threshold=0.95).collect()}
    assert decisions == {0: True, 1: True, 3: True, 2: False, 4: False, 5: False}
    # every vector got exactly one decision row
    assert semdedup(emb, cents, threshold=0.95).count() == 6


def test_bloom_probe_no_false_negatives(spark):
    from xorbits_sql_spark.operators.sketches import bloom_build, bloom_probe

    build = spark.createDataFrame([Row(k=i) for i in range(0, 200, 2)])
    probe = spark.createDataFrame([Row(k=i) for i in range(200)])
    bits = bloom_build(build, "k", m=4096, k=3)
    out = {r["k"]: r["bloom_pass"] for r in bloom_probe(probe, "k", bits, m=4096, k=3).collect()}
    # every member passes (no false negatives, the bloom invariant)
    assert all(out[i] for i in range(0, 200, 2))
    # false-positive rate stays near theory: (1 - e^{-kn/m})^k ~ 0.4%
    # for n=100, m=4096, k=3 — allow a generous margin
    fp = sum(1 for i in range(1, 200, 2) if out[i])
    assert fp <= 10, fp


def test_bloom_filters_merge_by_union(spark):
    from xorbits_sql_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([Row(k=i) for i in range(50)])
    b = spark.createDataFrame([Row(k=i) for i in range(50, 100)])
    both = spark.createDataFrame([Row(k=i) for i in range(100)])
    merged = sorted(
        r["pos"]
        for r in bloom_build(a, "k").union(bloom_build(b, "k")).distinct().collect()
    )
    direct = sorted(r["pos"] for r in bloom_build(both, "k").collect())
    assert merged == direct


def test_incremental_merge_equals_recompute_any_cutoff(spark):
    # the r96 contract at a second cutoff: merging per-slice partial
    # states reproduces the single-pass aggregate bit-for-bit
    from xorbits_sql_spark.queries._util import t as load

    ev = load(spark, "/root/testdata/sf0.001", "events")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
        )

    cut = F.lit("2024-01-07 12:34:56").cast("timestamp")
    merged = (
        partial(ev.filter(F.col("ts") < cut))
        .unionByName(partial(ev.filter(F.col("ts") >= cut)))
        .groupBy("event_type")
        .agg(F.sum("pn").alias("n"), F.sum("ps").cast("double").alias("s"))
    )
    direct = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
    )
    m = {r["event_type"]: (r["n"], r["s"]) for r in merged.collect()}
    d = {r["event_type"]: (r["n"], r["s"]) for r in direct.collect()}
    assert m == d


def test_asof_join_forward_tolerance(spark):
    left = spark.createDataFrame([Row(k="A", t=10), Row(k="A", t=90)])
    right = spark.createDataFrame([Row(k="A", rt=15, q=1), Row(k="A", rt=200, q=2)])
    out = {
        r["t"]: r["q"]
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="t",
            right_time="rt",
            right_values=["q"],
            tolerance=20,
            direction="forward",
        ).collect()
    }
    # t=10 -> rt=15 is 5 ahead, within tolerance; t=90 -> rt=200 is 110
    # ahead, nulled (look-AHEAD bound, mirroring pandas merge_asof)
    assert out == {10: 1, 90: None}


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    """A corpus-common shingle must not drive a quadratic inverted-index
    join: with max_df set, hot shingles leave every doc's shingle SET
    (intersections AND set sizes), so docs related only through the hot
    shingle produce no pair at all, while genuinely similar docs keep an
    exact Jaccard over their filtered sets."""
    n = 40
    # Every doc embeds the same hot phrase ("terms of service apply"),
    # plus unique filler; docs 0 and 1 additionally share real content.
    rows = [
        (0, "alpha beta gamma delta epsilon terms of service apply"),
        (1, "alpha beta gamma delta zeta terms of service apply"),
    ] + [
        (i, f"unique{i} filler{i} words{i} here{i} terms of service apply")
        for i in range(2, n)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_k=3, threshold=0.0, max_df=5
        ).collect()
    }
    # Only the genuinely-similar pair survives; its Jaccard is over the
    # filtered sets: each doc keeps 5 shingles ("terms of service" and
    # "of service apply" have DF=40 and drop out), sharing 2 ("alpha
    # beta gamma", "beta gamma delta") -> 2 / (5 + 5 - 2) = 0.25.
    assert set(capped) == {(0, 1)}
    assert abs(capped[(0, 1)] - 0.25) < 1e-12

    # Uncapped: the hot shingles connect everything pairwise.
    full = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.0, max_df=None
    ).count()
    assert full == n * (n - 1) // 2


def test_bloom_probe_null_key_is_false(spark):
    """A NULL probe key hashes to no positions; its verdict must be a
    concrete False, not NULL (null-safe verdict join + coalesce)."""
    from xorbits_sql_spark.operators.sketches import bloom_build, bloom_probe

    build = spark.createDataFrame([Row(k="a"), Row(k="b")])
    probe = spark.createDataFrame(
        [Row(k="a"), Row(k=None), Row(k="zz")], "k string"
    )
    bits = bloom_build(build, "k", m=1024, k=3)
    out = {r["k"]: r["bloom_pass"] for r in bloom_probe(probe, "k", bits, m=1024, k=3).collect()}
    assert out["a"] is True
    assert out[None] is False


def test_release_caches_keeps_storage_stable_across_passes(spark):
    """The documented long-session contract (README 'Operator cache
    contract'): N dedup passes with release_caches() between them leave
    ZERO cached tables in the session's cache manager — storage memory
    does not grow with the number of passes."""
    from xorbits_sql_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta") for i in range(30)],
        "doc_id int, text string",
    )
    for _ in range(4):
        dedup.minhash_lsh_pairs(docs, "text", "doc_id").count()
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.0).count()
        assert dedup.release_caches() >= 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_dedup_decisions(spark):
    """Batch docs screen against the base index and each other: exact
    dups of base docs drop with dup_of = base id; batch-internal dups
    keep only the lowest id; unique docs keep."""
    from xorbits_sql_spark.operators.dedup import (
        incremental_dedup_decisions,
        minhash_band_index,
    )

    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different historical corpus text here")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(4, "the quick brown fox jumps over the lazy dog"),   # dup of base 1
         (8, "a genuinely novel document with fresh words"),   # unique
         (12, "a genuinely novel document with fresh words"),  # dup of new 8
         (16, "another unique ingest document entirely new")],
        "doc_id int, text string",
    )
    index = minhash_band_index(base, "text", "doc_id", seeds=4, band_size=1)
    out = {
        r["id"]: (r["dup_of"], r["keep"])
        for r in incremental_dedup_decisions(
            new, index, "text", "doc_id", seeds=4, band_size=1
        ).collect()
    }
    assert out[4] == (1, False)
    assert out[8] == (None, True)
    assert out[12] == (8, False)
    assert out[16] == (None, True)


def test_apply_changeset_merge_semantics(spark):
    """MERGE-style CDC apply: latest change per key wins (seq_col
    compaction), deletes remove, upserts replace/insert, untouched rows
    survive."""
    from xorbits_sql_spark.operators.temporal import apply_changeset

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # superseded by the later delete
            (2, "b3", "D", 2),
            (3, "c2", "U", 1),
            (4, "d", "I", 1),
        ],
        "k int, v string, op string, seq int",
    )
    out = apply_changeset(
        snap, changes.select("k", "v", "op", "seq"), ["k"],
        seq_col="seq", broadcast_changes=True,
    )
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "a", 3: "c2", 4: "d"}


def test_ngram_containment_asymmetric(spark):
    """A short doc fully quoted inside a long doc: containment of the
    short side ~1.0, the reverse direction small, Jaccard small."""
    from xorbits_sql_spark.operators.dedup import ngram_containment_pairs

    quote = "the five boxing wizards jump quickly tonight"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")],
        "doc_id int, text string",
    )
    out = {
        (r["id_small"], r["id_big"]): r["containment"]
        for r in ngram_containment_pairs(
            docs, "text", "doc_id", threshold=0.0, max_df=None
        ).collect()
    }
    # all 5 of doc1's 3-shingles appear in doc2
    assert out[(1, 2)] == 1.0
    # reverse containment is small (5 shared / 47 distinct shingles)
    assert abs(out[(2, 1)] - 5.0 / 47.0) < 1e-12


def test_bpe_merges_match_python_reference(spark):
    """The distributed BPE loop must reproduce the classic sequential
    algorithm exactly: same merges, same order, same pair counts."""
    import collections

    from xorbits_sql_spark.operators.bpe import learn_bpe_merges

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").filter("doc_id % 5 < 2")
    got = [tuple(r) for r in learn_bpe_merges(docs, k=6).collect()]

    wc = collections.Counter(
        w
        for (t,) in docs.select("text").collect()
        for w in t.split()
        if w
    )
    vocab = {w: list(w) for w in wc}
    want = []
    for rank in range(1, 7):
        pc = collections.Counter()
        for w, c in wc.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        cands = [(-c, l, r) for (l, r), c in pc.items() if c >= 2]
        if not cands:
            break
        negc, l, r = min(cands)
        want.append((rank, l, r, l + r, -negc))
        for w in vocab:
            s, new, i = vocab[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    new.append(l + r)
                    i += 2
                else:
                    new.append(s[i])
                    i += 1
            vocab[w] = new
    assert got == want


def test_hll_rollup_merge_equals_direct(spark):
    """hll_union_agg over per-day sketches must yield EXACTLY the same
    estimate as one sketch built directly over the whole period — the
    lossless-merge property that lets daily sketch pre-aggregates
    answer arbitrary date-range distinct queries (s81)."""
    from pyspark.sql import functions as F

    from xorbits_sql_spark.queries.stats import s81_hll_sketch_rollup
    from xorbits_sql_spark.queries._util import t

    sf = "/root/testdata/sf0.01"
    merged = {
        r["event_type"]: r["merged_distinct_users"]
        for r in s81_hll_sketch_rollup(spark, sf).collect()
    }
    direct = {
        r["event_type"]: r["d"]
        for r in t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("bigint")
            .alias("d")
        )
        .collect()
    }
    assert merged == direct


def test_capped_group_rows_bounds_hot_key_wedge(spark):
    """Synthetic hot-order bound (round-3 verdict #6): one power-law key
    with 500 lines must contribute at most cap rows to the basket (so
    the wedge self-join is bounded at cap^2 per key), while small
    groups pass through untouched and the kept rows are the
    deterministic (order) prefix."""
    from pyspark.sql import functions as F

    from xorbits_sql_spark.queries._util import capped_group_rows

    rows = [(1, p, p) for p in range(500)]  # hot order: 500 lines
    rows += [(2, p, p) for p in range(5)]  # normal basket
    df = spark.createDataFrame(
        rows, "l_orderkey int, l_partkey int, l_linenumber int"
    )
    capped = capped_group_rows(
        df, key="l_orderkey", order=("l_partkey", "l_linenumber"), cap=64
    )
    per_key = {
        r["l_orderkey"]: r["n"]
        for r in capped.groupBy("l_orderkey").agg(F.count("*").alias("n")).collect()
    }
    assert per_key == {1: 64, 2: 5}
    # Deterministic prefix: the 64 smallest partkeys survive.
    kept = sorted(
        r["l_partkey"] for r in capped.filter("l_orderkey = 1").collect()
    )
    assert kept == list(range(64))
    # Wedge join on the capped basket is bounded at C(cap,2) per key.
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).count()
    assert pairs == 64 * 63 // 2 + 5 * 4 // 2


def test_topk_tie_storm(spark):
    """A clique family far larger than k, all at cosine exactly 1.0 to
    the query: exact and IVF top-k must both return the globally
    smallest cids (ties break by ascending cid)."""
    from xorbits_sql_spark.operators.similarity import brute_topk, ivf_topk

    vec = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, vec) for i in range(100, 200)]  # 100 identical vectors
    rows += [(i, [0.0, 1.0, 0.0, 0.0]) for i in range(50)]  # orthogonal
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, vec), (1, [0.0, 1.0, 0.0, 0.0])], "cell long, cvec array<double>"
    )
    for got in (brute_topk(q, emb, k=5), ivf_topk(q, emb, cents, k=5, nprobe=1)):
        ranked = sorted(got.collect(), key=lambda r: r["rank"])
        assert [r["cid"] for r in ranked] == [100, 101, 102, 103, 104]


def test_connected_components_long_chain_log_rounds(spark):
    """A 1,000-node path graph (diameter 999) must converge in
    O(log diameter) rounds via the pointer-jumping shortcut — plain
    min-label propagation would need ~999 rounds and previously hit
    the max_iter ceiling on the 100x rehearsal's chained LSH graphs."""
    from xorbits_sql_spark.operators.dedup import release_caches

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    for tier, bound in [
        # star contraction: ~log2(diameter) + 1 confirm round
        ("stars", 12),
        # propagation with two pointer jumps: depth shrinks ~4x/round
        ("propagation", 9),
    ]:
        labels, ran, rounds = _cc_run(pairs, **_CC_PINS[tier])
        release_caches()
        assert ran == tier
        assert len(labels) == n, tier
        assert set(labels.values()) == {0}, tier
        assert rounds <= bound, (tier, rounds)


def test_midrank_helpers_match_scipy_style_ranks(spark):
    """with_cum_before + midrank_twice reproduce tie-averaged rank sums
    exactly (all-integer): values [3,1,4,1,5,9,2,6] group A vs
    [2,7,1,8,2,8] group B — hand-checked midranks."""
    from xorbits_sql_spark.functions.stats import midrank_twice, with_cum_before

    a = [3, 1, 4, 1, 5, 9, 2, 6]
    b = [2, 7, 1, 8, 2, 8]
    rows = [(v, 1, 0) for v in a] + [(v, 0, 1) for v in b]
    df = spark.createDataFrame(rows, "value long, c1 long, c2 long")
    per_v = df.groupBy("value").agg(
        F.sum("c1").alias("c1"), F.sum("c2").alias("c2")
    )
    both = F.col("c1") + F.col("c2")
    ranked = with_cum_before(per_v, "value", both)
    got = ranked.agg(
        F.sum(midrank_twice(F.col("c1"), both)).alias("r1_twice")
    ).collect()[0]["r1_twice"]
    # Python-side oracle: average ranks over the pooled sample.
    pooled = sorted(a + b)
    def avg_rank(v):
        idxs = [i + 1 for i, x in enumerate(pooled) if x == v]
        return sum(idxs) / len(idxs)
    expect_twice = round(2 * sum(avg_rank(v) for v in a))
    assert got == expect_twice


def test_exp9_matches_inline_spelling(spark):
    """exp9(col, shift) is IEEE-identical to round(exp(col)+shift, 9)
    and exp(col)-1 spelling for shift=-1."""
    import math

    from xorbits_sql_spark.functions.stats import exp9

    df = spark.createDataFrame(
        [(0.0,), (1.5,), (-2.25,), (13.9,)], "x double"
    )
    rows = df.select(
        exp9(F.col("x")).alias("e"),
        exp9(F.col("x"), shift=-1.0).alias("em1"),
    ).collect()
    for r, x in zip(rows, [0.0, 1.5, -2.25, 13.9]):
        assert r["e"] == round(math.exp(x), 9)
        assert r["em1"] == round(math.exp(x) - 1, 9)


def test_cc_auto_uses_generator_edge_hint(spark):
    """Pair generators attach their pre-computed pair-volume estimate;
    connected_components must pick its tier from that hint without a
    checkpoint job, and labels must match the counted path."""
    from xorbits_sql_spark.operators import dedup
    from xorbits_sql_spark.operators.dedup import minhash_lsh_pairs, release_caches

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id")
    hint = getattr(pairs, "_xss_edge_estimate", None)
    assert isinstance(hint, float) and hint >= 0
    with spy(dedup, "_observed_checkpoint") as checkpoints:
        got, tier, _rounds = _cc_run(pairs)
    assert tier == "driver" and checkpoints == []  # tiny graph: hint <= bound
    # a transformed DataFrame drops the hint -> counted fallback, same labels
    dropped = pairs.filter(F.lit(True))
    assert getattr(dropped, "_xss_edge_estimate", None) is None
    with spy(dedup, "_observed_checkpoint") as checkpoints:
        counted, tier, _rounds = _cc_run(dropped)
    release_caches()
    assert tier == "driver" and len(checkpoints) == 1
    assert got == counted


def test_build_concurrently_matches_sequential(spark):
    """§2.6 overlap helper: threaded construction+materialization must
    return the same results as sequential execution, in builder order,
    and propagate builder exceptions."""
    import pytest

    from xorbits_sql_spark.operators.dedup import (
        _persist,
        build_concurrently,
        construct_concurrently,
        materialize_concurrently,
        release_caches,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 4} epsilon zeta {i % 2}") for i in range(40)],
        "doc_id long, text string",
    )
    seq_mh = {
        tuple(r)
        for r in minhash_lsh_pairs(docs, "text", "doc_id").select("id_a", "id_b").collect()
    }
    seq_sh = {
        tuple(r)
        for r in simhash_pairs(docs, "text", "doc_id").select("id_a", "id_b").collect()
    }
    release_caches()

    mh, sh = build_concurrently(
        lambda: _persist(
            minhash_lsh_pairs(docs, "text", "doc_id").select("id_a", "id_b")
        ),
        lambda: _persist(
            simhash_pairs(docs, "text", "doc_id").select("id_a", "id_b")
        ),
    )
    assert {tuple(r) for r in mh.collect()} == seq_mh
    assert {tuple(r) for r in sh.collect()} == seq_sh
    release_caches()

    # two-phase variant: construction (pre-flights) then materialization
    mh2, sh2 = construct_concurrently(
        lambda: _persist(
            minhash_lsh_pairs(docs, "text", "doc_id").select("id_a", "id_b")
        ),
        lambda: _persist(
            simhash_pairs(docs, "text", "doc_id").select("id_a", "id_b")
        ),
    )
    materialize_concurrently(mh2, sh2)
    assert {tuple(r) for r in mh2.collect()} == seq_mh
    assert {tuple(r) for r in sh2.collect()} == seq_sh
    release_caches()

    # a builder exception must propagate, not hang or be swallowed
    def boom():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        build_concurrently(
            lambda: _persist(docs.select("doc_id")),
            boom,
        )
    release_caches()


def test_in_threads_without_pinned_thread_mode(spark, monkeypatch):
    """With pinned-thread mode off, pyspark's inheritable_thread_target
    returns its argument verbatim, so the session-passing form yields
    the session itself; the helper must still run every callable."""
    import pyspark.util

    from xorbits_sql_spark.operators.dedup import construct_concurrently

    monkeypatch.setattr(pyspark.util, "inheritable_thread_target", lambda f=None: f)
    assert construct_concurrently(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]


def test_simhash_blocked_join_equals_plain_join(spark, monkeypatch):
    """§2.5 block decomposition: with a tiny bucket-key space the
    within-bucket all-pairs join runs on (bucket, block_i, block_j);
    the pair set must be EXACTLY the plain bucket join's. prefix_bits=0
    puts all docs in one bucket (the worst single-key case) and 300
    docs crosses the max_small >= 256 gate, so the blocked path is
    exercised; passing max_bucket=None/pair_budget=None disables the
    sizes pre-flight and with it the blocking, giving the plain-join
    reference on identical input. Pinned to the distributed tier, whose
    join the decomposition is; the driver tier at the default gates
    gives the same pairs."""
    from xorbits_sql_spark.operators.dedup import release_caches

    import xorbits_sql_spark.operators.dedup as dedup_mod

    _distributed_tiers(monkeypatch)
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} alpha w{i % 11} beta w{i % 13} gamma {i % 3}") for i in range(300)],
        "doc_id long, text string",
    )
    # the volume gate engages blocking only when one bucket alone holds
    # a task's worth of pairs (~4M); lower it so 300 docs cross it here
    orig = dedup_mod._PAIR_ROWS_PER_PARTITION
    monkeypatch.setattr(dedup_mod, "_PAIR_ROWS_PER_PARTITION", 1_000)
    blocked = {
        tuple(r)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=30, prefix_bits=0
        ).collect()
    }
    release_caches()
    monkeypatch.setattr(dedup_mod, "_PAIR_ROWS_PER_PARTITION", orig)
    plain = {
        tuple(r)
        for r in simhash_pairs(
            docs,
            "text",
            "doc_id",
            max_hamming=30,
            prefix_bits=0,
            max_bucket=None,
            pair_budget=None,
        ).collect()
    }
    release_caches()
    assert blocked == plain and len(blocked) > 0

    # star tier: an oversized bucket must still emit exactly
    # (rep, member) pairs (max_small is 0 here, so this runs the plain
    # path — the blocked star handling is pinned by the mixed case
    # below)
    star = {
        tuple(r)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=64, prefix_bits=0, max_bucket=10
        ).select("id_a", "id_b").collect()
    }
    release_caches()
    assert star == {(0, i) for i in range(1, 300)}

    # mixed case: several buckets, one over max_bucket (star) and the
    # rest small (blocked all-pairs) — blocked vs plain must agree on
    # the full (id_a, id_b, hamming) set
    def mixed(pairs_kwargs):
        out = {
            tuple(r)
            for r in simhash_pairs(
                docs, "text", "doc_id", max_hamming=64, prefix_bits=2,
                **pairs_kwargs,
            ).collect()
        }
        release_caches()
        return out

    from pyspark.sql import functions as SF
    from xorbits_sql_spark.operators.dedup import simhash_relational

    bn = (
        simhash_relational(docs, "text", "doc_id")
        .withColumn("bucket", SF.shiftright(SF.col("sh"), 58))
        .groupBy("bucket").count().collect()
    )
    sizes = sorted(r["count"] for r in bn)
    assert len(sizes) >= 2, "test corpus must spread over >= 2 buckets"
    cap = sizes[-1] - 1  # biggest bucket overflows, the rest stay small
    monkeypatch.setattr(dedup_mod, "_PAIR_ROWS_PER_PARTITION", 10)
    blocked_mixed = mixed({"max_bucket": cap})
    monkeypatch.setattr(dedup_mod, "_PAIR_ROWS_PER_PARTITION", orig)
    plain_mixed = mixed({"max_bucket": cap})
    assert blocked_mixed == plain_mixed and len(blocked_mixed) > 0

    monkeypatch.undo()
    driver = {
        tuple(r)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=30, prefix_bits=0
        ).collect()
    }
    release_caches()
    assert driver == plain
    driver_star = {
        tuple(r)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=64, prefix_bits=0, max_bucket=10
        ).select("id_a", "id_b").collect()
    }
    release_caches()
    assert driver_star == star
    assert mixed({"max_bucket": cap}) == plain_mixed
