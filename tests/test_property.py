"""Property-based correctness: execute() vs DuckDB on random frames.

The reference has no randomized testing at all (SURVEY.md §5); this
layer generates small typed frames with NULLs and drives a set of SQL
shapes (projection/filter/aggregate/join/sort/distinct/window) through
both engines, comparing canonical rows. Shapes stick to
integer-exact or decimal-exact arithmetic so equality is exact, not
approximate — the same determinism contract as the query inventory.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xorbits_sql_spark import execute

from .oracle import compare, spark_outcome

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_keys = st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=24)
_ints = st.lists(st.one_of(st.integers(-1000, 1000), st.none()), min_size=1, max_size=24)


@st.composite
def frames(draw):
    k = draw(_keys)
    n = len(k)
    v = draw(st.lists(st.integers(-10_000, 10_000), min_size=n, max_size=n))
    w = draw(st.lists(st.one_of(st.integers(0, 100), st.none()), min_size=n, max_size=n))
    return pd.DataFrame({"k": k, "v": v, "w": pd.array(w, dtype="Int64")})


def _both(sql: str, tables: dict[str, pd.DataFrame]) -> list[str]:
    got = execute(sql, tables=tables).toPandas()
    con = duckdb.connect()
    for name, pdf in tables.items():
        con.register(name, pdf)
    want = con.execute(sql).fetchdf()
    return compare(got, want)


@given(frames())
@settings(**_SETTINGS)
def test_filter_project(spark, pdf):
    assert not _both(
        "SELECT k, v + 1 AS v1 FROM t WHERE v % 2 = 0 AND k <> 'd'", {"t": pdf}
    )


@given(frames())
@settings(**_SETTINGS)
def test_groupby_agg(spark, pdf):
    assert not _both(
        "SELECT k, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv, "
        "CAST(COUNT(w) AS BIGINT) AS nw, CAST(MIN(w) AS BIGINT) AS mw "
        "FROM t GROUP BY k",
        {"t": pdf},
    )


@given(frames(), frames())
@settings(**_SETTINGS)
def test_join(spark, left, right):
    assert not _both(
        "SELECT l.k AS k, CAST(SUM(l.v) AS BIGINT) AS lv, CAST(SUM(r.v) AS BIGINT) AS rv "
        "FROM l JOIN r ON l.k = r.k GROUP BY l.k",
        {"l": left, "r": right},
    )


@given(frames())
@settings(**_SETTINGS)
def test_sort_limit(spark, pdf):
    assert not _both(
        "SELECT k, v FROM t ORDER BY v DESC, k ASC LIMIT 5", {"t": pdf}
    )


@given(frames())
@settings(**_SETTINGS)
def test_distinct_setop(spark, pdf):
    assert not _both(
        "SELECT DISTINCT k FROM t WHERE v > 0 "
        "UNION SELECT DISTINCT k FROM t WHERE v <= 0",
        {"t": pdf},
    )


@given(frames(), frames())
@settings(**_SETTINGS)
def test_left_join_null_semantics(spark, left, right):
    assert not _both(
        "SELECT l.k AS k, l.v AS lv, CAST(r.w AS BIGINT) AS rw "
        "FROM l LEFT JOIN r ON l.v = r.v",
        {"l": left, "r": right},
    )


@given(frames())
@settings(**_SETTINGS)
def test_having_case(spark, pdf):
    assert not _both(
        "SELECT k, CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos "
        "FROM t GROUP BY k HAVING COUNT(*) > 2",
        {"t": pdf},
    )


@given(frames())
@settings(**_SETTINGS)
def test_in_subquery(spark, pdf):
    assert not _both(
        "SELECT k, v FROM t WHERE k IN (SELECT k FROM t WHERE w IS NULL)",
        {"t": pdf},
    )


@given(frames())
@settings(**_SETTINGS)
def test_window(spark, pdf):
    assert not _both(
        "SELECT k, v, CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, w NULLS FIRST) AS BIGINT) AS rn "
        "FROM t",
        {"t": pdf},
    )


@given(frames(), frames())
@settings(**_SETTINGS)
def test_asof_join_vs_duckdb(spark, left, right):
    """Union-trick as-of join equals DuckDB's native ASOF LEFT JOIN.

    The right side is deduped to one row per (k, t) first — both engines
    then have a unique best match (greatest t <= left time) per left
    row, so equality is exact including unmatched-left NULLs.
    """
    from xorbits_sql_spark.operators.joins import asof_join

    left = left[["k", "v"]]
    rightd = (
        right.assign(w=right["w"].fillna(0).astype("int64"))
        .rename(columns={"v": "t", "w": "rv"})
        .groupby(["k", "t"], as_index=False)
        .agg(rv=("rv", "max"))
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(rightd),
            on="k",
            left_time="v",
            right_time="t",
            right_values=["rv"],
            tie_breakers=["rv"],
        )
        .select("k", "v", "rv")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", rightd)
    want = con.execute(
        "SELECT l.k AS k, l.v AS v, r.rv AS rv FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.v >= r.t"
    ).fetchdf()
    assert not compare(got, want)


_words = st.lists(
    st.text(alphabet="abcd", min_size=1, max_size=5), min_size=2, max_size=15, unique=True
)


@given(words=_words)
@settings(**_SETTINGS)
def test_edit_distance_blocking_is_complete(spark, words):
    """SymSpell deletion blocking must find EXACTLY the brute-force
    levenshtein<=1 pairs — completeness of the candidate generation is
    the operator's core claim."""
    from xorbits_sql_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(w,) for w in words], "tok string")
    got = {(r.tok_a, r.tok_b) for r in edit_distance_pairs(df, "tok").collect()}

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b)
        for i, a in enumerate(sorted(words))
        for b in sorted(words)[i + 1 :]
        if lev(a, b) <= 1
    }
    assert got == want


@given(frames(), frames())
@settings(**_SETTINGS)
def test_asof_join_forward_vs_pandas(spark, left, right):
    """direction='forward' equals pandas merge_asof(direction='forward').

    Right deduped to one row per (k, t) so the nearest upcoming match is
    unique; pandas is the reference for forward semantics (DuckDB ASOF
    is backward-only).
    """
    from xorbits_sql_spark.operators.joins import asof_join

    left = left[["k", "v"]].dropna(subset=["v"]).sort_values(["v", "k"], kind="stable")
    rightd = (
        right.assign(w=right["w"].fillna(0).astype("int64"))
        .rename(columns={"v": "t", "w": "rv"})
        .dropna(subset=["t"])
        .groupby(["k", "t"], as_index=False)
        .agg(rv=("rv", "max"))
        .sort_values(["t", "k"], kind="stable")
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(rightd),
            on="k",
            left_time="v",
            right_time="t",
            right_values=["rv"],
            tie_breakers=["rv"],
            direction="forward",
        )
        .select("k", "v", "rv")
        .toPandas()
    )
    want = pd.merge_asof(
        left, rightd, left_on="v", right_on="t", by="k", direction="forward"
    )[["k", "v", "rv"]]
    assert not compare(got, want)


@settings(max_examples=60, deadline=None)
@given(
    lit=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    ),
    dialect=st.sampled_from(
        [
            "postgres", "mysql", "duckdb", "tsql", "snowflake", "bigquery",
            "trino", "oracle", "clickhouse", "sqlite", "redshift",
            "teradata", "doris", "drill",
        ]
    ),
)
def test_dialect_fallback_never_corrupts_literals(lit, dialect):
    """Property: for EVERY dialect path, a string literal passes through
    the token-stream transpiler byte-identical — rewrites may only touch
    code tokens. (The round-1 design promise of the lexing fallback,
    pinned against all 14 special-cased dialects at once.)"""
    from xorbits_sql_spark.dialect import transpile
    from xorbits_sql_spark.errors import UnsupportedError

    quoted = "'" + lit.replace("'", "''") + "'"
    sql = f"SELECT {quoted} AS x, COUNT(*) FROM t GROUP BY x"
    try:
        out = transpile(sql, dialect)
    except UnsupportedError:
        return  # honest refusal is allowed; corruption is not
    assert quoted in out


_ROW_VALUES = [
    st.integers(-(2**64), 2**64),
    st.floats(),  # NaN, infinities and -0.0 included
    st.text(max_size=4),
    st.booleans(),
    st.dates(),
    st.binary(max_size=4),
]


@st.composite
def row_dicts(draw):
    """Lists of dicts over a few keys in random insertion order, each key
    missing or None in some rows. A key's values share one kind, or
    (the last choice) mix kinds."""
    keys = draw(st.lists(st.sampled_from("abcd"), min_size=1, max_size=3, unique=True))
    kinds = st.sampled_from(_ROW_VALUES + [st.one_of(*_ROW_VALUES)])
    values = {k: st.one_of(st.none(), draw(kinds)) for k in keys}
    return draw(st.lists(st.fixed_dictionaries({}, optional=values), min_size=1, max_size=6))


@given(rows=row_dicts())
@settings(**{**_SETTINGS, "max_examples": 30})
def test_row_dict_tables_match_spark_inference(spark, rows):
    from xorbits_sql_spark.table import to_spark_df

    assert spark_outcome(lambda: to_spark_df(spark, rows, None)) == spark_outcome(
        lambda: spark.createDataFrame(rows)
    )
