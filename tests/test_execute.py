"""Reference unit-test parity: the four operator shapes from
/root/reference/xorbits_sql/tests/test_execute.py:48-116 (same seeded
frames, seed 123, 100 rows) run through execute() and checked against a
hand-written pandas oracle — the reference's own test strategy
(SURVEY.md §5 layer 1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from xorbits_sql_spark import execute


@pytest.fixture(scope="module")
def frames():
    rs = np.random.RandomState(123)
    t1 = pd.DataFrame(
        {
            "a": [f"t_{i}" for i in rs.randint(0, 1000, 100)],
            "b": rs.rand(100),
            "c": rs.randint(0, 100, 100),
        }
    )
    t2 = pd.DataFrame(
        {
            "a": [f"t_{i}" for i in rs.randint(0, 1000, 100)],
            "b": rs.rand(100),
        }
    )
    return {"t1": t1, "t2": t2}


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_project_filter(spark, frames):
    got = execute(
        "SELECT a, b FROM t1 WHERE c > 50", tables=frames, spark=spark
    ).toPandas()
    exp = frames["t1"][frames["t1"].c > 50][["a", "b"]]
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp))


def test_groupby_agg_limit(spark, frames):
    got = execute(
        "SELECT c, COUNT(a) AS cnt, AVG(b / 2) AS avg_half FROM t1 GROUP BY c ORDER BY c LIMIT 30",
        tables=frames,
        spark=spark,
    ).toPandas()
    exp = (
        frames["t1"]
        .assign(half=frames["t1"].b / 2)
        .groupby("c", as_index=False)
        .agg(cnt=("a", "count"), avg_half=("half", "mean"))
        .sort_values("c")
        .head(30)
        .reset_index(drop=True)
    )
    exp["cnt"] = exp["cnt"].astype("int64")
    pd.testing.assert_frame_equal(got, exp, check_exact=False, rtol=1e-12)


def test_equi_join_projection(spark, frames):
    got = execute(
        "SELECT t1.a AS a, t1.b AS b1, t2.b AS b2 FROM t1 JOIN t2 ON t1.a = t2.a",
        tables=frames,
        spark=spark,
    ).toPandas()
    exp = frames["t1"].merge(frames["t2"], on="a", suffixes=("1", "2"))[["a", "b1", "b2"]]
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp))


def test_sort_desc_limit(spark, frames):
    got = execute(
        "SELECT a, b FROM t1 ORDER BY b DESC, a LIMIT 10", tables=frames, spark=spark
    ).toPandas()
    exp = (
        frames["t1"][["a", "b"]]
        .sort_values(["b", "a"], ascending=[False, True])
        .head(10)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)


def test_execute_accepts_ast_expression(spark):
    """Reference parity: execute(sql: str | Expression). Any AST object
    with a .sql() renderer (sqlglot Expression shape) is accepted,
    independent of whether sqlglot itself is importable."""
    import pandas as pd

    from xorbits_sql_spark import execute

    class FakeExpression:
        def sql(self, dialect=None):
            assert dialect == "duckdb"
            return "SELECT k, SUM(v) AS s FROM t GROUP BY k ORDER BY k"

    pdf = pd.DataFrame({"k": ["a", "b", "a"], "v": [1, 2, 3]})
    got = execute(FakeExpression(), dialect="duckdb", tables={"t": pdf}, spark=spark).collect()
    assert [(r["k"], r["s"]) for r in got] == [("a", 4), ("b", 2)]


def test_ctas_insert_roundtrip(spark, tmp_path):
    """DDL/DML pass through execute() to Spark's catalog: CTAS writes a
    parquet table (sink surface via SQL, no writer API needed), INSERT
    INTO appends, and a follow-up execute() query reads it back."""
    import pandas as pd

    from xorbits_sql_spark import execute

    src = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    try:
        execute(
            f"CREATE TABLE ctas_t USING PARQUET LOCATION '{tmp_path}/ctas_t' "
            "AS SELECT k, v FROM src",
            tables={"src": src},
            spark=spark,
        ).collect()
        execute("INSERT INTO ctas_t VALUES ('c', 3.0)", spark=spark).collect()
        got = execute(
            "SELECT k, SUM(v) AS s FROM ctas_t GROUP BY k ORDER BY k", spark=spark
        ).collect()
        assert [(r["k"], r["s"]) for r in got] == [("a", 1.0), ("b", 2.0), ("c", 3.0)]
    finally:
        spark.sql("DROP TABLE IF EXISTS ctas_t")


def test_concurrent_calls_see_only_their_own_tables(spark):
    """Two threads run the same query over a table both call ``t``,
    each with its own data: every result must come from the caller's
    own rows, never from the other thread's view of the same name."""
    from concurrent.futures import ThreadPoolExecutor

    def worker(k: int) -> int:
        rows = [{"v": k * 1000 + i} for i in range(5)]
        wrong = 0
        for _ in range(100):
            got = execute("SELECT MAX(v) AS m FROM t", tables={"t": rows}, spark=spark)
            wrong += got.collect()[0]["m"] != k * 1000 + 4
        return wrong

    with ThreadPoolExecutor(2) as pool:
        assert list(pool.map(worker, (1, 2))) == [0, 0]
    assert not spark.catalog.tableExists("t")


def test_execute_leaves_no_temp_view(spark, tmp_path):
    """Plain names, flattened ``db.t`` names and READ_CSV scans are all
    gone from the catalog when execute() returns, and the lazy result
    still collects; a persisted DataFrame passed as a table stays
    cached; a script's own view stays but cannot read the call's tables
    any more."""
    from xorbits_sql_spark.errors import TableNotFoundError

    csv = tmp_path / "pts.csv"
    csv.write_text("k,w\na,10\nb,20\n")

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    cached = spark.createDataFrame([("a",)], "k string").persist()
    before = temp_views()
    try:
        got = execute(
            "SELECT p.k, p.v, c.w FROM plain_t AS p JOIN db.nested_t AS n ON p.k = n.k "
            f"JOIN READ_CSV('{csv}') AS c ON p.k = c.k ORDER BY p.k",
            tables={"plain_t": [{"k": "a", "v": 1}, {"k": "b", "v": 2}], "db": {"nested_t": cached}},
            spark=spark,
        )
        assert temp_views() == before
        assert [tuple(r) for r in got.collect()] == [("a", 1, 10)]
        assert cached.storageLevel.useMemory
    finally:
        cached.unpersist()

    got = execute(
        "CREATE OR REPLACE TEMP VIEW script_v AS SELECT v * 10 AS y FROM plain_t; "
        "SELECT SUM(y) AS s FROM script_v",
        tables={"plain_t": [{"v": 1}, {"v": 2}]},
        spark=spark,
    )
    try:
        assert temp_views() == before | {"script_v"}
        assert got.collect()[0]["s"] == 30
        with pytest.raises(TableNotFoundError):
            execute("SELECT * FROM script_v", spark=spark).collect()
    finally:
        spark.catalog.dropTempView("script_v")
