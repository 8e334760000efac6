"""Registration-surface parity (nested names, row-dict tables, schema
typing — reference core.py:62-65, table.py:91-103) and the dialect
transpiler."""

from __future__ import annotations

import datetime
import re
from decimal import Decimal

import pandas as pd
import pytest
from pyspark.sql import Row

from xorbits_sql_spark import execute
from xorbits_sql_spark.dialect import transpile
from xorbits_sql_spark.errors import UnsupportedError
from xorbits_sql_spark.table import _rows_to_arrow, flatten_tables, parse_type, to_spark_df

from .oracle import spark_outcome


def test_row_dict_table(spark):
    rows = [{"a": "x", "b": 1}, {"a": "y", "b": 2}, {"a": "x", "b": 3}]
    got = execute(
        "SELECT a, SUM(b) AS s FROM t GROUP BY a ORDER BY a",
        tables={"t": rows},
        spark=spark,
    ).collect()
    assert [(r["a"], r["s"]) for r in got] == [("x", 4), ("y", 2)]


def test_row_dict_table_with_schema(spark):
    rows = [{"a": "x", "b": 1}]
    got = execute(
        "SELECT b FROM t",
        tables={"t": rows},
        schema={"t": {"a": "string", "b": "double"}},
        spark=spark,
    )
    assert dict(got.dtypes)["b"] == "double"


# name -> (rows, whether they take the Arrow route)
_ROW_DICT_CASES = {
    # the benchmark's row-dict table: str and float columns, from pandas
    "str_float_records": (
        pd.DataFrame({"a": ["x", "y", None], "b": [0.5, float("nan"), 2.0]}).to_dict("records"),
        True,
    ),
    "merge_order_missing_keys": ([{"b": 1, "a": "x"}, {"a": "y", "c": 2.5}], True),
    "nan_none_floats": ([{"x": float("nan")}, {"x": None}, {"x": -0.0}, {}], True),
    "bool_binary_date": (
        [
            {"t": True, "b": b"ab", "d": datetime.date(1969, 3, 1)},
            {"t": None, "b": bytearray(b"z"), "d": None},
        ],
        True,
    ),
    "int64_bounds": ([{"v": 2**63 - 1}, {"v": -(2**63)}, {"v": None}], True),
    "int_beyond_int64": ([{"v": 1}, {"v": 2**63}], False),
    "int_float_mix": ([{"v": 1}, {"v": 2.5}], False),
    "str_int_mix": ([{"v": "a"}, {"v": 1}], False),
    "bool_int_mix": ([{"v": True}, {"v": 1}], False),
    "naive_datetime": ([{"v": datetime.datetime(2020, 1, 1, 12, 30)}], False),
    "decimal": ([{"v": Decimal("1.5")}, {"v": Decimal("-20.125")}], False),
    "dict_values": ([{"v": {"a": 1}}], False),
    "list_values": ([{"v": [1, 2]}], False),
    "all_none_column": ([{"v": None, "w": 1}, {"v": None, "w": 2}], False),
    "lone_surrogate": ([{"v": "\ud800"}], False),
    "non_str_keys": ([{1: "a"}], False),
    "no_keys": ([{}, {}], False),
    "row_objects": ([Row(a=1, b="x")], False),
}


@pytest.mark.parametrize("rows, arrow", _ROW_DICT_CASES.values(), ids=_ROW_DICT_CASES)
def test_row_dicts_match_spark_inference(spark, rows, arrow):
    # the Arrow route must be invisible: same schema, rows and errors
    # as spark.createDataFrame(rows), which every other table takes
    assert (_rows_to_arrow(rows) is not None) == arrow
    assert spark_outcome(lambda: to_spark_df(spark, rows, None)) == spark_outcome(
        lambda: spark.createDataFrame(rows)
    )


def test_nested_db_table(spark):
    pdf = pd.DataFrame({"v": [1, 2, 3]})
    got = execute(
        "SELECT SUM(v) AS s FROM mydb.tbl",
        tables={"mydb": {"tbl": pdf}},
        spark=spark,
    ).collect()
    assert got[0]["s"] == 6


def test_nested_catalog_db_table(spark):
    pdf = pd.DataFrame({"v": [10, 20]})
    got = execute(
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM cat.db.t2",
        tables={"cat": {"db": {"t2": pdf}}},
        spark=spark,
    ).collect()
    assert (got[0]["n"], got[0]["s"]) == (2, 30)


def test_too_deep_nesting_rejected():
    with pytest.raises(UnsupportedError):
        flatten_tables({"a": {"b": {"c": {"d": []}}}})


def test_parse_type_decimal_and_array():
    assert parse_type("decimal(18,6)").simpleString() == "decimal(18,6)"
    assert parse_type("array<float>").simpleString() == "array<float>"


# ---- dialect transpiler (token-stream normalizer) ----


def test_pg_cast_passthrough(spark):
    # Spark 4 parses `::` casts natively; the normalizer must NOT touch
    # them (a regex cannot re-parenthesize `(a+b)::int` correctly)
    q = "SELECT (1+2)::bigint AS s"
    assert "::" in transpile(q, "postgres")
    assert spark.sql(transpile(q, "duckdb")).collect()[0]["s"] == 3


def test_double_quoted_identifiers():
    assert transpile('SELECT "my col" FROM "t"', "postgres") == (
        "SELECT `my col` FROM `t`"
    )
    # mysql double quotes are strings by default → untouched
    assert transpile('SELECT "x" FROM t', "mysql") == 'SELECT "x" FROM t'


def test_tsql_rewrites():
    out = transpile("SELECT ISNULL(a, 0), GETDATE() FROM t", "tsql")
    assert "COALESCE(a, 0)" in out and "CURRENT_TIMESTAMP()" in out


def test_spark_dialect_passthrough():
    q = "SELECT a FROM t WHERE b > 1"
    for d in (None, "spark", "hive", "databricks"):
        assert transpile(q, d) == q


def test_execute_with_duckdb_dialect(spark):
    pdf = pd.DataFrame({"x": [1, 2, 3]})
    got = execute(
        "SELECT SUM(x::bigint) AS s FROM t",
        tables={"t": pdf},
        dialect="duckdb",
        spark=spark,
    ).collect()
    assert got[0]["s"] == 6


def test_pandas_udf_in_execute_sql(spark):
    import pandas as pd_mod

    from xorbits_sql_spark.functions import register_pandas_udf

    register_pandas_udf(spark, "double_it", lambda s: s * 2.0, "double")
    pdf = pd_mod.DataFrame({"x": [1.0, 2.0, 3.0]})
    got = execute(
        "SELECT SUM(double_it(x)) AS s FROM t", tables={"t": pdf}, spark=spark
    ).collect()
    assert got[0]["s"] == 12.0


# ---- golden dialect pairs: input-dialect SQL -> executed Spark result ----
# (VERDICT r1 item 3: the fallback transpiler must handle the constructs
# real duckdb/postgres/mysql/tsql queries hit, or raise — never silently
# change semantics.)


def test_tsql_top_becomes_limit(spark):
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(
        "SELECT TOP 5 x FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got] == [9, 8, 7, 6, 5]
    # parenthesized form and trailing semicolon
    got2 = execute(
        "SELECT TOP (3) x FROM t ORDER BY x;",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got2] == [0, 1, 2]


_FETCH_FIRST = "SELECT x FROM t ORDER BY x DESC FETCH FIRST 3 ROWS ONLY"
_OFFSET_FETCH = "SELECT x FROM t ORDER BY x OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY"


@pytest.mark.parametrize(
    "dialect, q, expected",
    [
        ("oracle", _FETCH_FIRST, [9, 8, 7]),
        ("postgres", _FETCH_FIRST, [9, 8, 7]),
        ("ansi", _FETCH_FIRST, [9, 8, 7]),
        ("duckdb", _FETCH_FIRST, [9, 8, 7]),
        ("postgres", _OFFSET_FETCH, [1, 2]),
        ("tsql", _OFFSET_FETCH, [1, 2]),
        # nested scope, FIRST ROW without a count, OFFSET after FETCH
        (
            "postgres",
            "SELECT x FROM (SELECT x FROM t ORDER BY x FETCH FIRST 4 ROWS ONLY) s "
            "ORDER BY x DESC FETCH FIRST ROW ONLY OFFSET 1",
            [2],
        ),
        # OFFSET m ROW[S] with no FETCH
        ("postgres", "SELECT x FROM t ORDER BY x OFFSET 7 ROWS", [7, 8, 9]),
        ("tsql", "SELECT x FROM t ORDER BY x OFFSET 8 ROWS", [8, 9]),
        ("ansi", "SELECT x FROM t ORDER BY x DESC OFFSET 9 ROW", [0]),
        ("oracle", "SELECT x FROM t ORDER BY x OFFSET 2 ROWS", [2, 3, 4, 5, 6, 7, 8, 9]),
        (
            "postgres",
            "SELECT x FROM (SELECT x FROM t ORDER BY x DESC OFFSET 6 ROWS) s ORDER BY x",
            [0, 1, 2, 3],
        ),
    ],
)
def test_fetch_first_becomes_limit(spark, dialect, q, expected):
    # Spark parses neither FETCH FIRST nor OFFSET ... ROWS
    sql = transpile(q, dialect)
    assert "FETCH" not in sql.upper() and "ROWS" not in sql.upper()
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(q, tables={"t": pdf}, dialect=dialect, spark=spark).collect()
    assert [r["x"] for r in got] == expected


def test_fetch_first_ties_and_percent_raise():
    with pytest.raises(UnsupportedError, match="WITH TIES"):
        transpile("SELECT x FROM t ORDER BY x FETCH FIRST 3 ROWS WITH TIES", "oracle")
    with pytest.raises(UnsupportedError, match="PERCENT"):
        transpile("SELECT x FROM t ORDER BY x FETCH FIRST 30 PERCENT ROWS ONLY", "oracle")


def test_tsql_top_unsupported_forms_raise():
    from xorbits_sql_spark.errors import UnsupportedError

    with pytest.raises(UnsupportedError):
        # PERCENT without ORDER BY selects an arbitrary subset in tsql
        transpile("SELECT TOP 10 PERCENT x FROM t", "tsql")
    with pytest.raises(UnsupportedError):
        # WITH <anything but TIES>
        transpile("SELECT TOP 5 WITH ROWS x FROM t ORDER BY x", "tsql")
    with pytest.raises(UnsupportedError):
        # positional ordinal beyond the select list
        transpile("SELECT TOP 5 WITH TIES x FROM t ORDER BY 3", "tsql")
    with pytest.raises(UnsupportedError):
        # ordinal names an item whose expression can't be separated
        # (implicit alias — ``COUNT(*) cnt`` vs ``a + b`` is ambiguous
        # at token level)
        transpile(
            "SELECT TOP 5 WITH TIES x + 1 FROM t ORDER BY 1", "tsql"
        )
    with pytest.raises(UnsupportedError):
        # two TOPs in the SAME scope is malformed
        transpile("SELECT TOP 5 TOP 3 x FROM t", "tsql")


def test_tsql_top_constant_order_by_items_raise():
    """tsql rejects constants in TOP's ORDER BY; letting one into the
    generated OVER (ORDER BY ...) would silently rank every row equal.
    Bare integers are positional ordinals (resolved), not constants."""
    from xorbits_sql_spark.errors import UnsupportedError

    for const in (
        "1.5", "1e3", "'a'", "NULL", "-1", "+2",
        # compound/parenthesized constants rank every row equal just
        # the same (T-SQL Msg 408 refuses them all), incl. the N'...'
        # Unicode literal which lexes as word N + string
        "1+1", "(1)", "N'abc'", "1.5 DESC",
    ):
        with pytest.raises(UnsupportedError, match="constant ORDER BY"):
            transpile(
                f"SELECT TOP 5 WITH TIES x FROM t ORDER BY {const}", "tsql"
            )


def test_tsql_distinct_top_star_detection(spark):
    """COUNT(*) in the select list is NOT a star projection: the wrap
    path must still validate ORDER BY output names, refusing at
    transpile time instead of surfacing a runtime AnalysisException."""
    from xorbits_sql_spark.errors import UnsupportedError

    with pytest.raises(UnsupportedError, match="output column"):
        transpile(
            "SELECT DISTINCT TOP 2 WITH TIES COUNT(*) AS n "
            "FROM t GROUP BY k ORDER BY bogus",
            "tsql",
        )
    # a REAL star (bare or qualified) projects every source column, so
    # ORDER BY on any source column remains valid through the wrap
    pdf = pd.DataFrame({"x": [10, 10, 9, 8]})
    got = execute(
        "SELECT DISTINCT TOP 2 WITH TIES * FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in got), reverse=True) == [10, 9]
    got_q = execute(
        "SELECT DISTINCT TOP 2 WITH TIES t.* FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in got_q), reverse=True) == [10, 9]


def test_tsql_distinct_top_order_by_expression_over_output(spark):
    """An ORDER BY expression built only from select-OUTPUT columns
    resolves in the wrapped scope and must not refuse; one referencing
    a non-projected source column (or a dotted ref) must refuse at
    transpile time."""
    from xorbits_sql_spark.errors import UnsupportedError

    pdf = pd.DataFrame({"a": [5, 5, 3, 2], "b": [2, 2, 4, 1]})
    got = execute(
        "SELECT DISTINCT TOP 2 WITH TIES a * b AS y FROM t ORDER BY y + 1 DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # distinct y values: [10, 12, 2] -> top 2 by y+1 desc = [12, 10]
    assert sorted((r["y"] for r in got), reverse=True) == [12, 10]
    fn = execute(
        "SELECT DISTINCT TOP 2 WITH TIES a * b AS y FROM t ORDER BY ABS(y) DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["y"] for r in fn), reverse=True) == [12, 10]
    # a source column that is NOT projected cannot resolve in the wrap
    with pytest.raises(UnsupportedError, match="select-output"):
        transpile(
            "SELECT DISTINCT TOP 2 WITH TIES a * b AS y FROM t ORDER BY a + 1",
            "tsql",
        )
    # dotted references never name the wrapper's output
    with pytest.raises(UnsupportedError, match="select-output"):
        transpile(
            "SELECT DISTINCT TOP 2 WITH TIES a * b AS y FROM t ORDER BY t.y",
            "tsql",
        )


def test_tsql_top_with_ties_and_percent(spark):
    """TOP n WITH TIES / TOP n PERCENT rewrite onto the QUALIFY
    machinery (RANK/ROW_NUMBER window predicate) instead of raising."""
    pdf = pd.DataFrame({"x": [10, 10, 9, 9, 5, 4, 3, 2, 1, 0]})
    ties = execute(
        "SELECT TOP 3 WITH TIES x FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # first 3 rows are 10,10,9 — the tied second 9 must be included
    assert sorted((r["x"] for r in ties), reverse=True) == [10, 10, 9, 9]
    pct = execute(
        "SELECT TOP 25 PERCENT x FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # ceil(10 * 25 / 100) = 3 rows, ties NOT extended without WITH TIES
    assert sorted((r["x"] for r in pct), reverse=True) == [10, 10, 9]
    both = execute(
        "SELECT TOP (11) PERCENT WITH TIES x FROM t ORDER BY x DESC;",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # ceil(10 * 11 / 100) = 2 rows (both 10s); no further ties
    assert sorted((r["x"] for r in both), reverse=True) == [10, 10]
    # inside a subquery: rewrite happens in the inner scope
    sub = execute(
        "SELECT COUNT(*) AS n FROM "
        "(SELECT TOP 3 WITH TIES x FROM t ORDER BY x DESC) s",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sub[0]["n"] == 4
    # teradata rides the same rewrite path
    td = execute(
        "SELECT TOP 3 WITH TIES x FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="teradata",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in td), reverse=True) == [10, 10, 9, 9]
    # ORDER BY over a select-list alias (tsql resolves aliases; Spark
    # rejects lateral aliases in window exprs, so the rewrite
    # substitutes the defining expression into the OVER clause)
    grp = pd.DataFrame({"k": ["a", "a", "b", "b", "c"], "x": [1, 2, 3, 4, 5]})
    ga = execute(
        "SELECT TOP 2 WITH TIES k, COUNT(*) AS n FROM t "
        "GROUP BY k ORDER BY n DESC, k",
        tables={"t": grp},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["k"], r["n"]) for r in ga) == [("a", 2), ("b", 2)]
    # integers inside ORDER BY expressions are not positional ordinals
    rd = execute(
        "SELECT TOP 2 WITH TIES x FROM t ORDER BY x % 100 DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in rd), reverse=True) == [10, 10]


def test_tsql_top_ties_positional_order_by(spark):
    """A bare top-level integer ORDER BY item is a select-list ordinal
    in tsql; the rank rewrite resolves it to that item's defining
    expression before injecting OVER (ORDER BY ...) — ordinals pointing
    at a bare column, a qualified column, and an AS-aliased aggregate
    all work; constants inside expressions stay constants."""
    pdf = pd.DataFrame({"x": [10, 10, 9, 9, 5, 4, 3, 2, 1, 0]})
    ties = execute(
        "SELECT TOP 3 WITH TIES x FROM t ORDER BY 1 DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in ties), reverse=True) == [10, 10, 9, 9]
    pct = execute(
        "SELECT TOP 25 PERCENT t.x FROM t ORDER BY 1 DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in pct), reverse=True) == [10, 10, 9]
    grp = pd.DataFrame({"k": ["a", "a", "b", "b", "c"], "x": [1, 2, 3, 4, 5]})
    ga = execute(
        "SELECT TOP 2 WITH TIES k, COUNT(*) AS n FROM t "
        "GROUP BY k ORDER BY 2 DESC, 1",
        tables={"t": grp},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["k"], r["n"]) for r in ga) == [("a", 2), ("b", 2)]


def test_tsql_distinct_top_ties_percent(spark):
    """tsql applies TOP after DISTINCT: the rewrite wraps the DISTINCT
    scope in a subquery and ranks its output. Ranking before DISTINCT
    (the naive rewrite) returns provably different rows on both the
    TIES and the PERCENT form below."""
    pdf = pd.DataFrame({"x": [10, 10, 9, 9, 9, 8, 7, 6]})
    ties = execute(
        "SELECT DISTINCT TOP 2 WITH TIES x FROM t ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # distinct first -> [10,9,8,7,6]; top-2-with-ties -> [10,9]
    # (rank-before-distinct would return the two raw 10s -> just [10])
    assert sorted((r["x"] for r in ties), reverse=True) == [10, 9]
    pct = pd.DataFrame({"x": [5, 5, 5, 5, 4, 3, 2, 1]})
    got = execute(
        "SELECT DISTINCT TOP 40 PERCENT x FROM t ORDER BY x DESC",
        tables={"t": pct},
        dialect="tsql",
        spark=spark,
    ).collect()
    # 40% of the 5 DISTINCT values = ceil(2) -> [5,4]
    # (40% of the 8 raw rows = 4 rows, all 5s -> distinct [5])
    assert sorted((r["x"] for r in got), reverse=True) == [5, 4]
    # ordinals and aliases bind to the DISTINCT output columns
    ord_ = execute(
        "SELECT DISTINCT TOP 2 WITH TIES x AS v FROM t ORDER BY 1 DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["v"] for r in ord_), reverse=True) == [10, 9]
    ali = execute(
        "SELECT DISTINCT TOP 2 WITH TIES x AS v FROM t ORDER BY v DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["v"] for r in ali), reverse=True) == [10, 9]


def test_teradata_top_ties_with_qualify(spark):
    """teradata applies QUALIFY before TOP: the rewrite wraps the
    QUALIFY scope in a subquery (processed by the later QUALIFY pass)
    and ranks its post-filter output."""
    pdf = pd.DataFrame(
        {"k": ["a", "a", "b", "b", "c"], "x": [5, 1, 5, 2, 3]}
    )
    got = execute(
        "SELECT TOP 1 WITH TIES k, x FROM t "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY x DESC) = 1 "
        "ORDER BY x DESC",
        tables={"t": pdf},
        dialect="teradata",
        spark=spark,
    ).collect()
    # per-k maxima are (a,5),(b,5),(c,3); TOP 1 WITH TIES by x keeps
    # both 5s — ranking before QUALIFY would instead see raw rows
    assert sorted((r["k"], r["x"]) for r in got) == [("a", 5), ("b", 5)]


def test_tsql_top_in_set_operation_binds_per_arm(spark):
    """TOP binds to its own SELECT arm in tsql — the rewrite must not
    let the appended LIMIT (or rank wrapper) rebind to the whole set
    operation (review finding: previously produced a union-wide
    LIMIT)."""
    a = pd.DataFrame({"x": [1, 2, 3, 4, 5]})
    b = pd.DataFrame({"x": [100, 101]})
    got = execute(
        "SELECT TOP 2 x FROM t ORDER BY x UNION ALL SELECT x FROM u",
        tables={"t": a, "u": b},
        dialect="tsql",
        spark=spark,
    ).collect()
    # 2 rows from the first arm PLUS all of u (4 total), not 2 overall
    assert sorted(r["x"] for r in got) == [1, 2, 100, 101]
    ties = execute(
        "SELECT TOP 1 WITH TIES y FROM v ORDER BY y DESC "
        "UNION ALL SELECT x FROM u",
        tables={"v": pd.DataFrame({"y": [7, 7, 3]}), "u": b},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted(r["y"] for r in ties) == [7, 7, 100, 101]


def test_tsql_top_trailing_comment_keeps_limit(spark):
    """A trailing line comment must not swallow the appended LIMIT
    (review finding: LIMIT landed inside the comment text)."""
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(
        "SELECT TOP 3 x FROM t ORDER BY x -- top three\n",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got] == [0, 1, 2]


def test_tsql_top_ties_trailing_comment(spark):
    """A trailing line comment on a TIES/PERCENT query must not land
    inside the generated OVER (ORDER BY ...) and swallow the rest of
    the rewritten SQL (advisor finding: the plain-TOP LIMIT path
    stripped comments but the rank-wrapper path did not)."""
    pdf = pd.DataFrame({"x": [10, 10, 9, 9, 5, 4, 3, 2, 1, 0]})
    got = execute(
        "SELECT TOP 3 WITH TIES x FROM t ORDER BY x DESC -- note",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in got), reverse=True) == [10, 10, 9, 9]
    pct = execute(
        "SELECT TOP 25 PERCENT x FROM t ORDER BY x DESC -- note",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in pct), reverse=True) == [10, 10, 9]
    # comment BETWEEN sort items must also be inert
    mid = execute(
        "SELECT TOP 2 WITH TIES x FROM t ORDER BY x DESC, -- tiebreak\n x",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in mid), reverse=True) == [10, 10]


def test_tsql_top_alias_binds_bare_items_only(spark):
    """tsql resolves a select-list alias in ORDER BY only when it is a
    BARE item; a name inside an expression binds to the FROM column
    (advisor finding: the rewrite substituted aliases anywhere,
    silently re-sorting when the alias shadows a real column)."""
    pdf = pd.DataFrame({"x": [1, 2, 3], "n": [30, 20, 10]})
    got = execute(
        "SELECT TOP 1 WITH TIES x AS n FROM t ORDER BY ABS(n) DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    # ABS(n) binds to source column n → row n=30 → x=1 (alias
    # substitution would instead pick ABS(x) DESC → x=3)
    assert [r["n"] for r in got] == [1]
    # a bare alias item still substitutes (Spark rejects lateral
    # aliases inside window expressions)
    bare = execute(
        "SELECT TOP 1 WITH TIES x + 0 AS y FROM t ORDER BY y DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["y"] for r in bare] == [3]
    # alias inside an expression with NO matching source column is an
    # error in tsql — the rewrite must surface it, not silently accept
    with pytest.raises(Exception):
        execute(
            "SELECT TOP 1 WITH TIES x AS y FROM t ORDER BY ABS(y) DESC",
            tables={"t": pdf},
            dialect="tsql",
            spark=spark,
        ).collect()


def test_wrapped_top_order_by_bare_n_refuses_at_transpile():
    """`ORDER BY N` with no output column n must refuse at transpile
    time, not surface as a runtime AnalysisException: N is an
    expression keyword only as the nvarchar literal prefix N'...'
    (round-6 ADVICE)."""
    with pytest.raises(UnsupportedError, match="select-output"):
        transpile("SELECT DISTINCT TOP 10 PERCENT x FROM t ORDER BY N", "tsql")
    # the literal-prefix form is still recognized (and then refused by
    # the constant-sort gate, also at transpile time — never a silent
    # pass-through)
    with pytest.raises(UnsupportedError, match="constant ORDER BY"):
        transpile(
            "SELECT DISTINCT TOP 10 PERCENT x FROM t ORDER BY N'abc'", "tsql"
        )
    # N inside an expression next to a string literal still accepts
    out = transpile(
        "SELECT DISTINCT TOP 10 PERCENT x FROM t "
        "ORDER BY COALESCE(x, N'z') DESC",
        "tsql",
    )
    assert "ROW_NUMBER()" in out


def test_tsql_top_in_subquery_rewrites(spark):
    """Round-3 verdict #4: TOP inside a subquery now rewrites in its own
    scope (the LIMIT lands at the subquery's end), and independent TOPs
    in different scopes coexist."""
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(
        "SELECT x FROM (SELECT TOP 4 x FROM t ORDER BY x DESC) s WHERE x > 6",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted(r["x"] for r in got) == [7, 8, 9]
    got2 = execute(
        "SELECT TOP 2 x FROM (SELECT TOP 5 x FROM t ORDER BY x) s ORDER BY x DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got2] == [4, 3]


def test_mysql_limit_offset(spark):
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(
        "SELECT x FROM t ORDER BY x LIMIT 2, 3",
        tables={"t": pdf},
        dialect="mysql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got] == [2, 3, 4]


def test_pg_extract_epoch(spark):
    pdf = pd.DataFrame({"ts": pd.to_datetime(["1970-01-01 00:01:00"])})
    got = execute(
        "SELECT EXTRACT(EPOCH FROM ts) AS e FROM t",
        tables={"t": pdf},
        dialect="postgres",
        spark=spark,
    ).collect()
    assert got[0]["e"] == 60.0
    # nested parens in the expression survive
    out = transpile(
        "SELECT EXTRACT(EPOCH FROM COALESCE(a, b)) FROM t", "duckdb"
    )
    assert "UNIX_MICROS" in out and "COALESCE(a, b)" in out


def test_literals_and_comments_never_rewritten():
    # A string literal that LOOKS like rewritable constructs must survive.
    q = "SELECT 'TOP 5 \"quoted\" GETDATE()' AS s FROM t -- \"also quoted\""
    out = transpile(q, "tsql")
    assert "'TOP 5 \"quoted\" GETDATE()'" in out
    out_pg = transpile("SELECT \"c\" FROM t WHERE s = 'keep \"this\"'", "postgres")
    assert "`c`" in out_pg and "'keep \"this\"'" in out_pg


def test_qualified_name_in_literal_untouched(spark):
    # core._rewrite_qualified_names must skip string literals (ADVICE r1).
    pdf = pd.DataFrame({"note": ["see db.tbl", "other"]})
    got = execute(
        "SELECT note FROM db.tbl WHERE note = 'see db.tbl' ",
        tables={"db": {"tbl": pdf}},
        spark=spark,
    ).collect()
    assert [r["note"] for r in got] == ["see db.tbl"]


def test_tsql_brackets_and_len(spark):
    pdf = pd.DataFrame({"my col": ["abc", "de"]})
    got = execute(
        "SELECT LEN([my col]) AS n FROM t ORDER BY n",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["n"] for r in got] == [2, 3]


_QUALIFY_CASES = [
    "SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn "
    "FROM t QUALIFY rn <= 2 ORDER BY k, rn",
    "SELECT k, v, RANK() OVER (PARTITION BY k ORDER BY v) AS r "
    "FROM t QUALIFY r = 1 ORDER BY k",
    # QUALIFY over an aggregated query (window over SUM)
    "SELECT k, SUM(v) AS s, ROW_NUMBER() OVER (ORDER BY SUM(v) DESC) AS rn "
    "FROM t GROUP BY k QUALIFY rn = 1",
]


@pytest.mark.parametrize("q", _QUALIFY_CASES)
def test_qualify_matches_duckdb(spark, q):
    """duckdb/snowflake QUALIFY → subquery-filter rewrite, value-checked
    against DuckDB executing the original QUALIFY query natively."""
    import duckdb

    pdf = pd.DataFrame({"k": ["a", "a", "a", "b", "b"], "v": [3.0, 1.0, 2.0, 5.0, 4.0]})
    got = [tuple(r) for r in execute(q, tables={"t": pdf}, dialect="duckdb", spark=spark).collect()]
    con = duckdb.connect()
    con.register("t", pdf)
    want = [tuple(r) for r in con.execute(q).fetchall()]
    assert got == want


def test_qualify_unsupported_forms_raise():
    # two QUALIFY clauses in ONE arm of one scope is malformed
    with pytest.raises(UnsupportedError):
        transpile(
            "SELECT k FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY k) = 1 "
            "QUALIFY RANK() OVER (ORDER BY k) = 1",
            "duckdb",
        )


def test_qualify_nested_and_distinct_and_star(spark):
    """Round-3 verdict #4: QUALIFY in a subquery/CTE rewrites in its own
    scope; DISTINCT hoists to the outer select (QUALIFY evaluates before
    DISTINCT in duckdb/snowflake); a bare * is safe because the helper
    column is excluded from the outer projection."""
    pdf = pd.DataFrame({"k": [0, 0, 1, 1, 2], "b": [1, 2, 3, 4, 5]})
    # subquery placement
    got = execute(
        "SELECT s.k, s.b FROM (SELECT k, b FROM t QUALIFY ROW_NUMBER() "
        "OVER (PARTITION BY k ORDER BY b) = 1) s ORDER BY s.k",
        tables={"t": pdf},
        dialect="duckdb",
        spark=spark,
    ).collect()
    assert [(r["k"], r["b"]) for r in got] == [(0, 1), (1, 3), (2, 5)]
    # CTE placement
    got = execute(
        "WITH w AS (SELECT k, b FROM t QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY k ORDER BY b DESC) = 1) SELECT k, b FROM w ORDER BY k",
        tables={"t": pdf},
        dialect="snowflake",
        spark=spark,
    ).collect()
    assert [(r["k"], r["b"]) for r in got] == [(0, 2), (1, 4), (2, 5)]
    # DISTINCT: dedup happens AFTER the qualify filter, over original cols
    got = execute(
        "SELECT DISTINCT k FROM t QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY k ORDER BY b) <= 2 ORDER BY k",
        tables={"t": pdf},
        dialect="duckdb",
        spark=spark,
    ).collect()
    assert [r["k"] for r in got] == [0, 1, 2]
    # bare * select list: __qualify must not leak
    got = execute(
        "SELECT * FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b DESC) <= 2",
        tables={"t": pdf},
        dialect="duckdb",
        spark=spark,
    )
    assert sorted(got.columns) == ["b", "k"]


def test_qualify_feeding_set_operations(spark):
    """QUALIFY binds per set-op arm; the rewrite splits the scope at
    depth-0 UNION/INTERSECT/EXCEPT and rewrites each arm, leaving a
    trailing ORDER BY bound to the whole set operation."""
    pdf = pd.DataFrame({"k": [0, 0, 1, 1, 2], "b": [1, 2, 3, 4, 5]})
    other = pd.DataFrame({"k": [7, 8], "b": [9, 9]})
    got = execute(
        "SELECT k FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY k "
        "ORDER BY b) = 1 UNION ALL SELECT k FROM u ORDER BY k",
        tables={"t": pdf, "u": other},
        dialect="snowflake",
        spark=spark,
    ).collect()
    assert [r["k"] for r in got] == [0, 1, 2, 7, 8]
    # QUALIFY in BOTH arms
    got = execute(
        "SELECT k, b FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY b) = 1 "
        "UNION SELECT k, b FROM t QUALIFY ROW_NUMBER() OVER "
        "(ORDER BY b DESC) = 1 ORDER BY b",
        tables={"t": pdf},
        dialect="duckdb",
        spark=spark,
    ).collect()
    assert [(r["k"], r["b"]) for r in got] == [(0, 1), (2, 5)]
    # select-list * EXCEPT is NOT mistaken for the set operator
    got = execute(
        "SELECT * EXCEPT (b) FROM t QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY k ORDER BY b) = 1 ORDER BY k",
        tables={"t": pdf},
        dialect="bigquery",
        spark=spark,
    )
    assert got.columns == ["k"]
    assert [r["k"] for r in got.collect()] == [0, 1, 2]
    # set-op EXCEPT with a parenthesized right arm
    got = execute(
        "SELECT k FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY k "
        "ORDER BY b) = 1 EXCEPT (SELECT k FROM u) ORDER BY k",
        tables={"t": pdf, "u": other},
        dialect="snowflake",
        spark=spark,
    ).collect()
    assert [r["k"] for r in got] == [0, 1, 2]


def test_snowflake_rewrites():
    got = transpile("SELECT IFF(a > 1, 'x', 'y'), NVL(b, 0) FROM t", "snowflake")
    assert "IF(a > 1, 'x', 'y')" in got and "NVL(b, 0)" in got
    got = transpile("SELECT DATEADD('day', 3, d) FROM t", "snowflake")
    assert "TIMESTAMPADD(DAY," in got
    got = transpile("SELECT TO_NUMBER(s, 10, 2), TO_VARCHAR(x) FROM t", "snowflake")
    assert "AS DECIMAL(10,2))" in got and "CAST(x AS STRING)" in got
    # IFF as a bare identifier (no call parens) survives
    assert "iff" in transpile("SELECT iff FROM t", "snowflake")


def test_snowflake_datediff_boundary_semantics(spark):
    """Snowflake/T-SQL DATEDIFF counts boundary crossings, not complete
    elapsed units: one day across New Year is 1 year, 1 month, 1 day."""
    sql = """
    SELECT CAST(DATEDIFF(year,  TIMESTAMP'2019-12-31 23:00:00', TIMESTAMP'2020-01-01 01:00:00') AS BIGINT) AS y,
           CAST(DATEDIFF(month, TIMESTAMP'2019-12-31 23:00:00', TIMESTAMP'2020-01-01 01:00:00') AS BIGINT) AS m,
           CAST(DATEDIFF(day,   TIMESTAMP'2019-12-31 23:00:00', TIMESTAMP'2020-01-01 01:00:00') AS BIGINT) AS d,
           CAST(DATEDIFF(hour,  TIMESTAMP'2020-01-01 00:59:00', TIMESTAMP'2020-01-01 01:01:00') AS BIGINT) AS h,
           CAST(DATEDIFF(second, TIMESTAMP'2020-01-01 00:00:00.9', TIMESTAMP'2020-01-01 00:00:01.1') AS BIGINT) AS s
    """
    row = spark.sql(transpile(sql, "snowflake")).collect()[0]
    assert (row["y"], row["m"], row["d"], row["h"], row["s"]) == (1, 1, 1, 1, 1)
    # and the reverse direction is negative
    neg = spark.sql(
        transpile(
            "SELECT CAST(DATEDIFF(day, TIMESTAMP'2020-01-02 00:00:00', "
            "TIMESTAMP'2020-01-01 23:59:59') AS BIGINT) AS d",
            "snowflake",
        )
    ).collect()[0]
    assert neg["d"] == -1


def test_snowflake_unsupported_forms_raise():
    with pytest.raises(UnsupportedError):
        transpile("SELECT DATEDIFF(dayofyear, a, b) FROM t", "snowflake")
    with pytest.raises(UnsupportedError):
        transpile("SELECT TO_NUMBER(s, '999.99') FROM t", "snowflake")
    with pytest.raises(UnsupportedError):
        transpile("SELECT TO_CHAR(d, 'YYYY-MM') FROM t", "snowflake")


def test_bigquery_rewrites(spark):
    got = transpile(
        "SELECT SAFE_CAST(x AS INT64), SAFE_DIVIDE(p, q) FROM t", "bigquery"
    )
    assert "TRY_CAST(x AS BIGINT)" in got and "TRY_DIVIDE(p, q)" in got
    row = spark.sql(
        transpile(
            "SELECT SAFE_CAST('zz' AS INT64) AS bad, SAFE_DIVIDE(1.0, 0) AS z, "
            "CAST(1.5 AS NUMERIC) AS n",
            "bigquery",
        )
    ).collect()[0]
    assert row["bad"] is None and row["z"] is None
    from decimal import Decimal

    assert row["n"] == Decimal("1.500000000")  # BigQuery NUMERIC = DECIMAL(38,9)


def test_dialect_literals_survive_new_rewrites():
    sql = "SELECT 'DATEADD(day, 1, x) IFF TO_NUMBER(1)' AS lit FROM t"
    assert "'DATEADD(day, 1, x) IFF TO_NUMBER(1)'" in transpile(sql, "snowflake")


def test_dialect_identifier_normalization_case_variants(spark):
    """Reference table.py:85 normalizes catalog names per input dialect:
    unquoted names case-fold, quoted names unquote case-preserved. The
    same query text then resolves whatever case the registration used."""
    pdf = pd.DataFrame({"v": [1, 2, 3]})
    # unquoted-uppercase registration + lowercase reference (pg folds both)
    got = execute(
        'SELECT SUM(v) AS s FROM mydb.tbl',
        dialect="postgres",
        tables={"MyDB": {"TBL": pdf}},
        spark=spark,
    ).collect()
    assert got[0]["s"] == 6
    # quoted registration keys + quoted case-variant reference
    got = execute(
        'SELECT SUM(v) AS s FROM "MyDb"."Tbl2"',
        dialect="snowflake",
        tables={'"MyDb"': {'"Tbl2"': pdf}},
        spark=spark,
    ).collect()
    assert got[0]["s"] == 6
    # snowflake unquoted registration folds UP; unquoted query ref matches
    got = execute(
        "SELECT COUNT(*) AS n FROM sales.orders2",
        dialect="snowflake",
        tables={"Sales": {"Orders2": pdf}},
        spark=spark,
    ).collect()
    assert got[0]["n"] == 3
    # tsql bracket-quoted reference to a bracket-registered name
    got = execute(
        "SELECT SUM(v) AS s FROM [Db3].[T3]",
        dialect="tsql",
        tables={"[Db3]": {"[T3]": pdf}},
        spark=spark,
    ).collect()
    assert got[0]["s"] == 6


def test_normalize_name_invalid_identifier_rejected():
    from xorbits_sql_spark.table import normalize_name

    assert normalize_name("Events", "postgres") == "events"
    assert normalize_name("Events", "snowflake") == "EVENTS"
    assert normalize_name('"Events"', "snowflake") == "Events"
    assert normalize_name("`Events`", "bigquery") == "Events"
    with pytest.raises(UnsupportedError):
        normalize_name('"has space"', "postgres")
    with pytest.raises(UnsupportedError):
        normalize_name("1starts_with_digit", None)


def test_trino_rewrites(spark):
    got = transpile(
        "SELECT approx_distinct(x), arbitrary(y), strpos(s, 'a') FROM t", "trino"
    )
    assert "APPROX_COUNT_DISTINCT(x)" in got
    assert "ANY_VALUE(y)" in got and "INSTR(s, 'a')" in got
    # presto date_diff counts elapsed COMPLETE units (not boundary
    # crossings): one day across New Year is 0 years, 0 months, 1 day.
    row = spark.sql(
        transpile(
            "SELECT CAST(date_diff('year', TIMESTAMP'2019-12-31 23:00:00', "
            "TIMESTAMP'2020-01-01 01:00:00') AS BIGINT) AS y, "
            "CAST(date_diff('day', DATE'2019-12-31', DATE'2020-01-01') AS BIGINT) AS d, "
            "CAST(date_add('day', 3, DATE'2020-01-01') AS DATE) AS d3",
            "trino",
        )
    ).collect()[0]
    import datetime

    assert (row["y"], row["d"], row["d3"]) == (0, 1, datetime.date(2020, 1, 4))
    # Spark's own two-arg DATE_ADD(date, n) survives untouched
    assert "DATE_ADD(d, 1)" in transpile("SELECT DATE_ADD(d, 1) FROM t", "trino")
    # quantified subquery ANY is not renamed (trino shares the keyword)
    kept = transpile("SELECT * FROM t WHERE x = ANY (SELECT v FROM u)", "trino")
    assert "ANY (SELECT" in kept


def test_oracle_rewrites(spark):
    got = transpile(
        "SELECT TO_CHAR(d, 'YYYY-MM-DD HH24:MI:SS') FROM t WHERE ROWNUM <= 10",
        "oracle",
    )
    assert "DATE_FORMAT(d, 'yyyy-MM-dd HH:mm:ss')" in got
    assert got.rstrip().endswith("LIMIT 10")
    row = spark.sql(
        transpile(
            "SELECT TO_DATE('2020-01-02', 'YYYY-MM-DD') AS d, "
            "TO_CHAR(TIMESTAMP'2020-03-04 05:06:07', 'MON DY') AS m FROM dual",
            "oracle",
        )
    ).collect()[0]
    import datetime

    assert row["d"] == datetime.date(2020, 1, 2)
    assert row["m"] == "MAR WED"  # Oracle renders in the element's case
    # ROWNUM < n is off-by-one-exact
    assert transpile("SELECT x FROM t WHERE ROWNUM < 6", "oracle").rstrip().endswith(
        "LIMIT 5"
    )


def test_oracle_unsupported_forms_raise():
    # ROWNUM with ORDER BY / extra predicates / in a subquery: Oracle
    # applies ROWNUM before sorting, so a LIMIT rewrite would lie.
    for bad in (
        "SELECT x FROM t WHERE ROWNUM <= 5 ORDER BY x",
        "SELECT x FROM t WHERE ROWNUM <= 5 AND x > 1",
        "SELECT * FROM (SELECT x FROM t WHERE ROWNUM <= 5)",
        "SELECT ROWNUM, x FROM t",
        "SELECT TO_CHAR(n, '999.99') FROM t",
        "SELECT TO_DATE(s) FROM t",
        # non-default NLS languages / non-date NLS params still refuse
        "SELECT TO_DATE(s, 'DD-MON-YYYY', 'NLS_DATE_LANGUAGE = FRENCH') FROM t",
        "SELECT TO_CHAR(n, '999.99', 'NLS_NUMERIC_CHARACTERS = '',.''') FROM t",
    ):
        with pytest.raises(UnsupportedError):
            transpile(bad, "oracle")


def test_oracle_nls_default_english_folds(spark):
    """The nlsparam is a no-op when it pins NLS_DATE_LANGUAGE to
    AMERICAN/ENGLISH — Spark's own en-US formatting locale — so the
    3-arg forms fold to their 2-arg translation."""
    import datetime

    row = spark.sql(
        transpile(
            "SELECT TO_DATE('02-MAR-2020', 'DD-MON-YYYY', "
            "'NLS_DATE_LANGUAGE = AMERICAN') AS d, "
            "TO_CHAR(TIMESTAMP'2020-03-04 05:06:07', 'MON DY', "
            "'nls_date_language = english') AS m FROM dual",
            "oracle",
        )
    ).collect()[0]
    assert row["d"] == datetime.date(2020, 3, 2)
    assert row["m"] == "MAR WED"  # Oracle renders in the element's case


def test_clickhouse_rewrites(spark):
    got = transpile(
        "SELECT uniq(x), uniqExact(x), any(v), countIf(v > 1), "
        "sumIf(v, v > 0), toInt64(s), toDate(ts) FROM t",
        "clickhouse",
    )
    assert "APPROX_COUNT_DISTINCT(x)" in got
    assert "COUNT(DISTINCT x)" in got
    assert "ANY_VALUE(v)" in got and "COUNT_IF(v > 1)" in got
    assert "SUM(IF( v > 0, v, NULL))" in got
    assert "CAST(s AS BIGINT)" in got and "CAST(ts AS DATE)" in got
    # executable end-to-end: sumIf NULL-skipping matches clickhouse
    row = spark.sql(
        transpile(
            "SELECT sumIf(v, v > 1) AS s, countIf(v > 1) AS n, "
            "toFloat64('2.5') AS f FROM VALUES (1), (2), (3) AS t(v)",
            "clickhouse",
        )
    ).collect()[0]
    assert (row["s"], row["n"], row["f"]) == (5, 2, 2.5)


def test_sqlite_redshift_teradata_rewrites(spark):
    assert "DATE_FORMAT( ts, 'yyyy-MM')" in transpile(
        "SELECT strftime('%Y-%m', ts) FROM t", "sqlite"
    )
    row = spark.sql(
        transpile("SELECT strftime('%Y-%m-%d', TIMESTAMP'2020-03-04 05:06:07') AS s", "sqlite")
    ).collect()[0]
    assert row["s"] == "2020-03-04"
    # redshift: tsql-family GETDATE + boundary-crossing DATEDIFF
    got = transpile("SELECT GETDATE(), DATEDIFF(day, a, b) FROM t", "redshift")
    assert "CURRENT_TIMESTAMP()" in got and "DATEDIFF(CAST(" in got
    # teradata: TOP + QUALIFY + double-quoted identifiers
    got = transpile(
        'SELECT TOP 5 "col" FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY x) <= 3',
        "teradata",
    )
    assert "`col`" in got and "LIMIT 5" in got and "__qualify" in got


def test_family_alias_dialects(spark):
    # doris/starrocks ride the mysql path (LIMIT offset,count; backticks)
    got = transpile("SELECT v FROM t LIMIT 5, 10", "doris")
    assert "LIMIT 10 OFFSET 5" in got
    got = transpile("SELECT v FROM t LIMIT 5, 10", "starrocks")
    assert "LIMIT 10 OFFSET 5" in got
    # drill rides the ansi path (double-quoted identifiers)
    assert "`col`" in transpile('SELECT "col" FROM t', "drill")
    from xorbits_sql_spark.table import normalize_name

    assert normalize_name("`Tbl`", "doris") == "Tbl"
    assert normalize_name('"Tbl"', "clickhouse") == "Tbl"
    assert normalize_name("`Tbl`", "clickhouse") == "Tbl"


def test_athena_materialize_spark2_aliases():
    # athena rides the trino/presto path (dquote idents, unit-first dates)
    assert "`col`" in transpile('SELECT "col" FROM t', "athena")
    got = transpile("SELECT DATE_ADD('day', 3, d) FROM t", "athena")
    assert "TIMESTAMPADD(DAY," in got and "DATE_ADD" not in got
    # materialize rides the postgres path
    assert "`col`" in transpile('SELECT "col" FROM t', "materialize")
    # spark2 is a passthrough alias
    q = "SELECT `col` FROM t"
    assert transpile(q, "spark2") == q


def test_unknown_dialect_raises():
    """A typo'd/uncovered dialect must raise, never silently pass tokens
    through with the wrong quoting semantics."""
    from xorbits_sql_spark.errors import UnsupportedError

    with pytest.raises(UnsupportedError, match="unknown dialect"):
        transpile("SELECT 1", "postgre")
    with pytest.raises(UnsupportedError, match="supported"):
        transpile("SELECT 1", "prql")


def test_oracle_rownum_limit_survives_trailing_comment(spark):
    """LIMIT appended after a trailing line comment lands INSIDE the
    comment — the row cap was silently lost (all rows returned)."""
    pdf = pd.DataFrame({"x": list(range(10))})
    got = execute(
        "SELECT x FROM t WHERE ROWNUM <= 5 -- top five",
        tables={"t": pdf},
        dialect="oracle",
        spark=spark,
    ).collect()
    assert len(got) == 5


def test_tsql_union_wide_order_by_survives_arm_top(spark):
    """A trailing ORDER BY after a union belongs to the WHOLE set
    operation; a TOP in the last arm must not consume it."""
    out = transpile(
        "SELECT x FROM a UNION ALL SELECT TOP 2 y AS x FROM b ORDER BY x",
        "tsql",
    )
    # the ORDER BY ends the statement, outside the parenthesized arm
    assert out.rstrip().endswith("ORDER BY x")
    assert "LIMIT 2)" in out  # the arm's TOP became an in-paren LIMIT
    a = pd.DataFrame({"x": [5, 1]})
    b = pd.DataFrame({"y": [9, 9, 9]})
    got = execute(
        "SELECT x FROM a UNION ALL SELECT TOP 2 y AS x FROM b ORDER BY x",
        tables={"a": a, "b": b},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert [r["x"] for r in got] == [1, 5, 9, 9]  # union-wide ordering kept


def test_mysql_backslash_strings_and_hash_comments(spark):
    """MySQL's default sql_mode escapes quotes with backslash, so the
    lexer must not split the literal (later rewrites corrupted its
    contents); '#' comments re-emit as '--' for Spark."""
    sql = r"SELECT c, '\' LIMIT 1, 2 junk' AS s FROM t"
    out = transpile(sql, "mysql")
    assert r"'\' LIMIT 1, 2 junk'" in out  # literal untouched
    pdf = pd.DataFrame({"c": [1]})
    row = execute(sql, tables={"t": pdf}, dialect="mysql", spark=spark).collect()[0]
    assert row["s"] == "' LIMIT 1, 2 junk"
    out2 = transpile("SELECT 1 AS a # trailing note", "mysql")
    assert "#" not in out2 and "-- trailing note" in out2


def test_mysql_limit_rewrites_every_occurrence(spark):
    out = transpile(
        "SELECT * FROM (SELECT * FROM t LIMIT 1, 2) s LIMIT 3, 4", "mysql"
    )
    assert "LIMIT 2 OFFSET 1" in out and "LIMIT 4 OFFSET 3" in out


def test_datediff_week_boundary_anchors(spark):
    """T-SQL DATEDIFF(week) counts SUNDAY boundaries (DATEFIRST-
    independent); Snowflake and postgres-derived Redshift count Monday
    weeks. 2026-08-15 (Sat) -> 2026-08-16 (Sun) crosses a Sunday
    boundary but not a Monday one."""
    q = "SELECT DATEDIFF(week, DATE'2026-08-15', DATE'2026-08-16') AS w"
    # redshift stays Monday-anchored (postgres-derived DATE_TRUNC)
    for d, want in (("tsql", 1), ("redshift", 0), ("snowflake", 0)):
        got = spark.sql(transpile(q, d)).collect()[0]["w"]
        assert got == want, d
    # and a Monday boundary without a Sunday one: Sun -> Mon
    q2 = "SELECT DATEDIFF(week, DATE'2026-08-16', DATE'2026-08-17') AS w"
    for d, want in (("tsql", 0), ("snowflake", 1)):
        assert spark.sql(transpile(q2, d)).collect()[0]["w"] == want, d


def test_tsql_len_isnull_are_call_sites_only(spark):
    """Columns NAMED len/isnull must survive (the old bare-word rewrite
    renamed them), and LEN ignores trailing spaces like T-SQL."""
    out = transpile("SELECT len, isnull FROM t", "tsql")
    assert "len" in out and "isnull" in out
    assert "LENGTH" not in out and "COALESCE" not in out
    row = spark.sql(transpile("SELECT LEN('abc ') AS n", "tsql")).collect()[0]
    assert row["n"] == 3  # Spark LENGTH('abc ') would be 4


def test_top_wrap_order_by_cast_type_name_allowed(spark):
    pdf = pd.DataFrame({"x": [3.9, 3.1, 1.0, 9.5]})
    got = execute(
        "SELECT DISTINCT TOP 2 WITH TIES x FROM t ORDER BY CAST(x AS INT) DESC",
        tables={"t": pdf},
        dialect="tsql",
        spark=spark,
    ).collect()
    assert sorted((r["x"] for r in got), reverse=True) == [9.5, 3.9, 3.1]


def test_oracle_to_char_case_fidelity(spark):
    """Oracle renders name elements in the element's case: 'MON'->'MAR',
    'mon'->'mar', 'Mon'->'Mar'; unpadded full names need FM; bare MONTH
    (blank-padded to 9 in Oracle) refuses."""
    row = spark.sql(
        transpile(
            "SELECT TO_CHAR(DATE'2020-03-04', 'MON') AS u, "
            "TO_CHAR(DATE'2020-03-04', 'mon') AS l, "
            "TO_CHAR(DATE'2020-03-04', 'Mon') AS t, "
            "TO_CHAR(DATE'2020-03-04', 'FMMONTH') AS fm FROM dual",
            "oracle",
        )
    ).collect()[0]
    assert (row["u"], row["l"], row["t"], row["fm"]) == (
        "MAR", "mar", "Mar", "MARCH"
    )
    with pytest.raises(UnsupportedError, match="blank-pads"):
        transpile("SELECT TO_CHAR(d, 'MONTH') FROM t", "oracle")
    with pytest.raises(UnsupportedError, match="mixes case"):
        transpile("SELECT TO_CHAR(d, 'MON Dy') FROM t", "oracle")


def test_backslash_escape_dialects_never_corrupt_literals(spark):
    """clickhouse/bigquery/snowflake/redshift string literals escape
    quotes with backslash; lexing them with the ANSI rule split the
    literal and let rewrites corrupt its contents (round-7 review,
    reproduced)."""
    out = transpile(
        r"SELECT toInt32(c) FROM t WHERE note = 'don\'t call toInt32(x) twice'",
        "clickhouse",
    )
    assert "'don\\'t call toInt32(x) twice'" in out
    assert out.startswith("SELECT CAST(c AS INT)")
    out2 = transpile(r"SELECT IFF(b,1,2) AS z, 'it\'s IFF(b,1,2) ok' AS s FROM t", "snowflake")
    assert "'it\\'s IFF(b,1,2) ok'" in out2 and "IF(b,1,2) AS z" in out2
    # a literal containing QUALIFY must not trigger the wrap
    out3 = transpile(r"SELECT a FROM t WHERE s = 'x\' QUALIFY y'", "bigquery")
    assert "__qualify" not in out3


def test_multi_statement_structural_rewrites_stay_per_statement():
    """A trailing LIMIT from a TOP rewrite must land on ITS statement,
    not the last one (round-7 review, reproduced)."""
    out = transpile("SELECT TOP 5 a FROM t1; SELECT b FROM t2", "tsql")
    first, second = out.split(";")
    assert "LIMIT 5" in first and "LIMIT" not in second
    # oracle ROWNUM: same per-statement discipline
    out2 = transpile(
        "SELECT a FROM t1 WHERE ROWNUM <= 3; SELECT b FROM t2", "oracle"
    )
    f2, s2 = out2.split(";")
    assert "LIMIT 3" in f2 and "LIMIT" not in s2


def test_qualify_with_window_clause_stays_in_scope(spark):
    """BigQuery places WINDOW after QUALIFY; the named-window
    definitions must move INSIDE the wrapper where the hoisted
    predicate references them (round-7 review: they landed outside ->
    AnalysisException)."""
    pdf = pd.DataFrame(
        {"x": [1, 2, 3, 4], "y": ["a", "a", "b", "b"], "z": [2.0, 1.0, 4.0, 3.0]}
    )
    got = execute(
        "SELECT x FROM t QUALIFY ROW_NUMBER() OVER w = 1 "
        "WINDOW w AS (PARTITION BY y ORDER BY z)",
        tables={"t": pdf},
        dialect="bigquery",
        spark=spark,
    ).collect()
    assert sorted(r["x"] for r in got) == [2, 4]


def test_tsql_bracket_identifier_close_escape():
    """]] escapes a ']' inside a T-SQL bracket identifier."""
    assert transpile("SELECT [a]]b] FROM t", "tsql") == "SELECT `a]b` FROM t"
    assert transpile("SELECT [a], [b] FROM t", "tsql") == "SELECT `a`, `b` FROM t"


def test_top_with_column_named_limit():
    """LIMIT is not reserved in tsql: a column named limit in a TOP
    query must transpile, not refuse (round-7 review, reproduced)."""
    out = transpile("SELECT TOP 5 limit FROM t", "tsql")
    assert out.strip().endswith("LIMIT 5") and " limit " in out
    # an actual LIMIT clause alongside TOP still refuses
    with pytest.raises(UnsupportedError, match="both TOP and LIMIT"):
        transpile("SELECT TOP 5 a FROM t LIMIT 3", "tsql")


def test_oracle_to_date_parsing_ignores_case_conflicts():
    """TO_DATE/TO_TIMESTAMP parse names case-insensitively, so a format
    mixing case styles is fine in the parsing direction; TO_CHAR still
    refuses (a single wrap cannot render 'Dy' title and 'MON' upper)."""
    out = transpile("SELECT TO_DATE(x, 'Dy, DD MON YYYY') FROM t", "oracle")
    assert "'EEE, dd MMM yyyy'" in out
    with pytest.raises(UnsupportedError, match="mixes case styles"):
        transpile("SELECT TO_CHAR(x, 'Dy, DD MON YYYY') FROM t", "oracle")


# ---------------------------------------------------------------------------
# Round-8 dialect fidelity: LATERAL FLATTEN / UNNEST / DISTINCT ON /
# GROUP_CONCAT / STRING_AGG / DECODE / DATEPART / PIVOT naming


def test_snowflake_lateral_flatten(spark):
    got = transpile(
        "SELECT d.id, f.index, f.value FROM docs d, "
        "LATERAL FLATTEN(input => SPLIT(d.s, ' ')) f",
        "snowflake",
    )
    assert "LATERAL VIEW POSEXPLODE(" in got and "f AS index, value" in got
    assert "," not in got.split("docs d")[1].split("LATERAL")[0]
    spark.sql("SELECT 1 AS id, 'a b' AS s").createOrReplaceTempView("fl_docs")
    rows = spark.sql(
        transpile(
            "SELECT f.index AS i, f.value AS v FROM fl_docs, "
            "LATERAL FLATTEN(input => SPLIT(s, ' ')) f ORDER BY i",
            "snowflake",
        )
    ).collect()
    assert [(r["i"], r["v"]) for r in rows] == [(0, "a"), (1, "b")]
    # outer => true preserves rows whose input is empty (NULL value)
    spark.sql(
        "SELECT 1 AS id, ARRAY('x') AS a UNION ALL SELECT 2, ARRAY()"
    ).createOrReplaceTempView("fl_outer")
    rows = spark.sql(
        transpile(
            "SELECT id, f.value AS v FROM fl_outer, "
            "LATERAL FLATTEN(input => a, outer => TRUE) f ORDER BY id",
            "snowflake",
        )
    ).collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, "x"), (2, None)]
    # without outer, the empty-array row is dropped (snowflake default)
    rows = spark.sql(
        transpile(
            "SELECT id FROM fl_outer, LATERAL FLATTEN(input => a) f",
            "snowflake",
        )
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_snowflake_flatten_unsupported_forms_raise():
    for bad in [
        # semi-structured traversal arguments
        "SELECT 1 FROM t, LATERAL FLATTEN(input => x, path => 'a') f",
        "SELECT 1 FROM t, LATERAL FLATTEN(input => x, recursive => TRUE) f",
        # no alias to name the LATERAL VIEW
        "SELECT 1 FROM t, LATERAL FLATTEN(input => x)",
        # attachment other than ',' / CROSS JOIN
        "SELECT 1 FROM t LEFT JOIN LATERAL FLATTEN(input => x) f",
    ]:
        with pytest.raises(UnsupportedError):
            transpile(bad, "snowflake")
    # FLATTEN inside a string literal is never touched
    got = transpile("SELECT 'LATERAL FLATTEN(input => x)' AS s FROM t", "snowflake")
    assert "'LATERAL FLATTEN(input => x)'" in got


def test_bigquery_unnest_variants(spark):
    got = transpile("SELECT w FROM t, UNNEST(arr) AS w", "bigquery")
    assert "LATERAL VIEW EXPLODE(arr) _unnest0 AS w" in got
    got = transpile(
        "SELECT w, o FROM t, UNNEST(arr) AS w WITH OFFSET AS o", "bigquery"
    )
    assert "LATERAL VIEW POSEXPLODE(arr) _unnest0 AS o, w" in got
    # WITH OFFSET without AS: bigquery names the column `offset`
    got = transpile("SELECT w FROM t, UNNEST(arr) w WITH OFFSET", "bigquery")
    assert "AS offset, w" in got
    # no base table: subquery form
    rows = spark.sql(
        transpile("SELECT x FROM UNNEST(ARRAY(3, 1, 2)) AS x ORDER BY x", "bigquery")
    ).collect()
    assert [r["x"] for r in rows] == [1, 2, 3]
    # two UNNESTs in one FROM get distinct generated view aliases
    got = transpile(
        "SELECT a, b FROM t, UNNEST(x) AS a, UNNEST(y) AS b", "bigquery"
    )
    assert "_unnest0 AS a" in got and "_unnest1 AS b" in got


def test_trino_unnest_table_column_alias(spark):
    got = transpile(
        "SELECT w FROM t CROSS JOIN UNNEST(arr) AS u (w)", "trino"
    )
    assert "LATERAL VIEW EXPLODE(arr) u AS w" in got and "CROSS JOIN" not in got
    spark.sql("SELECT ARRAY('b', 'a') AS arr").createOrReplaceTempView("un_t")
    rows = spark.sql(
        transpile(
            "SELECT w FROM un_t CROSS JOIN UNNEST(arr) AS u (w) ORDER BY w",
            "trino",
        )
    ).collect()
    assert [r["w"] for r in rows] == ["a", "b"]


def test_unnest_unsupported_forms_raise():
    cases = [
        ("SELECT 1 FROM t WHERE x IN UNNEST(arr)", "bigquery"),
        ("SELECT * FROM t, UNNEST(a, b) AS x", "bigquery"),
        ("SELECT * FROM t CROSS JOIN UNNEST(a) WITH ORDINALITY AS u (x, i)", "trino"),
        ("SELECT * FROM t CROSS JOIN UNNEST(m) AS u (k, v)", "trino"),
        ("SELECT * FROM t LEFT JOIN UNNEST(a) AS x ON TRUE", "bigquery"),
    ]
    for sql, d in cases:
        with pytest.raises(UnsupportedError):
            transpile(sql, d)


def test_postgres_distinct_on(spark):
    spark.sql(
        "SELECT 1 AS k, 10 AS v, 'a' AS s UNION ALL SELECT 1, 20, 'b' "
        "UNION ALL SELECT 2, 5, 'c'"
    ).createOrReplaceTempView("don_t")
    rows = spark.sql(
        transpile(
            "SELECT DISTINCT ON (k) k, v, s FROM don_t ORDER BY k, v DESC",
            "postgres",
        )
    ).collect()
    assert [(r["k"], r["v"], r["s"]) for r in rows] == [(1, 20, "b"), (2, 5, "c")]
    # multi-key, with the keys case-insensitively matched in ORDER BY
    rows = spark.sql(
        transpile(
            "SELECT DISTINCT ON (k, s) k, s, v FROM don_t ORDER BY K, S, v",
            "postgres",
        )
    ).collect()
    assert len(rows) == 3
    # duckdb speaks DISTINCT ON too
    got = transpile("SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v", "duckdb")
    # round 8: pg/duckdb NULL sort defaults are made explicit, so the
    # generated ranking carries NULLS LAST
    assert "ROW_NUMBER() OVER (PARTITION BY k ORDER BY v NULLS LAST )" in " ".join(
        got.split()
    )


def test_postgres_distinct_on_unsupported_forms_raise():
    # nondeterministic in postgres: no ORDER BY at all
    with pytest.raises(UnsupportedError):
        transpile("SELECT DISTINCT ON (k) k, v FROM t", "postgres")
    # nondeterministic: ORDER BY adds no tiebreak beyond the keys
    with pytest.raises(UnsupportedError):
        transpile("SELECT DISTINCT ON (k) k, v FROM t ORDER BY k", "postgres")
    # postgres itself errors on this mismatch
    with pytest.raises(UnsupportedError):
        transpile("SELECT DISTINCT ON (k) k, v FROM t ORDER BY v, k", "postgres")
    # plain DISTINCT is untouched
    got = transpile("SELECT DISTINCT k, v FROM t ORDER BY k, v", "postgres")
    assert "DISTINCT k" in got and "ROW_NUMBER" not in got


def test_mysql_group_concat(spark):
    spark.sql(
        "SELECT 1 AS k, 'b' AS v UNION ALL SELECT 1, 'a' UNION ALL "
        "SELECT 1, 'a' UNION ALL SELECT 2, CAST(NULL AS STRING)"
    ).createOrReplaceTempView("gc_t")
    rows = spark.sql(
        transpile(
            "SELECT k, GROUP_CONCAT(DISTINCT v ORDER BY v SEPARATOR '|') AS s, "
            "GROUP_CONCAT(v) AS s2, "
            "GROUP_CONCAT(v ORDER BY v DESC) AS s3 "
            "FROM gc_t GROUP BY k ORDER BY k",
            "mysql",
        )
    ).collect()
    # mysql semantics: NULLs skipped, NULL on empty group, ',' default sep;
    # without ORDER BY the element order is engine-defined in mysql too,
    # so only the multiset is asserted for s2
    assert (rows[0]["s"], rows[0]["s3"]) == ("a|b", "b,a,a")
    assert sorted(rows[0]["s2"].split(",")) == ["a", "a", "b"]
    assert (rows[1]["s"], rows[1]["s2"], rows[1]["s3"]) == (None, None, None)
    with pytest.raises(UnsupportedError):
        transpile("SELECT GROUP_CONCAT(a, b) FROM t", "mysql")
    with pytest.raises(UnsupportedError):
        transpile("SELECT GROUP_CONCAT(a SEPARATOR sep_col) FROM t", "mysql")
    # bare identifier named group_concat survives
    assert "group_concat" in transpile("SELECT group_concat FROM t", "mysql")


def test_postgres_string_agg_internal_order_by(spark):
    got = transpile("SELECT STRING_AGG(v, ',' ORDER BY v DESC) FROM t", "postgres")
    # round 8: explicit pg NULL placement (aggregates skip NULLs, so
    # it's inert here, but the WITHIN GROUP ordering carries it)
    assert "LISTAGG(v, ',' ) WITHIN GROUP (ORDER BY v DESC NULLS FIRST )" in " ".join(
        got.split()
    )
    # without internal ORDER BY: untouched (parses natively in Spark 4)
    got = transpile("SELECT STRING_AGG(v, ',') FROM t", "postgres")
    assert "STRING_AGG(v, ',')" in got
    spark.sql(
        "SELECT 'b' AS v UNION ALL SELECT 'a' UNION ALL SELECT 'c'"
    ).createOrReplaceTempView("sa_t")
    rows = spark.sql(
        transpile("SELECT STRING_AGG(v, '-' ORDER BY v) AS s FROM sa_t", "postgres")
    ).collect()
    assert rows[0]["s"] == "a-b-c"


def test_oracle_decode(spark):
    got = transpile("SELECT DECODE(x, 1, 'a', 2, 'b', 'z') FROM t", "oracle")
    flat = " ".join(got.split())
    assert "CASE WHEN (x) <=> ( 1) THEN 'a'" in flat and "ELSE 'z' END" in flat
    # oracle's null-safe match: NULL search equals NULL expression
    rows = spark.sql(
        transpile(
            "SELECT DECODE(NULLIF('p', 'p'), NULL, 'isnull', 'other') AS r "
            "FROM (SELECT 1) t",
            "oracle",
        )
    ).collect()
    assert rows[0]["r"] == "isnull"
    # no default arm -> NULL on no match
    rows = spark.sql(
        transpile("SELECT DECODE(5, 1, 'a') AS r FROM (SELECT 1) t", "oracle")
    ).collect()
    assert rows[0]["r"] is None
    # nested DECODE rewrites on the outer loop's next pass
    rows = spark.sql(
        transpile(
            "SELECT DECODE(DECODE(1, 1, 2), 2, 'two', 'no') AS r FROM (SELECT 1) t",
            "oracle",
        )
    ).collect()
    assert rows[0]["r"] == "two"
    with pytest.raises(UnsupportedError):
        transpile("SELECT DECODE(a, b) FROM t", "oracle")
    # bare identifier named decode survives
    assert "decode" in transpile("SELECT decode FROM t", "oracle")


def test_tsql_datepart_charindex_iif(spark):
    row = spark.sql(
        transpile(
            "SELECT DATEPART(yy, DATE'2024-03-05') AS y, "
            "DATEPART(qq, DATE'2024-03-05') AS q, "
            "DATEPART(mi, TIMESTAMP'2024-03-05 10:42:00') AS mi, "
            "CHARINDEX('b', 'abcb') AS p1, "
            "CHARINDEX('b', 'abcb', 3) AS p2, "
            "CHARINDEX('zz', 'abcb') AS p0, "
            "IIF(2 > 1, 'y', 'n') AS i",
            "tsql",
        )
    ).collect()[0]
    assert (row["y"], row["q"], row["mi"]) == (2024, 1, 42)
    # CHARINDEX/LOCATE: same argument order, 1-based, 0 on miss
    assert (row["p1"], row["p2"], row["p0"]) == (2, 4, 0)
    assert row["i"] == "y"
    # DATEFIRST-dependent parts refuse rather than mistranslate
    with pytest.raises(UnsupportedError):
        transpile("SELECT DATEPART(weekday, d) FROM t", "tsql")
    with pytest.raises(UnsupportedError):
        transpile("SELECT DATEPART(dy, d) FROM t", "tsql")


def test_snowflake_pivot_column_naming(spark):
    # un-aliased string literals get snowflake's QUOTED column names
    got = transpile(
        "SELECT * FROM t PIVOT (SUM(x) FOR c IN ('a', 'b'))", "snowflake"
    )
    assert "'a' AS `'a'`" in got and "'b' AS `'b'`" in got
    spark.sql(
        "SELECT 1 AS k, 'F' AS c, 10 AS x UNION ALL SELECT 1, 'O', 20"
    ).createOrReplaceTempView("pv_t")
    rows = spark.sql(
        transpile(
            # a migrating snowflake query references the quoted names
            'SELECT k, "\'F\'" AS f, "\'O\'" AS o FROM pv_t '
            "PIVOT (SUM(x) FOR c IN ('F', 'O')) ORDER BY k",
            "snowflake",
        )
    ).collect()
    assert [(r["k"], r["f"], r["o"]) for r in rows] == [(1, 10, 20)]
    # explicit IN-item aliases pass through untouched
    got = transpile(
        "SELECT * FROM t PIVOT (SUM(x) FOR c IN ('a' AS ca, 'b' AS cb))",
        "snowflake",
    )
    assert "AS ca" in got and "`'a'`" not in got
    # Spark cannot parse a table alias on the pivoted relation: refuse
    with pytest.raises(UnsupportedError):
        transpile("SELECT * FROM t PIVOT (SUM(x) FOR c IN ('a')) AS p", "snowflake")
    with pytest.raises(UnsupportedError):
        transpile("SELECT * FROM t PIVOT (SUM(x) FOR c IN ('a')) p", "snowflake")


# ---- round-8 second batch: gaps found by probing what a migrating
# user's SQL does when it silently passes through the normalizer ----


def test_pg_regex_operators(spark):
    """postgres ~ / !~ / ~* / !~* → RLIKE forms; prefix ~ (bitwise NOT)
    must survive untouched even in the same statement."""
    pdf = pd.DataFrame({"s": ["apple", "Banana", "cherry"], "n": [1, 2, 3]})
    got = execute(
        "SELECT s FROM t WHERE s ~ '^a' ORDER BY s",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["s"] for r in got] == ["apple"]
    got = execute(
        "SELECT s FROM t WHERE s !~ '^a' AND s ~* '^b' ORDER BY s",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["s"] for r in got] == ["Banana"]
    got = execute(
        "SELECT ~n AS flipped FROM t WHERE s ~ 'pp'",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["flipped"] for r in got] == [-2]


def test_pg_regex_ci_needs_literal():
    with pytest.raises(UnsupportedError, match="string-literal"):
        transpile("SELECT 1 FROM t WHERE a ~* b", "postgres")


def test_pg_similar_to_refuses():
    # literal patterns translate since round 11 (test_similar_to);
    # the refusal surface is now dynamic patterns and ESCAPE clauses
    with pytest.raises(UnsupportedError, match="SIMILAR TO"):
        transpile("SELECT 1 FROM t WHERE s SIMILAR TO other_col", "postgres")
    with pytest.raises(UnsupportedError, match="ESCAPE"):
        transpile(
            "SELECT 1 FROM t WHERE s SIMILAR TO 'a!%' ESCAPE '!'", "postgres"
        )


def test_pg_generate_series(spark):
    got = execute(
        "SELECT n FROM generate_series(1, 10, 3) AS g(n) ORDER BY n",
        tables={}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["n"] for r in got] == [1, 4, 7, 10]  # INCLUSIVE bounds
    got = execute(
        "SELECT * FROM generate_series(2, 4)",
        tables={}, dialect="duckdb", spark=spark,
    ).collect()
    assert [r["generate_series"] for r in got] == [2, 3, 4]


def test_pg_generate_series_projection_refuses():
    with pytest.raises(UnsupportedError, match="FROM/JOIN"):
        transpile("SELECT generate_series(1, 3)", "postgres")


def test_pg_to_char_and_epoch(spark):
    pdf = pd.DataFrame({"d": pd.to_datetime(["2024-03-05 10:20:30"])})
    got = execute(
        "SELECT TO_CHAR(d, 'YYYY-MM-DD HH24:MI:SS') AS s FROM t",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert got[0]["s"] == "2024-03-05 10:20:30"
    got = execute(
        "SELECT CAST(TO_TIMESTAMP(86400) AS STRING) AS ts",
        tables={}, dialect="postgres", spark=spark,
    ).collect()
    assert got[0]["ts"].startswith("1970-01-02")


def test_mysql_date_format_codes(spark):
    """The %-codes MUST translate: passed through, Spark's same-named
    DATE_FORMAT renders them as literal text (silent corruption)."""
    pdf = pd.DataFrame({"d": pd.to_datetime(["2024-03-05 08:09:10"])})
    got = execute(
        "SELECT DATE_FORMAT(d, '%Y-%m-%dT%H:%i:%s') AS s FROM t",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()
    assert got[0]["s"] == "2024-03-05T08:09:10"
    got = execute(
        "SELECT DATE_FORMAT(d, '%d of %M') AS s FROM t",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()
    assert got[0]["s"] == "05 of March"


def test_mysql_str_to_date_type_rule(spark):
    """mysql returns DATE for date-only formats, DATETIME when time
    codes appear — the translation picks TO_DATE vs TO_TIMESTAMP on
    the same rule."""
    got = execute(
        "SELECT STR_TO_DATE('2024-01-05', '%Y-%m-%d') AS d, "
        "STR_TO_DATE('2024-01-05 10:11', '%Y-%m-%d %H:%i') AS ts",
        tables={}, dialect="mysql", spark=spark,
    )
    types = dict(got.dtypes)
    assert types["d"] == "date" and types["ts"] == "timestamp"
    row = got.collect()[0]
    assert str(row["d"]) == "2024-01-05"
    assert str(row["ts"]).startswith("2024-01-05 10:11")


def test_mysql_format_refusals():
    for sql in (
        "SELECT DATE_FORMAT(d, '%w') FROM t",      # 0=Sunday weekday num
        "SELECT DATE_FORMAT(d, '%U') FROM t",      # mode-dependent week
        "SELECT TIME_FORMAT(d, '%Y') FROM t",      # mysql zeroes date codes
        "SELECT DATE_FORMAT(d, fmt_col) FROM t",   # non-literal format
    ):
        with pytest.raises(UnsupportedError):
            transpile(sql, "mysql")


def test_tsql_convert(spark):
    pdf = pd.DataFrame({"n": [1234567], "s": ["42"]})
    got = execute(
        "SELECT CONVERT(VARCHAR(4), n) AS trunc4, "
        "CONVERT(INT, s) AS i, CONVERT(MONEY, s) AS m FROM t",
        tables={"t": pdf}, dialect="tsql", spark=spark,
    ).collect()[0]
    # T-SQL CONVERT(VARCHAR(4), ...) TRUNCATES silently — preserved
    assert got["trunc4"] == "1234"
    assert got["i"] == 42
    assert str(got["m"]) == "42.0000"


def test_mysql_convert(spark):
    pdf = pd.DataFrame({"s": ["123.456"]})
    got = execute(
        "SELECT CONVERT(s, DECIMAL(10,2)) AS d, CONVERT(s, CHAR(3)) AS c3 "
        "FROM t",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()[0]
    assert str(got["d"]) == "123.46"
    assert got["c3"] == "123"


def test_convert_refusals():
    with pytest.raises(UnsupportedError, match="style"):
        transpile("SELECT CONVERT(VARCHAR(10), d, 120) FROM t", "tsql")
    with pytest.raises(UnsupportedError, match="charset"):
        transpile("SELECT CONVERT(s USING utf8) FROM t", "mysql")
    with pytest.raises(UnsupportedError, match="not supported"):
        transpile("SELECT CONVERT(XML, s) FROM t", "tsql")


def test_pg_dow_off_by_one(spark):
    """pg numbers Sunday as DOW 0; Spark's DOW field says 1 — untreated,
    the expression RUNS and returns off-by-one values (silent
    corruption). 2024-03-03 is a Sunday."""
    for sql, want in [
        ("SELECT EXTRACT(DOW FROM DATE'2024-03-03') AS v", 0),
        ("SELECT EXTRACT(DOW FROM DATE'2024-03-04') AS v", 1),
        ("SELECT EXTRACT(ISODOW FROM DATE'2024-03-03') AS v", 7),
        ("SELECT date_part('dow', DATE'2024-03-03') AS v", 0),
        ("SELECT date_part('isodow', DATE'2024-03-04') AS v", 1),
        ("SELECT EXTRACT(YEAR FROM DATE'2024-03-03') AS v", 2024),  # untouched
    ]:
        got = execute(sql, tables={}, dialect="postgres", spark=spark).collect()
        assert got[0]["v"] == want, sql


def test_pg_array_literal_transpiles():
    # round 10: safe (non-nested, non-mangled) ARRAY[...] now rewrites
    # to array(...); the unsafe forms still refuse — see
    # test_pg_array_literal_rewrites_and_refusals
    assert "array(1,2,3)" in transpile("SELECT ARRAY[1,2,3]", "postgres")


def test_tsql_square_replicate(spark):
    got = execute(
        "SELECT SQUARE(3.0) AS sq, REPLICATE('ab', 3) AS rep",
        tables={}, dialect="tsql", spark=spark,
    ).collect()[0]
    assert got["sq"] == 9.0 and got["rep"] == "ababab"


def test_snowflake_array_construct(spark):
    got = execute(
        "SELECT SIZE(ARRAY_CONSTRUCT(1,2,3)) AS n",
        tables={}, dialect="snowflake", spark=spark,
    ).collect()[0]
    assert got["n"] == 3


def test_bq_date_arithmetic(spark):
    """bq DATE_DIFF counts unit BOUNDARIES (weeks start Sunday);
    TIMESTAMP_DIFF counts whole elapsed units; DATE_ADD/SUB return
    DATE. Each verified against bq's documented examples."""
    for sql, want in [
        # one month boundary crossed between Jan 31 and Feb 1
        ("SELECT DATE_DIFF(DATE'2024-02-01', DATE'2024-01-31', MONTH) AS v", 1),
        ("SELECT DATE_DIFF(DATE'2024-03-05', DATE'2024-03-01', DAY) AS v", 4),
        # Sunday 2024-03-03 lies between the 2nd and the 4th
        ("SELECT DATE_DIFF(DATE'2024-03-04', DATE'2024-03-02', WEEK) AS v", 1),
        ("SELECT TIMESTAMP_DIFF(TIMESTAMP'2024-01-01 10:30:00', "
         "TIMESTAMP'2024-01-01 08:00:00', HOUR) AS v", 2),
        ("SELECT CAST(DATE_ADD(DATE'2024-01-31', INTERVAL 1 MONTH) AS STRING) AS v",
         "2024-02-29"),
        ("SELECT CAST(DATE_SUB(DATE'2024-03-05', INTERVAL 4 DAY) AS STRING) AS v",
         "2024-03-01"),
    ]:
        got = execute(sql, tables={}, dialect="bigquery", spark=spark).collect()
        assert got[0]["v"] == want, sql
    # DATE_ADD must return a DATE, not a timestamp
    got = execute(
        "SELECT DATE_ADD(DATE'2024-01-01', INTERVAL 1 DAY) AS d",
        tables={}, dialect="bigquery", spark=spark,
    )
    assert dict(got.dtypes)["d"] == "date"


def test_bq_format_parse(spark):
    """bq strftime-style codes (%M is MINUTE here, unlike mysql's month
    name) translate; ISO-week and zone codes refuse."""
    got = execute(
        "SELECT FORMAT_DATE('%Y-%m', DATE'2024-03-05') AS a, "
        "FORMAT_TIMESTAMP('%H:%M:%S', TIMESTAMP'2024-01-01 08:09:10') AS b, "
        "CAST(PARSE_DATE('%Y-%m-%d', '2024-03-05') AS STRING) AS c",
        tables={}, dialect="bigquery", spark=spark,
    ).collect()[0]
    assert (got["a"], got["b"], got["c"]) == ("2024-03", "08:09:10", "2024-03-05")
    for bad in ("%V", "%U", "%u", "%Z", "%E4S"):
        with pytest.raises(UnsupportedError):
            transpile(f"SELECT FORMAT_DATE('{bad}', d) FROM t", "bigquery")


def test_day_numbering_across_dialects(spark):
    """Day-of-week numbering differs per dialect and Spark's same-named
    functions RUN with the wrong anchor (silent off-by-one):
    trino/clickhouse are ISO (Monday=1..Sunday=7), snowflake's default
    (WEEK_START=0) is Sunday=0..Saturday=6. 2024-03-03 is a Sunday,
    2024-03-04 a Monday."""
    for dialect, sql, want in [
        ("trino", "SELECT day_of_week(DATE'2024-03-03') AS v", 7),
        ("trino", "SELECT dow(DATE'2024-03-04') AS v", 1),
        ("trino", "SELECT day_of_year(DATE'2024-03-03') AS v", 63),
        ("trino", "SELECT week(DATE'2024-01-01') AS v", 1),
        ("trino", "SELECT year_of_week(DATE'2021-01-01') AS v", 2020),
        ("clickhouse", "SELECT toDayOfWeek(toDate('2024-03-03')) AS v", 7),
        ("snowflake", "SELECT DAYOFWEEK(DATE'2024-03-03') AS v", 0),
        ("snowflake", "SELECT DAYOFWEEK(DATE'2024-03-04') AS v", 1),
        ("snowflake", "SELECT DAYOFWEEKISO(DATE'2024-03-03') AS v", 7),
    ]:
        got = execute(sql, tables={}, dialect=dialect, spark=spark).collect()
        assert got[0]["v"] == want, f"{dialect}: {sql}"


def test_clickhouse_arrayjoin(spark):
    got = execute(
        "SELECT arrayJoin(array(10, 20)) AS v",
        tables={}, dialect="clickhouse", spark=spark,
    ).collect()
    assert sorted(r["v"] for r in got) == [10, 20]


def test_tsql_stuff(spark):
    """tsql STUFF with its exact NULL contract (start < 1, start past
    the string, negative length)."""
    for sql, want in [
        ("SELECT STUFF('abcdef', 2, 3, 'XY') AS v", "aXYef"),
        ("SELECT STUFF('abcdef', 0, 3, 'XY') AS v", None),
        ("SELECT STUFF('abcdef', 7, 1, 'XY') AS v", None),
        ("SELECT STUFF('abcdef', 2, -1, 'XY') AS v", None),
        ("SELECT STUFF('abcdef', 1, 6, 'Z') AS v", "Z"),
    ]:
        got = execute(sql, tables={}, dialect="tsql", spark=spark).collect()
        assert got[0]["v"] == want, sql


def test_bq_string_array_fns(spark):
    pdf = pd.DataFrame({"s": ["Apple", "banana"], "arr": [[1, 2, 3], [4, 5, 6]]})
    got = execute(
        "SELECT STARTS_WITH(s, 'App') AS a, ENDS_WITH(s, 'na') AS b, "
        "ARRAY_LENGTH(arr) AS n FROM t ORDER BY s",
        tables={"t": pdf}, dialect="bigquery", spark=spark,
    ).collect()
    assert [(r["a"], r["b"], r["n"]) for r in got] == [
        (True, False, 3), (False, True, 3),
    ]


def test_duckdb_list_contains(spark):
    pdf = pd.DataFrame({"arr": [[1, 2, 3]]})
    got = execute(
        "SELECT list_contains(arr, 2) AS y, list_contains(arr, 9) AS n FROM t",
        tables={"t": pdf}, dialect="duckdb", spark=spark,
    ).collect()[0]
    assert (got["y"], got["n"]) == (True, False)


def test_duckdb_arg_max_min(spark):
    pdf = pd.DataFrame({"g": ["a", "b", "c"], "x": [1.0, 5.0, 3.0]})
    got = execute(
        "SELECT arg_max(g, x) AS hi, arg_min(g, x) AS lo FROM t",
        tables={"t": pdf}, dialect="duckdb", spark=spark,
    ).collect()[0]
    assert (got["hi"], got["lo"]) == ("b", "a")


def test_format_translators_match_duckdb_strftime(spark, duck):
    """Property-style cross-engine oracle: DuckDB's strftime speaks the
    same %-code family as mysql DATE_FORMAT and bigquery FORMAT_*, so
    for every supported code the translated Spark pattern must render
    the SAME text DuckDB renders, over dates that exercise 1-vs-2
    digit fields, noon/midnight, and year boundaries."""
    dates = [
        "2024-03-05 08:09:10",
        "2024-12-31 23:59:59",
        "2021-01-01 00:00:00",
        "1999-07-04 12:00:00",
        "2024-02-29 11:59:59",
    ]
    # codes DuckDB strftime shares with the bigquery map (same meaning)
    bq_codes = ["%Y", "%y", "%m", "%d", "%H", "%I", "%M", "%S", "%j", "%p", "%a", "%A", "%b", "%B"]
    # ... and with the mysql map (NB %M/%i/%s differ from bq's meanings)
    my_pairs = [("%Y", "%Y"), ("%m", "%m"), ("%d", "%d"), ("%H", "%H"),
                ("%i", "%M"), ("%s", "%S"), ("%p", "%p"), ("%b", "%b"),
                ("%W", "%A"), ("%a", "%a"), ("%j", "%j")]
    for d in dates:
        for code in bq_codes:
            want = duck.execute(
                f"SELECT strftime(TIMESTAMP '{d}', '{code}')"
            ).fetchone()[0]
            got = execute(
                f"SELECT FORMAT_TIMESTAMP('{code}', TIMESTAMP'{d}') AS v",
                tables={}, dialect="bigquery", spark=spark,
            ).collect()[0]["v"]
            assert got == want, f"bq {code} on {d}: spark={got!r} duck={want!r}"
        for my_code, duck_code in my_pairs:
            want = duck.execute(
                f"SELECT strftime(TIMESTAMP '{d}', '{duck_code}')"
            ).fetchone()[0]
            got = execute(
                f"SELECT DATE_FORMAT(TIMESTAMP'{d}', '{my_code}') AS v",
                tables={}, dialect="mysql", spark=spark,
            ).collect()[0]["v"]
            assert got == want, f"mysql {my_code} on {d}: spark={got!r} duck={want!r}"


def test_temp_table_as_and_multi_statement(spark):
    """pg/mysql/duckdb CREATE TEMP TABLE ... AS SELECT maps to a Spark
    TEMPORARY VIEW, and execute() runs multi-statement scripts
    sequentially returning the LAST statement's result. Literal
    semicolons never split."""
    pdf = pd.DataFrame({"x": [1, 2]})
    got = execute(
        "CREATE TEMP TABLE tta_x AS SELECT x * 10 AS y FROM t; "
        "SELECT SUM(y) AS s FROM tta_x",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert got[0]["s"] == 30
    got = execute(
        "CREATE OR REPLACE TEMPORARY TABLE tta_y AS SELECT COUNT(*) AS n "
        "FROM t; SELECT n FROM tta_y",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()
    assert got[0]["n"] == 2
    with pytest.raises(UnsupportedError, match="column list"):
        transpile("CREATE TEMP TABLE t4 (a INT, b STRING)", "postgres")
    # plain CTAS stays a real table statement
    assert "VIEW" not in transpile("CREATE TABLE rt AS SELECT 1", "postgres")
    got = execute(
        "SELECT 'a;b' AS v", tables={}, dialect="postgres", spark=spark
    ).collect()
    assert got[0]["v"] == "a;b"


def test_pg_null_sort_position(spark):
    """pg/redshift/oracle treat NULL as LARGEST (LAST on ASC, FIRST on
    DESC); duckdb defaults NULLS LAST both ways; Spark is FIRST-on-ASC.
    Untranslated, ORDER BY ... LIMIT over a nullable key RETURNS
    DIFFERENT ROWS — the silent-corruption class."""
    pdf = pd.DataFrame({"x": [3.0, None, 1.0, 2.0]})
    rows = [r["x"] for r in execute(
        "SELECT x FROM t ORDER BY x LIMIT 2",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()]
    assert rows == [1.0, 2.0]
    rows = [r["x"] for r in execute(
        "SELECT x FROM t ORDER BY x DESC LIMIT 1",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()]
    assert rows == [None]
    rows = [r["x"] for r in execute(
        "SELECT x FROM t ORDER BY x DESC LIMIT 1",
        tables={"t": pdf}, dialect="duckdb", spark=spark,
    ).collect()]
    assert rows == [3.0]
    # explicit NULLS spec wins; mysql (FIRST-on-ASC, like Spark) untouched
    assert "NULLS LAST" in transpile("SELECT 1 FROM t ORDER BY x", "oracle")
    assert transpile("SELECT x FROM t ORDER BY x", "mysql").count("NULLS") == 0
    out = transpile("SELECT 1 FROM t ORDER BY x DESC NULLS LAST", "postgres")
    assert out.count("NULLS") == 1
    # window ORDER BY gets the same default (ranking semantics)
    out = transpile("SELECT RANK() OVER (ORDER BY x) FROM t", "postgres")
    assert "NULLS LAST" in out


def test_null_sort_position_trino_snowflake_clickhouse(spark):
    """Round-11 sweep: trino/presto sort NULL as if larger than any
    non-null value (Trino docs, ORDER BY) and snowflake puts NULLs
    highest (LAST on ASC, FIRST on DESC) — both share pg's shape;
    clickhouse defaults to NULLS LAST in BOTH directions like duckdb.
    mysql/sqlite/tsql/bigquery/hive treat NULL as smallest — Spark's
    own default — and stay untouched."""
    pdf = pd.DataFrame({"x": [3.0, None, 1.0, 2.0]})

    def top(dialect, sql="SELECT x FROM t ORDER BY x LIMIT 2"):
        return [r["x"] for r in execute(
            sql, tables={"t": pdf}, dialect=dialect, spark=spark
        ).collect()]

    for d in ("trino", "presto", "snowflake"):
        # NULL-largest: ASC puts non-nulls first, DESC leads with NULL
        assert top(d) == [1.0, 2.0], d
        assert top(d, "SELECT x FROM t ORDER BY x DESC LIMIT 1") == [None], d
    # clickhouse: NULLS LAST both directions
    assert top("clickhouse") == [1.0, 2.0]
    assert top("clickhouse", "SELECT x FROM t ORDER BY x DESC LIMIT 1") == [3.0]
    # athena resolves through the trino family alias
    assert top("athena", "SELECT x FROM t ORDER BY x DESC LIMIT 1") == [None]
    # NULL-as-smallest dialects (Spark's default) are not rewritten
    for d in ("mysql", "sqlite", "tsql", "bigquery", "hive"):
        assert transpile("SELECT x FROM t ORDER BY x", d).count("NULLS") == 0, d
    # explicit spec still wins
    out = transpile("SELECT 1 FROM t ORDER BY x NULLS FIRST", "snowflake")
    assert out.count("NULLS") == 1
    # window ranking gets the source default too
    assert "NULLS LAST" in transpile(
        "SELECT RANK() OVER (ORDER BY x) FROM t", "trino"
    )


def test_int_literal_division(spark):
    """Round-11 sweep: pg/redshift/tsql/sqlite/teradata int/int is
    TRUNCATING integer division (pg operator table: "integer division
    truncates the result"); Spark's / is always true division — 7/2
    runs on both and silently reads 3.5 instead of 3. Statically
    type-known operands only (integer literals, COUNT(...)); columns
    and other aggregates pass through untouched."""
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0]})

    def one(sql, d="postgres"):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    for d in ("postgres", "redshift", "tsql", "sqlite", "teradata"):
        assert one("SELECT 7/2 AS q", d) == 3, d
    # truncation toward zero on negatives (pg: (-7)/2 = -3)
    assert one("SELECT -7/2 AS q") == -3
    assert one("SELECT 7 / -2 AS q") == -3
    # left-assoc chain stays integral end-to-end: 100/2/3 = 50/3 = 16
    assert one("SELECT 100/2/3 AS q") == 16
    # any non-integer literal → true division, untouched
    assert one("SELECT 7.0/2 AS q") == 3.5
    assert abs(float(one("SELECT 7.0/2/3 AS q")) - 7.0 / 2 / 3) < 1e-6
    # :: cast binds tighter than / — 7/2::numeric is true division
    assert float(one("SELECT 7/2::numeric AS q")) == 3.5
    # COUNT(...) is always integer-typed: the COUNT(*)/2 ratio shape
    assert one("SELECT COUNT(*)/2 AS q FROM t") == 1
    assert one("SELECT COUNT(x) / COUNT(x) AS q FROM t", "sqlite") == 1
    # unknown-typed operands untouched (SUM, columns, float-promoted)
    assert one("SELECT SUM(x)/2 AS q FROM t") == 3.0
    assert one("SELECT COUNT(*) * 1.0 / COUNT(*) AS q FROM t") == 1.0
    # dialects where / is true division are never rewritten
    for d in ("mysql", "oracle", "duckdb", "hive"):
        assert float(one("SELECT 7/2 AS q", d)) == 3.5, d


def test_duckdb_intdiv_operator(spark):
    """duckdb ``//`` truncates toward zero (measured on this box's
    duckdb: 7//2=3, -7//2=-3, 7//-2=-3) = Spark DIV exactly. The
    tokenizer yields two adjacent '/' ops, unparseable by Spark —
    loud before this rewrite, exact after."""
    pdf = pd.DataFrame({"x": [1.0]})
    row = execute(
        "SELECT 7//2 AS a, -7//2 AS b, 7 // -2 AS c",
        tables={"t": pdf}, dialect="duckdb", spark=spark,
    ).collect()[0]
    assert (row["a"], row["b"], row["c"]) == (3, -3, -3)
    import duckdb as _dk
    assert _dk.connect().execute("SELECT 7//2, -7//2, 7 // -2").fetchall() == [
        (row["a"], row["b"], row["c"])
    ]


def test_clickhouse_int_arithmetic(spark):
    """clickhouse intDiv truncates toward zero ("rounds down by
    absolute value" — C++ '/' semantics) = Spark DIV; modulo keeps the
    dividend's sign = Spark MOD. The *OrZero forms return 0 on a zero
    divisor — IF-guarded emission, exercised on a ROW-level zero so
    constant folding can't hide a would-throw branch."""
    pdf = pd.DataFrame({"a": [7, -7, 5], "b": [2, 2, 0]})
    rows = execute(
        "SELECT a, intDiv(a, 2) AS d, modulo(a, 2) AS m, "
        "intDivOrZero(a, b) AS dz, moduloOrZero(a, b) AS mz "
        "FROM t ORDER BY a",
        tables={"t": pdf}, dialect="clickhouse", spark=spark,
    ).collect()
    got = [(r["a"], r["d"], r["m"], r["dz"], r["mz"]) for r in rows]
    assert got == [(-7, -3, -1, -3, -1), (5, 2, 1, 0, 0), (7, 3, 1, 3, 1)]


def test_two_arg_trim_order(spark):
    """Round-11 sweep: 2-arg TRIM/LTRIM/RTRIM are (string, chars) in
    pg/redshift/duckdb/sqlite/snowflake/tsql/bigquery/oracle; Spark
    inherited Hive's REVERSED (chars, string) for the comma forms —
    TRIM('xyx', 'x') runs on both and silently trims the wrong
    operand. Verified against this box's duckdb (string-first, same
    as pg's btrim-family semantics)."""
    import duckdb as _dk
    assert _dk.connect().execute(
        "SELECT TRIM('xyx', 'x'), LTRIM('xxay', 'x'), RTRIM('yaxx', 'x')"
    ).fetchall() == [("y", "ay", "ya")]
    pdf = pd.DataFrame({"x": [1.0]})
    for d in ("postgres", "duckdb", "sqlite", "snowflake", "tsql", "bigquery"):
        row = execute(
            "SELECT TRIM('xyx', 'x') AS a, LTRIM('xxay', 'x') AS b, "
            "RTRIM('yaxx', 'x') AS c",
            tables={"t": pdf}, dialect=d, spark=spark,
        ).collect()[0]
        assert (row["a"], row["b"], row["c"]) == ("y", "ay", "ya"), d
    # oracle: LTRIM/RTRIM only (TRIM is FROM-form-only there)
    row = execute(
        "SELECT LTRIM('xxay', 'x') AS b, RTRIM('yaxx', 'x') AS c",
        tables={"t": pdf}, dialect="oracle", spark=spark,
    ).collect()[0]
    assert (row["b"], row["c"]) == ("ay", "ya")
    # 1-arg and FROM forms agree cross-engine and pass through
    row = execute(
        "SELECT TRIM('  y  ') AS a, TRIM(BOTH 'x' FROM 'xyx') AS b",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert (row["a"], row["b"]) == ("y", "y")


def test_sqlite_like_case_insensitive(spark):
    """Round-11 sweep: sqlite LIKE is case-insensitive by default
    (ASCII; PRAGMA case_sensitive_like is session state a transpiler
    cannot see) — Spark's LIKE is case-sensitive, so 'A' LIKE 'a%'
    runs on both and silently disagrees. Operator and 2-arg function
    forms rewrite to ILIKE (the function form is additionally
    arg-REVERSED: sqlite like(pattern, string) vs Spark's
    like/ilike(str, pattern)); the 3-arg escape function form
    refuses loudly."""
    pdf = pd.DataFrame({"a": ["Alpha", "beta", "ALTO"]})

    def vals(sql):
        return [r["a"] for r in execute(
            sql, tables={"t": pdf}, dialect="sqlite", spark=spark
        ).collect()]

    assert vals("SELECT a FROM t WHERE a LIKE 'al%' ORDER BY a") == [
        "ALTO", "Alpha"
    ]
    assert vals("SELECT a FROM t WHERE a NOT LIKE 'al%' ORDER BY a") == ["beta"]
    assert vals("SELECT a FROM t WHERE like('al%', a) ORDER BY a") == [
        "ALTO", "Alpha"
    ]
    # ESCAPE clause survives the operator rewrite
    assert vals("SELECT a FROM t WHERE a LIKE 'AL!%' ESCAPE '!'") == []
    with pytest.raises(Exception, match="3-arg"):
        execute(
            "SELECT like('al%', a, '!') FROM t",
            tables={"t": pdf}, dialect="sqlite", spark=spark,
        )
    # mysql/pg LIKE stays case-sensitive
    got = execute(
        "SELECT a FROM t WHERE a LIKE 'al%'",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert got == []


def test_left_right_negative_counts(spark):
    """Round-11 sweep: pg/redshift/duckdb LEFT(s, -k) means all but
    the LAST k chars and RIGHT(s, -k) all but the FIRST k (measured
    on this box's duckdb; over-negative → ''); Spark returns '' for
    any negative count — both run, silently different. Literal
    negative counts rewrite to substring identities; mysql (which
    agrees with Spark) stays untouched."""
    import duckdb as _dk
    assert _dk.connect().execute(
        "SELECT LEFT('abcde', -2), RIGHT('abcde', -2), LEFT('ab', -5)"
    ).fetchall() == [("abc", "cde", "")]
    pdf = pd.DataFrame({"s": ["abcde"]})

    def one(sql, d="postgres"):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT LEFT(s, -2) AS q FROM t") == "abc"
    assert one("SELECT RIGHT(s, -2) AS q FROM t") == "cde"
    assert one("SELECT LEFT(s, -7) AS q FROM t", "duckdb") == ""
    assert one("SELECT RIGHT(s, -7) AS q FROM t", "duckdb") == ""
    assert one("SELECT LEFT(s, 2) AS q FROM t") == "ab"
    assert one("SELECT LEFT(s, -2) AS q FROM t", "mysql") == ""


def test_double_star_exponentiation(spark):
    """Round-11 sweep: '**' is exponentiation in duckdb (alias of ^,
    duckdb-pinned) and teradata (its only power spelling) — two
    adjacent '*' ops Spark cannot parse. Converted to '^' and routed
    through the precedence-exact POWER machinery; left-assoc
    (2 ** 3 ** 2 = 64, matching both sources)."""
    import duckdb as _dk
    assert _dk.connect().execute("SELECT 2 ** 3").fetchall() == [(8.0,)]
    pdf = pd.DataFrame({"s": ["x"]})
    for d in ("duckdb", "teradata"):
        row = execute(
            "SELECT 2 ** 3 AS q, 2 ** 3 ** 2 AS r",
            tables={"t": pdf}, dialect=d, spark=spark,
        ).collect()[0]
        assert (row["q"], row["r"]) == (8.0, 64.0), d


def test_similar_to(spark):
    """Round-11 sweep: pg/redshift SIMILAR TO is an ANCHORED full
    match mixing LIKE wildcards (%/_) with regex groups — but '.' is
    LITERAL there. duckdb's same-spelled operator is a full REGEX
    ('%' literal, '.' a metachar — measured on this box's duckdb), so
    the two dialects get different readings. Dynamic patterns and
    ESCAPE refuse loudly."""
    pdf = pd.DataFrame({"s": ["abc123", "a.c", "xyz9"]})

    def vals(sql, d):
        return [r["s"] for r in execute(
            sql, tables={"t": pdf}, dialect=d, spark=spark
        ).collect()]

    # pg reading: % is the LIKE wildcard, '.' literal
    assert vals("SELECT s FROM t WHERE s SIMILAR TO 'abc%' ORDER BY s",
                "postgres") == ["abc123"]
    assert vals("SELECT s FROM t WHERE s SIMILAR TO 'a.c' ORDER BY s",
                "postgres") == ["a.c"]
    assert vals("SELECT s FROM t WHERE s SIMILAR TO '(abc|xyz)%' ORDER BY s",
                "postgres") == ["abc123", "xyz9"]
    assert vals("SELECT s FROM t WHERE s SIMILAR TO '%[0-9]' ORDER BY s",
                "postgres") == ["abc123", "xyz9"]
    assert vals("SELECT s FROM t WHERE s NOT SIMILAR TO 'abc%' ORDER BY s",
                "postgres") == ["a.c", "xyz9"]
    # duckdb reading: the pattern is a regex — '%' literal, '.' meta
    assert vals("SELECT s FROM t WHERE s SIMILAR TO 'abc%' ORDER BY s",
                "duckdb") == []
    assert vals("SELECT s FROM t WHERE s SIMILAR TO '(abc|xyz).*' ORDER BY s",
                "duckdb") == ["abc123", "xyz9"]
    import duckdb as _dk
    assert _dk.connect().execute(
        "SELECT 'abc123' SIMILAR TO 'abc%', 'a.c' SIMILAR TO 'a.c'"
    ).fetchall() == [(False, True)]
    with pytest.raises(Exception, match="SIMILAR TO"):
        execute("SELECT s FROM t WHERE s SIMILAR TO s",
                tables={"t": pdf}, dialect="postgres", spark=spark)


def test_choose_elt_field(spark):
    """Round-11 sweep: tsql CHOOSE / mysql ELT return NULL for an
    out-of-range index where Spark's own ELT raises under ANSI —
    both map to get(array(...), n-1), whose NULL-out-of-range
    contract is exact. mysql FIELD → 1-based array_position with
    0-for-absent and 0-for-NULL-needle."""
    pdf = pd.DataFrame({"x": [1.0]})

    def one(sql, d):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT CHOOSE(2, 'a', 'b', 'c') AS q", "tsql") == "b"
    assert one("SELECT CHOOSE(9, 'a', 'b') AS q", "tsql") is None
    assert one("SELECT ELT(2, 'a', 'b') AS q", "mysql") == "b"
    assert one("SELECT ELT(0, 'a', 'b') AS q", "mysql") is None
    assert one("SELECT FIELD('b', 'a', 'b', 'c') AS q", "mysql") == 2
    assert one("SELECT FIELD('z', 'a', 'b') AS q", "mysql") == 0
    assert one("SELECT FIELD(NULL, 'a') AS q", "mysql") == 0


@pytest.mark.parametrize(
    "sql, dialect, expected",
    [
        ("SELECT CHOOSE(1, CHOOSE(2, 'a', 'b'), 'c') AS q FROM t", "tsql", "b"),
        ("SELECT ELT(1, ELT(3, 'a', 'b'), 'c') AS q FROM t", "mysql", None),
        ("SELECT FIELD(a, FIELD(b, 1, 2), 7) AS q FROM t", "mysql", 2),
        ("SELECT intDivOrZero(intDivOrZero(a, b), c) AS q FROM t", "clickhouse", 0),
        ("SELECT moduloOrZero(moduloOrZero(a, b), c) AS q FROM t", "clickhouse", 0),
    ],
)
def test_nested_same_name_calls(spark, sql, dialect, expected):
    """A call nested in an argument of a call of the same name is
    rewritten too: the shared call loop resumes inside each
    replacement. Left untranslated, the inner call fails on Spark
    (UNRESOLVED_ROUTINE, or INVALID_ARRAY_INDEX for Spark's own ELT).
    Expected values are the source dialects' for a=7, b=2, c=0."""
    pdf = pd.DataFrame({"a": [7], "b": [2], "c": [0]})
    got = execute(sql, tables={"t": pdf}, dialect=dialect, spark=spark).collect()
    assert got[0]["q"] == expected


def test_oracle_outer_join_plus_refuses(spark):
    """Oracle's legacy (+) outer-join marker changes join SHAPE — no
    token-level translation exists; the refusal names the fix instead
    of a bare Spark parse error."""
    pdf = pd.DataFrame({"x": [1.0]})
    with pytest.raises(Exception, match="LEFT/RIGHT"):
        execute(
            "SELECT a.x FROM t a, t b WHERE a.x = b.x (+)",
            tables={"t": pdf}, dialect="oracle", spark=spark,
        )


def test_json_arrow_operators(spark):
    """Round-11 sweep: pg/duckdb/sqlite/mysql JSON -> / ->> operators
    and pg #>> path arrays → get_json_object (loud parse errors
    untranslated). ->> (text, unquoting string leaves) is exactly
    get_json_object's contract; -> keeps JSON quoting and only
    translates in CHAINED position (intermediate objects agree —
    pinned against this box's duckdb), refusing as the final step.
    mysql's JSON_UNQUOTE(JSON_EXTRACT(...)) idiom collapses; bare
    JSON_EXTRACT refuses with guidance; sqlite's json_extract
    (which UNQUOTES, unlike mysql's) renames directly."""
    import duckdb as _dk
    assert _dk.connect().execute(
        """SELECT '{"a":{"b":2},"s":"hi"}' ->> 's',
                  '{"a":{"b":2}}' -> 'a' ->> 'b',
                  '{"arr":[5,6]}' -> 'arr' ->> 0"""
    ).fetchall() == [("hi", "2", "5")]
    pdf = pd.DataFrame({"j": ['{"a": {"b": 2}, "arr": [5,6], "s": "hi"}']})

    def one(sql, d):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT j ->> 's' AS q FROM t", "postgres") == "hi"
    assert one("SELECT j -> 'a' ->> 'b' AS q FROM t", "postgres") == "2"
    assert one("SELECT j -> 'arr' ->> 0 AS q FROM t", "postgres") == "5"
    assert one("SELECT j #>> '{a,b}' AS q FROM t", "postgres") == "2"
    assert one("SELECT j ->> '$.s' AS q FROM t", "mysql") == "hi"
    assert one(
        "SELECT JSON_UNQUOTE(JSON_EXTRACT(j, '$.a.b')) AS q FROM t", "mysql"
    ) == "2"
    assert one("SELECT json_extract(j, '$.a.b') AS q FROM t", "sqlite") == "2"
    # sqlite/duckdb accept raw keys AND '$' paths
    assert one("SELECT j ->> 's' AS q FROM t", "sqlite") == "hi"
    assert one("SELECT j -> 'a' ->> 'b' AS q FROM t", "duckdb") == "2"
    # pg # stays XOR when not part of #> (order of rewrites)
    assert one("SELECT 5 # 3 AS q", "postgres") == 6
    for d, bad, msg in (
        ("postgres", "SELECT j -> 's' AS q FROM t", "FINAL"),
        ("mysql", "SELECT JSON_EXTRACT(j, '$.s') AS q FROM t", "JSON_UNQUOTE"),
        ("postgres", "SELECT j ->> x AS q FROM t", "literal"),
    ):
        with pytest.raises(Exception, match=msg):
            execute(bad, tables={"t": pdf}, dialect=d, spark=spark)


def test_mysql_regexp_case_insensitive(spark):
    """Round-11 sweep: mysql REGEXP/RLIKE match with the default
    case-INSENSITIVE collation ('ABC' REGEXP 'abc' = 1); Spark's RLIKE
    is case-sensitive — both run, silently different. Operator →
    RLIKE CONCAT('(?i)', pattern); REGEXP BINARY (mysql's explicit
    case-sensitive form) → plain RLIKE; REGEXP_LIKE honors 'c'/'i'
    match_type and refuses other flags."""
    pdf = pd.DataFrame({"s": ["ABC", "xyz"]})

    def vals(sql):
        return [r["s"] for r in execute(
            sql, tables={"t": pdf}, dialect="mysql", spark=spark
        ).collect()]

    assert vals("SELECT s FROM t WHERE s REGEXP 'abc'") == ["ABC"]
    assert vals("SELECT s FROM t WHERE s RLIKE '^AB'") == ["ABC"]
    assert vals("SELECT s FROM t WHERE s NOT REGEXP 'abc'") == ["xyz"]
    # BINARY = explicit case-sensitive
    assert vals("SELECT s FROM t WHERE s REGEXP BINARY 'abc'") == []
    assert vals("SELECT s FROM t WHERE REGEXP_LIKE(s, 'aBc')") == ["ABC"]
    assert vals("SELECT s FROM t WHERE REGEXP_LIKE(s, 'abc', 'c')") == []
    assert vals("SELECT s FROM t WHERE REGEXP_LIKE(s, 'abc', 'i')") == ["ABC"]
    with pytest.raises(Exception, match="match_type"):
        execute(
            "SELECT REGEXP_LIKE(s, 'a', 'm') FROM t",
            tables={"t": pdf}, dialect="mysql", spark=spark,
        )
    # pg regex stays case-sensitive
    got = execute(
        "SELECT s FROM t WHERE s ~ 'abc'",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert got == []


def test_bare_array_literals(spark):
    """Round-11 sweep: duckdb/clickhouse/bigquery bare [1,2,3] array
    literals are a loud Spark parse error untranslated → ARRAY(...);
    subscripts on them keep their 1-based per-dialect semantics, and
    trino's ARRAY[...] constructor routes through the pg rewrite."""
    pdf = pd.DataFrame({"x": [1.0]})

    def one(sql, d):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT [1,2,3] AS q", "duckdb") == [1, 2, 3]
    assert one("SELECT [10,20,30][1] AS q", "duckdb") == 10
    assert one("SELECT [10,20,30][1] AS q", "clickhouse") == 10
    assert one("SELECT ARRAY_LENGTH([1,2,3]) AS q", "bigquery") == 3
    assert one("SELECT ARRAY[10,20][1] AS q", "trino") == 10
    # IN (...) before a literal bracket is not a subscript position
    assert one("SELECT [1,2][2] AS q FROM t WHERE x IN (1, 2)", "duckdb") == 2


def test_clickhouse_array_lambdas(spark):
    """Round-11 sweep: clickhouse higher-order array functions put the
    LAMBDA first (arrayMap(x -> ..., arr)); Spark's take the array
    first — swap + rename (loud unresolved-routine untranslated).
    Multi-array forms refuse loudly before the rename could corrupt
    them."""
    pdf = pd.DataFrame({"x": [1.0]})

    def one(sql):
        return execute(
            sql, tables={"t": pdf}, dialect="clickhouse", spark=spark
        ).collect()[0]["q"]

    assert one("SELECT arrayMap(x -> x * 2, [1,2,3]) AS q") == [2, 4, 6]
    assert one("SELECT arrayFilter(x -> x > 1, [1,2,3]) AS q") == [2, 3]
    assert one("SELECT arrayExists(x -> x > 2, [1,2,3]) AS q") is True
    assert one("SELECT arrayAll(x -> x > 0, [1,2,3]) AS q") is True
    with pytest.raises(Exception, match="multi-array"):
        execute(
            "SELECT arrayMap((x, y) -> x + y, [1], [2]) FROM t",
            tables={"t": pdf}, dialect="clickhouse", spark=spark,
        )


def test_bq_generate_array(spark):
    """Round-11 sweep: bigquery GENERATE_ARRAY(a, b) returns EMPTY
    when a > b; Spark's SEQUENCE auto-selects a DESCENDING step and
    returns rows — both run, silently different. The 2-arg form is
    IF-guarded; explicit negative steps map directly."""
    pdf = pd.DataFrame({"x": [1.0]})

    def one(sql):
        return execute(
            sql, tables={"t": pdf}, dialect="bigquery", spark=spark
        ).collect()[0]["q"]

    assert one("SELECT GENERATE_ARRAY(1, 5) AS q") == [1, 2, 3, 4, 5]
    assert one("SELECT GENERATE_ARRAY(5, 1) AS q") == []
    assert one("SELECT GENERATE_ARRAY(5, 1, -2) AS q") == [5, 3, 1]
    assert one("SELECT GENERATE_ARRAY(1, 6, 2) AS q") == [1, 3, 5]


def test_mysql_interval_arithmetic(spark):
    """Round-11 sweep: mysql DATE_ADD/DATE_SUB(expr, INTERVAL n unit)
    is unparseable by Spark's 2-arg date_add (loud), and the
    ADDDATE/SUBDATE days-int forms would map to Spark's DATE_ADD which
    silently DROPS a DATETIME's time-of-day (returns DATE) — all four
    route through TIMESTAMPADD, n may be any expression, composite
    units (DAY_HOUR) and intervalless DATE_ADD refuse loudly."""
    import datetime as dt
    pdf = pd.DataFrame({"d": pd.to_datetime(["2020-01-10 05:30:00"]), "n": [3]})

    def one(sql, d="mysql"):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT DATE_ADD(d, INTERVAL 1 DAY) AS q FROM t") == dt.datetime(2020, 1, 11, 5, 30)
    assert one("SELECT DATE_SUB(d, INTERVAL 2 MONTH) AS q FROM t") == dt.datetime(2019, 11, 10, 5, 30)
    # time-of-day survives the days-int forms (Spark date_add would drop it)
    assert one("SELECT ADDDATE(d, 3) AS q FROM t") == dt.datetime(2020, 1, 13, 5, 30)
    assert one("SELECT SUBDATE(d, n) AS q FROM t") == dt.datetime(2020, 1, 7, 5, 30)
    # dynamic interval value
    assert one("SELECT DATE_ADD(d, INTERVAL n MONTH) AS q FROM t") == dt.datetime(2020, 4, 10, 5, 30)
    for bad in (
        "SELECT DATE_ADD(d, INTERVAL '1 2' DAY_HOUR) AS q FROM t",
        "SELECT DATE_ADD(d, 3) AS q FROM t",
    ):
        with pytest.raises(Exception, match="DAY_HOUR|INTERVAL"):
            execute(bad, tables={"t": pdf}, dialect="mysql", spark=spark)


def test_clickhouse_date_arithmetic(spark):
    """Round-11 sweep: clickhouse dateAdd(unit, n, d) and
    dateDiff(unit|'unit', start, end) share tsql's argument order and
    its boundary-crossing DATEDIFF semantics ('count of unit
    boundaries crossed': dateDiff('year', '2019-12-31', '2020-01-10')
    = 1); addDays/subtractMonths/... map to TIMESTAMPADD. The 4-arg
    timezone form refuses loudly."""
    import datetime as dt
    pdf = pd.DataFrame({"d": pd.to_datetime(["2020-01-10 05:30:00"])})

    def one(sql):
        return execute(
            sql, tables={"t": pdf}, dialect="clickhouse", spark=spark
        ).collect()[0]["q"]

    assert one("SELECT addDays(d, 3) AS q FROM t") == dt.datetime(2020, 1, 13, 5, 30)
    assert one("SELECT subtractMonths(d, 2) AS q FROM t") == dt.datetime(2019, 11, 10, 5, 30)
    assert one("SELECT dateAdd(DAY, 3, d) AS q FROM t") == dt.datetime(2020, 1, 13, 5, 30)
    assert one("SELECT dateDiff('day', toDate('2020-01-01'), d) AS q FROM t") == 9
    # boundary crossing, not elapsed units
    assert one("SELECT dateDiff('year', toDate('2019-12-31'), d) AS q FROM t") == 1
    with pytest.raises(Exception, match="DATEDIFF"):
        execute(
            "SELECT dateDiff('day', d, d, 'UTC') AS q FROM t",
            tables={"t": pdf}, dialect="clickhouse", spark=spark,
        )


def test_substr_nonpositive_start(spark):
    """Round-11 sweep: pg/redshift SUBSTRING with start < 1 counts
    VIRTUAL positions before the string (substr('abcdef', -2, 5) =
    'ab'; substr('abcdef', 0, 3) = 'ab'); Spark counts negatives from
    the END ('ef') and reads 0 as 1 without consuming length ('abc').
    Literal starts <= 0 rewrite to start 1 with the length reduced by
    the consumed virtual span — in comma and FROM/FOR spellings, with
    any length expression. duckdb agrees with Spark on negatives
    (measured) but consumes at 0 like pg — zero-only there. mysql
    counts from the end like Spark — untouched."""
    pdf = pd.DataFrame({"s": ["abcdef"], "n": [5]})

    def one(sql, d="postgres"):
        return execute(sql, tables={"t": pdf}, dialect=d, spark=spark).collect()[0]["q"]

    assert one("SELECT substr(s, -2, 5) AS q FROM t") == "ab"
    assert one("SELECT substr(s, 0, 3) AS q FROM t") == "ab"
    assert one("SELECT substring(s FROM -2 FOR 5) AS q FROM t") == "ab"
    assert one("SELECT substring(s FROM -2) AS q FROM t") == "abcdef"
    # whole length consumed by the virtual span → empty, not an error
    assert one("SELECT substr(s, -10, 5) AS q FROM t") == ""
    # dynamic length expression works (reduction is arithmetic)
    assert one("SELECT substr(s, -2, n) AS q FROM t") == "ab"
    # positive starts untouched
    assert one("SELECT substr(s, 2, 3) AS q FROM t") == "bcd"
    # duckdb: pg-like at 0, Spark-like (from-end) on negatives
    assert one("SELECT substr(s, 0, 3) AS q FROM t", "duckdb") == "ab"
    assert one("SELECT substr(s, -2) AS q FROM t", "duckdb") == "ef"
    import duckdb as _dk
    assert _dk.connect().execute(
        "SELECT substr('abcdef', 0, 3), substr('abcdef', -2)"
    ).fetchall() == [("ab", "ef")]
    # mysql negative start counts from the end, like Spark — untouched
    assert one("SELECT substr(s, -2, 5) AS q FROM t", "mysql") == "ef"


def test_tsql_like_bracket_classes(spark):
    """Round-11 sweep: T-SQL LIKE supports [...] classes and [^...]
    negation; Spark LIKE reads the brackets literally — every row
    silently non-matching. Literal bracket patterns rewrite to an
    anchored RLIKE regex; a literal [ always means a class in T-SQL
    (literal bracket is spelled [[]). Unterminated classes and
    ESCAPE+class combinations refuse loudly."""
    pdf = pd.DataFrame({"x": ["5abc", "xabc", "a.c", "abc", "a[b", "3ab"]})

    def vals(sql):
        return [r["x"] for r in execute(
            sql, tables={"t": pdf}, dialect="tsql", spark=spark
        ).collect()]

    assert vals("SELECT x FROM t WHERE x LIKE '[0-9]ab%' ORDER BY x") == [
        "3ab", "5abc"
    ]
    # [^...] negation; _ wildcard; '.' is LITERAL in LIKE
    assert vals("SELECT x FROM t WHERE x LIKE 'a[^b]_' ORDER BY x") == [
        "a.c", "a[b"
    ]
    assert vals("SELECT x FROM t WHERE x LIKE 'a[^b].' ORDER BY x") == []
    # NOT LIKE keeps its polarity through the rewrite
    assert vals("SELECT x FROM t WHERE x NOT LIKE '[0-9]%' ORDER BY x") == [
        "a.c", "a[b", "abc", "xabc"
    ]
    # [[] spells a literal bracket; regex specials in classes escape
    assert vals("SELECT x FROM t WHERE x LIKE 'a[[]b'") == ["a[b"]
    # bracket-free patterns pass through as plain LIKE
    assert vals("SELECT x FROM t WHERE x LIKE 'a.c'") == ["a.c"]
    for bad in (
        "SELECT x FROM t WHERE x LIKE 'a[0-9'",
        "SELECT x FROM t WHERE x LIKE '[0-9]%' ESCAPE '!'",
    ):
        with pytest.raises(Exception, match="T-SQL LIKE"):
            execute(bad, tables={"t": pdf}, dialect="tsql", spark=spark)


def test_pg_like_operator_spellings(spark):
    """pg lexes LIKE into ~~, NOT LIKE into !~~, ILIKE into ~~*, NOT
    ILIKE into !~~* — the single-~ regex branch must not consume half
    the cluster (it used to emit ``RLIKE RLIKE``, an unparseable
    statement). Round-9 advisor fix."""
    pdf = pd.DataFrame({"a": ["xray", "Xmas", "yak"]})
    got = execute(
        "SELECT a FROM t WHERE a ~~ 'x%' ORDER BY a",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == ["xray"]
    got = execute(
        "SELECT a FROM t WHERE a ~~* 'x%' ORDER BY a",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == ["Xmas", "xray"]
    got = execute(
        "SELECT a FROM t WHERE a !~~ 'x%' ORDER BY a",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == ["Xmas", "yak"]
    got = execute(
        "SELECT a FROM t WHERE a !~~* 'x%' ORDER BY a",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == ["yak"]
    # regex ops still translate beside the LIKE spellings
    got = execute(
        "SELECT a FROM t WHERE a ~ '^x' AND a !~ 'k$' ORDER BY a",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == ["xray"]


def test_snowflake_extract_dayofweek(spark):
    """snowflake EXTRACT/DATE_PART dayofweek spellings carry the same
    Sunday=0 hazard the DAYOFWEEK() rewrite closes — all spellings must
    subtract one, exactly once (the fn rewrite emits EXTRACT(DOW ...),
    which the EXTRACT rewrite must not re-adjust). 2024-03-03 is a
    Sunday. Round-9 advisor fix."""
    for sql, want in [
        ("SELECT EXTRACT(DAYOFWEEK FROM DATE'2024-03-03') AS v", 0),
        ("SELECT EXTRACT(DAYOFWEEK FROM DATE'2024-03-04') AS v", 1),
        ("SELECT DATE_PART('dayofweek', DATE'2024-03-03') AS v", 0),
        ("SELECT DATE_PART(dayofweek, DATE'2024-03-04') AS v", 1),
        ("SELECT DATE_PART(dow, DATE'2024-03-03') AS v", 0),
        ("SELECT EXTRACT(DAYOFWEEKISO FROM DATE'2024-03-03') AS v", 7),
        ("SELECT DATE_PART('weekday_iso', DATE'2024-03-04') AS v", 1),
        ("SELECT DAYOFWEEK(DATE'2024-03-03') AS v", 0),  # single adjust
        ("SELECT EXTRACT(YEAR FROM DATE'2024-03-03') AS v", 2024),
    ]:
        got = execute(sql, tables={}, dialect="snowflake", spark=spark).collect()
        assert got[0]["v"] == want, sql


def test_mysql_time_format_mixed_codes_refuse(spark):
    """mysql TIME_FORMAT zeroes/NULLs DATE specifiers; a mixed format
    like '%Y %H:%i' must refuse (DATE_FORMAT would render the real
    year — silent divergence), while pure time formats translate.
    Round-9 advisor fix."""
    got = execute(
        "SELECT TIME_FORMAT(TIMESTAMP'2024-03-03 14:05:09', '%H:%i') AS v",
        tables={}, dialect="mysql", spark=spark,
    ).collect()
    assert got[0]["v"] == "14:05"
    for fmt in ("%Y %H:%i", "%Y-%m-%d", "%H:%i (%M)"):
        with pytest.raises(UnsupportedError, match="TIME_FORMAT"):
            transpile(f"SELECT TIME_FORMAT(t, '{fmt}') FROM x", "mysql")


def test_tsql_stuff_null_replacement(spark):
    """tsql STUFF(s, start, len, NULL) deletes the range WITHOUT
    inserting (returns 'aef') — a bare NULL in CONCAT would NULL the
    whole expression. Round-9 advisor fix."""
    got = execute(
        "SELECT STUFF('abcdef', 2, 3, NULL) AS v",
        tables={}, dialect="tsql", spark=spark,
    ).collect()
    assert got[0]["v"] == "aef"


def test_pg_distinct_on_key_not_in_select(spark):
    """pg evaluates DISTINCT ON in the FROM scope, so the key need not
    be projected (SELECT DISTINCT ON (k) v ... ORDER BY k, ts is
    legal); the rewrite carries keys through the QUALIFY wrap as
    EXCEPTed __don helpers so the outer ORDER BY resolves. Round-9
    advisor fix."""
    pdf = pd.DataFrame(
        {"k": ["a", "a", "b", "b"], "v": [1, 2, 3, 4], "ts": [10, 20, 30, 5]}
    )
    out = execute(
        "SELECT DISTINCT ON (k) v FROM t ORDER BY k, ts DESC",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    )
    assert out.columns == ["v"]
    assert [r["v"] for r in out.collect()] == [2, 3]
    # key aliased away in the projection
    out = execute(
        "SELECT DISTINCT ON (k) k AS kk, v FROM t ORDER BY k, ts",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    )
    assert out.columns == ["kk", "v"]
    assert [tuple(r) for r in out.collect()] == [("a", 1), ("b", 4)]
    # expression key, not projected, DESC kept on the outer sort
    out = execute(
        "SELECT DISTINCT ON (upper(k)) v FROM t ORDER BY upper(k) DESC, ts",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    )
    assert [r["v"] for r in out.collect()] == [4, 1]


def test_snowflake_object_construct_variant(spark):
    """OBJECT_CONSTRUCT -> PARSE_JSON(TO_JSON(NAMED_STRUCT(...))): a
    Spark VARIANT, so colon paths and :: casts work like snowflake's,
    NULL-valued pairs are omitted (to_json default == snowflake's
    contract), and missing keys read NULL."""
    pdf = pd.DataFrame({"k": ["x", "y"], "v": [1.0, None]})
    got = execute(
        "SELECT k, OBJECT_CONSTRUCT('a', v, 'n', OBJECT_CONSTRUCT('b', v * 2)):n.b::DOUBLE AS d, "
        "TO_JSON(OBJECT_CONSTRUCT('a', v)) AS js, "
        "OBJECT_CONSTRUCT('a', v):missing::STRING AS m "
        "FROM t ORDER BY k",
        tables={"t": pdf}, dialect="snowflake", spark=spark,
    ).collect()
    assert [(r["d"], r["js"], r["m"]) for r in got] == [
        (2.0, '{"a":1}', None),
        (None, "{}", None),
    ]
    got = execute(
        "SELECT OBJECT_CONSTRUCT():x::STRING AS e", tables={},
        dialect="snowflake", spark=spark,
    ).collect()
    assert got[0]["e"] is None


def test_snowflake_object_construct_refusals():
    """The forms that would silently diverge refuse loudly."""
    for bad, pat in [
        ("SELECT OBJECT_CONSTRUCT(*) FROM t", "row-wise"),
        ("SELECT OBJECT_CONSTRUCT('a') FROM t", "even arity"),
        ("SELECT OBJECT_CONSTRUCT(k, 1) FROM t", "string literals"),
        ("SELECT OBJECT_CONSTRUCT_KEEP_NULL('a', v) FROM t", "KEEP_NULL"),
        # snowflake keeps a last-wins single key; NAMED_STRUCT→TO_JSON
        # would emit duplicate JSON keys (engine-dependent extraction)
        ("SELECT OBJECT_CONSTRUCT('a', 1, 'a', 2) FROM t", "duplicate"),
        ("SELECT OBJECT_CONSTRUCT('a', 1, 'b', 2, 'a', 3) FROM t", "duplicate"),
    ]:
        with pytest.raises(UnsupportedError, match=pat):
            transpile(bad, "snowflake")
    # case-SENSITIVE comparison: 'a' and 'A' are distinct snowflake keys
    out = transpile("SELECT OBJECT_CONSTRUCT('a', 1, 'A', 2) FROM t", "snowflake")
    assert "NAMED_STRUCT" in out.upper()


def test_snowflake_object_construct_null_conf_pinned(spark):
    """The OBJECT_CONSTRUCT rewrite's omit-NULL-pairs parity depends on
    spark.sql.jsonGenerator.ignoreNullFields=true (the Spark default).
    execute() must refuse under a session that set it false — the
    alternative is TO_JSON keeping null struct fields and the result
    silently diverging from snowflake."""
    pdf = pd.DataFrame({"v": [1.0, None]})
    sql = "SELECT TO_JSON(OBJECT_CONSTRUCT('a', v)) AS js FROM t ORDER BY js"
    spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    try:
        with pytest.raises(UnsupportedError, match="ignoreNullFields"):
            execute(sql, tables={"t": pdf}, dialect="snowflake", spark=spark)
        # scoped: native Spark SQL with the same shape honors the
        # user's conf (that IS the requested semantics), no refusal
        got = execute(
            "SELECT TO_JSON(NAMED_STRUCT('a', CAST(NULL AS DOUBLE))) AS js",
            tables={}, spark=spark,
        ).collect()
        assert got[0]["js"] == '{"a":null}'
    finally:
        spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "true")
    got = execute(sql, tables={"t": pdf}, dialect="snowflake", spark=spark).collect()
    assert sorted(r["js"] for r in got) == ['{"a":1}', "{}"]


def test_pg_lateral_passthrough(spark):
    """Spark 4 supports correlated LATERAL subqueries natively; the pg
    pipeline must pass them through unmangled (top-N-per-group with
    ORDER BY ... LIMIT inside the lateral)."""
    pdf = pd.DataFrame({"k": ["a", "a", "a", "b"], "v": [1, 2, 3, 9]})
    got = execute(
        "SELECT k0.k, l.v FROM (SELECT DISTINCT k FROM t) k0, "
        "LATERAL (SELECT v FROM t WHERE t.k = k0.k ORDER BY v DESC LIMIT 2) l "
        "ORDER BY k0.k, l.v",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [(r["k"], r["v"]) for r in got] == [("a", 2), ("a", 3), ("b", 9)]


def test_bq_struct_literal_passthrough(spark):
    """bq STRUCT(x AS name) literals are native Spark syntax; pin the
    passthrough including field access."""
    got = execute(
        "SELECT STRUCT(1 AS a, 'x' AS b).b AS b, STRUCT(2 AS c).c + 1 AS d",
        tables={}, dialect="bigquery", spark=spark,
    ).collect()
    assert (got[0]["b"], got[0]["d"]) == ("x", 3)


# ---------------------------------------------------------------------------
# Round-10 batch: pg/duckdb 1-based subscripts, ARRAY literals, ANY/ALL,
# bq SAFE. prefix, mysql upsert refusal fidelity.


def test_pg_subscript_one_based(spark):
    """pg/duckdb subscripts are 1-based with NULL out-of-range; a
    passthrough would run on Spark's 0-based [] and silently read the
    WRONG element (the silent-corruption class). get() matches pg for
    every out-of-bounds/zero/negative/NULL index, ANSI mode included."""
    sql = (
        "SELECT (array(10,20,30))[1] AS e1, (array(10,20,30))[7] AS oob, "
        "(array(10,20,30))[0] AS zero, (array(10,20,30))[-2] AS neg, "
        "(array(10,20,30))[CAST(NULL AS INT)] AS nul"
    )
    got = execute(sql, tables={}, dialect="postgres", spark=spark).collect()[0]
    assert (got["e1"], got["oob"], got["zero"], got["neg"], got["nul"]) == (
        10, None, None, None, None,
    )
    # duckdb counts negative indexes from the END (Python-style); pg
    # returns NULL — the per-dialect emission must not conflate them
    got = execute(sql, tables={}, dialect="duckdb", spark=spark).collect()[0]
    assert (got["e1"], got["oob"], got["zero"], got["neg"], got["nul"]) == (
        10, None, None, 20, None,
    )
    # qualified columns, function-call LHS, and chained subscripts
    pdf = pd.DataFrame({"k": [1, 2]})
    got = execute(
        "SELECT t.arrs[2][1] AS x, sort_array(array(3*k, k))[1] AS y "
        "FROM (SELECT k, array(array(10*k), array(20*k)) AS arrs FROM t) t "
        "ORDER BY y",
        tables={"t": pdf}, dialect="postgres", spark=spark,
    ).collect()
    assert [(r["x"], r["y"]) for r in got] == [(20, 1), (40, 2)]


def test_pg_array_literal_rewrites_and_refusals(spark):
    got = execute(
        "SELECT (ARRAY[10,20,30])[1] AS e, ARRAY [5, 6] AS arr",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert got["e"] == 10 and got["arr"] == [5, 6]
    for bad, pat in [
        ("SELECT ARRAY[ARRAY[1]]", "nested"),
        ("SELECT ARRAY['a]b']", "nested, or a ']'"),
        ("SELECT ARRAY[]", "empty ARRAY[]"),
        ("SELECT (array(1,2,3))[1:2]", "slice"),
    ]:
        with pytest.raises(UnsupportedError, match=re.escape(pat)):
            transpile(bad, "postgres")


def test_pg_any_all_quantifiers(spark):
    """pg quantified comparisons: exists/forall share pg's 3-valued
    logic (probed: TRUE beats NULL beats FALSE for ANY, empty -> FALSE),
    subquery forms fold to IN/NOT IN exactly."""
    pdf = pd.DataFrame({"a": ["Apple", "banana", "Cherry"], "n": [1, 2, 3]})
    cases = [
        ("SELECT a FROM t WHERE n = ANY (ARRAY[1,3]) ORDER BY a", ["Apple", "Cherry"]),
        ("SELECT a FROM t WHERE a ILIKE ANY (ARRAY['a%','b%']) ORDER BY a", ["Apple", "banana"]),
        ("SELECT a FROM t WHERE a NOT LIKE ALL (ARRAY['A%','x%']) ORDER BY a", ["Cherry", "banana"]),
        ("SELECT a FROM t WHERE n <> ALL (ARRAY[1,2]) ORDER BY a", ["Cherry"]),
        ("SELECT a FROM t WHERE n < ANY (ARRAY[2]) ORDER BY a", ["Apple"]),
        ("SELECT a FROM t WHERE a ~ ANY (ARRAY['^A','^b']) ORDER BY a", ["Apple", "banana"]),
        ("SELECT a FROM t WHERE n = ANY (SELECT n FROM t WHERE n > 2) ORDER BY a", ["Cherry"]),
        ("SELECT a FROM t WHERE n <> ALL (SELECT n FROM t WHERE n > 2) ORDER BY a", ["Apple", "banana"]),
        ("SELECT a FROM t WHERE (n + 1) = ANY (ARRAY[2]) ORDER BY a", ["Apple"]),
        ("SELECT ALL a FROM t WHERE n = 1", ["Apple"]),  # SELECT ALL untouched
    ]
    for sql, want in cases:
        got = [r["a"] for r in execute(sql, tables={"t": pdf}, dialect="postgres", spark=spark).collect()]
        assert got == want, (sql, got, want)
    # three-valued logic edges, bit-exact with pg
    got = execute(
        "SELECT 5 = ANY (array(1, NULL)) AS no_match_null, "
        "1 = ANY (array(1, NULL)) AS match_wins, "
        "5 <> ALL (array(1, NULL)) AS all_null, "
        "5 = ANY (array()) AS empty_any",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert (got["no_match_null"], got["match_wins"], got["all_null"], got["empty_any"]) == (
        None, True, None, False,
    )


def test_pg_any_all_refusals():
    for bad, pat in [
        # inexpressible quantified subquery comparisons
        ("SELECT 1 < ALL (SELECT n FROM t)", "no Spark"),
        # LHS embedded in a larger expression would silently corrupt
        ("SELECT 1 FROM t WHERE n + 1 = ANY (ARRAY[2])", "parenthesize"),
    ]:
        with pytest.raises(UnsupportedError, match=pat):
            transpile(bad, "postgres")


def test_bq_safe_prefix(spark):
    pdf = pd.DataFrame({"n": [10, 0]})
    got = execute(
        "SELECT SAFE.DIVIDE(100, n) AS d, SAFE.MULTIPLY(n, 2) AS m "
        "FROM t ORDER BY n DESC",
        tables={"t": pdf}, dialect="bigquery", spark=spark,
    ).collect()
    assert [(r["d"], r["m"]) for r in got] == [(10.0, 20), (None, 0)]
    with pytest.raises(UnsupportedError, match=re.escape("SAFE.SUBSTR")):
        transpile("SELECT SAFE.SUBSTR(a, 1, 2) FROM t", "bigquery")


def test_mysql_upsert_refusal_fidelity(spark):
    """Upsert spellings refuse with the restructuring hint, not Spark's
    bare PARSE_SYNTAX_ERROR; join conditions over columns NAMED
    duplicate/key stay untouched."""
    for bad, pat in [
        ("INSERT INTO t (a) VALUES ('x') ON DUPLICATE KEY UPDATE a='y'", "DUPLICATE KEY"),
        ("REPLACE INTO t VALUES ('x', 1)", "REPLACE INTO"),
        ("INSERT IGNORE INTO t VALUES ('x', 1)", "INSERT IGNORE"),
    ]:
        with pytest.raises(UnsupportedError, match=pat):
            transpile(bad, "mysql")
    pdf = pd.DataFrame({"duplicate": [1, 2], "key": [1, 3]})
    got = execute(
        "SELECT count(*) AS c FROM t t1 JOIN t t2 ON t1.`duplicate` = t2.`key`",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()
    assert got[0]["c"] == 1


def test_duckdb_subscript_grid_matches_duckdb(spark):
    """Exhaustive (array x index) sweep, ONE query string on BOTH
    engines: duckdb's 1-based + from-the-end + NULL-out-of-range
    subscript contract, cell by cell. The verbatim-comparison shape
    makes a systematic off-by-one (the corruption class this rewrite
    fixes) impossible to miss."""
    import duckdb

    arrays = {"a3": "ARRAY[10, 20, 30]", "a1": "ARRAY[7]"}
    idxs = [-4, -3, -2, -1, 0, 1, 2, 3, 4]
    cols = [
        f"({arr})[{i}] AS {name}_{str(i).replace('-', 'm')}"
        for name, arr in arrays.items()
        for i in idxs
    ]
    sql = "SELECT " + ", ".join(cols)
    got = execute(sql, tables={}, dialect="duckdb", spark=spark).collect()[0]
    want = duckdb.sql(sql).fetchall()[0]
    cells = [c.rsplit(" AS ", 1)[1] for c in cols]
    assert tuple(got[c] for c in cells) == want


def test_pg_any_all_grid_matches_duckdb(spark):
    """Quantifier 3VL sweep, one query on both engines: every
    (value, array, op, quantifier) cell where DuckDB supports the pg
    spelling natively (= ANY, <> ALL, < ANY, >= ALL over ARRAY
    literals, NULL elements included)."""
    import duckdb

    vals = {"v1": "1", "v5": "5", "vn": "CAST(NULL AS INT)"}
    arrs = {
        "plain": "ARRAY[1, 2]",
        "withnull": "ARRAY[1, NULL]",
        "allnull": "ARRAY[CAST(NULL AS INT)]",
    }
    quants = {"eqany": "= ANY", "neall": "<> ALL", "ltany": "< ANY", "geall": ">= ALL"}
    cols = [
        f"{v} {q} ({arr}) AS {vn}_{an}_{qn}"
        for vn, v in vals.items()
        for an, arr in arrs.items()
        for qn, q in quants.items()
    ]
    sql = "SELECT " + ", ".join(cols)
    got = execute(sql, tables={}, dialect="postgres", spark=spark).collect()[0]
    want = duckdb.sql(sql).fetchall()[0]
    cells = [c.rsplit(" AS ", 1)[1] for c in cols]
    mism = [
        (c, got[c], w) for c, w in zip(cells, want) if got[c] != w
    ]
    assert not mism, mism


def test_pg_caret_exponentiation(spark):
    """pg/duckdb/redshift infix ^ is EXPONENTIATION; Spark's is XOR —
    2^3 parsed on both and silently read 1. Precedence pins: ^ binds
    tighter than binary ops, UNARY minus binds tighter than ^
    (-2^2 = 4), left-associative (2^3^2 = 64); pg's bitwise XOR
    spelling '#' maps onto Spark's '^' exactly."""
    got = execute(
        "SELECT 2 ^ 3 AS p, 2 * 3 ^ 2 AS prec, -2 ^ 2 AS unary, "
        "7 - 2 ^ 2 AS binary_minus, 2 ^ -3 AS neg_exp, "
        "2 ^ 3 ^ 2 AS assoc, 5 # 3 AS xor",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert (
        got["p"], got["prec"], got["unary"], got["binary_minus"],
        got["neg_exp"], got["assoc"], got["xor"],
    ) == (8.0, 18.0, 4.0, 3.0, 0.125, 64.0, 6)
    got = execute(
        "SELECT (ARRAY[2,4])[1] ^ 2 AS chained", tables={},
        dialect="duckdb", spark=spark,
    ).collect()[0]
    assert got["chained"] == 4.0


def test_log_base_semantics_per_dialect(spark):
    """Single-arg LOG is log10 in pg/duckdb/redshift/sqlite/teradata
    but ln on Spark (silently off by ln(10) untranslated); BigQuery's
    two-arg LOG(x, base) is the REVERSE of Spark's LOG(base, x)
    (LOG(100,10) silently read 0.5). mysql/tsql/clickhouse single-arg
    LOG is ln on both — untouched."""
    for d in ("postgres", "duckdb", "redshift", "sqlite", "teradata"):
        got = execute(
            "SELECT LOG(100) AS l10, LOG(2, 8) AS l2",
            tables={}, dialect=d, spark=spark,
        ).collect()[0]
        assert (got["l10"], got["l2"]) == (2.0, 3.0), d
    got = execute(
        "SELECT LOG(100, 10) AS lb, ROUND(LOG(EXP(1.0)), 6) AS ln1",
        tables={}, dialect="bigquery", spark=spark,
    ).collect()[0]
    assert (got["lb"], got["ln1"]) == (2.0, 1.0)
    got = execute(
        "SELECT ROUND(LOG(EXP(1.0)), 6) AS ln1", tables={},
        dialect="mysql", spark=spark,
    ).collect()[0]
    assert got["ln1"] == 1.0


def test_mysql_pipes_are_logical_or(spark):
    """mysql's default sql_mode (no PIPES_AS_CONCAT) reads || as
    logical OR; Spark reads it as concat — (1=2)||(3=3) silently
    produced the string 'falsetrue'-shaped garbage instead of TRUE.
    Non-boolean operands now fail LOUDLY with a type error (the
    corruption was the silent path); no-whitespace a||b must not fuse
    into one identifier."""
    pdf = pd.DataFrame({"a": [1, 5], "b": [2, 2]})
    got = execute(
        "SELECT a FROM t WHERE a=1||b=99 ORDER BY a",
        tables={"t": pdf}, dialect="mysql", spark=spark,
    ).collect()
    assert [r["a"] for r in got] == [1]
    out = transpile("SELECT (a=1)||(b=2) FROM t", "mysql")
    assert "||" not in out and " OR " in out


def test_clickhouse_position_args_swapped(spark):
    """clickhouse position(haystack, needle[, start]) is the reverse
    of Spark's position(substr, str[, start]) — both run, silently
    returning the wrong offset. The standard position(x IN y) spelling
    is identical on both and passes through."""
    got = execute(
        "SELECT position('abcdef', 'cd') AS p2, "
        "position('abcdefcd', 'cd', 4) AS p3, "
        "position('cd' IN 'abcdef') AS pin",
        tables={}, dialect="clickhouse", spark=spark,
    ).collect()[0]
    assert (got["p2"], got["p3"], got["pin"]) == (3, 7, 3)


def test_trino_clickhouse_subscripts_one_based(spark):
    """trino and clickhouse arrays are also 1-based (the passthrough
    silently read the wrong element): trino raises on ANY invalid
    index — exactly Spark's ANSI [] after the -1 shift; clickhouse
    counts negatives from the end (duckdb-style). Documented
    divergence: clickhouse returns the element type's default out of
    range, this emission returns NULL."""
    for d in ("trino", "presto"):
        got = execute(
            "SELECT (array(10,20,30))[1] AS a, (array(10,20,30))[3] AS b",
            tables={}, dialect=d, spark=spark,
        ).collect()[0]
        assert (got["a"], got["b"]) == (10, 30)
    with pytest.raises(Exception):
        execute(
            "SELECT (array(10,20,30))[0] AS r", tables={},
            dialect="trino", spark=spark,
        ).collect()
    got = execute(
        "SELECT (array(10,20,30))[1] AS a, (array(10,20,30))[-1] AS b, "
        "(array(10,20,30))[7] AS oob",
        tables={}, dialect="clickhouse", spark=spark,
    ).collect()[0]
    assert (got["a"], got["b"], got["oob"]) == (10, 30, None)


def test_greatest_least_null_propagation(spark):
    """mysql/oracle/clickhouse GREATEST/LEAST return NULL when ANY
    argument is NULL; Spark (like pg) ignores NULLs — both run,
    silently different. Nested calls propagate end to end (the inner
    rewrite must happen FIRST so the outer IS NULL test sees the
    null-propagating form)."""
    for d in ("mysql", "oracle", "clickhouse"):
        got = execute(
            "SELECT GREATEST(1, CAST(NULL AS INT), 3) AS g, "
            "LEAST(4, 2, 9) AS l",
            tables={}, dialect=d, spark=spark,
        ).collect()[0]
        assert (got["g"], got["l"]) == (None, 2), d
    got = execute(
        "SELECT GREATEST(GREATEST(CAST(NULL AS INT), 1), 5) AS nested, "
        "GREATEST(2, LEAST(7, 3)) AS mixed",
        tables={}, dialect="mysql", spark=spark,
    ).collect()[0]
    assert (got["nested"], got["mixed"]) == (None, 3)
    # pg/duckdb ignore NULL args exactly like Spark — untouched
    got = execute(
        "SELECT GREATEST(1, CAST(NULL AS INT), 3) AS g",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert got["g"] == 3


def test_concat_skips_nulls_per_dialect(spark):
    """pg/duckdb/tsql/oracle CONCAT() ignores NULL arguments; Spark's
    returns NULL — both run, silently different. The rewrite
    (CONCAT_WS('', CAST(... AS STRING))) also reproduces the sources'
    any-type coercion. mysql's CONCAT propagates NULL like Spark and
    is untouched, as is the || operator (NULL-propagating on both).
    Redshift's CONCAT is 2-arg and NULL-PROPAGATING (AWS docs) —
    passthrough, matching Spark."""
    for d in ("postgres", "duckdb", "tsql", "oracle"):
        got = execute(
            "SELECT CONCAT('a', CAST(NULL AS STRING), 'b') AS r",
            tables={}, dialect=d, spark=spark,
        ).collect()[0]
        assert got["r"] == "ab", d
    got = execute(
        "SELECT CONCAT('a', CAST(NULL AS STRING)) AS r",
        tables={}, dialect="redshift", spark=spark,
    ).collect()[0]
    assert got["r"] is None  # redshift CONCAT NULL-propagates like Spark
    got = execute(
        "SELECT CONCAT(1, 2.5, '-', DATE'2024-01-15') AS mixed, "
        "CONCAT('x', CONCAT(CAST(NULL AS STRING), 'y')) AS nested",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert (got["mixed"], got["nested"]) == ("12.5-2024-01-15", "xy")
    got = execute(
        "SELECT CONCAT('a', CAST(NULL AS CHAR(1)), 'b') AS r",
        tables={}, dialect="mysql", spark=spark,
    ).collect()[0]
    assert got["r"] is None
    got = execute(
        "SELECT 'a' || CAST(NULL AS STRING) AS op",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert got["op"] is None  # the || operator NULL-propagates on both


def test_literal_delimiter_split_per_dialect(spark):
    """trino/presto/bigquery SPLIT, pg string_to_array and duckdb
    string_split take LITERAL delimiters; Spark's split() takes a
    REGEX — split('a.b', '.') ran on both and silently exploded into
    empty strings. The \\\\Q...\\\\E wrap quotes ANY delimiter
    expression, dynamic ones included."""
    cases = [
        ("trino", "SELECT split('a.b.c', '.') AS r", ["a", "b", "c"]),
        ("trino", "SELECT split('a|b|c', '|', 2) AS r", ["a", "b|c"]),
        ("bigquery", "SELECT SPLIT('a.b', '.') AS r", ["a", "b"]),
        ("bigquery", "SELECT SPLIT('a,b') AS r", ["a", "b"]),  # default ','
        ("postgres", "SELECT string_to_array('a.b.c', '.') AS r", ["a", "b", "c"]),
        ("duckdb", "SELECT string_split('a|b', '|') AS r", ["a", "b"]),
        ("duckdb", "SELECT str_split('a.b', '.') AS r", ["a", "b"]),
        # dynamic delimiter expression
        ("trino", "SELECT split('a.b', substr('.x', 1, 1)) AS r", ["a", "b"]),
        # trailing empty fields are kept (all sources agree)
        ("trino", "SELECT split('a,b,', ',') AS r", ["a", "b", ""]),
    ]
    for d, sql, want in cases:
        got = execute(sql, tables={}, dialect=d, spark=spark).collect()[0]["r"]
        assert got == want, (d, sql, got, want)
    # composes with the 1-based subscript rewrite
    got = execute(
        "SELECT (string_to_array('a.b.c', '.'))[2] AS r",
        tables={}, dialect="postgres", spark=spark,
    ).collect()[0]
    assert got["r"] == "b"


def test_snowflake_clickhouse_split_literal(spark):
    """snowflake SPLIT is literal-delimiter too (silent regex
    explosion untranslated); snowflake array access stays 0-based —
    matching Spark's [] — so only the delimiter needs quoting.
    clickhouse splitByChar/splitByString put the SEPARATOR first:
    swapped into Spark order, renamed, then regex-quoted."""
    got = execute(
        "SELECT SPLIT('a.b.c', '.') AS r, SPLIT('127.0.0.1', '.')[0] AS head",
        tables={}, dialect="snowflake", spark=spark,
    ).collect()[0]
    assert (got["r"], got["head"]) == (["a", "b", "c"], "127")
    got = execute(
        "SELECT splitByChar(',', 'a,b,c') AS a, splitByString('||', 'a||b') AS b",
        tables={}, dialect="clickhouse", spark=spark,
    ).collect()[0]
    assert (got["a"], got["b"]) == (["a", "b", "c"], ["a", "b"])


def test_clickhouse_split_max_substrings_refuses(spark):
    """3-arg splitByChar/splitByString(sep, s, max_substrings): the cap
    DISCARDS the tail in clickhouse while Spark's split limit keeps the
    remainder in the last element — no faithful rewrite exists, and
    before the refusal the unconditional rename shipped split(sep, s, n)
    with reversed args and a regex delimiter: silently wrong values
    (round-10 ADVICE, high)."""
    import pytest

    from xorbits_sql_spark.errors import UnsupportedError

    for fn in ("splitByChar", "splitByString"):
        with pytest.raises(UnsupportedError, match="max_substrings"):
            execute(
                f"SELECT {fn}(',', 'a,b,c', 2) AS r",
                tables={}, dialect="clickhouse", spark=spark,
            )
    # the 2-arg form still works after the guard
    got = execute(
        "SELECT splitByChar('.', 'x.y') AS r",
        tables={}, dialect="clickhouse", spark=spark,
    ).collect()[0]
    assert got["r"] == ["x", "y"]


def _pass_rows():
    """(position, dialects, name, keywords) per _PASSES row. A partial
    row is named by its function; a _for_each_scope row by the scope
    rewrite it applies."""
    from functools import partial

    from xorbits_sql_spark.dialect import _PASSES, _for_each_scope

    rows = []
    for pos, (dialects, rewrite) in enumerate(_PASSES):
        kw = rewrite.keywords if isinstance(rewrite, partial) else {}
        fn = rewrite.func if isinstance(rewrite, partial) else rewrite
        if fn is _for_each_scope:
            fn = kw["fn"]
        rows.append((pos, set(dialects), fn.__name__, kw))
    return rows


# (first, then): every dialect that runs both passes runs `first`
# before `then`, as the pass docstrings and row comments require.
_ORDERED_PASSES = [
    # FETCH/OFFSET folded to LIMIT before anything that reads LIMIT
    ("_fetch_first_to_limit", "_rewrite_top"),
    ("_fetch_first_to_limit", "_rewrite_qualify"),
    ("_fetch_first_to_limit", "_rewrite_oracle_rownum"),
    ("_fetch_first_to_limit", "_rewrite_order_by_nulls"),
    ("_rewrite_duckdb_intdiv", "_rewrite_int_literal_division"),
    ("_rewrite_pg_array_literal", "_rewrite_bare_array_literal"),
    ("_rewrite_bare_array_literal", "_rewrite_pg_subscript"),
    ("_rewrite_pg_array_literal", "_rewrite_pg_subscript"),
    ("_rewrite_json_arrow_ops", "_rewrite_caret_power"),
    ("_rewrite_caret_power", "_pg_hash_to_caret"),
    ("_rewrite_caret_power", "_rewrite_int_literal_division"),
    ("_rewrite_pg_regex_ops", "_rewrite_pg_any_all"),
    ("_rewrite_pg_epoch_to_timestamp", "_rewrite_oracle_fmt"),
    ("_rewrite_distinct_on", "_rewrite_order_by_nulls"),
    ("_rewrite_extract_dow", "_rewrite_fn_to_extract"),
]


@pytest.mark.parametrize("first, then", _ORDERED_PASSES)
def test_pass_table_order(first, then):
    """Each documented ordering pair holds by row position for every
    dialect that runs both passes. duckdb's `//` pass shares no dialect
    with integer-literal division, so that pair is pinned by row
    position alone."""
    rows = _pass_rows()
    pos_first = [p for p, _, name, _ in rows if name == first]
    pos_then = [p for p, _, name, _ in rows if name == then]
    assert pos_first and pos_then, (first, then)
    shared = 0
    for d in {d for _, ds, _, _ in rows for d in ds}:
        a = [p for p, ds, name, _ in rows if name == first and d in ds]
        b = [p for p, ds, name, _ in rows if name == then and d in ds]
        if a and b:
            shared += 1
            assert max(a) < min(b), (d, first, then)
    if first == "_rewrite_duckdb_intdiv":
        assert not shared and max(pos_first) < min(pos_then)
    else:
        assert shared, (first, then)


@pytest.mark.parametrize(
    "dialect, fname",
    [("clickhouse", f) for f in (
        "SPLITBYCHAR", "SPLITBYSTRING",
        "ARRAYMAP", "ARRAYFILTER", "ARRAYEXISTS", "ARRAYALL",
    )] + [("sqlite", "LIKE")],
)
def test_pass_table_refuses_then_swaps_then_renames(dialect, fname):
    """Argument-reversed calls refuse unhandled arities, then swap,
    then rename: a rename first would ship the reversed 3-arg form
    under Spark's name."""
    rows = [(p, name, kw) for p, ds, name, kw in _pass_rows() if dialect in ds]
    refuse = [p for p, name, kw in rows
              if name == "_refuse_unswapped_arity" and kw["fname"] == fname]
    swap = [p for p, name, kw in rows
            if name == "_swap_first_two_args" and kw["fname"] == fname]
    rename = [p for p, name, kw in rows
              if name == "_rewrite_func_names" and fname in kw["mapping"]]
    assert len(refuse) == len(swap) == len(rename) == 1, (refuse, swap, rename)
    assert refuse[0] < swap[0] < rename[0]


def test_pass_table_names_resolved_dialects():
    """Every dialect a row names is one the table can see: a
    family-resolved, non-Spark KNOWN_DIALECTS name. A typo or an alias
    ("postgresql", "presto") would silently switch the pass off."""
    from xorbits_sql_spark.dialect import (
        _DIALECT_FAMILY, _SPARK_DIALECTS, KNOWN_DIALECTS,
    )

    seen = {_DIALECT_FAMILY.get(d, d) for d in KNOWN_DIALECTS if d}
    seen -= _SPARK_DIALECTS
    assert "postgresql" not in seen and "presto" not in seen
    for pos, dialects, name, _ in _pass_rows():
        assert dialects and dialects <= seen, (pos, name, dialects - seen)
