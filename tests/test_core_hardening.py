"""Regression tests for the round-6 core/table/plans review fixes:
plan-gate regexes that matched nothing, non-injective view flattening,
aliases named like a registered db in the qualified-name rewrite,
empty-table schemas, and the output_rows metric pick."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xorbits_sql_spark import execute
from xorbits_sql_spark.dialect import KNOWN_DIALECTS
from xorbits_sql_spark.errors import UnsupportedError


def test_exchange_count_actually_counts(spark):
    """The old single-line regex could never match formatted explain
    output (node name and Arguments print on separate lines), so every
    ==0 gate passed vacuously."""
    from xorbits_sql_spark.plans.explain import exchange_count

    df = spark.range(0, 1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert exchange_count(df) >= 1
    assert exchange_count(spark.range(0, 10)) == 0
    # broadcast exchange is not a shuffle
    small = spark.range(0, 5).withColumnRenamed("id", "k")
    j = spark.range(0, 100).withColumn("k", F.col("id") % 5).join(
        F.broadcast(small), "k"
    )
    assert exchange_count(j) == 0


def test_pushed_filters_survive_nested_brackets(spark, tmp_path):
    from xorbits_sql_spark.plans.explain import pushed_filters

    p = str(tmp_path / "t.parquet")
    spark.range(0, 100).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("id").isin(1, 2, 3))
    entries = pushed_filters(df)
    joined = ";".join(entries)
    assert "In(id, [1,2,3])" in joined  # previously truncated at '[1,2,3'


def test_view_name_flattening_is_injective(spark):
    """('a','b__c') and ('a__b','c') previously flattened to the same
    view name and the second registration silently clobbered the first."""
    got = execute(
        "SELECT * FROM a.b__c",
        tables={"a": {"b__c": [{"v": 1}]}, "a__b": {"c": [{"v": 999}]}},
        spark=spark,
    ).collect()
    assert [r["v"] for r in got] == [1]


def test_single_part_name_colliding_with_flattened_multi_part_refuses(spark):
    """Escaping only covers multi-part names: a single-part table
    literally named 'a__b' still flattens to the same view as ('a','b').
    Registration must refuse the collision instead of silently
    clobbering one of the views (round-6 ADVICE)."""
    with pytest.raises(UnsupportedError, match="flatten to temp view"):
        execute(
            "SELECT * FROM a__b",
            tables={"a": {"b": [{"v": 1}]}, "a__b": [{"v": 2}]},
            spark=spark,
        )
    # reverse registration order hits the same guard
    with pytest.raises(UnsupportedError, match="flatten to temp view"):
        execute(
            "SELECT * FROM a__b",
            tables={"a__b": [{"v": 2}], "a": {"b": [{"v": 1}]}},
            spark=spark,
        )


def test_alias_shadows_registered_qualified_name(spark):
    """SELECT db.t FROM orders AS db references the alias's column, not
    the table registered as ('db','t') — the rewrite must not corrupt it."""
    tables = {"db": {"t": [{"v": 1}]}, "orders": [{"t": 7, "c": 2}]}
    got = execute("SELECT db.t AS t FROM orders AS db", tables=tables, spark=spark)
    assert got.collect()[0]["t"] == 7
    bare = execute("SELECT db.t AS t FROM orders db", tables=tables, spark=spark)
    assert bare.collect()[0]["t"] == 7
    # ...and an unshadowed qualified reference still rewrites
    q = execute("SELECT SUM(v) AS s FROM db.t", tables=tables, spark=spark)
    assert q.collect()[0]["s"] == 1


def test_alias_shadowing_is_scoped_to_its_query_block(spark):
    """An alias bound inside a subquery must not suppress rewriting of a
    registered db.t in an unrelated outer scope (round-6 ADVICE: global
    alias collection made the outer reference fail with
    TABLE_OR_VIEW_NOT_FOUND)."""
    tables = {"db": {"t": [{"v": 5}]}, "orders": [{"t": 7}]}
    # the derived table binds alias `db` INSIDE its own scope only;
    # the outer FROM db.t must still rewrite to the flattened view
    got = execute(
        "SELECT v, (SELECT MAX(db.t) FROM orders AS db) AS mx FROM db.t",
        tables=tables,
        spark=spark,
    ).collect()
    assert (got[0]["v"], got[0]["mx"]) == (5, 7)
    # and an outer-bound alias still shadows inside nested subqueries
    # (correlation): no rewrite of db.t within the inner block
    corr = execute(
        "SELECT t FROM orders AS db "
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.t = db.t)",
        tables=tables,
        spark=spark,
    ).collect()
    assert [r["t"] for r in corr] == [7]


def test_derived_table_alias_does_not_shadow_its_own_body(spark):
    """FROM (SELECT .. FROM db.t) AS db: the alias is not in scope
    inside the subquery that defines it, so the inner db.t must still
    rewrite to the flattened view (round-7 review finding — the scoped
    shadowing bound the alias at the outer path, which is a prefix of
    the subquery body's path too)."""
    tables = {"db": {"t": [{"v": 5}]}}
    got = execute(
        "SELECT v FROM (SELECT v FROM db.t WHERE v > 0) AS db",
        tables=tables,
        spark=spark,
    ).collect()
    assert [r["v"] for r in got] == [5]
    # ...and the alias still shadows where it IS in scope (outside)
    got2 = execute(
        "SELECT db.v FROM (SELECT v FROM db.t) AS db",
        tables=tables,
        spark=spark,
    ).collect()
    assert [r["v"] for r in got2] == [5]


def test_read_csv_guard_lexes_mysql_escapes(spark, tmp_path):
    """The READ_CSV scan lexes the transpiled Spark text, where
    backslash escapes a quote: mysql input's ``'it\\'s'`` stays one
    literal, or the phantom string opened at \\' would swallow a REAL
    READ_CSV call (round-7 review finding)."""
    p = tmp_path / "m.csv"
    p.write_text("a\n1\n")
    got = execute(
        rf"SELECT 'it\'s' AS x, a FROM READ_CSV('{p}') AS t",
        dialect="mysql",
        spark=spark,
    ).collect()
    assert [r["a"] for r in got] == [1]
    assert got[0]["x"] == "it's"


_T1 = pd.DataFrame({"a": [1, 2, 3], "k": [1, 1, 2]})
_T2 = pd.DataFrame({"k": [1, 2], "v": [10, 20]})


@pytest.mark.parametrize(
    "sql, want",
    [
        ("SELECT a FROM db.t1 AS db", [1, 2, 3]),
        ("SELECT db.a FROM db.t1 db", [1, 2, 3]),
        (
            "SELECT x.a FROM (SELECT * FROM db.t1) AS db, "
            "LATERAL (SELECT * FROM db.t1 WHERE a = db.a) x",
            [1, 2, 3],
        ),
        ("SELECT (SELECT MAX(v) FROM db.t2) AS m FROM db.t1 AS db", [20]),
    ],
)
def test_alias_named_like_db_keeps_table_references(spark, sql, want):
    """A registered db.t in a table position is a table reference even
    where an alias ``db`` is in scope: the alias names a relation, so
    ``FROM db.t1 AS db`` and a LATERAL or scalar subquery's ``FROM
    db.t1`` still rewrite. Each query yields one row per t1 row."""
    rows = execute(
        sql, tables={"db": {"t1": _T1, "t2": _T2}}, spark=spark
    ).collect()
    assert len(rows) == 3
    assert sorted(set(r[0] for r in rows)) == want


def test_qualified_chain_rewrites_and_expression_from_does_not(spark):
    """``db.t1.a`` and ``db.t1.*`` head a dotted chain and rewrite with
    the table, as do a statement-level FROM-first query and DESCRIBE;
    a ``db.t`` after an expression FROM (EXTRACT, IS DISTINCT FROM), or
    heading a chain when ``db.t`` is no table reference in the text, is
    alias ``db``'s column and stays as written."""
    tables = {"db": {"t1": _T1}}
    got = execute("SELECT db.t1.a FROM db.t1", tables=tables, spark=spark)
    assert sorted(r["a"] for r in got.collect()) == [1, 2, 3]
    got = execute("SELECT db.t1.* FROM db.t1", tables=tables, spark=spark)
    assert sorted(tuple(r) for r in got.collect()) == [(1, 1), (2, 1), (3, 2)]
    got = execute("FROM db.t1 SELECT a", tables=tables, spark=spark)
    assert sorted(r["a"] for r in got.collect()) == [1, 2, 3]
    got = execute("DESCRIBE db.t1", tables=tables, spark=spark)
    assert [r["col_name"] for r in got.collect()] == ["a", "k"]

    got = execute(
        "SELECT db.t.f AS f FROM orders AS db",
        tables={"db": {"t": _T1}, "orders": spark.sql("SELECT named_struct('f', 5) AS t")},
        spark=spark,
    )
    assert [r["f"] for r in got.collect()] == [5]

    orders = [{"a": 1, "t": datetime.date(2024, 5, 1)}]
    got = execute(
        "SELECT EXTRACT(YEAR FROM db.t) AS y FROM orders AS db",
        tables={"db": {"t": [{"v": 1}]}, "orders": orders},
        spark=spark,
    )
    assert [r["y"] for r in got.collect()] == [2024]
    got = execute(
        "SELECT a FROM orders AS db WHERE db.a IS DISTINCT FROM db.t",
        tables={"db": {"t": [{"v": 1}]}, "orders": [{"a": 1, "t": 1}, {"a": 2, "t": 3}]},
        spark=spark,
    )
    assert [r["a"] for r in got.collect()] == [2]


@pytest.mark.parametrize("dialect", sorted(KNOWN_DIALECTS, key=str), ids=repr)
def test_read_csv_alias_schema_in_every_dialect(spark, tmp_path, dialect):
    """READ_CSV is found in the transpiled text of every dialect, and
    its alias still keys the schema lookup."""
    p = tmp_path / "odd_stem.csv"
    p.write_text("a|b\n3|4.25\n1|2.50\n")
    df = execute(
        f"SELECT part.a, part.b FROM READ_CSV('{p}', 'delimiter', '|') AS part",
        schema={"part": {"a": "bigint", "b": "decimal(10,2)"}},
        dialect=dialect,
        spark=spark,
    )
    assert dict(df.dtypes) == {"a": "bigint", "b": "decimal(10,2)"}
    assert sorted(r["a"] for r in df.collect()) == [1, 3]


def test_qualified_rewrite_lexes_backslash_escapes_like_spark(spark):
    """Post-transpile text is Spark SQL, where backslash escapes a quote
    inside a string literal; mysql-fallback output legally contains
    ``'it\\'s'``. Lexing the rewrite stage with the ANSI rule split such
    literals at the escape, letting a registered db.tbl pattern inside
    the literal get rewritten — silent string corruption (round-6
    ADVICE, medium)."""
    pdf = pd.DataFrame({"note": ["see db.tbl's data", "other"]})
    got = execute(
        r"SELECT note FROM db.tbl WHERE note = 'see db.tbl\'s data'",
        tables={"db": {"tbl": pdf}},
        dialect="mysql",
        spark=spark,
    ).collect()
    assert [r["note"] for r in got] == ["see db.tbl's data"]


def test_empty_list_table_with_declared_schema(spark):
    df = execute(
        "SELECT * FROM t", schema={"t": {"a": "int"}}, tables={"t": []}, spark=spark
    )
    assert df.count() == 0
    assert dict(df.dtypes) == {"a": "int"}
    with pytest.raises(UnsupportedError, match="empty table"):
        execute("SELECT * FROM t", tables={"t": []}, spark=spark)


def test_empty_pandas_table_with_declared_schema(spark):
    empty = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    df = execute(
        "SELECT * FROM t", schema={"t": {"a": "int"}}, tables={"t": empty}, spark=spark
    )
    assert df.count() == 0
    assert dict(df.dtypes) == {"a": "int"}
    with pytest.raises(UnsupportedError, match="empty table"):
        execute("SELECT * FROM t", tables={"t": empty}, spark=spark)


def test_output_rows_prefers_real_operators(spark, tmp_path):
    from xorbits_sql_spark.plans import collect_metrics

    p = str(tmp_path / "m.parquet")
    spark.range(0, 100).write.parquet(p)
    agg = spark.read.parquet(p).groupBy((F.col("id") % 3).alias("k")).count()
    agg.collect()
    m = collect_metrics(agg)
    # the topmost real operator (final aggregate) emits 3 rows; the old
    # pick could land on scan-side decode plumbing
    assert m["output_rows"] == 3
    assert m["scan_rows"] == 100