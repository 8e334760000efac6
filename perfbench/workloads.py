"""The workloads: their seeded inputs, operations and oracles.

An operation (op) is what the closed loop times:

* ``ApiOp`` — one ``execute()`` call plus ``toPandas()`` of its result;
  its oracle is hand-written DuckDB SQL over the same pandas frames;
* ``PipelineOp`` — one registry entry: build, materialize through a
  noop-sink write, release cached intermediates; its oracle is the
  entry's own registry ``oracle`` SQL over the same parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

import duckdb

import datagen

# api_small: reference-shaped t1/t2 frames.
SMALL_ROWS = 10_000
# operator_pipelines: parquet tables for the registry entries.
PIPELINE_SF = 0.01
# Registry entries timed by operator_pipelines, by short id: the heavy
# construction tail first, then two relational contrasts.
PIPELINES = {
    "t15": "t15_blocking_quality_audit",
    "r74": "r74_pagerank",
    "q67": "q67_doc_simhash",
    "r72": "r72_kmeans_lloyd",
    "r63": "r63_dedup_clusters",
    "q01": "q01_pricing_summary",
    "q18": "q18_large_orders",
}


@dataclass
class ApiOp:
    name: str
    sql: str
    dialect: str | None
    tables: dict[str, Any]
    oracle: str
    schema: dict[str, Any] | None = None


@dataclass
class PipelineOp:
    name: str
    spec: Any  # xorbits_sql_spark.queries.QuerySpec


@dataclass
class Workload:
    name: str
    ops: list
    duck: duckdb.DuckDBPyConnection
    sf_dir: str | None = None


def api_small(seed: int, data_dir: str) -> Workload:
    t1, t2 = datagen.ref_frames(seed, SMALL_ROWS)
    t2_rows = t2.to_dict("records")
    csv_path = os.path.join(data_dir, "kv.csv")
    kv = datagen.ref_frames(seed + 1, SMALL_ROWS)[0]
    kv.assign(k=kv["c"] % 50, v=kv["b"])[["k", "v"]].to_csv(csv_path, index=False)
    duck = duckdb.connect()
    duck.register("t1", t1)
    duck.register("t2", t2)
    ops = [
        ApiOp(
            "postgres_filter_agg",
            'SELECT "c", COUNT(*) AS n, AVG(b / 2) AS half_b FROM t1 WHERE c > 50 GROUP BY "c"',
            "postgres",
            {"t1": t1},
            'SELECT "c", COUNT(*) AS n, AVG(b / 2) AS half_b FROM t1 WHERE c > 50 GROUP BY "c"',
        ),
        ApiOp(
            "mysql_having",
            "SELECT `a`, COUNT(*) AS n, SUM(b) AS sb FROM t2 GROUP BY `a` HAVING COUNT(*) >= 15",
            "mysql",
            {"t2": t2},
            "SELECT a, COUNT(*) AS n, SUM(b) AS sb FROM t2 GROUP BY a HAVING COUNT(*) >= 15",
        ),
        ApiOp(
            "tsql_top",
            "SELECT TOP 10 a, b, c FROM t1 ORDER BY b DESC",
            "tsql",
            {"t1": t1},
            "SELECT a, b, c FROM t1 ORDER BY b DESC LIMIT 10",
        ),
        ApiOp(
            "snowflake_qualify",
            "SELECT a, c, b FROM t1 QUALIFY ROW_NUMBER() OVER (PARTITION BY c ORDER BY b DESC) = 1",
            "snowflake",
            {"t1": t1},
            "SELECT a, c, b FROM t1 QUALIFY ROW_NUMBER() OVER (PARTITION BY c ORDER BY b DESC) = 1",
        ),
        ApiOp(
            "bigquery_join",
            "SELECT t1.c, COUNT(*) AS n, SUM(t1.b * t2.b) AS s "
            "FROM `t1` JOIN `t2` ON t1.a = t2.a GROUP BY t1.c",
            "bigquery",
            {"t1": t1, "t2": t2},
            "SELECT t1.c, COUNT(*) AS n, SUM(t1.b * t2.b) AS s "
            "FROM t1 JOIN t2 ON t1.a = t2.a GROUP BY t1.c",
        ),
        ApiOp(
            "oracle_rownum_top_n",
            "SELECT * FROM (SELECT a, NVL(c, 0) AS c, b FROM t1 WHERE c < 5 ORDER BY b) "
            "WHERE ROWNUM <= 20",
            "oracle",
            {"t1": t1},
            "SELECT a, COALESCE(c, 0) AS c, b FROM t1 WHERE c < 5 ORDER BY b LIMIT 20",
        ),
        ApiOp(
            "nested_db_table",
            "SELECT c % 10 AS k, MAX(b) AS mx, MIN(b) AS mn, COUNT(*) AS n FROM db.t1 GROUP BY c % 10",
            None,
            {"db": {"t1": t1}},
            "SELECT c % 10 AS k, MAX(b) AS mx, MIN(b) AS mn, COUNT(*) AS n FROM t1 GROUP BY c % 10",
        ),
        ApiOp(
            "schema_row_dicts",
            "SELECT a, MAX(b) AS mx FROM r2 WHERE b > 0.5 GROUP BY a",
            None,
            {"r2": t2_rows},
            "SELECT a, MAX(b) AS mx FROM t2 WHERE b > 0.5 GROUP BY a",
            schema={"r2": {"a": "string", "b": "double"}},
        ),
        ApiOp(
            "multi_statement",
            "CREATE OR REPLACE TEMP VIEW hot AS SELECT a, b FROM t1 WHERE c >= 90; "
            "SELECT a, COUNT(*) AS n, SUM(b) AS sb FROM hot GROUP BY a HAVING COUNT(*) > 1",
            None,
            {"t1": t1},
            "WITH hot AS (SELECT a, b FROM t1 WHERE c >= 90) "
            "SELECT a, COUNT(*) AS n, SUM(b) AS sb FROM hot GROUP BY a HAVING COUNT(*) > 1",
        ),
        ApiOp(
            "read_csv",
            f"SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM READ_CSV('{csv_path}') AS r GROUP BY k",
            None,
            {},
            f"SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM read_csv('{csv_path}') GROUP BY k",
        ),
    ]
    return Workload("api_small", ops, duck)


def operator_pipelines(seed: int, data_dir: str) -> Workload:
    from xorbits_sql_spark.queries import load_all

    registry = load_all()
    frames = datagen.tpch_frames(seed, PIPELINE_SF, datagen.TPCH_TABLES)
    sf_dir = os.path.join(data_dir, "parquet")
    datagen.write_parquet(frames, sf_dir)
    duck = duckdb.connect()
    for name in frames:
        path = os.path.join(sf_dir, f"{name}.parquet")
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    ops = [PipelineOp(short, registry[full]) for short, full in PIPELINES.items()]
    return Workload("operator_pipelines", ops, duck, sf_dir=sf_dir)


WORKLOADS = {
    "api_small": api_small,
    "operator_pipelines": operator_pipelines,
}
