"""Readers: the READ_CSV table-function shim + generic loaders.

Reference parity: ``READ_CSV('path', 'delimiter', '|')`` appears in FROM
clauses (reference executor.py:290-308; usage tests/test_tpc_h.py:47-52).
The reference parses the vararg list as k/v pairs and honors only
``delimiter``; dtypes come from the declared schema. Here the same call
is rewritten out of the transpiled Spark text: each READ_CSV(...) that
stands in a table position (``dialect.table_positions``: after FROM,
JOIN or a FROM-clause comma) becomes a temp view backed by
``spark.read.csv`` (header=True to match the reference's bundled CSVs,
schema from the schema dict when one covers it), and the call is
replaced by the view's name. Spark's CSV source then gives partitioned,
pushdown-aware scanning for free.
"""

from __future__ import annotations

import re
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from .. import dialect as _dialect
from ..errors import UnsupportedError


def _parse_args(arg_text: str) -> tuple[str, dict[str, str]]:
    parts = [p.strip()[1:-1] for p in re.findall(r"'[^']*'", arg_text)]
    if not parts:
        raise UnsupportedError("READ_CSV requires a path argument")
    path, rest = parts[0], parts[1:]
    if len(rest) % 2 != 0:
        raise UnsupportedError("READ_CSV options must be key/value pairs")
    # Reference executor.py:297-301: options parsed pairwise, only
    # `delimiter` honored; unknown keys are ignored there — we keep them
    # as Spark CSV options since Spark understands more (header, sep...).
    opts = {rest[i]: rest[i + 1] for i in range(0, len(rest), 2)}
    return path, opts


def _view_name_for(path: str, n: int) -> str:
    stem = re.sub(r"[^A-Za-z0-9]", "_", path.rsplit("/", 1)[-1].rsplit(".", 1)[0])
    return f"__read_csv_{stem}_{n}"


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    schema_dict: Mapping[str, str] | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """spark.read.csv with the reference's defaults (header row, '|' support)."""
    reader = spark.read.option("header", str(header).lower()).option("sep", delimiter)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema_dict:
        from ..table import schema_to_struct

        reader = reader.schema(schema_to_struct(schema_dict))
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def register_csv_reads(
    spark: SparkSession,
    sql: str,
    schema: Mapping[str, Any] | None = None,
) -> tuple[str, dict[str, DataFrame]]:
    """Replace READ_CSV(...) table functions with temp view names.

    ``sql`` is Spark text (``execute`` calls this after transpile). A
    call is rewritten where it stands in a table position
    (dialect.table_positions) and its arguments are all string
    literals; one inside a literal or comment is never a token match.
    Returns the new SQL and {view_name: df} for the views it names;
    nothing is registered here: ``execute`` registers the views for the
    span of one call.

    When the READ_CSV call is aliased (``FROM READ_CSV(...) AS t`` or
    the bare ``FROM READ_CSV(...) t``) and the schema dict has an entry
    for the alias or the file stem, that schema types the scan, alias
    first (reference executor.py:303-306 behavior).
    """
    frames: dict[str, DataFrame] = {}
    if "READ_CSV" not in sql.upper():
        return sql, frames  # hot path: no READ_CSV, skip the lexing
    tokens = _dialect.tokenize_spark(sql)
    calls: dict[int, tuple[int, str]] = {}  # READ_CSV index -> (close, view)
    for i in sorted(_dialect.table_positions(tokens)):
        if tokens[i][0] != "word" or tokens[i][1].upper() != "READ_CSV":
            continue
        open_at = _dialect._next_code(tokens, i)
        if open_at is None or tokens[open_at] != ("op", "("):
            continue
        parsed = _dialect._call_args(tokens, open_at)
        if parsed is None:
            continue
        args = ["".join(t for k, t in a if k not in ("ws", "comment")) for a in parsed[0]]
        if not all(re.fullmatch(r"'[^']*'", a) for a in args):
            continue  # not a literal argument list: left for Spark to report
        close = parsed[1]
        path, opts = _parse_args(",".join(args))
        delimiter = opts.pop("delimiter", opts.pop("sep", ","))
        stem = path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
        a = _dialect.alias_at(tokens, close)
        alias = tokens[a][1] if a is not None and tokens[a][0] == "word" else None
        table_schema = None
        for key in (alias, stem):
            if key and schema and isinstance(schema.get(key), Mapping):
                table_schema = schema[key]
                break
        name = _view_name_for(path, len(frames))
        frames[name] = read_csv(
            spark, path, delimiter=delimiter, schema_dict=table_schema, **opts
        )
        calls[i] = (close, name)
    return _dialect.splice(tokens, calls), frames


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema_dict: Mapping[str, str] | None = None,
    **options: str,
) -> DataFrame:
    """Read newline-delimited JSON (the interchange format of most
    web-scale document pipelines).

    Pass ``schema_dict`` in production: without it Spark runs an extra
    inference scan over the input — fine for tests, wasteful at 100 TB.
    """
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema_dict:
        from ..table import schema_to_struct

        reader = reader.schema(schema_to_struct(schema_dict))
    return reader.json(path)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events time column to a session-zone TIMESTAMP.

    The driver has shipped events.parquet in two physical encodings
    across rounds: TIMESTAMP(NANOS) (readable only as BIGINT nanos via
    ``spark.sql.legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS)
    without UTC adjustment (read as TIMESTAMP_NTZ). Downstream
    operators use ``unix_micros``/watermarks, which require TIMESTAMP
    (ltz), so both forms fold to it here: nanos FLOOR-divide to micros
    (measured: DuckDB's TIMESTAMP_NS→TIMESTAMP floors, -1500 ns → -2 µs,
    while Spark's ``div`` truncates to -1 — a 1 µs cross-engine drift on
    pre-epoch rows that the hash-grade oracles would flag; pmod makes
    the division floored for either sign), and NTZ casts
    value-preserving under the UTC session zone the loaders pin.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.expr(f"(({col} - pmod({col}, 1000)) div 1000)")
            ),
        )
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TPCH_TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from ``sf_dir``; optionally register views.

    Parquet scans give Catalyst column pruning + predicate pushdown — at
    100 TB these scans are the dominant cost, so every query should show
    PushedFilters/ReadSchema narrowing in `.explain("formatted")`.
    """
    # Works on a vanilla session: events.parquet is TIMESTAMP(NANOS),
    # unreadable without this runtime-settable flag (read as BIGINT
    # nanos and converted to a microsecond timestamp below, matching
    # DuckDB's nanos->micros truncation).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize_event_ts's NTZ->ltz cast is value-preserving only under
    # a UTC session zone; pin it here so a vanilla session on a
    # non-UTC machine matches the DuckDB oracle (get_spark() already
    # sets this, but load_tables must not depend on that).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_event_ts(df)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
