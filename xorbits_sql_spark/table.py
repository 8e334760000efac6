"""Table registration: the reference's data-model surface, on Spark.

The reference accepts ``tables`` as a flat or nested mapping —
``{table: df}``, ``{db: {table: df}}``, ``{catalog: {db: {table: df}}}``
(reference core.py:62-65, table.py:67-105) — where each leaf is a
DataFrame or a list of row dicts (reference table.py:91-103). This module
normalizes all of those into Spark temp views.

Schema dicts use SQL type strings per table (reference core.py:60-65,
e.g. tests/helpers.py:54-132 uses bigint/double/int/string) and convert
to Spark StructTypes here. Unlike the reference there is no row-0
schema-inference fetch (reference core.py:84-91) — Spark DataFrames
always carry a schema; at 100 TB a "fetch row 0 of every table"
boundary is a non-starter, so that behavior is deliberately dropped.

pandas frames reach the JVM as Arrow batches through Spark's own
conversion when ``spark.sql.execution.arrow.pyspark.enabled`` is set
(``get_spark`` sets it). A list of row dicts is built into a
``pyarrow.Table`` here, whatever that setting, typed exactly as
``spark.createDataFrame(rows)`` would infer it from every row: columns
in Spark's merge order (each row's keys sorted, unseen keys appended),
and each column's non-None values all ``int`` (bigint), ``float``
(double), ``str`` (string), ``bool`` (boolean), ``bytes``/``bytearray``
(binary) or ``datetime.date`` (date). Any other table — mixed or
all-None columns, naive datetimes, Decimals, dict or list values,
ints beyond int64, non-dict rows — goes to ``spark.createDataFrame(rows)``
unchanged, so its schema, values and errors stay Spark's own.
"""

from __future__ import annotations

import datetime
import re
from typing import TYPE_CHECKING, Any, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .errors import UnsupportedError

if TYPE_CHECKING:
    import pyarrow as pa

# SQL type-string → Spark type. Covers the reference's CAST surface
# (reference executor.py:40-47,106-141) plus the types Spark gives for free.
_TYPE_MAP: dict[str, T.DataType] = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def parse_type(type_str: str) -> T.DataType:
    """Parse a SQL type string (including decimal/array/map/struct) to Spark."""
    s = type_str.strip().lower()
    if s in _TYPE_MAP:
        return _TYPE_MAP[s]
    try:
        # Spark's own DDL parser handles decimal(p,s), array<...>, map<...>,
        # struct<...> — a superset of the reference's type strings.
        return T._parse_datatype_string(type_str)
    except Exception as exc:  # pragma: no cover - defensive
        raise UnsupportedError(f"unsupported type string: {type_str!r}") from exc


def schema_to_struct(table_schema: Mapping[str, str]) -> T.StructType:
    """``{col: "bigint", ...}`` → StructType (reference core.py:60-65 form)."""
    return T.StructType(
        [T.StructField(col, parse_type(ts), nullable=True) for col, ts in table_schema.items()]
    )


# Identifier quote styles by input dialect (open, close). Mirrors the
# reference's dialect-aware catalog normalization (reference
# table.py:85, via sqlglot.normalize_name).
_QUOTE_STYLES: dict[str | None, tuple[tuple[str, str], ...]] = {
    "mysql": (("`", "`"),),
    "doris": (("`", "`"),),
    "starrocks": (("`", "`"),),
    "bigquery": (("`", "`"),),
    "spark": (("`", "`"),),
    "databricks": (("`", "`"),),
    "hive": (("`", "`"),),
    "tsql": (("[", "]"), ('"', '"')),
    "clickhouse": (("`", "`"), ('"', '"')),
}
_DEFAULT_QUOTES: tuple[tuple[str, str], ...] = (('"', '"'),)

_IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def normalize_name(name: str, dialect: str | None = None) -> str:
    """Normalize one table-name part per the input dialect's rules.

    A name quoted in the dialect's identifier style is unquoted with its
    case preserved; an unquoted name folds to the dialect's canonical
    case (upper for snowflake/oracle, lower otherwise — cosmetic on
    Spark, whose view resolution is case-insensitive, but it keeps the
    returned registration keys faithful to the source dialect, matching
    reference table.py:85). Names that aren't valid identifiers after
    unquoting raise: Spark temp views cannot carry them.

    Spark-level caveat: temp views share one case-insensitive namespace,
    so two registrations differing only in case collide — a snowflake
    quoted-lowercase name and unquoted-uppercase name cannot coexist
    here the way they can in snowflake itself.
    """
    d = (dialect or "").lower() or None
    for op, cl in _QUOTE_STYLES.get(d, _DEFAULT_QUOTES):
        if len(name) >= 2 and name.startswith(op) and name.endswith(cl):
            inner = name[1:-1].replace(cl + cl, cl)
            if not _IDENT_RE.fullmatch(inner):
                raise UnsupportedError(
                    f"table name {name!r} is not a valid identifier for a Spark view"
                )
            return inner
    if not _IDENT_RE.fullmatch(name):
        raise UnsupportedError(
            f"table name {name!r} is not a valid identifier for a Spark view"
        )
    return name.upper() if d in ("snowflake", "oracle") else name.lower()


def _is_leaf(value: Any) -> bool:
    if isinstance(value, DataFrame):
        return True
    if isinstance(value, list):
        return True
    try:  # pandas DataFrame without importing pandas eagerly
        import pandas as pd

        if isinstance(value, pd.DataFrame):
            return True
    except ImportError:  # pragma: no cover
        pass
    return False


def flatten_tables(tables: Mapping[str, Any]) -> dict[tuple[str, ...], Any]:
    """Flatten up-to-3-level nested table mappings to {(catalog?, db?, name): leaf}.

    Mirrors the reference's nested-depth handling (reference table.py:67-90).
    """
    out: dict[tuple[str, ...], Any] = {}

    def walk(prefix: tuple[str, ...], node: Any) -> None:
        if _is_leaf(node):
            out[prefix] = node
            return
        if isinstance(node, Mapping):
            if len(prefix) >= 3:
                raise UnsupportedError(
                    f"table mapping nested deeper than catalog.db.table at {'.'.join(prefix)}"
                )
            for name, child in node.items():
                walk(prefix + (str(name),), child)
            return
        raise UnsupportedError(
            f"unsupported table value for {'.'.join(prefix) or '<root>'}: {type(node).__name__}"
        )

    walk((), tables)
    return out


def view_name(qualified: tuple[str, ...]) -> str:
    """Flatten a qualified name to a legal temp-view identifier.

    Spark temp views live in a single namespace, so ``catalog.db.table``
    becomes ``catalog__db__table``; ``core._rewrite_qualified_names``
    rewrites the dotted references that stand in a table position
    (``dialect.table_positions``), or head a longer dotted chain, in
    the SQL text to match.

    Injective for multi-part names: a bare ``__``.join would collide
    ``('a', 'b__c')`` with ``('a__b', 'c')`` (both → ``a__b__c``) and
    the second registration would silently clobber the first view —
    wrong data, no error. Each component escapes ``_`` to ``_u`` before
    joining, so an escaped part can never contain two consecutive
    underscores and the ``__`` separator cannot be forged. Single-part
    names pass through untouched (they need no rewrite and users
    reference them verbatim) — which means a single-part table
    literally named ``a__b`` CAN collide with a flattened ('a','b');
    ``register_tables`` detects that at registration time and refuses.
    """
    if len(qualified) == 1:
        return qualified[0]
    return "__".join(p.replace("_", "_u") for p in qualified)


def _apply_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast columns to the declared schema (reference semantics: the
    schema dict *types* the table; values are coerced, not validated —
    Spark's strict createDataFrame(schema=...) would reject e.g. int
    literals declared as double)."""
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


# Python value type -> (Arrow type alias, Spark type) for the row-dict
# Arrow route: exactly what pyspark.sql.types._infer_type gives for
# each. Looked up by type(v), not isinstance: bool subclasses int and
# datetime subclasses date, and both infer differently.
_ROW_VALUE_TYPES: dict[type, tuple[str, T.DataType]] = {
    int: ("int64", T.LongType()),
    float: ("double", T.DoubleType()),
    str: ("string", T.StringType()),
    bool: ("bool", T.BooleanType()),
    bytes: ("binary", T.BinaryType()),
    bytearray: ("binary", T.BinaryType()),
    datetime.date: ("date32", T.DateType()),
}


def _rows_to_arrow(rows: list) -> tuple[pa.Table, T.StructType] | None:
    """Row dicts → (Arrow table, the schema Spark would infer), or None
    when some row or column falls outside ``_ROW_VALUE_TYPES``, or no
    row has a key (Spark keeps zero-column rows; Arrow cannot)."""
    import pyarrow as pa

    order: dict[str, None] = {}
    for row in rows:
        if type(row) is not dict:
            return None
        if not row.keys() <= order.keys():
            if any(type(k) is not str for k in row):
                return None
            for k in sorted(row):
                order.setdefault(k, None)
    if not order:
        return None
    arrays, fields = [], []
    for name in order:
        values = [row.get(name) for row in rows]
        types = {type(v) for v in values}
        types.discard(type(None))
        kinds = {_ROW_VALUE_TYPES.get(t) for t in types}
        if len(kinds) != 1 or None in kinds:
            return None
        ((arrow_type, spark_type),) = kinds
        try:
            arrays.append(pa.array(values, type=pa.type_for_alias(arrow_type)))
        except (OverflowError, UnicodeEncodeError):
            return None  # ints beyond int64, strs with lone surrogates
        fields.append(T.StructField(name, spark_type, nullable=True))
    return pa.Table.from_arrays(arrays, names=list(order)), T.StructType(fields)


def to_spark_df(spark: SparkSession, value: Any, schema: T.StructType | None) -> DataFrame:
    """Convert a registered leaf (Spark DF / pandas DF / list of dicts)."""
    if isinstance(value, DataFrame):
        return value if schema is None else _apply_schema(value, schema)
    if not isinstance(value, list):
        import pandas as pd

        if not isinstance(value, pd.DataFrame):
            raise UnsupportedError(
                f"cannot register table of type {type(value).__name__}"
            )
    # Reference table.py:91-103: list-of-row-dicts tables and pandas
    # frames. Infer first, then coerce to any declared schema — EXCEPT
    # when there is nothing to infer from: an empty table with a
    # declared schema builds directly on that schema (inference raises
    # CANNOT_INFER_EMPTY_SCHEMA), and without one the failure surfaces
    # as this package's error, not a raw PySparkValueError.
    if len(value) == 0:
        if schema is None:
            raise UnsupportedError(
                "cannot infer a schema for an empty table; declare one "
                "via the schema dict"
            )
        return spark.createDataFrame([], schema)
    arrow = _rows_to_arrow(value) if isinstance(value, list) else None
    if arrow is not None:
        df = spark.createDataFrame(arrow[0], schema=arrow[1])
    else:
        df = spark.createDataFrame(value)
    return df if schema is None else _apply_schema(df, schema)


def register_tables(
    spark: SparkSession,
    tables: Mapping[str, Any],
    schema: Mapping[str, Any] | None = None,
    dialect: str | None = None,
) -> dict[tuple[str, ...], tuple[str, DataFrame]]:
    """Convert all tables to Spark DataFrames under their temp view
    names; returns {qualified: (view_name, df)}. Nothing is registered
    here: ``execute`` registers the views for the span of one call.

    ``schema`` follows the reference's nested dict form and, when given for
    a table, types list/pandas inputs explicitly instead of sampling.
    Name parts (table, db, catalog — and schema keys) are normalized per
    ``dialect`` via :func:`normalize_name` before view creation, matching
    the reference's catalog normalization (reference table.py:85): quoted
    names unquote case-preserved, unquoted names case-fold.
    """

    def norm(qualified: tuple[str, ...]) -> tuple[str, ...]:
        return tuple(normalize_name(p, dialect) for p in qualified)

    flat = {norm(q): leaf for q, leaf in flatten_tables(tables).items()}
    flat_schema: dict[tuple[str, ...], T.StructType] = {}
    if schema:
        for qualified, tbl_schema in flatten_schema(schema).items():
            flat_schema[norm(qualified)] = schema_to_struct(tbl_schema)

    registered: dict[tuple[str, ...], tuple[str, DataFrame]] = {}
    # view_name escaping makes multi-part flattening injective among
    # multi-part names, but a SINGLE-part table literally named
    # ``a__b`` passes through unescaped and can still collide with a
    # flattened ('a','b'). Detect every collision at registration time
    # (Spark view resolution is case-insensitive, so compare folded)
    # and refuse loudly instead of silently clobbering one view.
    seen: dict[str, tuple[str, ...]] = {}
    for qualified, leaf in flat.items():
        name = view_name(qualified)
        prior = seen.get(name.lower())
        if prior is not None:
            raise UnsupportedError(
                f"table names {'.'.join(prior)!r} and {'.'.join(qualified)!r} "
                f"both flatten to temp view {name!r}; rename one"
            )
        seen[name.lower()] = qualified
        registered[qualified] = (name, to_spark_df(spark, leaf, flat_schema.get(qualified)))
    return registered


def flatten_schema(schema: Mapping[str, Any]) -> dict[tuple[str, ...], Mapping[str, str]]:
    """Flatten nested schema dicts to {(catalog?, db?, table): {col: type}}."""
    out: dict[tuple[str, ...], Mapping[str, str]] = {}

    def is_table_schema(node: Any) -> bool:
        return isinstance(node, Mapping) and all(isinstance(v, str) for v in node.values())

    def walk(prefix: tuple[str, ...], node: Any) -> None:
        if is_table_schema(node) and prefix:
            out[prefix] = node
            return
        if isinstance(node, Mapping):
            for name, child in node.items():
                walk(prefix + (str(name),), child)
            return
        raise UnsupportedError(f"bad schema node at {'.'.join(prefix)}")

    walk((), schema)
    return out
