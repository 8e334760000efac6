"""Order-insensitive result comparison between Spark and DuckDB frames.

Mirrors what the driver's correctness gate does: row count, schema
shape, and a value comparison with columns sorted by name and rows
sorted canonically. Floats compare with a small relative tolerance
(the queries are engineered for bit-equality via exact decimal sums,
so the tolerance is a safety net, not a crutch)."""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import pandas as pd


def _canon_float(v: float):
    """Canonical float cell. Negative zero gets its own tag: IEEE says
    -0.0 == 0.0, so a plain float compare cannot see the divergence,
    but the driver's stringifying value hash renders "-0.0" != "0.0"
    (the t66 round-8 red cell — determinism class #4). Tagging makes
    local parity fail exactly where the driver fails."""
    if v == 0.0 and math.copysign(1.0, v) < 0:
        return ("f-0",)
    return ("f", v)


def _canon_cell(v):
    """Canonical, *type-strict* cell representation.

    Numeric cells carry their numeric class ("i" int, "f" float, "b"
    bool) so an int64 on one side and a float64 on the other is a
    MISMATCH even when the values are numerically equal — this mirrors
    the driver's value hash, which stringifies 376237 and 376237.0
    differently (the s39 round-5 red cell). Decimals collapse to
    ("f", float) on both sides, so decimal-exact sums still compare
    with tolerance via _cells_equal.
    """
    if (
        v is None
        or v is pd.NaT
        or v is pd.NA  # nullable-dtype cells; bool(pd.NA) raises downstream
        or (isinstance(v, float) and math.isnan(v))
    ):
        return None
    if isinstance(v, Decimal):
        return _canon_float(float(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime().replace(tzinfo=None)
    if hasattr(v, "tolist"):  # numpy scalars/arrays
        v = v.tolist()
    if isinstance(v, list):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return _canon_float(v)
    if isinstance(v, _dt.datetime):
        return ("dt", v)
    if isinstance(v, _dt.date):
        return ("d", v)
    return v


def _cell_sort_key(x):
    """Total order over canonical cells with NUMERIC ordering for the
    tagged numeric classes: a plain str() sort could place near-equal
    floats (within rtol) at different positions on the two sides —
    e.g. spark 10.0 vs duck 9.999999999999999 — mispairing rows and
    reporting phantom mismatches. Type-strictness is unaffected (the
    tag stays a tie-break key; equality still compares tags)."""
    if x is None:
        return (0, "", 0.0, "")
    if isinstance(x, tuple) and len(x) == 2 and x[0] in ("f", "i", "b"):
        return (1, "num", float(x[1]), x[0])
    return (2, str(type(x)), 0.0, str(x))


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(_cell_sort_key(x) for x in r))


def _cells_equal(a, b, rtol=1e-9) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y, rtol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=rtol, abs_tol=1e-12)
    return a == b


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame, rtol=1e-9) -> list[str]:
    """Returns a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duck={d_cols}")
    if problems:
        return problems
    s_rows = canonical_rows(spark_df)
    d_rows = canonical_rows(duck_df)
    n_bad = 0
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if not _cells_equal(sr, dr, rtol):
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"row {i}: spark={sr!r} duck={dr!r}")
    if n_bad > 3:
        problems.append(f"... {n_bad} mismatched rows total")
    # exact-value check (bit-equality) reported separately
    return problems


def exact_match(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> bool:
    """True when canonical rows are exactly equal (the hash-match bar)."""
    return canonical_rows(spark_df) == canonical_rows(duck_df)


def spark_outcome(make) -> tuple | type:
    """``make()``'s schema and exact rows, or the class of the exception
    it raised. Each cell is its type name and repr, so NaN equals NaN,
    -0.0 differs from 0.0 and bytes differ from bytearray. Used to hold
    a table route to ``spark.createDataFrame``'s own result."""
    try:
        df = make()
        rows = [tuple((type(v).__name__, repr(v)) for v in r) for r in df.collect()]
        return df.schema, rows
    except Exception as exc:
        return type(exc)
