"""Data-layout operators: multi-dimensional clustering for data skipping.

Z-order (Morton) keys interleave the bits of several range-normalized
dimensions so that sorting by the single key co-locates rows that are
close in EVERY dimension. Written out sorted by the key (see
sources/writers.write_table with sort_cols), parquet row-group min/max
stats become tight in all participating columns at once, so predicates
on ANY of them prune row groups — the standard layout trick (Delta
OPTIMIZE ZORDER BY) re-expressed as plain DataFrame ops.

Everything is integer bit arithmetic on JVM built-ins (shiftleft /
shiftright / bitwiseAND) — whole-stage codegen, no UDFs — and the
range normalization constants come from one tiny global aggregate
broadcast to every task; at 100 TB that aggregate is a single
map-reduced row, not a sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sql_interleave_bits(exprs: list[str], bits: int = 16) -> str:
    """Morton-interleave ``bits`` low bits of each (bigint) expression.

    Bit i of expression j lands at position ``len(exprs)*i + j``. With
    the default 16 bits and 2 expressions the result fits comfortably in
    a BIGINT (32 significant bits). The text parses the same in Spark
    SQL and DuckDB, so :func:`zorder_key` and its oracle share it.
    """
    n = len(exprs)
    terms = [
        f"((({e} >> {i}) & 1) << {n * i + j})"
        for j, e in enumerate(exprs)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def zorder_key(
    df: DataFrame,
    dim_cols: list[str],
    bits: int = 16,
    out_col: str = "zval",
) -> DataFrame:
    """Attach a z-order key over range-normalized integer dimensions.

    Each dimension is mapped onto [0, 2**bits) by
    ``(x - min) * 2**bits div (max - min + 1)`` — exact integer
    arithmetic, reproducible on any engine. The per-dimension min/max
    come from one global aggregate joined back as a broadcast literal
    row (a single map-combined row at any scale; Catalyst folds the
    cross join into a BroadcastNestedLoopJoin with a 1-row build side).

    Sort by ``out_col`` when writing to get multi-column data skipping;
    the key itself is just a column, so it composes with bucketing or
    ``repartitionByRange``.
    """
    aggs = []
    for c in dim_cols:
        aggs.append(F.min(F.col(c).cast("bigint")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("bigint")).alias(f"__max_{c}"))
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    # `div` (not `/`): exact integer division — float division then cast
    # would silently lose exactness once products pass 2**53.
    scaled = [
        f"((CAST(`{c}` AS BIGINT) - `__min_{c}`) * {2**bits}"
        f" div (`__max_{c}` - `__min_{c}` + 1))"
        for c in dim_cols
    ]
    return out.withColumn(out_col, F.expr(sql_interleave_bits(scaled, bits))).drop(
        *[f"__{m}_{c}" for c in dim_cols for m in ("min", "max")]
    )


def sql_zorder_cte(table: str, dim_cols: list[str], bits: int = 16) -> str:
    """DuckDB CTE body mirroring :func:`zorder_key` bit-for-bit.

    Emits ``SELECT *, <interleave> AS zval FROM table CROSS JOIN stats``
    with the same integer normalization; integer division via CAST
    (trunc toward zero == floor here since operands are non-negative).
    """
    mins = ", ".join(
        f"CAST(MIN({c}) AS BIGINT) AS min_{c}, CAST(MAX({c}) AS BIGINT) AS max_{c}"
        for c in dim_cols
    )
    scaled = [
        f"((CAST({c} AS BIGINT) - min_{c}) * {2**bits}) // (max_{c} - min_{c} + 1)"
        for c in dim_cols
    ]
    z = sql_interleave_bits(scaled, bits)
    return (
        f"SELECT t.*, {z} AS zval "
        f"FROM {table} t CROSS JOIN (SELECT {mins} FROM {table}) s"
    )
