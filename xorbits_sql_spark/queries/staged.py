"""JPEG-codec and dialect-rewrite queries (u04–u07).

The JPEG oracle trick: DuckDB cannot decode JPEG, but a CONSTANT-color
image round-trips the DCT exactly when the quantized DC step divides
the level-shifted value — at quality 90 the luma DC step is 3, so any
value ``128 + 3k`` survives encode→decode bit-exact (gray direct; for
4:2:0 RGB, R=G=B means Y=v and Cb=Cr=128 exactly, since the BT.601
luma weights sum to exactly 1.0). The per-doc constant, width, and
height are pure arithmetic in ``doc_id``, so the oracle predicts the
DECODED pixel statistics exactly — a value-exact end-to-end check of
encoder, decoder, MCU padding (odd dims), subsampling, and the Arrow
``mapInPandas`` plumbing, with zero fixtures."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import t
from . import register


_JPEG_STATS_ORACLE = """
SELECT doc_id,
       CAST(17 + doc_id % 16 AS INT) AS width,
       CAST(9 + doc_id % 8 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
       CAST(128 + 3 * (CAST(doc_id * 7 AS BIGINT) % 21 - 10) AS DOUBLE)
         AS mean_byte
FROM documents
WHERE doc_id < 64
ORDER BY doc_id
"""


@register(
    "u04_jpeg_decode_stats",
    _JPEG_STATS_ORACLE,
    tags=("multimodal", "jpeg", "codec"),
)
def u04_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a per-doc constant-color baseline JPEG (gray 4:4:4 for
    even ids, RGB 4:2:0 for odd; odd dimensions exercise MCU padding),
    decode it with the real codec, and emit the decoded statistics.
    The oracle predicts them arithmetically (see module docstring)."""
    from ..multimodal.jpeg import encode_jpeg
    from ..multimodal.media import decode_image

    ids = t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 64
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("mean_byte", T.DoubleType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                v = 128 + 3 * ((doc_id * 7) % 21 - 10)
                w = 17 + doc_id % 16
                h = 9 + doc_id % 8
                if doc_id % 2 == 0:
                    data = encode_jpeg(w, h, 1, bytes([v]) * (w * h), quality=90)
                else:
                    data = encode_jpeg(
                        w, h, 3, bytes([v]) * (w * h * 3), quality=90,
                        subsample=True,
                    )
                stats = decode_image(data)
                rows.append(
                    (
                        doc_id,
                        stats["width"],
                        stats["height"],
                        stats["channels"],
                        stats["mean_byte"],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_byte"]
            )

    return (
        ids.mapInPandas(batches, out_schema)
        .orderBy("doc_id")
        .select(
            "doc_id",
            "width",
            "height",
            "channels",
            "mean_byte",
        )
    )


_JPEG_RESIZE_ORACLE = """
SELECT doc_id,
       CAST(8 + doc_id % 9 AS INT) AS width,
       CAST(6 + doc_id % 5 AS INT) AS height,
       CAST(128 + 15 * (CAST(doc_id AS BIGINT) % 5 - 2) AS DOUBLE)
         AS mean_byte
FROM documents
WHERE doc_id < 64
ORDER BY doc_id
"""


@register(
    "u05_jpeg_resize_roundtrip",
    _JPEG_RESIZE_ORACLE,
    tags=("multimodal", "jpeg", "resize"),
)
def u05_jpeg_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a constant-color gray JPEG, resize it through the real
    ``media.resize_image`` JPEG path (decode → nearest-neighbor →
    re-encode as JPEG), decode the result, and emit its statistics.

    Exactness needs the constant to survive BOTH encodes: the first at
    quality 90 (luma DC step 3) and the resize re-encode at the
    default quality 85 (DC step 5) — so the per-doc constant is
    128 + 15k, divisible by both steps. The oracle then predicts the
    twice-round-tripped mean and the resized dimensions exactly."""
    from ..multimodal.jpeg import encode_jpeg
    from ..multimodal.media import decode_image, resize_image

    ids = t(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 64
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_byte", T.DoubleType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                v = 128 + 15 * (doc_id % 5 - 2)
                data = encode_jpeg(24, 16, 1, bytes([v]) * (24 * 16), quality=90)
                w2, h2 = 8 + doc_id % 9, 6 + doc_id % 5
                small = resize_image(data, w2, h2)
                stats = decode_image(small)
                rows.append((doc_id, stats["width"], stats["height"], stats["mean_byte"]))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "mean_byte"])

    return ids.mapInPandas(batches, out_schema).orderBy("doc_id")


_PG_DIALECT_ORACLE = """
SELECT CAST(EXTRACT(DOW FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
WHERE regexp_matches(o_orderpriority, '^[12]-')
  AND o_orderdate < DATE'1995-07-01'
GROUP BY 1, 2
HAVING COUNT(*) > 2
ORDER BY ym, dow
"""


@register(
    "u06_pg_dialect_weekday_rollup",
    _PG_DIALECT_ORACLE,
    tags=("dialect", "postgres"),
)
def u06_pg_dialect_weekday_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 postgres-dialect rewrites driven through execute()
    over the real tables: POSIX regex match (~ → RLIKE), EXTRACT(DOW)
    with pg's Sunday=0 numbering (the off-by-one silent-corruption fix),
    and TO_CHAR through the oracle format-model translator. DuckDB
    speaks postgres natively, so the oracle is near-identical SQL —
    driver-grade value verification of the transpile path itself."""
    from ..core import execute

    sql = """
SELECT CAST(EXTRACT(DOW FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
       TO_CHAR(CAST(o_orderdate AS DATE), 'YYYY-MM') AS ym,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM orders
WHERE o_orderpriority ~ '^[12]-' AND o_orderdate < DATE'1995-07-01'
GROUP BY 1, 2
HAVING COUNT(*) > 2
ORDER BY ym, dow
"""
    return execute(
        sql,
        tables={"orders": t(spark, sf_dir, "orders")},
        dialect="postgres",
        spark=spark,
    )


_BQ_DIALECT_ORACLE = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym,
       COUNT(*) AS n,
       CAST(SUM(date_diff('month', CAST(o_orderdate AS DATE),
                          DATE '1996-01-01')) AS BIGINT)
         AS sum_months_to_96,
       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '1996-01-01')) AS BIGINT)
         AS sum_days_to_96
FROM orders
WHERE o_orderdate < TIMESTAMP '1995-05-01 00:00:00'
GROUP BY ym
ORDER BY ym
"""


@register(
    "u07_bq_dialect_boundary_datediff",
    _BQ_DIALECT_ORACLE,
    tags=("dialect", "bigquery"),
)
def u07_bq_dialect_boundary_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 bigquery rewrites through execute(): FORMAT_DATE
    %-codes and DATE_DIFF's unit-BOUNDARY semantics (bq counts
    boundaries crossed, not whole elapsed units). DuckDB's date_diff
    is also boundary-based, so it oracles MONTH/DAY exactly (weeks are
    excluded: duckdb anchors Monday, bq Sunday)."""
    from ..core import execute

    sql = """
SELECT FORMAT_DATE('%Y-%m', DATE(o_orderdate)) AS ym,
       COUNT(*) AS n,
       SUM(DATE_DIFF(DATE '1996-01-01', DATE(o_orderdate), MONTH))
         AS sum_months_to_96,
       SUM(DATE_DIFF(DATE '1996-01-01', DATE(o_orderdate), DAY))
         AS sum_days_to_96
FROM orders
WHERE o_orderdate < TIMESTAMP '1995-05-01 00:00:00'
GROUP BY ym
ORDER BY ym
"""
    return execute(
        sql,
        tables={"orders": t(spark, sf_dir, "orders")},
        dialect="bigquery",
        spark=spark,
    )
