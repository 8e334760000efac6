"""Regression tests for the round-6 functions/sources/multimodal review
fixes: degenerate media payloads, schema-lookup by alias, pre-epoch
timestamp flooring, product overflow, and case-insensitive quality."""

from __future__ import annotations

import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_sample_indices_degenerate_shapes():
    from xorbits_sql_spark.multimodal.video import (
        decode_pngv,
        encode_pngv,
        sample_indices,
        sample_pngv,
    )

    assert sample_indices(0, 3) == []  # empty container: no samples
    assert sample_indices(5, 0) == []  # zero requested: none returned
    assert sample_indices(5, 1) == [0]
    assert sample_indices(1, 3) == [0, 0, 0]
    assert sample_indices(10, 3) == [0, 4, 9]  # unchanged normal shape
    # a valid zero-frame PNGV samples to [] instead of IndexError
    empty = encode_pngv([])
    assert decode_pngv(empty) == []
    assert sample_pngv(empty, 3) == []


def test_truncated_payloads_raise_contract_errors():
    from xorbits_sql_spark.multimodal.png import PngError, decode_png, encode_png
    from xorbits_sql_spark.multimodal.video import decode_pngv, encode_pngv

    png = encode_png(2, 2, 1, bytes(4))
    # cut 1-3 bytes into a chunk CRC: must be PngError, not struct.error
    for cut in (1, 2, 3):
        with pytest.raises(PngError):
            decode_png(png[: len(png) - cut])
    pngv = encode_pngv([png, png])
    # cut inside the second frame's length prefix
    header_and_first = 8 + 4 + len(png)
    with pytest.raises(ValueError):
        decode_pngv(pngv[: header_and_first + 2])
    with pytest.raises(ValueError):
        decode_pngv(b"PNGV\x00")  # truncated header


def test_read_csv_alias_schema_lookup(spark, tmp_path):
    """Schema keyed by the scan's AS-alias must type the scan (the
    documented lookup order: alias, then file stem)."""
    from xorbits_sql_spark import execute

    p = tmp_path / "odd_stem_name.csv"
    p.write_text("a|b\n1|2.50\n3|4.25\n")
    df = execute(
        f"SELECT part.a, part.b FROM READ_CSV('{p}', 'delimiter', '|') AS part ORDER BY part.a",
        schema={"part": {"a": "bigint", "b": "decimal(10,2)"}},
    )
    assert dict(df.dtypes) == {"a": "bigint", "b": "decimal(10,2)"}
    rows = df.collect()
    assert [r["a"] for r in rows] == [1, 3]


def test_read_csv_pattern_inside_literal_untouched(spark, tmp_path):
    """A READ_CSV(...) pattern inside a string literal or comment must
    NOT be rewritten into a view (the eager spark.read.csv would fail
    the query loudly on the nonexistent path, and the literal would be
    corrupted)."""
    from xorbits_sql_spark import execute

    p = tmp_path / "real.csv"
    p.write_text("a\n1\n")
    df = execute(
        f"SELECT 'docs: READ_CSV(''fake.csv'')' AS note, a "
        f"FROM READ_CSV('{p}') AS t -- READ_CSV('also_fake.csv')",
        spark=spark,
    )
    rows = df.collect()
    assert [r["a"] for r in rows] == [1]
    assert rows[0]["note"] == "docs: READ_CSV('fake.csv')"


def test_normalize_event_ts_floors_negative_nanos(spark):
    """DuckDB floors TIMESTAMP_NS -> TIMESTAMP (-1500 ns -> -2 us);
    Spark's `div` truncates to -1 — the loader must floor."""
    from xorbits_sql_spark.sources.readers import normalize_event_ts

    df = spark.createDataFrame(
        pd.DataFrame({"ts": pd.array([-1500, -1000, -999, 999, 1500], dtype="int64")})
    )
    got = normalize_event_ts(df).select(F.unix_micros("ts").alias("us")).toPandas()
    assert list(got["us"]) == [-2, -1, -1, 0, 1]


def test_moments_xy_products_exceed_bigint(spark):
    """x*y above 2^63 must aggregate exactly instead of raising
    ARITHMETIC_OVERFLOW under ANSI (operands cast before the product)."""
    from xorbits_sql_spark.functions.stats import moments_xy

    big = 4_000_000_000  # 4e9: x*y = 1.6e19 > 2^63
    df = spark.createDataFrame(
        pd.DataFrame({"x": pd.array([big, 2], dtype="int64"),
                      "y": pd.array([big, 3], dtype="int64")})
    )
    row = moments_xy(df).collect()[0]
    assert int(row["sxy"]) == big * big + 6
    assert int(row["sxx"]) == big * big + 4


def test_quality_score_is_case_insensitive(spark):
    from xorbits_sql_spark.functions.text import quality_score

    lower = "the cat and the dog of the house sat on the mat " * 5
    df = spark.createDataFrame(
        pd.DataFrame({"text": [lower, lower.upper()]})
    )
    got = df.select(quality_score(F.col("text")).alias("q")).collect()
    assert got[0]["q"] == got[1]["q"]
    assert got[0]["q"] > 0.7  # stopword mass counted


def test_transform_media_real_path_stamps_png_mime(spark):
    from xorbits_sql_spark.multimodal.media import transform_media
    from xorbits_sql_spark.multimodal.png import encode_png

    png = encode_png(2, 2, 1, bytes(4))
    base = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "media": [png, png]})
    )
    out = transform_media(base, 4, 4, fake=False).collect()
    assert len(out) == 2
    # the real path re-encodes through encode_png, so the stamped mime
    # must be decodable by a mime-dispatching loader — not image/unknown
    assert all(r["media_meta"]["mime"] == "image/png" for r in out)

def test_cosine_zero_norm_yields_null_not_crash(spark):
    from xorbits_sql_spark.functions.vectors import cosine

    df = spark.createDataFrame(
        pd.DataFrame({"a": [[1.0, 2.0], [0.0, 0.0]], "b": [[1.0, 2.0], [3.0, 4.0]]})
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0]["c"] == pytest.approx(1.0)
    assert got[1]["c"] is None  # ANSI would previously abort the job


def test_cosine_fused_matches_unfused_bitwise(spark):
    """The fused (dot, |a|^2, |b|^2) accumulator must stay bit-equal to
    the dot/norm spelling the oracles were validated against."""
    from xorbits_sql_spark.functions.vectors import cosine, dot, norm

    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(rng.standard_normal(16).tolist(), rng.standard_normal(16).tolist()) for _ in range(50)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["a", "b"]))
    both = df.select(
        cosine(F.col("a"), F.col("b")).alias("fused"),
        (dot(F.col("a"), F.col("b")) / (norm(F.col("a")) * norm(F.col("b")))).alias("unfused"),
    ).collect()
    assert all(r["fused"] == r["unfused"] for r in both)


def test_sign_bucket_short_array_pads_instead_of_crashing(spark):
    from xorbits_sql_spark.functions.vectors import sign_bucket

    df = spark.createDataFrame(pd.DataFrame({"a": [[1.0, -1.0, 2.0]]}))
    got = df.select(sign_bucket(F.col("a"), 8).alias("k")).collect()
    assert got[0]["k"] == "10100000"  # documented pad-with-'0' fallback


def test_davg_matches_avg_on_nullable_column(spark):
    from xorbits_sql_spark.queries._util import davg

    df = spark.createDataFrame(pd.DataFrame({"v": [2.0, None, 4.0]}))
    got = df.agg(
        davg("v", "d"), F.avg("v").alias("a")
    ).collect()[0]
    assert got["d"] == got["a"] == pytest.approx(3.0)  # was 2.0 (sum/3)
    allnull = spark.createDataFrame(pd.DataFrame({"v": pd.array([None], dtype="float64")}))
    assert allnull.agg(davg("v", "d")).collect()[0]["d"] is None


def test_read_csv_bare_alias_schema_lookup(spark, tmp_path):
    """The SQL-legal bare alias (FROM READ_CSV(..) t, no AS) must key
    the schema lookup like the AS form (round-7 review) — and a clause
    keyword after the call is NOT an alias."""
    from xorbits_sql_spark import execute

    p = tmp_path / "odd_stem2.csv"
    p.write_text("a|b\n1|2.50\n")
    df = execute(
        f"SELECT part.a, part.b FROM READ_CSV('{p}', 'delimiter', '|') part",
        schema={"part": {"a": "bigint", "b": "decimal(10,2)"}},
    )
    assert dict(df.dtypes) == {"a": "bigint", "b": "decimal(10,2)"}
    # keyword after the call: not an alias, query still works
    df2 = execute(
        f"SELECT a FROM READ_CSV('{p}', 'delimiter', '|') WHERE a > 0",
    )
    assert [r["a"] for r in df2.collect()] == [1]


def test_read_csv_guard_lexes_snowflake_escapes(spark, tmp_path):
    """The READ_CSV scan lexes the transpiled Spark text, so a
    backslash-escaped quote from any backslash-escape dialect, not just
    mysql, stays inside its literal (round-7 review)."""
    from xorbits_sql_spark import execute

    p = tmp_path / "sn.csv"
    p.write_text("a\n1\n")
    got = execute(
        rf"SELECT 'it\'s' AS x, a FROM READ_CSV('{p}') AS t",
        dialect="snowflake",
        spark=spark,
    ).collect()
    assert [r["a"] for r in got] == [1]
    assert got[0]["x"] == "it's"


def test_functions_package_exposes_stats():
    import xorbits_sql_spark.functions as fn

    assert hasattr(fn.stats, "iln6") and hasattr(fn.stats, "hash_cohort")
