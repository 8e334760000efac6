"""Every query must be correct on a *vanilla* SparkSession.

The driver harness constructs its own ``SparkSession.builder.getOrCreate()``
with none of the tuned defaults in ``session.py`` (no UTC timezone, no
nanosAsLong, 10 MB broadcast threshold, 200 shuffle partitions). Round 1
lost 7/50 driver checks to exactly this class of bug (events.parquet
TIMESTAMP(NANOS) read), so this test runs a representative slice of the
registry — one query per family, biased toward timestamp/session-config
sensitivity — in a SUBPROCESS with a default session, and value-compares
against DuckDB.

A subprocess is required: Spark allows one JVM per Python process and the
pytest session already holds a tuned one.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

# The checkout under test: the subprocess imports the library and
# tests.oracle from here, wherever the suite runs.
_ROOT = Path(__file__).resolve().parents[1]

# One per query family; q50/q54/q56 exercise the nanos timestamp read,
# q01 decimal aggregation, q43 date extraction, q60/q76 text/pipeline,
# q70 vectors, q33 windows.
_REPRESENTATIVE = (
    "q01_pricing_summary",
    "q33_window_topk_per_group",
    "q43_substring_extract",
    "q50_events_hourly",
    "q54_events_asof_order",
    "q56_events_rollup_daily",
    "q60_doc_token_stats",
    "q70_knn_brute_force",
    "q76_decontaminate",
    # round-2 families: iterative (kmeans), temporal spine (gapfill),
    # layout bit-math (zorder), codec mapInPandas (video frames)
    "r72_kmeans_lloyd",
    "r55_gapfill_locf",
    "r77_zorder_locality",
    "r92_video_frame_sampling",
    # streaming: read_parquet_stream bypassed t()'s conf fix until late
    # round 2 — ALL seven streaming queries died on a vanilla session
    # (same nanos class the docstring describes). q88 carries a full
    # oracle; r84 (stream-stream join) pins the two-stream path.
    "q88_stream_static_join",
    "r84_stream_stream_join",
)

_SCRIPT = r"""
import sys
sys.path.insert(0, %(root)r)
from pyspark.sql import SparkSession

# Vanilla: no tuned conf whatsoever (mirrors the driver harness).
spark = SparkSession.builder.master("local[8]").appName("vanilla-gate").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import duckdb
from xorbits_sql_spark.queries import load_all
from tests.oracle import compare, exact_match

SF = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

specs = load_all()
failures = []
for name in %(names)r:
    spec = specs[name]
    sdf = spec.fn(spark, SF).toPandas()
    ddf = con.execute(spec.oracle).fetchdf()
    problems = compare(sdf, ddf)
    if problems:
        failures.append((name, problems))
    elif not exact_match(sdf, ddf):
        failures.append((name, ["inexact values"]))
for name, problems in failures:
    print("FAIL", name, problems, file=sys.stderr)
print("VANILLA_OK" if not failures else "VANILLA_FAILED")
"""


def test_queries_green_on_vanilla_session():
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SCRIPT % {"names": _REPRESENTATIVE, "root": str(_ROOT)},
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=_ROOT,
    )
    assert "VANILLA_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}"
    )
