"""SparkSession management.

One tuned session per process. The defaults are scale-minded: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), Arrow
on (fast pandas interchange for Pandas-UDF operators), UTC session
timezone (stable cross-engine timestamp semantics vs the DuckDB oracle).

``spark.sql.shuffle.partitions`` defaults to the local core count; on a
real cluster set it (or rely on AQE coalescing) to ~2-3x total cores.

``spark.sql.codegen.cache.maxEntries`` is 1000, not Spark's 100, so a
pipeline's whole-stage-codegen classes compile once per session instead
of on every warm pass (measured working sets at the default below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # NB: coalescePartitions.parallelismFirst stays at its default
    # (true). Spark's tuning guide suggests false for large clusters,
    # but measured here size-targeted coalescing collapses small-SF
    # shuffle stages to one partition and serializes them (~30% slower
    # suite); on a real cluster revisit per workload.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast anything under 64 MB — on a 1000-executor cluster the
    # dimension tables (region/nation/supplier/part at TPC-H shapes) must
    # broadcast, never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Read parquet TIMESTAMP(NANOS) columns (events.ts in the testdata)
    # as BIGINT nanos instead of erroring; loaders convert to micros.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (a static conf, read once when the session
    # is built). Measured working sets: 204 classes per pass over the
    # perfbench operator pipelines, 72 for its api_small ops. Spark's
    # default of 100 evicted the pipelines' classes before their reuse,
    # so every warm pass recompiled ~206; 1000 leaves ~5x headroom over
    # the larger set. One pass over the whole query registry makes
    # ~4,000 and does not fit.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "xorbits_sql_spark", **conf: str) -> SparkSession:
    """Return (building if needed) the process-wide SparkSession.

    Extra ``conf`` entries override the tuned defaults. If a session
    already exists it is returned as-is (Spark configs are mostly
    immutable post-start), matching SparkSession.builder semantics.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.master(
        os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    ).appName(app_name)
    merged = dict(_DEFAULTS)
    merged.setdefault("spark.sql.shuffle.partitions", str(cpus))
    merged["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    merged.update({k: str(v) for k, v in conf.items()})
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_expected_warnings(spark)
    return spark


def _silence_expected_warnings(spark: SparkSession) -> None:
    """Raise the log level of loggers whose WARNs are expected noise.

    WindowExec warns "No Partition Defined ... moving all data to a
    single partition" on every bounded-input global window. The plan
    gates in tests/test_plans.py already classify every global window
    in the inventory as bounded-input-only, so the warning carries no
    information here — but it spammed the driver's 2000-char bench
    tail capture, where it could mask a genuinely new warning. Scoped
    to the one logger (not a global ERROR level) so unexpected WARNs
    elsewhere still surface; best-effort across log4j2 API shapes.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 - logging tweak must never break startup
        pass


def stop_spark() -> None:
    """Stop the session (test teardown helper).

    ``getActiveSession`` is thread-local — a session built on another
    thread would leak past it — so the process-wide instantiated
    session is checked too (PySpark exposes no public
    getDefaultSession; _instantiatedSession is its backing slot)."""
    for s in (
        SparkSession.getActiveSession(),
        getattr(SparkSession, "_instantiatedSession", None),
    ):
        if s is not None:
            s.stop()
            return
