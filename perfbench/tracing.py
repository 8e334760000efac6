"""Spans around the calls the benchmark makes into each layer.

Nothing inside ``xorbits_sql_spark`` is edited: for a traced run the
benchmark rebinds each layer's public entry point (and the two PySpark
calls the library makes on the user's behalf) to a wrapper that records
a span, then restores them. A span is ``(id, name, op, parent, start,
end)`` plus attributes such as row counts; spans stay in memory and are
written out when the run ends.

Layers and the calls that bound them:

==============  ===========================================================
session         ``session.get_spark``: timed directly at set-up, and as a
                span where ``execute`` calls it
table           ``core.register_tables``
sources         ``core.register_csv_reads``
dialect         ``dialect.transpile``
core            ``execute``; its self time is the residual (qualified-name
                rewrite, statement split)
spark.analyze   ``SparkSession.sql``
spark.exec      the action: ``DataFrame._collect_as_arrow``, where
                ``toPandas`` runs its Spark jobs, or the noop-sink write;
                counts come from the status store per job group
egress          ``toPandas``; its self time is the Arrow-to-pandas part
operators       a registry ``spec.fn`` until it returns, and
                ``operators.dedup.release_caches``
==============  ===========================================================
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from collections import defaultdict
from collections.abc import Iterator
from typing import Any

from statusstore import COUNT_KEYS
from workloads import PIPELINES

# Per-layer metric -> the end-to-end metric and workload it should move.
LAYER_MOVES: dict[str, str] = {
    "session.get_spark_s": "setup_s on every workload",
    "session.peak_rss_mb": "nothing gated: Python driver plus JVM peak RSS; varies with JVM heap sizing",
    "table.register_s": "latency_p50_s on api_small (~30% of an op); flat on operator_pipelines",
    "table.rows": "nothing: a count that must repeat exactly",
    "table.rows_per_s": "latency_p50_s on api_small; flat on operator_pipelines",
    "sources.csv_register_s": "latency_p50_s on api_small",
    "dialect.transpile_s": "latency_p50_s on api_small by <1% of an op; a dialect refactor moves nothing",
    "core.residual_s": "latency_p50_s on api_small",
    "spark.analyze_s": "latency_p50_s on api_small",
    "spark.exec.action_s": "latency_p50_s on api_small, ops_per_s on operator_pipelines",
    "spark.exec.jobs": "latency_p50_s on api_small, ops_per_s on operator_pipelines",
    "spark.exec.stages": "latency_p50_s on api_small, ops_per_s on operator_pipelines",
    "spark.exec.tasks": "latency_p50_s on api_small, ops_per_s on operator_pipelines",
    "spark.exec.job_wall_s": "latency_p50_s on api_small, ops_per_s on operator_pipelines",
    "spark.exec.run_s": "ops_per_s on operator_pipelines",
    "spark.exec.cpu_s": "ops_per_s on operator_pipelines",
    "spark.exec.shuffle_read_bytes": "ops_per_s on operator_pipelines",
    "spark.exec.shuffle_write_bytes": "ops_per_s on operator_pipelines",
    "spark.exec.spill_bytes": "ops_per_s on operator_pipelines",
    "egress.s": "latency_p50_s on api_small",
    "egress.rows": "nothing: a count that must repeat exactly",
    "egress.rows_per_s": "latency_p50_s on api_small",
    "operators.construct_s": "ops_per_s on operator_pipelines; flat on api_small",
    "operators.construct_jobs": "ops_per_s on operator_pipelines; flat on api_small",
    "operators.action_s": "ops_per_s on operator_pipelines; flat on api_small",
    "operators.release_s": "ops_per_s on operator_pipelines; flat on api_small",
    "spark.exec.count_action_s": "nothing: a count() run beside the timed noop-sink action",
}
# Each PIPELINE_KEYS metric is also reported per operator_pipelines entry.
PIPELINE_IDS = tuple(PIPELINES)
PIPELINE_KEYS = (
    "operators.construct_s",
    "operators.construct_jobs",
    "operators.action_s",
    "operators.release_s",
    "spark.exec.count_action_s",
)


def metric_unit(name: str) -> str:
    """Unit of a per-layer metric, from its base name's suffix."""
    base = name.rsplit(".", 1)[0] if name.endswith(PIPELINE_IDS) else name
    units = (("_per_s", "1/s"), ("_bytes", "bytes"), ("_ratio", "ratio"), ("_mb", "MB"), ("_s", "s"), (".s", "s"))
    for suffix, unit in units:
        if base.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = list(LAYER_MOVES)
    names += [f"{key}.{q}" for q in PIPELINE_IDS for key in PIPELINE_KEYS]
    return names


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self.op: int | None = None
        self._root: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict[str, Any] | None]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # Spans opened on a driver thread the library started have no
        # stack of their own; they belong to the op that started them.
        parent = stack[-1] if stack else self._root
        rec = {"id": next(self._ids), "name": name, "op": self.op, "parent": parent}
        rec.update(attrs)
        self.spans.append(rec)
        stack.append(rec["id"])
        if parent is None:
            self._root = rec["id"]
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._root == rec["id"]:
                self._root = None

    def wrap(self, owner: object, attr: str, name: str, attrs=None) -> None:
        """Rebind ``owner.attr`` to a wrapper recording span ``name``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name, **(attrs(*args, **kwargs) if attrs else {})):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def install(self) -> None:
        import xorbits_sql_spark as xss
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from xorbits_sql_spark import core, dialect

        self.wrap(core, "get_spark", "session.get_spark")
        self.wrap(
            core,
            "register_tables",
            "table.register_tables",
            attrs=lambda _spark, tables, *a, **k: {"rows": _rows(tables)},
        )
        self.wrap(core, "register_csv_reads", "sources.register_csv_reads")
        self.wrap(dialect, "transpile", "dialect.transpile")
        self.wrap(xss, "execute", "core.execute")
        self.wrap(SparkSession, "sql", "spark.analyze")
        self.wrap(DataFrame, "_collect_as_arrow", "spark.exec.action")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def _rows(tables: Any) -> int:
    if isinstance(tables, dict):
        return sum(_rows(v) for v in tables.values())
    try:
        return len(tables)
    except TypeError:  # a Spark DataFrame: its rows are not counted
        return 0


def op_layers(spans: list[dict[str, Any]]) -> dict[int, dict[str, float]]:
    """Per op: summed duration per span name and per ``parent>name``
    pair, self time per span name, and summed ``rows`` attributes. Self
    time is a span's duration minus that of its traced children."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    name = {s["id"]: s["name"] for s in spans}
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += dur[s["id"]]
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["op"] is None:
            continue
        d = out[s["op"]]
        d[s["name"]] += dur[s["id"]]
        d[name.get(s["parent"], "") + ">" + s["name"]] += dur[s["id"]]
        d["self:" + s["name"]] += dur[s["id"]] - child[s["id"]]
        d["rows:" + s["name"]] += s.get("rows", 0)
    return out


def layer_metrics(ops: list[dict[str, Any]], spans: list[dict[str, Any]]) -> dict[str, float]:
    """Per-layer metrics as per-op means over the traced ``ops``.

    Each op record carries ``id``, ``name``, ``kind``, the status-store
    ``counts`` of its build and action job groups, and for pipelines
    ``build_counts`` and ``count_action_s``. Rates divide summed rows by
    summed time. The action is the collect under ``toPandas`` or the
    noop-sink write; collects a pipeline makes while it is built count
    as construction.
    """
    by_op = op_layers(spans)

    def total(key: str, subset: list[dict[str, Any]]) -> float:
        return sum(by_op[o["id"]].get(key, 0.0) for o in subset)

    n = max(len(ops), 1)
    reg_s, reg_rows = total("table.register_tables", ops), total("rows:table.register_tables", ops)
    egress_s, egress_rows = total("self:egress.toPandas", ops), total("rows:egress.toPandas", ops)
    m = {
        "table.register_s": reg_s / n,
        "table.rows": reg_rows / n,
        "table.rows_per_s": reg_rows / reg_s if reg_s else 0.0,
        "sources.csv_register_s": total("sources.register_csv_reads", ops) / n,
        "dialect.transpile_s": total("dialect.transpile", ops) / n,
        "core.residual_s": total("self:core.execute", ops) / n,
        "spark.analyze_s": total("spark.analyze", ops) / n,
        "spark.exec.action_s": (
            total("egress.toPandas>spark.exec.action", ops) + total("op>spark.exec.action", ops)
        ) / n,
        "egress.s": egress_s / n,
        "egress.rows": egress_rows / n,
        "egress.rows_per_s": egress_rows / egress_s if egress_s else 0.0,
    }
    for key in COUNT_KEYS:
        m[f"spark.exec.{key}"] = sum(o["counts"][key] for o in ops) / n
    pipes = [o for o in ops if o["kind"] == "pipeline"]
    groups = {"": pipes} | {"." + q: [o for o in pipes if o["name"] == q] for q in PIPELINE_IDS}
    for suffix, sub in groups.items():
        k = max(len(sub), 1)
        m["operators.construct_s" + suffix] = total("operators.construct", sub) / k
        m["operators.construct_jobs" + suffix] = sum(o["build_counts"]["jobs"] for o in sub) / k
        m["operators.action_s" + suffix] = total("op>spark.exec.action", sub) / k
        m["operators.release_s" + suffix] = total("operators.release", sub) / k
        m["spark.exec.count_action_s" + suffix] = sum(o["count_action_s"] for o in sub) / k
    return m
