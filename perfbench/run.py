"""Benchmark of ``execute()`` and the operator pipelines.

Run from the repository root::

    python3 perfbench/run.py --workload api_small --seed 1 --seconds 20 --trace 0

One process per run. A single client thread drives a closed loop over
the workload's ops (``workloads.py``) on ``local[nproc]``: the next op
starts when the previous one has returned. The loop runs whole passes
over the op mix until the time spent inside ops reaches ``--seconds``.
Every op runs under its own Spark job group.

Each run first starts the session once, paying what the first
``execute()`` of a process pays: the JVM launch, ``get_spark()`` and
one warm-up ``execute()``. Untimed passes then warm the JVM, and the
first of them checks the output of every op against its DuckDB oracle:

* ``execute()`` ops get WARM_UP_PASSES passes; in the timed passes each
  output must still equal the checked one, which is compared outside
  the timed interval;
* pipelines get one pass, as one pass over them is long: each is built,
  collected for the check and released; so a pipeline is checked once
  per query per run, and its timed runs are
  not its first in the process, which makes a few more Spark jobs
  (t15 25 instead of 24, r74 22 instead of 20).

``--trace 0`` reports the end-to-end metrics and keeps each op's
latencies in ``perfbench/out/``. ``--trace 1`` traces every timed pass,
reports the per-layer metrics (``tracing.py``) and the count-versus-noop
note, and writes every span to ``perfbench/out/``. When an untraced run
of the same workload, seed and code has run before, it also reports the
tracing overhead: traced over untraced latency of the same op in the
same pass, as the JVM still warms up over the timed passes.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 when every
output matched, 1 when an op failed or returned a wrong result, and 2
when the program under test is not there to import.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from typing import Any

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
# Untimed passes over the execute() ops before timing; the first checks.
# On a 4-core machine op latency falls for about six passes, by 5% in
# the sixth, and then levels off; three keep a run near a minute.
WARM_UP_PASSES = 3
# A pass over the pipelines is one sample of each. On a 4-vCPU VM their
# latency median and tail spread by 0.18 and 0.17 (IQR over median of
# runs) with one timed pass, and by 0.11 and 0.06 with two.
MIN_PASSES = 2
# latency_tail_s is the mean of the slowest TAIL_SHARE of the samples.
TAIL_SHARE = 0.1
# End-to-end metrics with their units. The ones in BENCHMARK.json are
# GATED; failed_ratio is zero on a correct run and peak_rss_mb moves with
# the JVM's heap sizing by more than any bound, so both are only printed.
E2E_UNITS = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "setup_s": "s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
GATED = ("latency_p50_s", "latency_tail_s", "ops_per_s", "setup_s")
# No pass starts, past the first, that would end after the run has
# lasted this long, so that many runs of every workload fit a fixed time
# budget also on a loaded host, where a run's fixed costs grow by half.
DEADLINE_S = 70.0


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def fingerprint(df) -> tuple:
    """Order-insensitive digest of a frame's rows, with dtypes widened
    so that equal values from either engine hash alike."""
    import pandas as pd

    cols = sorted(df.columns)
    norm = df[cols].copy()
    for c in cols:
        kind = norm[c].dtype.kind
        if kind == "M":
            norm[c] = norm[c].astype("datetime64[ns]")
        elif kind in "iu":
            norm[c] = norm[c].astype("int64")
        elif kind == "f":
            norm[c] = norm[c].astype("float64")
    hashes = pd.util.hash_pandas_object(norm, index=False).to_numpy()
    hashes.sort()
    return len(df), tuple(cols), hashlib.sha1(hashes.tobytes()).hexdigest()


def compare(result, expected) -> list[str]:
    """Mismatches between an engine result and its DuckDB oracle."""
    from tests.oracle import compare as oracle_compare

    return oracle_compare(result, expected)


def tail_mean(latencies: list[float]) -> float:
    """Mean of the slowest TAIL_SHARE of the samples, the last one in
    part when the share is not a whole number of samples.

    Not the highest order statistic with ten samples above it: every op
    runs once per pass, so that statistic sits on the edge between the
    slowest op's samples and the next op's, and moves from one to the
    other (by 35% on api_small) as the count of passes a run fits
    crosses ten; and below 21 samples it does not lie above the median.
    The mean moves by at most one sample's share as the count changes.
    """
    xs = sorted(latencies, reverse=True)
    k = TAIL_SHARE * len(xs)
    whole = int(k)
    total = sum(xs[:whole]) + (k - whole) * (xs[whole] if whole < len(xs) else 0.0)
    return total / k


def tracing_overhead(traced: list[list[float | None]], untraced: list[list[float | None]]):
    """Traced over untraced latency, minus 1, summed over the ops timed
    in both runs at the same place: same pass, same op."""
    t = u = 0.0
    for traced_pass, untraced_pass in zip(traced, untraced):
        for x, y in zip(traced_pass, untraced_pass):
            if x is not None and y is not None:
                t, u = t + x, u + y
    return t / u - 1.0 if u else None


def steal_s() -> float:
    """CPU time the hypervisor has stolen from this machine, summed over
    its CPUs, in seconds; 0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_revision() -> dict[str, str]:
    """The git sha when the tree is a checkout, and always a digest of
    the library sources, which identifies the code outside git too."""
    rev = "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            rev = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha1()
    lib = os.path.join(ROOT, "xorbits_sql_spark")
    for dirpath, dirnames, filenames in os.walk(lib):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(f.read())
    return {"git_sha": rev, "src_sha1": digest.hexdigest()}


class Runner:
    def __init__(self, args: argparse.Namespace, workload, started: float) -> None:
        import xorbits_sql_spark as xss
        from tracing import Tracer
        from xorbits_sql_spark import session
        from xorbits_sql_spark.operators import dedup

        self.args = args
        self.wl = workload
        self.xss, self.session, self.dedup = xss, session, dedup
        self.tracer = Tracer()
        self.spark = None
        self.seq = itertools.count()
        self.attempted = 0
        self.failed = 0
        self.verified: dict[str, tuple] = {}
        self.expected: dict[str, Any] = {}
        self.traced_ops: list[dict[str, Any]] = []
        self.count_vs_noop: list[dict[str, Any]] = []
        self.get_spark_s = 0.0
        self.started = started

    def fail(self, op: str, problems: list[str]) -> None:
        self.failed += 1
        print(f"perfbench FAIL {op}: " + "; ".join(problems), file=sys.stderr, flush=True)

    # -- set-up --------------------------------------------------------

    def setup(self) -> float:
        """Start the session: launch the JVM with ``get_spark()`` and
        run one warm-up ``execute()``. Returns the seconds it took."""
        import pandas as pd

        warm = pd.DataFrame({"k": [i % 3 for i in range(30)]})
        t0 = time.perf_counter()
        self.spark = self.session.get_spark()
        self.get_spark_s = time.perf_counter() - t0
        self.xss.execute("SELECT k, COUNT(*) AS n FROM w GROUP BY k", tables={"w": warm}).toPandas()
        return time.perf_counter() - t0

    # -- checking --------------------------------------------------------

    def warm_up(self) -> None:
        """Run the untimed passes. The first checks each op's output
        against its oracle; later ``execute()`` outputs are compared
        with the checked one."""
        for op in self.wl.ops:
            self.attempted += 1
            try:
                problems = self.check(op)
            except Exception:  # an op that raises is a failed op; keep going
                problems = [traceback.format_exc()]
            if problems:
                self.fail(op.name, problems)
        api_ops = [op for op in self.wl.ops if op.name in self.verified]
        for op in api_ops * (WARM_UP_PASSES - 1):
            self.attempted += 1
            try:
                self._execute(op).toPandas()
            except Exception:  # an op that raises is a failed op; keep going
                self.fail(op.name, [traceback.format_exc()])

    def check(self, op) -> list[str]:
        """Run an op once, untimed; return its mismatches with the oracle."""
        if isinstance(op, workloads.PipelineOp):
            try:
                result = op.spec.fn(self.spark, self.wl.sf_dir).toPandas()
            finally:
                self.dedup.release_caches()
            return compare(result, self.wl.duck.execute(op.spec.oracle).fetchdf())
        result = self._execute(op).toPandas()
        expected = self.wl.duck.execute(op.oracle).fetchdf()
        problems = compare(result, expected)
        if not problems:
            self.expected[op.name] = expected
            self.verified[op.name] = fingerprint(result)
        return problems

    def _execute(self, op):
        return self.xss.execute(op.sql, schema=op.schema, dialect=op.dialect, tables=op.tables)

    # -- timed ops -----------------------------------------------------

    def run_op(self, op, traced: bool) -> float | None:
        """Time one op; returns its latency, or None when it failed."""
        seq = next(self.seq)
        group = f"perfbench-{seq}"
        self.attempted += 1
        self.tracer.op = seq
        self.tracer.enabled = traced
        try:
            if isinstance(op, workloads.PipelineOp):
                latency, record = self._pipeline_op(op, group, traced)
            else:
                latency, record = self._api_op(op, group, traced)
        except Exception:  # an op that raises is a failed op; keep going
            self.fail(op.name, [traceback.format_exc()])
            if isinstance(op, workloads.PipelineOp):
                self.dedup.release_caches()
            return None
        finally:
            self.tracer.enabled = False
        if traced:
            record.update(id=seq, name=op.name, latency_s=latency)
            self.traced_ops.append(record)
        return latency

    def _api_op(self, op, group: str, traced: bool) -> tuple[float, dict[str, Any]]:
        from statusstore import group_counts

        span = self.tracer.span
        self.spark.sparkContext.setJobGroup(group, op.name)
        t0 = time.perf_counter()
        with span("op", op_name=op.name):
            df = self._execute(op)
            with span("egress.toPandas") as rec:
                result = df.toPandas()
                if rec is not None:
                    rec["rows"] = len(result)
        latency = time.perf_counter() - t0
        # Outside the timed interval: the output must equal the checked
        # output of the same op, or else match the oracle itself.
        if fingerprint(result) != self.verified.get(op.name):
            problems = compare(result, self.expected[op.name]) if op.name in self.expected else [
                "no checked output to compare with"
            ]
            if problems:
                raise AssertionError("wrong result: " + "; ".join(problems))
        record: dict[str, Any] = {"kind": "api"}
        if traced:
            record["counts"] = group_counts(self.spark, group)
        return latency, record

    def _pipeline_op(self, op, group: str, traced: bool) -> tuple[float, dict[str, Any]]:
        from statusstore import group_counts

        span = self.tracer.span
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{group}.build", op.name)
        record: dict[str, Any] = {"kind": "pipeline"}
        t0 = time.perf_counter()
        with span("op", op_name=op.name):
            with span("operators.construct"):
                df = op.spec.fn(self.spark, self.wl.sf_dir)
            sc.setJobGroup(f"{group}.action", op.name)
            a0 = time.perf_counter()
            with span("spark.exec.action"):
                df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            record["action_s"] = t1 - a0
            if traced:
                # Count-versus-noop note, outside the op's latency.
                sc.setJobGroup(f"{group}.count", op.name)
                c0 = time.perf_counter()
                df.count()
                record["count_action_s"] = time.perf_counter() - c0
            t2 = time.perf_counter()
            with span("operators.release"):
                self.dedup.release_caches()
        latency = (t1 - t0) + (time.perf_counter() - t2)
        if traced:
            build = group_counts(self.spark, f"{group}.build")
            action = group_counts(self.spark, f"{group}.action")
            count = group_counts(self.spark, f"{group}.count")
            record["build_counts"] = build
            record["counts"] = {k: build[k] + action[k] for k in build}
            record["action_run_s"] = action["run_s"]
            record["count_run_s"] = count["run_s"]
        return latency, record

    def timed_loop(self) -> list[list[float | None]]:
        """Whole passes over the op mix until op time reaches --seconds
        and MIN_PASSES passes are made, or until DEADLINE_S."""
        passes: list[list[float | None]] = []
        busy = 0.0
        while True:
            t0 = time.perf_counter()
            lats = [self.run_op(op, bool(self.args.trace)) for op in self.wl.ops]
            passes.append(lats)
            busy += sum(x for x in lats if x is not None)
            now = time.perf_counter()
            if now - self.started + (now - t0) > DEADLINE_S:
                return passes
            if busy >= self.args.seconds and len(passes) >= MIN_PASSES:
                return passes

    # -- metrics -------------------------------------------------------

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        rss = vm_hwm_mb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            rss += vm_hwm_mb(proc.pid)
        return rss

    def end_to_end(self, setup_s: float, passes) -> tuple[dict[str, float], dict[str, Any]]:
        lats = [x for p in passes for x in p if x is not None]
        if not lats:
            return {}, {}
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lats),
            "latency_tail_s": tail_mean(lats),
            "ops_per_s": len(lats) / sum(lats),
            "failed_ratio": self.failed / self.attempted,
            "peak_rss_mb": self.peak_rss_mb(),
        }
        per_op: dict[str, list[float]] = {}
        for p in passes:
            for op, x in zip(self.wl.ops, p):
                if x is not None:
                    per_op.setdefault(op.name, []).append(x)
        notes = {
            "op_latency_p50_s": {k: round(statistics.median(v), 4) for k, v in per_op.items()},
            "latency_tail_s_beyond_percentile": round(100 * (1 - TAIL_SHARE)),
            "latency_samples": len(lats),
        }
        return metrics, notes

    def per_layer(self, passes, untraced) -> tuple[dict[str, float], dict[str, Any]]:
        """Per-layer metrics and notes; ``untraced`` holds the passes of
        an untraced run of the same workload, seed and code, or None."""
        from tracing import layer_metrics

        metrics = layer_metrics(self.traced_ops, self.tracer.spans)
        metrics["session.get_spark_s"] = self.get_spark_s
        metrics["session.peak_rss_mb"] = self.peak_rss_mb()
        notes: dict[str, Any] = {}
        if untraced is None:
            notes["trace_overhead_ratio"] = "no untraced run of this seed and code; run --trace 0 first"
        else:
            notes["trace_overhead_ratio"] = tracing_overhead(passes, untraced)
        hidden = []
        for o in self.traced_ops:
            if o["kind"] == "pipeline":
                hidden.append(
                    {
                        "op": o["name"],
                        "noop_action_s": o["action_s"],
                        "count_action_s": o["count_action_s"],
                        "noop_run_s": o["action_run_s"],
                        "count_run_s": o["count_run_s"],
                    }
                )
        self.count_vs_noop = hidden
        notes["count_hides_over_2x_run_time"] = sorted(
            {h["op"] for h in hidden if h["noop_run_s"] > 2 * h["count_run_s"]}
        )
        return metrics, notes


def report(
    args,
    nproc: int,
    provenance: dict[str, Any],
    metrics: dict[str, float],
    notes: dict[str, Any],
    runner: Runner,
) -> dict[str, Any]:
    from tracing import LAYER_MOVES, metric_unit, per_layer_names

    if args.trace:
        names = per_layer_names()
        units = {n: metric_unit(n) for n in names}
    else:
        names = list(E2E_UNITS)
        units = E2E_UNITS
    print(f"perfbench workload={args.workload} seed={args.seed} cpus={provenance['cpus']} "
          f"nproc={nproc} trace={args.trace}")
    print("provenance " + json.dumps(provenance, sort_keys=True))
    for name in names:
        line = f"  {name:<40} {metrics[name]:>16.6g} {units[name]}"
        if args.trace and name in LAYER_MOVES:
            line += "    moves " + LAYER_MOVES[name]
        print(line)
    for key, value in notes.items():
        print(f"  note {key} = {value}")
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            n: {"value": metrics[n], "unit": units[n]} for n in names if args.trace or n in GATED
        },
    }


def shutdown_jvm(session) -> None:
    """Stop the session and the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    session.stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def read_untraced(path: str, provenance: dict[str, Any]) -> list[list[float | None]] | None:
    """The passes an untraced run of the same code wrote to ``path``."""
    try:
        with open(path) as f:
            saved = json.load(f)
    except (OSError, ValueError):
        return None
    return saved["passes"] if saved.get("src_sha1") == provenance["src_sha1"] else None


def write_spans(args, provenance, runner: Runner, metrics, notes) -> None:
    path = os.path.join(OUT, f"spans-{args.workload}-c{provenance['cpus']}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": args.workload,
                "provenance": provenance,
                "metrics": metrics,
                "notes": notes,
                "count_vs_noop": runner.count_vs_noop,
                "ops": runner.traced_ops,
                "spans": runner.tracer.spans,
            },
            f,
        )
    print(f"  spans written to {os.path.relpath(path, ROOT)}")


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xorbits_sql_spark", "__init__.py")):
        print(f"perfbench: no xorbits_sql_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import bench  # the repository's suite bench, for its rig-state probe

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    work_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work_dir)
    provenance = {
        "nproc": nproc,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "seed": args.seed,
        "seconds": args.seconds,
        "rig_start": bench._rig_state(),
        "steal_s_start": steal_s(),
        **source_revision(),
    }
    runner = None
    try:
        data_dir = os.path.join(work_dir, "data")
        os.makedirs(data_dir)
        wl = workloads.WORKLOADS[args.workload](args.seed, data_dir)
        runner = Runner(args, wl, started)
        if args.trace:
            runner.tracer.install()
        phases = {"inputs": time.perf_counter() - runner.started}
        setup_s = runner.setup()
        phases["setup"] = time.perf_counter() - runner.started - sum(phases.values())
        runner.warm_up()
        phases["warm_up"] = time.perf_counter() - runner.started - sum(phases.values())
        passes = runner.timed_loop()
        phases["timed_loop"] = time.perf_counter() - runner.started - sum(phases.values())
        latencies = os.path.join(
            OUT, f"latencies-{args.workload}-c{provenance['cpus']}-s{args.seed}.json"
        )
        if args.trace:
            metrics, notes = runner.per_layer(passes, read_untraced(latencies, provenance))
        else:
            metrics, notes = runner.end_to_end(setup_s, passes)
            with open(latencies, "w") as f:
                json.dump({"src_sha1": provenance["src_sha1"], "passes": passes}, f)
        provenance["rig_end"] = bench._rig_state()
        # Latency rises with the share of CPU time the host steals.
        provenance["steal_share"] = round(
            (steal_s() - provenance.pop("steal_s_start"))
            / ((os.cpu_count() or nproc) * (time.perf_counter() - started)),
            4,
        )
        provenance["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
        if not metrics:
            print("perfbench: every timed op failed", file=sys.stderr)
            return 1
        result = report(args, nproc, provenance, metrics, notes, runner)
        if args.trace:
            write_spans(args, provenance, runner, metrics, notes)
    finally:
        if runner is not None:
            runner.tracer.uninstall()
            shutdown_jvm(runner.session)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
