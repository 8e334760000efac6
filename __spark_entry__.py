"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``xorbits_sql_spark.queries`` (one module per
operator family); this file just adapts the registry to the contract.
The history of the verification window is in BASELINE.md.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from xorbits_sql_spark.queries import load_all

# Registry-name prefixes (e.g. "t66") whose result-affecting definition
# changed since their last green record: they re-enter the window.
_REENTRIES: frozenset[str] = frozenset()


def is_green(rec: dict) -> bool:
    """Full rows+schema+hash match, or the rows-only ``no_oracle`` record."""
    if rec.get("err") == "no_oracle":
        return rec.get("spark_rows") is not None
    return bool(
        rec.get("err") is None
        and rec.get("rows_match")
        and rec.get("schema_match")
        and rec.get("hash_match")
    )


def green_rounds(names, ledger_dir: Path) -> dict[str, int]:
    """Driver-green registry name -> round of its latest record, from the
    ``CORRECTNESS_r{N}.json`` files in ``ledger_dir``. A name is green
    when its latest record is; records may carry the ``z`` rotation."""
    by_rotated: dict[str, list[str]] = {}
    for n in names:
        by_rotated.setdefault("z" + n[1:], []).append(n)
    latest: dict[str, tuple[int, dict]] = {}
    for path in ledger_dir.glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            for recorded, rec in json.loads(path.read_text()).items():
                cands = [recorded] if recorded in names else by_rotated.get(recorded, [])
                if len(cands) > 1:
                    raise ValueError(f"ambiguous rotated record {recorded}: {cands}")
                # no candidate: a renamed or retired entry
                if cands and int(m[1]) > latest.get(cands[0], (0,))[0]:
                    latest[cands[0]] = (int(m[1]), rec)
    return {
        n: rnd
        for n, (rnd, rec) in latest.items()
        if is_green(rec) and n.split("_", 1)[0] not in _REENTRIES
    }


def _exposed(specs, green: dict[str, int]) -> list[tuple[str, object]]:
    """(exposed key, spec) in insertion order; the driver checks the first 50.

    Fresh names come first: re-verifying a driver-green one burns a
    slot. Green names follow under a ``z`` prefix, stalest green round
    first. In either half oracle-bearing names precede rows-only ones,
    then exposed keys sort lexically. A red latest record, or a prefix
    in ``_REENTRIES`` (result-affecting change; drop it once a newer
    green record exists), puts a name back in the fresh half."""
    def key(name):
        return "z" + name[1:] if name in green else name

    order = sorted(
        specs.items(),
        key=lambda kv: (kv[0] in green, green.get(kv[0], 0), kv[1].oracle is None, key(kv[0])),
    )
    return [(key(name), spec) for name, spec in order]


_GREEN = green_rounds(load_all(), Path(__file__).resolve().parent)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001 parquet."""
    specs = load_all()
    return specs["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + extensions."""
    specs = load_all()
    out = {k: spec.fn for k, spec in _exposed(specs, _GREEN)}
    # The z-rotation folds the q/r/s/t/u families into one namespace: two
    # green names sharing digits+suffix would merge into one key. Refuse.
    if len(out) != len(specs):
        raise RuntimeError(f"rotated-name collision: {len(specs)} entries as {len(out)} keys")
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible
    streaming ops — driver records a rows-only check for those)."""
    specs = load_all()
    out = {k: spec.oracle for k, spec in _exposed(specs, _GREEN) if spec.oracle is not None}
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    if len(out) != n_oracle:  # see queries(): rotated-namespace collision
        raise RuntimeError(f"rotated-name collision: {n_oracle} oracles as {len(out)} keys")
    return out
