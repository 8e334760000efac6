#!/usr/bin/env python
"""Guarded acceptance of a bench run as the committed baseline.

Both files are keyed by the run's core count N (``$SPARK_GRAFT_CPUS``,
as in bench.py): this script reads ``BENCH_LOCAL_cN.json`` and writes
``BENCH_BASELINE_cN.json``. A bare copy would let one lucky-fast or
unlucky-slow run become the anchor on a rig that swings +/-25% within
a day (a fast-tail anchor once produced 16 phantom flags on every
honest later run), so acceptance follows a typical-rig anchor rule:

  A candidate run is accepted only when its warm total is within 1.05x
  (two-sided) of the MEDIAN of the last 3 bench runs recorded for the
  SAME git SHA, sf dir and cpus in BENCH_HISTORY.jsonl (bench.py
  appends one record per run). An outlier is refused with the numbers
  printed — re-run bench.py and try again.

Usage:
    python scripts/accept_baseline.py            # candidate = latest run
    python scripts/accept_baseline.py --median   # candidate = the median
                                                 # run itself (preferred:
                                                 # anchors on typical)
    python scripts/accept_baseline.py --dry-run
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from xorbits_sql_spark.session import default_parallelism  # noqa: E402

HISTORY = os.path.join(REPO, bench._HISTORY_NAME)
TOLERANCE = 1.05


def main() -> int:
    use_median = "--median" in sys.argv
    dry = "--dry-run" in sys.argv
    cpus = default_parallelism()
    local, baseline = bench._snapshot_path(cpus), bench._baseline_path(cpus)
    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    try:
        with open(HISTORY) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        print(f"REFUSED: no {HISTORY}; run bench.py at least 3 times first")
        return 1
    try:
        with open(local) as f:
            cand = json.load(f)
    except OSError:
        print(f"REFUSED: no {local}; run bench.py with SPARK_GRAFT_CPUS={cpus} first")
        return 1
    if not use_median:
        # these gates apply to the CANDIDATE's own data; --median writes
        # the median history run instead and never uses the candidate
        # beyond locating the sha/sf context
        if cand.get("failures"):
            print(f"REFUSED: candidate run has {len(cand['failures'])} failure(s)")
            return 1
        # candidate provenance: a dirty-tree or stale-commit snapshot
        # must not become the committed baseline under HEAD's name
        if cand.get("sha") is not None and cand.get("sha") != sha:
            print(
                f"REFUSED: candidate sha {str(cand.get('sha'))[:8]} != HEAD "
                f"{sha[:8]}; re-run bench.py at HEAD"
            )
            return 1
        if cand.get("dirty"):
            print("REFUSED: candidate was recorded on a dirty tree")
            return 1
    # "same code" means same committed sha AND a clean tree: a dirty-tree
    # run may time different code under the same sha, and a run with
    # failures has a deflated total plus a truncated query map (its
    # missing queries would become permanently unflagged "new queries").
    # "same rig shape" means the same sf dir and cpus.
    same = [
        r
        for r in runs
        if r.get("sha") == sha
        and r.get("sf") == cand.get("sf")
        and r.get("cpus") == cpus
        and not r.get("dirty")
        and r.get("n_failures", 0) == 0
    ]
    if len(same) < 3:
        print(
            f"REFUSED: only {len(same)} clean same-code run(s) for HEAD "
            f"{sha[:8]} at sf={cand.get('sf')}, cpus={cpus}; need 3 "
            "(zero-failure, clean-tree) runs for a median anchor"
        )
        return 1
    last3 = same[-3:]
    totals = sorted(r["value"] for r in last3)
    median_total = totals[1]
    median_run = next(r for r in last3 if r["value"] == median_total)
    cand_total = cand["value"]
    ratio = cand_total / median_total
    print(
        f"last-3 same-code totals: {totals} -> median {median_total}; "
        f"candidate {cand_total} (ratio {ratio:.3f}, bar {1/TOLERANCE:.3f}..{TOLERANCE})"
    )

    # Both paths write the same clean minimal shape: a baseline must
    # not carry the previous run's embedded regression report (computed
    # against the PREVIOUS baseline) or cold maps.
    def _accepted(run: dict, rule: str) -> dict:
        return {
            "metric": "query_suite_wall_seconds",
            "value": run["value"],
            "unit": "sec",
            "sf": run["sf"],
            "cpus": cpus,
            "n_queries": run["n_queries"],
            "value_cold": run.get("value_cold"),
            "queries": run["queries"],
            "accepted_rule": rule,
        }

    name = os.path.basename(baseline)
    if use_median:
        # Anchor on the median run's TOTAL, but compose the per-query
        # map from PER-QUERY medians across the 3 clean runs: a single
        # run's per-query samples include lucky-fast cells that then
        # generate phantom 4-5x flags on every honest later run.
        qmaps = [r["queries"] for r in last3]
        all_q = sorted(set().union(*qmaps))
        median_queries = {
            q: statistics.median(m[q] for m in qmaps if q in m) for q in all_q
        }
        median_cold = [
            r["value_cold"] for r in last3 if r.get("value_cold") is not None
        ]
        anchor = dict(
            median_run,
            queries=median_queries,
            value_cold=statistics.median(median_cold) if median_cold else None,
        )
        accepted = _accepted(
            anchor,
            f"median total of last 3 same-code runs {totals} at {sha[:8]}, "
            "per-query cells = per-query medians across those runs "
            "(scripts/accept_baseline.py --median)",
        )
        if dry:
            print(f"DRY RUN: would write median run ({median_total} s) to {name}")
            return 0
        with open(baseline, "w") as f:
            json.dump(accepted, f, indent=1, sort_keys=True)
        print(f"ACCEPTED: median run ({median_total} s) -> {name}")
        return 0
    if not (1 / TOLERANCE <= ratio <= TOLERANCE):
        print(
            "REFUSED: candidate is an outlier vs the same-code median; "
            "re-run bench.py or use --median to anchor on the typical run"
        )
        return 1
    if dry:
        print(f"DRY RUN: would accept {os.path.basename(local)} into {name}")
        return 0
    accepted = _accepted(
        cand,
        f"within {TOLERANCE}x of median {median_total} over last 3 same-code "
        f"runs {totals} at {sha[:8]} (scripts/accept_baseline.py)",
    )
    with open(baseline, "w") as f:
        json.dump(accepted, f, indent=1, sort_keys=True)
    print(f"ACCEPTED: {cand_total} s -> {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
