"""bench.py harness units: headline filter edge shapes, the (sf, cpus)
baseline keying, and the provenance dirtiness rule."""

from __future__ import annotations

import json
import types

import pytest

import bench


def test_compact_headline_filter_shapes():
    out = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "sf": "x",
        "cpus": 4,
        "n_queries": 4,
        "value_cold": 2.0,
        "failures": {},
        # q05 (no suffix) must be excluded, not crash (advisor finding:
        # n[3] raised IndexError on 3-char keys)
        "queries": {"q01_a": 1.0, "q05": 9.0, "q100_h": 3.0, "t01_x": 2.0},
    }
    compact = bench._compact(out)
    assert compact["queries"] == {"q01_a": 1.0}
    assert compact["full_results"] == "BENCH_LOCAL_c4.json"


SF = "/data/sf0.1"
# a 1.0 s cell against a 0.1 s baseline: ratio 10, delta 0.9 s -> flags;
# against 0.9 s it never flags
BASE = {"slow_x": 0.1, "same_y": 0.9}


@pytest.fixture
def rig(tmp_path, monkeypatch):
    """bench's artifact directory moved to tmp_path, holding one
    accepted (SF, 32-core) baseline."""
    monkeypatch.setattr(bench, "_REPO", str(tmp_path))
    (tmp_path / "BENCH_BASELINE_c32.json").write_text(
        json.dumps({"sf": SF, "cpus": 32, "value": 0.5, "queries": BASE})
    )
    return tmp_path


def test_baseline_from_other_cpus_flags_nothing(rig):
    timings = {"slow_x": 1.0, "same_y": 1.0}
    assert bench._load_baseline_queries(SF, 4) == {}
    out = bench._vs_baseline(timings, SF, 4)
    assert set(out["baseline"]) == {"skipped"}
    assert "BENCH_BASELINE_c4.json" in out["baseline"]["skipped"]
    # the same sf dir is not enough, and neither is the right cpus at
    # another sf dir
    assert bench._load_baseline_queries("/data/sf1", 32) == {}


def test_baseline_with_matching_cpus_flags_as_before(rig):
    timings = {"slow_x": 1.0, "same_y": 0.5, "new_z": 3.0}
    assert bench._load_baseline_queries(SF, 32) == BASE
    base = bench._vs_baseline(timings, SF, 32)["baseline"]
    assert base["regressions"] == {
        "slow_x": {"sec": 1.0, "baseline_sec": 0.1, "ratio": 10.0}
    }
    assert base["new_queries"] == ["new_z"]
    assert base["ratio"] == 1.5
    # the absolute floor is on the delta, and 8 s for streaming entries
    assert not bench._regressed("slow_x", 0.39, BASE, frozenset())
    assert bench._regressed("slow_x", 0.41, BASE, frozenset())
    assert not bench._regressed("slow_x", 8.0, BASE, {"slow_x"})


def _run_main(monkeypatch, cpus: int) -> tuple[dict, dict]:
    """bench.main over two fake 1.0 s queries on a fake clock; returns
    (executions per query, the written snapshot)."""
    import xorbits_sql_spark.queries as queries
    import xorbits_sql_spark.session as session

    clock = [0.0]
    runs = {name: 0 for name in BASE}

    def spec(name):
        def fn(_spark, _sf):
            def count():
                runs[name] += 1
                clock[0] += 1.0

            return types.SimpleNamespace(count=count)

        return types.SimpleNamespace(fn=fn, tags=())

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(queries, "load_all", lambda: {n: spec(n) for n in BASE})
    monkeypatch.setattr(
        bench, "time", types.SimpleNamespace(perf_counter=lambda: clock[0], time=lambda: 0.0)
    )
    bench.main()
    with open(bench._snapshot_path(cpus)) as f:
        return runs, json.load(f)


def test_main_keys_suspect_gate_by_cpus(rig, monkeypatch, capsys):
    # 4 cores against the 32-core baseline: one cold and one warm pass
    # per query, nothing re-measured, nothing flagged
    runs, snap = _run_main(monkeypatch, 4)
    assert runs == {"slow_x": 2, "same_y": 2}
    assert snap["cpus"] == 4 and set(snap["baseline"]) == {"skipped"}
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["full_results"] == (
        "BENCH_LOCAL_c4.json"
    )
    # 32 cores: the suspect is re-measured twice more and flagged
    runs, snap = _run_main(monkeypatch, 32)
    assert runs == {"slow_x": 4, "same_y": 2}
    assert snap["cpus"] == 32
    assert list(snap["baseline"]["regressions"]) == ["slow_x"]


def test_git_provenance_excludes_bench_artifacts(tmp_path):
    """bench's own output artifacts (BENCH_HISTORY.jsonl and every
    BENCH_LOCAL_c*.json) are tracked; a run that rewrites them must not
    mark the NEXT run dirty, or the 3-clean-run median anchor could
    never be satisfied. Any other tracked modification must."""
    import subprocess

    def git(*args):
        subprocess.run(["git", *args], cwd=tmp_path, check=True,
                       capture_output=True)

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    artifacts = ("BENCH_HISTORY.jsonl", "BENCH_LOCAL_c8.json", "BENCH_LOCAL_c4.json")
    for name in (*artifacts, "code.py"):
        (tmp_path / name).write_text("x\n")
    git("add", "-A")
    git("commit", "-q", "-m", "init")
    sha, dirty = bench._git_provenance(str(tmp_path))
    assert len(sha) == 40 and not dirty
    # bench artifacts modified -> still clean
    for name in artifacts:
        (tmp_path / name).write_text("y\n")
    assert bench._git_provenance(str(tmp_path)) == (sha, False)
    # untracked file -> still clean (can't change timings)
    (tmp_path / "scratch.txt").write_text("z\n")
    assert bench._git_provenance(str(tmp_path)) == (sha, False)
    # real code modification -> dirty
    (tmp_path / "code.py").write_text("changed\n")
    assert bench._git_provenance(str(tmp_path)) == (sha, True)
