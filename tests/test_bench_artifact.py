"""The BENCH artifact is the driver's scoreboard — test its assembly.

bench.py's field shape (headline value, per-rep gate efficiencies, the
pooled estimator over committed ``bench/records/`` files) is what the
judge reads in BENCH_rN; a bug there misreports the engine no matter how
fast it runs.  These tests run bench.main() with the expensive parts
(fixture gen, Spark sessions, pipeline subprocesses) monkeypatched to
canned results, so the assembly logic itself is covered by plain pytest.
"""

from __future__ import annotations

import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _DummySpark:
    def stop(self) -> None:  # matches the one method main() calls
        pass


@pytest.fixture()
def bench_mod(monkeypatch, tmp_path):
    import bench as bench_mod  # the root bench.py (shadows the bench/ dir)

    # canned pipeline runs: W1/W4 walls chosen so per-rep eff is exact
    walls = {
        "local[32]": {"wall_sec": 100.0, "triples": 1000, "triples_per_sec": 10.0,
                      "precision": 0.99, "recall": 0.99},
        "local-cluster[1,2,12288]": {"wall_sec": 640.0, "triples": 1000,
                                     "triples_per_sec": 1.5625},
        "local-cluster[4,2,12288]": {"wall_sec": 200.0, "triples": 1000,
                                     "triples_per_sec": 5.0},
    }
    calls: list[str] = []

    def fake_pipeline_at(master, fixture_dir, with_pr=False):
        calls.append(master)
        return dict(walls[master])

    monkeypatch.setattr(bench_mod, "_pipeline_at", fake_pipeline_at)
    monkeypatch.setattr(
        bench_mod, "_relational_queries", lambda spark, sf_dir: {"q_fake": 1.0}
    )
    import kgx.session

    monkeypatch.setattr(kgx.session, "get_spark", lambda *a, **k: _DummySpark())
    import kgx.fixtures.gen

    monkeypatch.setattr(kgx.fixtures.gen, "ensure", lambda scale, root: tmp_path)
    import scaling_protocol  # bench/scaling_protocol.py, on sys.path via bench

    monkeypatch.setattr(scaling_protocol, "RECORDS_DIR", str(tmp_path / "records"))
    monkeypatch.setattr(
        scaling_protocol,
        "engine_fingerprint",
        lambda: {"git_head": "head", "engine_tree": "tree-current", "engine_dirty": False},
    )
    bench_mod._TEST_CALLS = calls  # type: ignore[attr-defined]
    return bench_mod


def _run_main(bench_mod, capsys) -> dict:
    assert bench_mod.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_artifact_shape_and_gate_fields(bench_mod, capsys):
    report = _run_main(bench_mod, capsys)
    # headline value is the local[32] pipeline wall, echoed into queries
    assert report["value"] == 100.0
    assert report["queries"]["kg_pipeline_e2e"] == 100.0
    pipe = report["pipeline"]
    # canned eff = 640/200/4 = 0.8 per rep, BENCH_REPS reps
    assert pipe["scaling_efficiency_per_rep"] == [0.8] * bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_exec_1_to_4"] == 0.8
    # with no committed records the pool is exactly the in-run reps
    assert pipe["scaling_efficiency_pooled"] == 0.8
    assert pipe["scaling_efficiency_pooled_n"] == bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_pooled_records"] == []
    assert pipe["local32"]["precision"] == 0.99


def test_local32_headline_runs_first(bench_mod, capsys):
    # round-4 lesson: the local[32] wall was recorded LAST, after ~40 min
    # of wide subprocesses, and a host slow phase inflated it 1.9x — the
    # headline must run before the executor ladder
    _run_main(bench_mod, capsys)
    calls = bench_mod._TEST_CALLS
    assert calls[0] == "local[32]"
    # alternating gate order after it: W1,W4 / W4,W1 / ...
    assert calls[1:3] == ["local-cluster[1,2,12288]", "local-cluster[4,2,12288]"]
    if bench_mod.BENCH_REPS >= 2:
        assert calls[3:5] == ["local-cluster[4,2,12288]", "local-cluster[1,2,12288]"]


def test_pooling_reads_committed_records(bench_mod, capsys, tmp_path):
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    # matching scale + matching engine tree: pooled in
    (rec_dir / "scaling_match.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-current",
                "engine_dirty": False,
                "eff_exec_1_to_4": {"per_rep": [0.9, 0.9, 0.9]},
            }
        )
    )
    # other-scale record: ignored entirely (not even listed as excluded)
    (rec_dir / "scaling_other.json").write_text(
        json.dumps({"scale": "bench", "eff_exec_1_to_4": {"per_rep": [0.1]}})
    )
    # same scale, OLDER engine tree: excluded from the pool but reported —
    # the round-5 advice case (stale records masking a scaling regression)
    (rec_dir / "scaling_stale.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-old",
                "engine_dirty": False,
                "eff_exec_1_to_4": {"per_rep": [0.95]},
            }
        )
    )
    # same scale + tree but measured on a DIRTY kgx/: excluded too
    (rec_dir / "scaling_dirty.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-current",
                "engine_dirty": True,
                "eff_exec_1_to_4": {"per_rep": [0.95]},
            }
        )
    )
    # legacy record with no engine stamp: excluded (identity unprovable)
    (rec_dir / "scaling_legacy.json").write_text(
        json.dumps(
            {"scale": bench_mod.BENCH_SCALE, "eff_exec_1_to_4": {"per_rep": [0.95]}}
        )
    )
    # malformed record: must not sink the bench
    (rec_dir / "scaling_bad.json").write_text("{not json")
    report = _run_main(bench_mod, capsys)
    pipe = report["pipeline"]
    n = bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_pooled_n"] == n + 3
    assert pipe["scaling_efficiency_pooled_records"] == ["scaling_match.json"]
    assert pipe["scaling_efficiency_excluded_records"] == [
        "scaling_dirty.json",
        "scaling_legacy.json",
        "scaling_stale.json",
    ]
    assert pipe["engine_tree"] == "tree-current"
    import statistics

    assert pipe["scaling_efficiency_pooled"] == round(
        statistics.median([0.8] * n + [0.9, 0.9, 0.9]), 3
    )



def test_dirty_engine_pools_only_in_run_reps(bench_mod, capsys, tmp_path, monkeypatch):
    # uncommitted kgx/ edits: the in-run reps measure the edited code, so no
    # record of the committed tree may join them — every one is excluded
    import scaling_protocol

    monkeypatch.setattr(
        scaling_protocol,
        "engine_fingerprint",
        lambda: {"git_head": "head", "engine_tree": "tree-current", "engine_dirty": True},
    )
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    for name, tree in (("scaling_match.json", "tree-current"), ("scaling_stale.json", "tree-old")):
        (rec_dir / name).write_text(
            json.dumps(
                {
                    "scale": bench_mod.BENCH_SCALE,
                    "engine_tree": tree,
                    "engine_dirty": False,
                    "eff_exec_1_to_4": {"per_rep": [0.9, 0.9, 0.9]},
                }
            )
        )
    pipe = _run_main(bench_mod, capsys)["pipeline"]
    assert pipe["engine_dirty"] is True
    assert pipe["scaling_efficiency_pooled_n"] == bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_pooled"] == 0.8
    assert pipe["scaling_efficiency_pooled_records"] == []
    assert pipe["scaling_efficiency_excluded_records"] == [
        "scaling_match.json",
        "scaling_stale.json",
    ]


def test_protocol_record_round_trips_into_bench_pool(bench_mod, capsys, tmp_path, monkeypatch):
    # the record writer (scaling_protocol.main) and its reader (bench.main
    # via scaling_protocol.pooled) must agree on location, scale and fields;
    # the protocol runs on its default corpus, which must be bench's
    import sys

    import scaling_protocol

    monkeypatch.setattr(scaling_protocol, "run_once", bench_mod._pipeline_at)
    monkeypatch.setattr(scaling_protocol.time, "sleep", lambda s: None)
    monkeypatch.setattr(sys, "argv", ["scaling_protocol.py", "2"])
    assert scaling_protocol.main() == 0
    written = json.loads(capsys.readouterr().out)
    assert written["scale"] == bench_mod.BENCH_SCALE
    records = sorted(p.name for p in (tmp_path / "records").iterdir())
    assert len(records) == 1
    pipe = _run_main(bench_mod, capsys)["pipeline"]
    assert pipe["scaling_efficiency_pooled_records"] == records
    assert pipe["scaling_efficiency_excluded_records"] == []
    assert pipe["scaling_efficiency_pooled_n"] == bench_mod.BENCH_REPS + 2

def test_committed_records_parse_and_stamped_ones_pass_gate():
    """Every committed record must parse; any record stamped with the
    CURRENT engine tree (the ones BENCH_r06 will pool) must carry a
    gate-passing median — keep the committed evidence honest."""
    import glob
    import statistics
    import subprocess

    paths = sorted(glob.glob(os.path.join(ROOT, "bench", "records", "scaling_*.json")))
    assert paths, "scaling records missing from bench/records/"
    head_tree = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD:kgx"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    current = 0
    current_reps: list[float] = []
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        per_rep = rec["eff_exec_1_to_4"]["per_rep"]
        assert len(per_rep) >= 1
        assert all(0.0 < e <= 1.25 for e in per_rep), p  # sane, parseable
        if rec.get("engine_tree") == head_tree and not rec.get("engine_dirty"):
            current += 1
            current_reps.extend(per_rep)
    # The ≥0.8 gate applies to what the bench will actually POOL: the
    # same-tree rep sample (matching this test's docstring — round 7
    # relaxed the original every-record assertion, which would have
    # forbidden committing honest sub-gate measurements of superseded
    # trees; see OPTIMIZATION_r07.md "scaling gate" for the Amdahl
    # accounting of why a faster engine lowers the fixed-corpus ratio).
    if current_reps:
        assert statistics.median(current_reps) >= 0.8, current_reps
    # history may hold stale-engine records (excluded from pooling, by
    # design); the pool itself must never be starved to in-run reps only —
    # at least one committed record must measure the shipped engine.
    # (Skipped rather than failed while kgx/ has uncommitted edits: the
    # protocol stamps the tree it measured, which is unknowable mid-edit.)
    dirty = subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain", "--", "kgx"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if not dirty:
        assert current >= 1, "no committed scaling record measures HEAD:kgx"
