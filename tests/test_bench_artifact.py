"""The N->4N gate's verdict — test its assembly in bench/scaling_protocol.py.

The protocol's pooled median (this run's per-rep efficiencies plus the
committed ``bench/records/`` files of the same corpus and engine) is the
number the ≥0.8 gate is read from; a bug there misreports the engine no
matter how fast it runs.  These tests call the protocol with the expensive
parts (fixture gen, pipeline subprocesses, git) monkeypatched to canned
results, so the rep loop, the record pool and the printed report are
covered by plain pytest.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# canned walls chosen so the per-rep eff is exact: 640 / 200 / 4 = 0.8
_WALLS = {"local-cluster[1,2,12288]": 640.0, "local-cluster[4,2,12288]": 200.0}
_RECORD_FIELDS = [
    "scale", "git_head", "engine_tree", "engine_dirty", "repeats", "pair",
    "wall_sec", "median_wall_sec", "eff_exec_1_to_4", "runs",
]


def _fingerprint(dirty: bool = False) -> dict:
    return {"git_head": "head", "engine_tree": "tree-current", "engine_dirty": dirty}


@pytest.fixture()
def protocol(monkeypatch, tmp_path):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "bench"))
    import scaling_protocol

    def fake_run_once(master, fixture_dir, with_pr=False):
        return {"wall_sec": _WALLS[master], "triples": 1000}

    monkeypatch.setattr(scaling_protocol, "run_once", fake_run_once)
    monkeypatch.setattr(scaling_protocol, "engine_fingerprint", _fingerprint)
    monkeypatch.setattr(scaling_protocol, "RECORDS_DIR", str(tmp_path / "records"))
    import kgx.fixtures.gen

    monkeypatch.setattr(kgx.fixtures.gen, "ensure", lambda scale, root: tmp_path)
    return scaling_protocol


def _main(protocol, monkeypatch, capsys, *argv: str) -> dict:
    monkeypatch.setattr(sys, "argv", ["scaling_protocol.py", *argv])
    assert protocol.main() == 0
    return json.loads(capsys.readouterr().out)


def _write_record(path, scale, per_rep, **stamp) -> None:
    path.write_text(
        json.dumps({"scale": scale, **stamp, "eff_exec_1_to_4": {"per_rep": per_rep}})
    )


def test_gate_pair_alternates_order_and_divides_w1_by_w4(protocol):
    # W1,W4 / W4,W1 / ...: slow host drift cancels in each rep's ratio
    w1, w4 = protocol.W1, protocol.W4
    walls = {w1: [640.0, 600.0, 800.0], w4: [200.0, 250.0, 160.0]}
    calls: list[str] = []

    def run(master, fixture_dir):
        calls.append(master)
        return {"wall_sec": walls[master][sum(c == master for c in calls) - 1],
                "triples": 7}

    results, effs, runs = protocol.gate_pair(run, "/fx", 3)
    assert calls == [w1, w4, w4, w1, w1, w4]
    assert effs == pytest.approx([640 / 200 / 4, 600 / 250 / 4, 800 / 160 / 4])
    assert [r["wall_sec"] for r in results[w1]] == walls[w1]
    assert [(r["rep"], r["master"]) for r in runs] == list(zip([1, 1, 2, 2, 3, 3], calls))


def test_pooling_reads_committed_records(protocol, tmp_path):
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    scale = protocol.GATE_SCALE
    # matching scale + matching engine tree: pooled in
    _write_record(rec_dir / "scaling_match.json", scale, [0.9, 0.9, 0.9],
                  engine_tree="tree-current", engine_dirty=False)
    # other-scale record: ignored entirely (not even listed as excluded)
    _write_record(rec_dir / "scaling_other.json", "bench", [0.1])
    # same scale, OLDER engine tree: excluded from the pool but reported —
    # the round-5 advice case (stale records masking a scaling regression)
    _write_record(rec_dir / "scaling_stale.json", scale, [0.95],
                  engine_tree="tree-old", engine_dirty=False)
    # same scale + tree but measured on a DIRTY kgx/: excluded too
    _write_record(rec_dir / "scaling_dirty.json", scale, [0.95],
                  engine_tree="tree-current", engine_dirty=True)
    # legacy record with no engine stamp: excluded (identity unprovable)
    _write_record(rec_dir / "scaling_legacy.json", scale, [0.95])
    # malformed record: must not sink the gate
    (rec_dir / "scaling_bad.json").write_text("{not json")
    per_rep, pooled_files, excluded_files = protocol.pooled(
        str(rec_dir), scale, _fingerprint()
    )
    assert per_rep == [0.9, 0.9, 0.9]
    assert pooled_files == ["scaling_match.json"]
    assert excluded_files == [
        "scaling_dirty.json",
        "scaling_legacy.json",
        "scaling_stale.json",
    ]


@pytest.mark.parametrize(
    "body",
    [
        pytest.param([1, 2], id="top_level_list"),
        pytest.param(
            {"scale": "scaling3", "engine_tree": "tree-current", "engine_dirty": False,
             "eff_exec_1_to_4": {"per_rep": 0.9}},
            id="scalar_per_rep",
        ),
        pytest.param(
            {"scale": "scaling3", "engine_tree": "tree-current", "engine_dirty": False,
             "eff_exec_1_to_4": {"per_rep": [0.8, "x"]}},
            id="non_numeric_rep",
        ),
    ],
)
def test_pooled_skips_valid_json_malformed_record(protocol, tmp_path, body):
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    _write_record(rec_dir / "scaling_good.json", "scaling3", [0.9],
                  engine_tree="tree-current", engine_dirty=False)
    (rec_dir / "scaling_malformed.json").write_text(json.dumps(body))
    assert protocol.pooled(str(rec_dir), "scaling3", _fingerprint()) == (
        [0.9], ["scaling_good.json"], []
    )


def test_main_pools_records_with_in_run_reps(protocol, monkeypatch, capsys, tmp_path):
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    _write_record(rec_dir / "scaling_match.json", protocol.GATE_SCALE, [0.9, 0.9, 0.9],
                  engine_tree="tree-current", engine_dirty=False)
    _write_record(rec_dir / "scaling_stale.json", protocol.GATE_SCALE, [0.95],
                  engine_tree="tree-old", engine_dirty=False)
    report = _main(protocol, monkeypatch, capsys, "2", "--no-record")
    assert report["eff_exec_1_to_4"]["per_rep"] == [0.8, 0.8]
    assert report["pooled"] == {
        "median": 0.9,  # of [0.8, 0.8, 0.9, 0.9, 0.9]
        "n": 5,
        "records": ["scaling_match.json"],
        "excluded": ["scaling_stale.json"],
    }
    assert sorted(p.name for p in rec_dir.iterdir()) == [
        "scaling_match.json",
        "scaling_stale.json",
    ]


def test_dirty_engine_pools_only_in_run_reps(protocol, monkeypatch, capsys, tmp_path):
    # uncommitted kgx/ edits: the in-run reps measure the edited code, so no
    # record of the committed tree may join them — every one is excluded
    monkeypatch.setattr(protocol, "engine_fingerprint", lambda: _fingerprint(dirty=True))
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    for name, tree in (("scaling_match.json", "tree-current"), ("scaling_stale.json", "tree-old")):
        _write_record(rec_dir / name, protocol.GATE_SCALE, [0.9, 0.9, 0.9],
                      engine_tree=tree, engine_dirty=False)
    report = _main(protocol, monkeypatch, capsys, "3", "--no-record")
    assert report["engine_dirty"] is True
    assert report["pooled"] == {
        "median": 0.8,
        "n": 3,
        "records": [],
        "excluded": ["scaling_match.json", "scaling_stale.json"],
    }


def test_protocol_record_round_trips_into_bench_pool(protocol, monkeypatch, capsys, tmp_path):
    # the record writer and the pool reader must agree on location, scale
    # and fields; the written record holds this run's measurements only
    first = _main(protocol, monkeypatch, capsys, "2")
    assert first["scale"] == protocol.GATE_SCALE
    assert first["pooled"] == {"median": 0.8, "n": 2, "records": [], "excluded": []}
    records = sorted(p.name for p in (tmp_path / "records").iterdir())
    assert len(records) == 1
    with open(tmp_path / "records" / records[0]) as f:
        written = json.load(f)
    assert list(written) == _RECORD_FIELDS
    assert written == {k: v for k, v in first.items() if k != "pooled"}
    second = _main(protocol, monkeypatch, capsys, "1", "--no-record")
    assert second["pooled"]["records"] == records
    assert second["pooled"]["excluded"] == []
    assert second["pooled"]["n"] == 3


@pytest.mark.parametrize("repeats", ["0", "-1"])
def test_repeats_below_one_is_rejected_before_fixture_generation(
    protocol, monkeypatch, capsys, repeats
):
    import kgx.fixtures.gen

    def no_generation(scale, root):
        raise AssertionError("fixtures generated for a run that cannot report")

    monkeypatch.setattr(kgx.fixtures.gen, "ensure", no_generation)
    monkeypatch.setattr(sys, "argv", ["scaling_protocol.py", repeats])
    assert protocol.main() == 2
    assert "usage:" in capsys.readouterr().err


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
