"""The bench pipeline child (bench/pipeline_child.py) and the checkout root.

bench/scaling_protocol.py's gate pair must measure the kgx of the checkout
it lives in, through one child script, and a failed child must surface its
traceback instead of a bare exit status.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_literal_checkout_path():
    # kgx/ is excluded: editing it changes HEAD:kgx, which orphans the
    # committed scaling records (see test_bench_artifact.py)
    tracked = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "--", "*.py", ":!kgx"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert tracked
    offenders = []
    for rel in tracked:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            offenders += [f"{rel}:{n}" for n, line in enumerate(f, 1) if ROOT in line]
    assert offenders == [], f"derive the checkout root from __file__: {offenders}"


@pytest.fixture()
def children(monkeypatch):
    monkeypatch.syspath_prepend(os.path.join(ROOT, "bench"))
    import pipeline_child
    import scaling_protocol

    return pipeline_child, scaling_protocol


def test_failed_child_raises_with_its_traceback(children, monkeypatch, tmp_path):
    pipeline_child, _ = children
    monkeypatch.setenv("KGX_SESSION_WARM", "0")  # the failure, not the warm-up
    with pytest.raises(RuntimeError) as exc:
        pipeline_child.run("local[1]", str(tmp_path / "missing"))
    msg = str(exc.value)
    assert "Traceback (most recent call last)" in msg
    assert "PATH_NOT_FOUND" in msg


def test_run_once_launches_the_child_from_the_checkout(children, monkeypatch):
    _, scaling_protocol = children
    launched = []

    def fake_run(argv, **kw):
        if argv[0] != "sync":
            launched.append(argv)
            assert kw["cwd"] == ROOT
            assert kw["env"]["PYTHONPATH"].split(os.pathsep)[0] == ROOT
        out = {"wall_sec": 1.0, "triples": 1, "kgx": os.path.join(ROOT, "kgx", "__init__.py")}
        return subprocess.CompletedProcess(argv, 0, stdout=json.dumps(out), stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    monkeypatch.setattr(scaling_protocol.time, "sleep", lambda s: None)
    scaling_protocol.run_once("local-cluster[1,2,12288]", "/fx")
    assert len(launched) == 1
    assert launched[0][1] == os.path.join(ROOT, "bench", "pipeline_child.py")


def test_child_importing_foreign_kgx_is_rejected(children, monkeypatch):
    pipeline_child, _ = children
    out = {"wall_sec": 1.0, "triples": 1, "kgx": "/elsewhere/kgx/__init__.py"}
    monkeypatch.setattr(
        subprocess,
        "run",
        lambda argv, **kw: subprocess.CompletedProcess(argv, 0, stdout=json.dumps(out)),
    )
    with pytest.raises(RuntimeError, match="outside"):
        pipeline_child.run("local[1]", "/fx")
