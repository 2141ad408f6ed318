"""Scaling-gate evidence runner (BASELINE.md protocol; north_rule's N->4N
criterion evidenced in-sandbox as executor counts on one host).

Gate pair: local-cluster[1,2,12288] vs local-cluster[4,2,12288] — real
separate executor JVMs, fixed 2-core/12g shape, only the COUNT varies
(the rule's "N and 4N executors").  Each rep runs the pair back-to-back
with ALTERNATING order (1,4 / 4,1 / ...) so slow host drift — this
sandbox swings ±20% over tens of minutes — cancels to first order in the
per-rep efficiency ratio instead of biasing one width.  Reports per-rep
eff, median, and max-min spread.

Each run is one ``bench/pipeline_child.py`` process — the same child
bench.py's gate pair launches — run with this checkout as cwd and first on
PYTHONPATH, so the record measures this checkout's kgx (the child reports
``kgx.__file__`` and a file outside the checkout fails the run).  A failed
child raises with the last 40 lines of its stderr.

Pass ``--ladder`` to also run the 2- and 8-executor widths once (the
secondary 2->8 pair is host-ceiling-limited at 16 cores; see BASELINE.md).

Every run writes its raw report (per-rep walls, run order, wall-clock
timestamps) to ``bench/records/scaling_<scale>_<stamp>.json`` — committed
records are the auditable evidence pool behind bench.py's
``scaling_efficiency_pooled`` field (/tmp does not survive the sandbox;
round-4's 9-rep sample lived only in BASELINE.md tables).  ``--no-record``
skips the write (for throwaway probes).

Usage: python bench/scaling_protocol.py [repeats=3] [scale=scaling]
       [--ladder] [--no-record]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pipeline_child  # bench/pipeline_child.py, next to this file

REPO_ROOT = pipeline_child.ROOT
sys.path.insert(0, REPO_ROOT)


def engine_fingerprint() -> dict:
    """Identity of the engine this record measures — pooled estimators must
    not blend measurements of different code (round-5 advice).

    ``engine_tree`` is ``git rev-parse HEAD:kgx`` — the tree hash of the
    kgx/ package alone, so doc/bench-harness commits don't orphan records,
    while ANY engine change does.  ``engine_dirty`` marks uncommitted kgx/
    edits at measurement time; dirty records are excluded from pooling.
    """
    def _git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", REPO_ROOT, *args], capture_output=True, text=True, check=True
        ).stdout.strip()

    try:
        return {
            "git_head": _git("rev-parse", "HEAD"),
            "engine_tree": _git("rev-parse", "HEAD:kgx"),
            "engine_dirty": bool(_git("status", "--porcelain", "--", "kgx")),
        }
    except (OSError, subprocess.CalledProcessError):
        return {"git_head": None, "engine_tree": None, "engine_dirty": True}


W1 = "local-cluster[1,2,12288]"
W4 = "local-cluster[4,2,12288]"
LADDER = ("local-cluster[2,2,12288]", "local-cluster[8,2,12288]")


def run_once(master: str, fixture_dir: str, settle: int = 20) -> dict:
    # measurement hygiene: flush the PREVIOUS run's dirty shuffle pages and
    # let the host settle before timing — otherwise run k's writeback bills
    # run k+1 (the observed first-wide-run-after-idle-is-fast pattern)
    if settle:
        subprocess.run(["sync"], check=False)
        time.sleep(settle)
    return pipeline_child.run(master, fixture_dir)


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ladder = "--ladder" in flags
    record = "--no-record" not in flags
    repeats = int(args[0]) if len(args) > 0 else 3
    scale = args[1] if len(args) > 1 else "scaling"
    from kgx.fixtures.gen import ensure

    fixture_dir = str(ensure(scale, os.path.join(REPO_ROOT, "tests", "fixtures")))

    walls: dict[str, list[float]] = {W1: [], W4: []}
    effs: list[float] = []
    runs: list[dict] = []  # flat audit trail: order + timestamps per run
    for rep in range(repeats):
        order = (W1, W4) if rep % 2 == 0 else (W4, W1)
        rep_walls = {}
        for w in order:
            started = time.strftime("%Y-%m-%dT%H:%M:%S")
            t0 = time.monotonic()
            r = run_once(w, fixture_dir)
            rep_walls[w] = r["wall_sec"]
            walls[w].append(r["wall_sec"])
            runs.append(
                {
                    "rep": rep + 1,
                    "master": w,
                    "started": started,
                    "wall_sec": r["wall_sec"],
                    "triples": r["triples"],
                }
            )
            print(
                f"rep {rep + 1}/{repeats} {w:26s} wall={r['wall_sec']:8.2f}s "
                f"triples={r['triples']} (run took {time.monotonic() - t0:.0f}s)",
                file=sys.stderr,
                flush=True,
            )
        effs.append(rep_walls[W1] / rep_walls[W4] / 4)

    report = {
        "scale": scale,
        **engine_fingerprint(),
        "repeats": repeats,
        "pair": {"N": W1, "4N": W4},
        "wall_sec": walls,
        "median_wall_sec": {w: statistics.median(v) for w, v in walls.items()},
        "eff_exec_1_to_4": {
            "per_rep": [round(e, 3) for e in effs],
            "median": round(statistics.median(effs), 3),
            "spread": round(max(effs) - min(effs), 3),
        },
        "runs": runs,
    }
    if ladder:
        report["ladder"] = {w: run_once(w, fixture_dir) for w in LADDER}
        report["eff_exec_2_to_8"] = round(
            report["ladder"][LADDER[0]]["wall_sec"]
            / report["ladder"][LADDER[1]]["wall_sec"]
            / 4,
            3,
        )
    if record:
        rec_dir = os.path.join(REPO_ROOT, "bench", "records")
        os.makedirs(rec_dir, exist_ok=True)
        path = f"{rec_dir}/scaling_{scale}_{time.strftime('%Y%m%d_%H%M%S')}.json"
        with open(path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"record written: {path}", file=sys.stderr)
    print(json.dumps(report, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
