"""The N->4N scaling gate (BASELINE.md protocol; the north rule's N->4N
criterion evidenced on one host as executor counts).  This module is the
gate's one owner: its executor pair, rep loop, settle, corpus, engine stamp,
record pool and pooled verdict.

Gate pair: ``W1`` = local-cluster[1,2,12288] vs ``W4`` =
local-cluster[4,2,12288] — real separate executor JVMs, fixed 2-core/12g
shape, only the COUNT varies (the rule's "N and 4N executors"):
  eff(N→4N) = (T_N / T_4N) / 4
:func:`gate_pair` runs each rep's pair back-to-back with ALTERNATING order
(1,4 / 4,1 / ...) so slow host drift — a shared host swings ±20% over tens
of minutes — cancels to first order in the per-rep efficiency ratio instead
of biasing one width.  Reports per-rep eff, median, and max-min spread.

Each run is one ``bench/pipeline_child.py`` process launched by
:func:`run_once` after a ``sync`` and a 20 s settle, both outside the timed
window.  The child runs with this checkout as cwd and first on PYTHONPATH,
so the record measures this checkout's kgx (the child reports
``kgx.__file__`` and a file outside the checkout fails the run).  A failed
child raises with the last 40 lines of its stderr.

Every run writes its raw report (per-rep walls, run order, wall-clock
timestamps, :func:`engine_fingerprint`) to
``bench/records/scaling_<scale>_<stamp>.json``; ``--no-record`` skips the
write (for throwaway probes).  The printed report adds ``pooled``, the
gate's decision statistic: the median eff over this run's reps plus every
record :func:`pooled` accepts (same corpus, same committed engine tree),
read before this run's record is written — a full-sample median that no
single drifted pair can flip and no older engine's reps can prop up.  While
kgx/ has uncommitted edits no record is pooled (``engine_dirty``).

Usage: python bench/scaling_protocol.py [repeats=3] [scale=scaling3]
       [--no-record]
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

RECORDS_DIR = os.path.join(REPO_ROOT, "bench", "records")
# scaling3 (7.2M files) is the gate corpus as of round 3: the round-2/3
# speedups shrank the parallel fraction on smaller corpora below what a
# >=0.8 1->4-executor efficiency needs at fixed serial cost (BASELINE.md
# SCALES sizing rule: more data per executor, not code, restores it)
GATE_SCALE = "scaling3"
W1 = "local-cluster[1,2,12288]"
W4 = "local-cluster[4,2,12288]"
SETTLE_S = 20


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


def run_once(master: str, fixture_dir: str, with_pr: bool = False) -> dict:
    # measurement hygiene: flush the PREVIOUS run's dirty shuffle pages and
    # let the host settle before timing — otherwise run k's writeback bills
    # run k+1 (the observed first-wide-run-after-idle-is-fast pattern)
    subprocess.run(["sync"], check=False)
    time.sleep(SETTLE_S)
    return pipeline_child.run(master, fixture_dir, with_pr=with_pr)


def gate_pair(run, fixture_dir: str, reps: int) -> tuple[dict, list, list]:
    """Run the W1/W4 pair ``reps`` times as ``run(master, fixture_dir)``,
    alternating the order per rep.  Returns each width's results in run
    order, the per-rep eff(1→4), and a flat audit trail (rep, master, start
    time, wall, triples) of every run."""
    results: dict[str, list[dict]] = {W1: [], W4: []}
    effs: list[float] = []
    runs: list[dict] = []
    for rep in range(reps):
        for w in (W1, W4) if rep % 2 == 0 else (W4, W1):
            started = time.strftime("%Y-%m-%dT%H:%M:%S")
            t0 = time.monotonic()
            r = run(w, fixture_dir)
            results[w].append(r)
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
                f"rep {rep + 1}/{reps} {w:26s} wall={r['wall_sec']:8.2f}s "
                f"triples={r['triples']} (run took {time.monotonic() - t0:.0f}s)",
                file=sys.stderr,
                flush=True,
            )
        effs.append(results[W1][-1]["wall_sec"] / results[W4][-1]["wall_sec"] / 4)
    return results, effs, runs


def pooled(records_dir: str, scale: str, fingerprint: dict) -> tuple[list, list, list]:
    """Per-rep effs of the records in ``records_dir`` that measure the
    engine of ``fingerprint`` at ``scale``, with the names of the files
    pooled and of the same-scale files excluded.  A record is pooled only if
    it carries the same engine tree and was not measured on a dirty kgx/;
    while ``fingerprint`` itself is dirty, no record is.  Records of another
    scale are ignored, and malformed files are skipped."""
    current = None if fingerprint["engine_dirty"] else fingerprint["engine_tree"]
    per_rep, pooled_files, excluded_files = [], [], []
    names = sorted(os.listdir(records_dir)) if os.path.isdir(records_dir) else []
    for fn in names:
        if not fn.endswith(".json"):
            continue
        try:
            with open(os.path.join(records_dir, fn)) as f:
                rec = json.load(f)
            if not isinstance(rec, dict) or rec.get("scale") != scale:
                continue
            if (
                current is not None
                and rec.get("engine_tree") == current
                and not rec.get("engine_dirty")
            ):
                # built in full first: a bad entry must not pool part of a record
                per_rep.extend([float(e) for e in rec["eff_exec_1_to_4"]["per_rep"]])
                pooled_files.append(fn)
            else:
                excluded_files.append(fn)
        except (OSError, KeyError, TypeError, ValueError):
            continue  # a malformed record must not sink the gate
    return per_rep, pooled_files, excluded_files


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    record = "--no-record" not in flags
    repeats = int(args[0]) if len(args) > 0 else 3
    scale = args[1] if len(args) > 1 else GATE_SCALE
    if repeats < 1:
        # before ensure(): generating scaling3 alone writes ~7.8 GB
        print(
            f"repeats must be >= 1, got {repeats}\nusage: python "
            "bench/scaling_protocol.py [repeats=3] [scale=scaling3] [--no-record]",
            file=sys.stderr,
        )
        return 2
    from kgx.fixtures.gen import ensure

    fixture_dir = str(ensure(scale, os.path.join(REPO_ROOT, "tests", "fixtures")))
    results, effs, runs = gate_pair(run_once, fixture_dir, repeats)
    walls = {w: [r["wall_sec"] for r in rs] for w, rs in results.items()}
    fingerprint = engine_fingerprint()
    rec_effs, pooled_files, excluded_files = pooled(RECORDS_DIR, scale, fingerprint)

    report = {
        "scale": scale,
        **fingerprint,
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
    if record:
        os.makedirs(RECORDS_DIR, exist_ok=True)
        path = os.path.join(
            RECORDS_DIR, f"scaling_{scale}_{time.strftime('%Y%m%d_%H%M%S')}.json"
        )
        with open(path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"record written: {path}", file=sys.stderr)
    # the record keeps only this run's measurements; the pooled verdict is
    # printed, and recomputed from the records by every later run
    pool = effs + rec_effs
    verdict = {
        "median": round(statistics.median(pool), 3),
        "n": len(pool),
        "records": pooled_files,
        "excluded": excluded_files,
    }
    print(json.dumps({**report, "pooled": verdict}, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
