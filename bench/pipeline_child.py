"""One KG-pipeline run in a fresh process — the child behind each run of
bench/scaling_protocol.py's N->4N gate pair.

    python bench/pipeline_child.py <master> <fixture_dir> [--pr]

Runs ``run_pipeline`` over ``<fixture_dir>`` with the same job config at
every master (only the executor shape varies, as in an N vs 4N executor
comparison), forces stage 4 with one ``count`` and prints one JSON line:
``wall_sec``, ``triples``, ``triples_per_sec`` and ``kgx`` (the file the
driver imported kgx from).  ``--pr`` adds precision/recall against the
fixture's golden triples, computed outside the timed window.

The protocol goes through :func:`run`, which launches this file with the
checkout root as cwd and first on ``PYTHONPATH`` — so the driver and the
``local[N]`` python workers import the checkout's kgx — and rejects a
result whose kgx lies outside the root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(master: str, fixture_dir: str, with_pr: bool = False) -> dict:
    """Run the child on ``master`` and return its JSON result.  Raises
    RuntimeError carrying the last 40 lines of the child's stderr if it
    exits non-zero, and RuntimeError if it imported kgx from outside ROOT."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    argv = [sys.executable, os.path.abspath(__file__), master, os.path.abspath(fixture_dir)]
    proc = subprocess.run(
        argv + (["--pr"] if with_pr else []),
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        tail = "\n".join(proc.stderr.splitlines()[-40:])
        raise RuntimeError(
            f"pipeline child on {master} exited with code {proc.returncode}; "
            f"stderr tail:\n{tail}"
        )
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not os.path.abspath(res["kgx"]).startswith(ROOT + os.sep):
        raise RuntimeError(f"pipeline child imported kgx from {res['kgx']}, outside {ROOT}")
    return res


def main(argv: list[str]) -> int:
    master, fixture_dir = argv[0], argv[1]
    sys.path.insert(0, ROOT)
    import kgx
    from kgx.pipeline import PipelineConfig, run_pipeline
    from kgx.session import get_spark

    spark = get_spark("kgx-bench", master=master, shuffle_partitions=32)
    cfg = PipelineConfig(
        source_uri=f"{fixture_dir}/source_files.parquet",
        dict_uri=f"{fixture_dir}/compound_dict.parquet",
        num_partitions=64,
    )
    t0 = time.monotonic()
    out = run_pipeline(spark, cfg)
    n_triples = out["triples"].count()  # single full execution of stage 4
    wall = time.monotonic() - t0
    rep = {
        "wall_sec": round(wall, 2),
        "triples": n_triples,
        "triples_per_sec": round(n_triples / wall, 1),
        "kgx": kgx.__file__,
    }
    if "--pr" in argv[2:]:
        from kgx.quality.pr import precision_recall

        golden = spark.read.parquet(f"{fixture_dir}/golden_triples.parquet")
        pr = precision_recall(out["triples"], golden)
        rep["precision"] = round(pr["precision"], 4)
        rep["recall"] = round(pr["recall"], 4)
    print(json.dumps(rep))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
