"""Round benchmark and N->4N scaling gate (driver contract + SURVEY §6).

The repo's benchmark proper is ``perfbench/`` (``python3 perfbench/run.py``;
``--trace 1`` gives the per-layer table that event-log scripts used to).
This script keeps the driver's one-line artifact and the paper's ≥0.8
N->4N scaling gate.  Prints ONE JSON line:
  {"metric": "kgx_e2e_pipeline_wall_sec", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "pipeline": {...triples/sec at local[32], scaling eff...}}

Two parts (relational FIRST — it gets a fresh, right-sized JVM; round 2
measured +28% pure harness-order noise running it after the pipeline
subprocesses):

1. Headline relational queries over $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], each forced with the
   noop sink (full execution, no collect-to-driver); then a steady-state
   second pass in the same session (``queries_steady``).
2. KG pipeline end-to-end on the gate corpus (``scaling3``, 7.2M files,
   FIXTURES.md): a local[32] single-JVM headline run (+P/R), then the N->4N
   gate pair.  bench/scaling_protocol.py owns the gate — its executor pair,
   the alternating-order rep loop, the settle, the corpus, the engine stamp
   and the record pool — and this script calls it.  Every run is one
   ``bench/pipeline_child.py`` process importing this checkout's kgx,
   started after a ``sync`` and one 20 s settle outside the timed window.
   The pair runs KGX_BENCH_REPS (default 3 — round 4 proved a 2-rep median
   flips on one drifted pair) reps; the in-run median is a spot check, and
   ``scaling_efficiency_pooled`` adds every committed ``bench/records/``
   record of the same corpus and engine tree (none while kgx/ has
   uncommitted edits: ``engine_dirty``).  The headline runs BEFORE the
   pair: round 4 recorded it LAST, after ~40 min of sustained wide
   subprocesses, and a host slow phase inflated it 1.9× over a quiet-host
   rerun of the same tree.  Thread-width local[N] single-JVM numbers are
   NOT used for the gate: a shared heap makes GC degrade with width
   (measured 10 s task-GC at local[2] vs 148 s at local[8], same work) — an
   artifact a real multi-executor cluster does not have, which
   local-cluster's per-executor JVMs remove.

A failed pipeline child raises with the last 40 lines of its stderr.

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, KGX_BENCH_SCALE
(fixture scale, default the gate corpus), KGX_BENCH_REPS,
KGX_SKIP_SCALING=1 to skip part 2's gate pair (runs local[$CPUS] only, on
the 'bench' corpus), KGX_QUERY_MEM (relational-session heap, default 24g).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "bench")]

import scaling_protocol  # noqa: E402  (bench/scaling_protocol.py)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_SKIP_SCALING = os.environ.get("KGX_SKIP_SCALING") == "1"
BENCH_SCALE = os.environ.get(
    "KGX_BENCH_SCALE", "bench" if _SKIP_SCALING else scaling_protocol.GATE_SCALE
)
BENCH_REPS = int(os.environ.get("KGX_BENCH_REPS", "3"))

_pipeline_at = scaling_protocol.run_once


def _warm_page_cache(sf_dir: str) -> None:
    """Untimed read-through of the query inputs.  The relational timings are
    meant to measure the ENGINE (fresh-JVM plan + execution), not whatever
    the harness happened to run before bench.py: round 6 measured the same
    first query at 30.5 s with sf0.1 evicted from the page cache (a prior
    7.8 GB fixture generation) vs 5.5-7.9 s with it resident — a 5.5× swing
    that is pure disk state.  Reading the files once beforehand pins the
    series back to the warm-cache conditions rounds 1-5 effectively ran
    under, without touching the timed fresh-JVM semantics."""
    import glob

    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass


def _relational_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    names = [
        "agg_pricing_summary",
        "join_four_way",
        "window_topk_per_group",
        "range_self_join",
        "distinct_agg",
        "array_hof_norm",
        "dedup_exact",
        "global_sort_limit",
    ]
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name in names:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.monotonic() - t0, 3)
    return times


def main() -> int:
    from kgx.fixtures.gen import ensure
    from kgx.session import get_spark

    fixture_dir = str(ensure(BENCH_SCALE, os.path.join(ROOT, "tests", "fixtures")))

    report: dict = {
        "metric": "kgx_e2e_pipeline_wall_sec",
        "unit": "sec",
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
    }

    # Relational suite FIRST, on a fresh JVM with a right-sized heap: the
    # sf0.1 queries touch ~1 GB, so the pipeline-tuned 96 GB ParallelGC heap
    # is wrong for them, and running after five heavyweight pipeline
    # subprocesses measured +28% pure harness-order noise in round 2.
    spark = get_spark(
        "kgx-bench-queries",
        master=f"local[{CPUS}]",
        extra_conf={"spark.driver.memory": os.environ.get("KGX_QUERY_MEM", "24g")},
    )
    _warm_page_cache(SF_DIR)
    t0 = time.monotonic()
    times = _relational_queries(spark, SF_DIR)
    report["relational_wall_sec"] = round(time.monotonic() - t0, 2)
    # steady-state second pass (warm JVM/JIT), untimed-warmup-independent:
    # the number a long-running cluster session would see per query
    t0 = time.monotonic()
    report["queries_steady"] = _relational_queries(spark, SF_DIR)
    report["relational_steady_wall_sec"] = round(time.monotonic() - t0, 2)
    spark.stop()

    pipeline: dict = {"fixture_scale": BENCH_SCALE}
    if not _SKIP_SCALING:
        # local[32] headline FIRST (fresh host window — same reason the
        # relational suite runs first): the round-4 artifact ran it after
        # ~40 min of wide subprocesses and recorded a 1.9×-inflated wall
        t32 = _pipeline_at("local[32]", fixture_dir, with_pr=True)
        results, effs, _ = scaling_protocol.gate_pair(_pipeline_at, fixture_dir, BENCH_REPS)
        w1, w4 = results[scaling_protocol.W1], results[scaling_protocol.W4]
        # pooled estimator: this run's reps + every committed protocol
        # record of the same corpus AND engine — a full-sample median that
        # no single drifted pair can flip and no older engine's healthy
        # reps can prop up
        fingerprint = scaling_protocol.engine_fingerprint()
        rec_effs, pooled_files, excluded_files = scaling_protocol.pooled(
            scaling_protocol.RECORDS_DIR, BENCH_SCALE, fingerprint
        )
        pooled = effs + rec_effs
        pipeline.update(
            {
                "exec1x2c": w1[-1],
                "exec4x2c": w4[-1],
                "exec1x2c_walls": [r["wall_sec"] for r in w1],
                "exec4x2c_walls": [r["wall_sec"] for r in w4],
                "local32": t32,
                "scaling_efficiency_per_rep": [round(e, 3) for e in effs],
                "scaling_efficiency_exec_1_to_4": round(statistics.median(effs), 3),
                "scaling_efficiency_pooled": round(statistics.median(pooled), 3),
                "scaling_efficiency_pooled_n": len(pooled),
                "scaling_efficiency_pooled_records": pooled_files,
                "scaling_efficiency_excluded_records": excluded_files,
                "engine_tree": fingerprint["engine_tree"],
                "engine_dirty": fingerprint["engine_dirty"],
            }
        )
        report["value"] = t32["wall_sec"]
    else:
        one = _pipeline_at(f"local[{CPUS}]", fixture_dir)
        pipeline[f"local{CPUS}"] = one
        report["value"] = one["wall_sec"]
    report["pipeline"] = pipeline

    times["kg_pipeline_e2e"] = report["value"]
    report["queries"] = times

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
