"""kgx benchmark: one closed-loop batch job at a time on ``local[nproc]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere; the tree measured is the checkout this file lives in
(its root is first on the driver ``sys.path`` and on the Python workers'
``PYTHONPATH``, and both must import ``kgx`` from it).  Everything the
benchmark writes goes under ``<root>/.perfbench/``.

A run generates (or reuses) the seeded corpus, then starts fresh job
processes one after another until ``--seconds`` of job wall has been
measured (at least one); each also yields one ``setup_s`` sample.
``--trace 1`` instead runs one traced job and reports the per-layer table,
with the tracing overhead against the median untraced ``job_s`` this
checkout has recorded for the same code (one untraced job runs first when
there is none).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
CACHE = os.path.join(ROOT, ".perfbench")

# Why these two, and why so small: a run gets about a minute of wall on a
# 4-core host, and one job process alone costs ~30 s there, most of it
# fixed (session start with its warm-up, the vocabulary-sized lexicon work),
# so two workloads that between them reach every layer, one job each.
# durable-nofuzzy runs the production run_dir + out_uri mode (checkpoint
# writes, pred-partitioned write_triples, CC, materialize) with the fuzzy
# channel off; stream drains micro-batches through the streaming layer,
# whose per-epoch detect + link runs the fuzzy channel.  So a fuzzy
# change shows on stream and must show no change on durable-nofuzzy, and
# a checkpoint change the reverse.
WORKLOADS = {
    "durable-nofuzzy": {
        "mode": "durable",
        "n_files": 4_000,
        "fuzzy": False,
        "golden": "golden_triples_nofuzzy.parquet",
    },
    "stream": {"mode": "stream", "n_files": 4_000, "micro_batches": 2},
}
N_STRUCTURES = 8000  # the lexicon of the generator's "bench" scale
RUN_LIMIT_S = 170  # a run must finish within the driver's 180 s


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_tree() -> None:
    for rel in ("kgx/__init__.py", "kgx/pipeline.py", "kgx/fixtures/gen.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} missing under {ROOT}; nothing to measure")


def host() -> dict:
    """local[nproc] and a driver heap of a quarter of MemAvailable
    (1-8 GiB), passed through kgx's KGX_DRIVER_MEM override."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    heap_gb = max(1, min(8, avail_kb // 2**20 // 4))
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "mem_available_gb": round(avail_kb / 2**20, 1),
        "driver_mem": f"{heap_gb}g",
    }


def code_hash() -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "kgx")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


# -- corpus ------------------------------------------------------------------


def ensure_corpus(wl: dict, seed: int) -> tuple[str, float]:
    """Seeded corpus under the cache; returns (dir, generation seconds, 0
    when reused).  The generator's module SEED drives every RNG it has."""
    out = os.path.join(CACHE, "corpus", f"n{wl['n_files']}-s{seed}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, 0.0
    t = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    sys.path.insert(0, ROOT)
    import pandas as pd
    import pyarrow.parquet as pq

    import kgx.fixtures.gen as gen
    from kgx.fixtures.oracle import derive_golden_triples

    gen.SEED = seed
    scale = f"perfbench-{wl['n_files']}"
    gen.SCALES[scale] = (wl["n_files"], N_STRUCTURES)
    gen.generate(scale, out, stream=True, chunk_files=max(500, wl["n_files"] // 16))

    # golden triples of the mentions the fuzzy channel does not resolve
    keys = ["repo", "path", "commit", "start", "end"]
    gm = pd.read_parquet(f"{out}/golden_mentions.parquet")
    gl = pd.read_parquet(f"{out}/golden_links.parquet")
    fuzzy = gl.loc[gl["method"] == "fuzzy", keys].astype({"start": "int64", "end": "int64"})
    gm = gm.merge(fuzzy, on=keys, how="left", indicator=True)
    gm = gm[gm["_merge"] == "left_only"].drop(columns="_merge")
    gm["compound_id"] = gm["compound_id"].astype("Int64")
    d = pd.read_parquet(f"{out}/compound_dict.parquet")
    derive_golden_triples(gm, d).to_parquet(f"{out}/golden_triples_nofuzzy.parquet", index=False)

    # the stream source: the corpus in contiguous row ranges, one file each
    tbl = pq.read_table(f"{out}/source_files.parquet")
    parts = WORKLOADS["stream"]["micro_batches"]
    os.makedirs(f"{out}/stream_src")
    step = -(-tbl.num_rows // parts)
    for i in range(parts):
        pq.write_table(tbl.slice(i * step, step), f"{out}/stream_src/part-{i:04d}.parquet")
    with open(os.path.join(out, ".done"), "w") as f:
        f.write("ok\n")
    return out, time.monotonic() - t


def corpus_rows(fixture_dir: str) -> int:
    with open(os.path.join(fixture_dir, "manifest.json")) as f:
        return json.load(f)["rows"]["source_files"]


# -- child processes -----------------------------------------------------------


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_child(spec: dict, env: dict, timeout: float) -> dict:
    """One fresh job process; returns its JSON result or an ``error`` with
    the tail of its stderr."""
    os.makedirs(os.path.join(CACHE, "logs"), exist_ok=True)
    err_path = os.path.join(CACHE, "logs", f"{spec['mode']}-{time.time_ns()}.err")
    os.sync()  # earlier runs' dirty pages are not this job's I/O
    t_start = time.monotonic()
    with open(err_path, "w+b") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), json.dumps(spec)],
            cwd=ROOT,
            env=env,
            stdout=subprocess.PIPE,
            stderr=err,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(1.0, timeout))
            error = None if proc.returncode == 0 else f"exit code {proc.returncode}"
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            error = f"timed out after {timeout:.0f} s"
        finally:
            # the session's JVM shares the child's process group: give it
            # 5 s to exit after its driver, then kill it, and wait for it
            t_exit = time.monotonic()
            while _group_alive(proc.pid) and time.monotonic() - t_exit < 15:
                if time.monotonic() - t_exit > 5:
                    os.killpg(proc.pid, signal.SIGKILL)
                time.sleep(0.2)
        err.seek(0)
        tail = err.read()[-3000:].decode(errors="replace")
    res: dict = {}
    if error is None:
        try:
            res = json.loads(out.decode().strip().splitlines()[-1])
        except (ValueError, IndexError):
            error = "no result line"
    if error is None:
        os.remove(err_path)
    else:
        res.update({"error": error, "stderr_tail": tail})
    res["process_s"] = time.monotonic() - t_start
    return res


def child_env(h: dict) -> dict:
    env = dict(os.environ)
    env.pop("KGX_SESSION_WARM", None)  # users get the default warm-up
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "KGX_DRIVER_MEM": h["driver_mem"],
            # kgx's default collector; JVM temp files inside the checkout and
            # no hsperfdata file in /tmp (for the launcher JVM too)
            "KGX_DRIVER_JAVA_OPTS": (
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    return env


def check_result(res: dict, expected_fp_path: str) -> None:
    """Marks ``res["failed"]``; the fingerprint of one code + seed must
    repeat across runs."""
    problems = []
    if "error" in res:
        problems.append(res["error"])
    for key in ("kgx_driver", "kgx_worker"):
        where = res.get(key)
        if where is not None and not os.path.abspath(where).startswith(ROOT + os.sep):
            problems.append(f"{key} imported kgx from {where}, outside {ROOT}")
    if "job_s" in res:
        if not res.get("ok"):
            problems.append(f"correctness check failed: {res.get('checks')}")
        fp = res.get("fingerprint")
        if os.path.exists(expected_fp_path):
            with open(expected_fp_path) as f:
                if json.load(f) != fp:
                    problems.append(f"fingerprint {fp} differs from an earlier run")
        elif fp is not None and not problems:
            os.makedirs(os.path.dirname(expected_fp_path), exist_ok=True)
            with open(expected_fp_path, "w") as f:
                json.dump(fp, f)
    res["failed"] = bool(problems)
    if problems:
        res["problems"] = problems


# -- reporting -----------------------------------------------------------------


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4, method="inclusive") if len(values) > 1 else values * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


E2E_UNITS = {"job_s": "s", "setup_s": "s", "files_per_s": "files/s", "peak_rss_mb": "MB"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    check_tree()
    started = time.monotonic()

    wl = WORKLOADS[args.workload]
    h = host()
    fixture_dir, gen_s = ensure_corpus(wl, args.seed)
    files = corpus_rows(fixture_dir)
    env = child_env(h)
    code = code_hash()
    fp_path = os.path.join(CACHE, "fingerprints", f"{args.workload}-s{args.seed}-{code}.json")
    untraced_path = os.path.join(CACHE, "untraced", f"{args.workload}-{code}.json")

    def job(trace: bool) -> dict:
        work = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        spec = {
            **wl,
            "trace": trace,
            "master": h["master"],
            "fixture_dir": fixture_dir,
            "work_dir": work,
        }
        left = RUN_LIMIT_S - (time.monotonic() - started)
        try:
            res = run_child(spec, env, left)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        check_result(res, fp_path)
        if "job_s" in res:
            res["files_per_s"] = files / res["job_s"]
        if not trace and not res["failed"]:
            untraced.append(res["job_s"])
            os.makedirs(os.path.dirname(untraced_path), exist_ok=True)
            with open(untraced_path, "w") as f:
                json.dump(untraced, f)
        keys = ("setup_s", "job_s", "process_s", "peak_rss_mb", "failed", "problems")
        log(f"{'traced ' if trace else ''}job: {json.dumps({k: res.get(k) for k in keys})}")
        return res

    untraced: list[float] = []
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            untraced = json.load(f)
    runs: list[dict] = []
    if args.trace:
        if not untraced:
            runs.append(job(False))
        runs.append(job(True))
    else:
        # a failed job ends the run: its result is already refused
        while not runs or (
            not runs[-1]["failed"] and sum(r["job_s"] for r in runs) < args.seconds
        ):
            runs.append(job(False))

    jobs = [r for r in runs if "job_s" in r]
    failed = sum(r["failed"] for r in runs)
    print(f"workload {args.workload}  seed {args.seed}  files {files}  "
          f"master {h['master']}  driver heap {h['driver_mem']} "
          f"(MemAvailable {h['mem_available_gb']} GB)  corpus generation "
          f"{gen_s:.1f} s{' (cached)' if gen_s == 0 else ''}")
    print("scaling: no N->4N executor gate here (on a 4-core host four executor "
          "JVMs measure the scheduler); it stays with bench/scaling_protocol.py")
    for r in runs:
        print(f"kgx imported from: driver {r.get('kgx_driver')}  worker {r.get('kgx_worker')}")
        if "checks" in r:
            print(f"checks: {json.dumps(r['checks'])}  fingerprint {r.get('fingerprint')}")
        if r["failed"]:
            print(f"FAILED: {r['problems']}\n--- stderr tail ---\n{r.get('stderr_tail', '')}")

    if args.trace:
        traced = runs[-1].get("layers")
        metrics = dict(traced["metrics"]) if traced else {}
        if traced and untraced:
            base = statistics.median(untraced)
            metrics["job.untraced_s"] = base
            metrics["job.overhead"] = runs[-1]["job_s"] / base - 1
            print(f"{'span':24} {'parent':12} {'wall_s':>8} {'self_s':>8} {'task_s':>8} "
                  f"{'gc_s':>6} {'shufMB':>7} {'spillMB':>7} {'skew':>5} {'jobs':>4}")
            for name, s in traced["spans"].items():
                print(f"{name:24} {s['parent'] or '-':12} {s['wall_s']:8.3f} "
                      f"{s.get('self_s', s['wall_s']):8.3f} {s['task_s']:8.3f} "
                      f"{s['gc_s']:6.2f} {s['shuffle_write_mb']:7.2f} {s['spill_mb']:7.2f} "
                      f"{s['task_skew']:5.2f} {s['jobs']:4d}")
            print(f"traced job_s {runs[-1]['job_s']:.3f}  untraced median {base:.3f} "
                  f"(n={len(untraced)})  overhead {metrics['job.overhead']:+.1%}  (the traced "
                  f"run forces scan, detect, routing and materialize at their boundaries)")
        sys.path.insert(0, HERE)
        from layers import metric_units

        out_metrics = {
            k: {"value": metrics.get(k, 0), "unit": u} for k, u in metric_units().items()
        }
    else:
        samples = {
            "job_s": [r["job_s"] for r in jobs],
            "setup_s": [r["setup_s"] for r in jobs],
            "files_per_s": [r["files_per_s"] for r in jobs],
            "peak_rss_mb": [r["peak_rss_mb"] for r in jobs],
        }
        out_metrics = {}
        print(f"{'metric':14} {'unit':8} {'median':>10} {'q1':>10} {'q3':>10} {'n':>3}")
        for name, unit in E2E_UNITS.items():
            # a run whose every job failed still prints numbers (correct=false)
            vals = samples[name] or [time.monotonic() - started]
            s = summary(vals)
            out_metrics[name] = {"value": s["median"], "unit": unit}
            print(f"{name:14} {unit:8} {s['median']:10.4f} {s['q1']:10.4f} "
                  f"{s['q3']:10.4f} {s['n']:3d}")
        print(f"{'failed_share':14} {'ratio':8} {failed / len(runs):10.4f} "
              f"{'':10} {'':10} {len(runs):3d}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
