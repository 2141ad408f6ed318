"""One benchmark job in a fresh process: ``python3 job.py '<spec json>'``.

Modes (``spec["mode"]``):

* ``durable`` -- ``run_pipeline`` with ``run_dir`` + ``out_uri``, the
  production mode of ``jobs/run_pipeline.py``.
* ``stream``  -- ``incremental_extract`` drains the corpus parts as
  micro-batches into its epoch-partitioned links sink.

The timed window runs from just before ``get_spark`` to the complete,
forced result; correctness checks run after it in the same session.  The
last stdout line is one JSON object.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


class PeakRss:
    """Peak summed RSS of this process and its descendants (the session's
    JVM and its Python workers), sampled from /proc every 0.1 s."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(0.1)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak


def tree_rss_mb(pid: int) -> float:
    """Summed RSS of ``pid`` and its descendants.  A JVM's child that still
    runs the JVM's own command line is a fork that has not exec'd yet (Hadoop
    starts its shell commands that way); its pages are the JVM's, so it is
    not counted again."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [(pid, b"")]
    while stack:
        p, parent_cmd = stack.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            if cmd == parent_cmd and os.path.basename(cmd.split(b"\0")[0]) == b"java":
                continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack += [(int(x), cmd) for x in f.read().split()]
        except OSError:  # exited while being read
            continue
    return total / 2**20


def fingerprint(df) -> dict:
    """Order-independent content hash + row count (decimal sum: no ANSI
    long overflow)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.pmod(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(2**61).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("h"),
    ).collect()[0]
    return {"rows": int(row["n"]), "hash": int(row["h"] or 0)}


def worker_kgx_file(spark) -> str:
    def where(_):
        import kgx

        yield kgx.__file__

    return spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()[0]


_STAGES = ("mentions", "links", "components", "triples")


def run_durable(spark, spec: dict, tracer, t0: float, rss: PeakRss) -> tuple[dict, dict]:
    from kgx.pipeline import PipelineConfig, run_pipeline

    fx, work = spec["fixture_dir"], spec["work_dir"]
    cfg = PipelineConfig(
        source_uri=f"{fx}/source_files.parquet",
        dict_uri=f"{fx}/compound_dict.parquet",
        out_uri=f"{work}/triples",
        run_dir=f"{work}/ckpt",
        run_id="r1",
        enable_fuzzy=spec["fuzzy"],
    )
    out = run_pipeline(spark, cfg)  # checkpoints every stage, writes out_uri
    job_s = time.monotonic() - t0
    peak_rss_mb = rss.stop()
    if tracer is not None:
        tracer.recording = False

    from kgx.quality.pr import precision_recall

    res: dict = {"job_s": job_s, "peak_rss_mb": peak_rss_mb}
    res["fingerprint"] = fingerprint(out["triples"])
    written = fingerprint(spark.read.parquet(cfg.out_uri))
    golden = spark.read.parquet(f"{fx}/{spec['golden']}")
    pr = precision_recall(out["triples"], golden)
    checks = {
        "written_equals_result": written == res["fingerprint"],
        "precision": pr["precision"],
        "recall": pr["recall"],
        "pr_ok": pr["precision"] >= 0.95 and pr["recall"] >= 0.95,
    }
    if tracer is None:
        # untimed rerun on the same run_dir: all four stages must resume
        # (none recommitted, so no commit marker is rewritten) and the
        # result must keep its fingerprint
        markers = [f"{cfg.run_dir}/{cfg.run_id}/{s}/_COMMITTED" for s in _STAGES]
        before = [os.path.getmtime(m) if os.path.exists(m) else None for m in markers]
        t = time.monotonic()
        again = run_pipeline(spark, cfg)
        checks["resume_s"] = time.monotonic() - t
        after = [os.path.getmtime(m) if os.path.exists(m) else None for m in markers]
        checks["resume_ok"] = (
            None not in before
            and before == after
            and fingerprint(again["triples"]) == res["fingerprint"]
        )
    res["checks"] = checks
    res["ok"] = (
        checks["pr_ok"] and checks["written_equals_result"] and checks.get("resume_ok", True)
    )
    return res, {"triples": out["triples"], "cfg": cfg}


def run_stream(spark, spec: dict, tracer, t0: float, rss: PeakRss) -> tuple[dict, dict]:
    from kgx.io.dictionary import detection_index_from_uri, load_dict
    from kgx.streaming.incremental import incremental_extract, read_corpus_stream

    fx, work = spec["fixture_dir"], spec["work_dir"]
    dict_uri = f"{fx}/compound_dict.parquet"
    with tracer.span("io.dictionary") if tracer is not None else contextlib.nullcontext():
        dict_df = load_dict(spark, dict_uri)
        index = detection_index_from_uri(dict_uri)
    index_bc = spark.sparkContext.broadcast(index)
    stream = read_corpus_stream(spark, f"{fx}/stream_src", max_files=1)
    sink = f"{work}/links"
    with tracer.span("streaming") if tracer is not None else contextlib.nullcontext():
        query = incremental_extract(
            stream, dict_df, index_bc, sink, f"{work}/stream_ckpt"
        ).start()
        query.awaitTermination()
    job_s = time.monotonic() - t0
    peak_rss_mb = rss.stop()
    if tracer is not None:
        tracer.recording = False
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]

    # reference: one batch detect -> link pass over the same files
    from kgx.io.source import with_file_identity
    from kgx.schemas import SOURCE_FILES
    from kgx.stages.detect import detect_mentions
    from kgx.stages.link import link_entities

    ref = link_entities(
        detect_mentions(
            with_file_identity(spark.read.schema(SOURCE_FILES).parquet(f"{fx}/stream_src")),
            index_bc,
        ),
        dict_df,
    )
    got = spark.read.parquet(sink).drop("epoch")
    got_fp = fingerprint(got.select(*ref.columns))
    ref_fp = fingerprint(ref)
    batches = [
        {
            "rows": p["numInputRows"],
            "batch_s": p["durationMs"].get("addBatch", 0) / 1e3,
        }
        for p in progress
    ]
    res = {
        "job_s": job_s,
        "peak_rss_mb": peak_rss_mb,
        "fingerprint": got_fp,
        "batches": batches,
        "checks": {
            "links_equal_batch": got_fp == ref_fp,
            "batch_links": ref_fp["rows"],
            "micro_batches": len(batches),
        },
    }
    res["ok"] = got_fp == ref_fp and len(batches) == spec["micro_batches"]
    return res, {"links": got, "batches": batches}


def main() -> int:
    spec = json.loads(sys.argv[1])
    t0, wall0 = time.monotonic(), time.time()
    rss = PeakRss()
    tracer = None
    if spec["trace"]:
        from layers import Tracer

        tracer = Tracer()
        tracer.install()
    from kgx.session import get_spark

    with tracer.span("session") if tracer is not None else contextlib.nullcontext():
        spark = get_spark("perfbench", master=spec["master"])
    res: dict = {"setup_s": time.monotonic() - t0}
    run = run_durable if spec["mode"] == "durable" else run_stream
    body, handles = run(spark, spec, tracer, t0, rss)
    res.update(body)
    if tracer is not None:
        from layers import layer_report

        res["layers"] = layer_report(spark, tracer, handles, wall0, wall0 + body["job_s"])
    import kgx

    res["kgx_driver"] = kgx.__file__
    res["kgx_worker"] = worker_kgx_file(spark)
    spark.stop()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
