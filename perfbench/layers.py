"""Per-layer tracing for one benchmark job, from outside ``kgx/``.

``Tracer.install()`` wraps the public functions of each ``kgx`` layer at
the names the pipeline and the streaming layer call them by, so the traced
job runs the unmodified ``run_pipeline`` / ``incremental_extract``.  Each
wrapper records a span (name, parent, start, end).  After the job, every
Spark job in the driver's status store is attributed to one span, and the
span's task time, GC, shuffle, spill and skew are summed from its jobs'
stages.

Lazy layers would otherwise run inside whichever later span forces them
(without a ``run_dir`` the scan and detect plan fuses into link's
exact-join job).  The traced run therefore FORCES each layer's output at
its boundary with ``localCheckpoint``: scan (before detect), detect, the
links routing (at the links stage boundary) and materialize.  The cost of
those extra materializations is part of the reported tracing overhead.

Attribution rules, in order:

* jobs in the pipeline's background canonicalization job group -> canon.cc;
* otherwise the innermost span whose interval holds the job's submission;
* jobs landing in stages.link are split by the job description
  ``link_entities`` already sets: lexicon / exact_join / link.fuzzy.  These
  three sub-spans have no wrapper of their own; their wall is the union of
  their jobs' intervals.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

ROOT = "job"

# span -> parent; the fixed tree every traced workload reports (a span a
# workload never enters reports zeros)
SPANS = {
    "session": ROOT,
    "io.dictionary": ROOT,
    "io.scan": ROOT,
    "stages.detect": ROOT,  # detect and link run under streaming there
    "stages.link": ROOT,
    "stages.link.lexicon": "stages.link",
    "stages.link.exact_join": "stages.link",
    "link.fuzzy": "stages.link",
    "stages.link.routing": ROOT,
    "canon.cc": ROOT,
    "canon.elect": ROOT,
    "stages.materialize": ROOT,
    "io.checkpoint": ROOT,
    "io.write_triples": ROOT,
    "streaming": ROOT,
}
PARENTS_WITH_CHILDREN = (ROOT, "stages.link", "streaming")

# link_entities' job descriptions (kgx/stages/link.py) -> sub-span
_LINK_LABELS = {
    "kgx stage2: lexicon term table": "stages.link.lexicon",
    "kgx stage2: exact/synonym broadcast join": "stages.link.exact_join",
    "kgx stage2: fuzzy signatures + rerank": "link.fuzzy",
}
_CC_GROUP_PREFIX = "kgx-cc-"  # kgx/pipeline.py background CC job group


@dataclass
class Span:
    name: str
    parent: str
    t0: float
    t1: float | None = None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    # DataFrames forced at layer boundaries, counted after the timed window
    forced: dict[str, list] = field(default_factory=dict)
    cc_rounds: int = 0
    links_done: float | None = None  # when the main thread reaches the CC join
    recording: bool = True  # off after the timed window: checks run unwrapped
    _local: threading.local = field(default_factory=threading.local)
    _main_stack: list[str] = field(default_factory=list)

    # -- span bookkeeping ------------------------------------------------
    def _stack(self) -> list[str]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, parent: str | None = None) -> Span:
        stack = self._stack()
        if parent is None:
            # a callback thread (streaming foreachBatch) nests under the
            # main thread's open span
            outer = stack or self._main_stack
            parent = outer[-1] if outer else ROOT
        span = Span(name, parent, time.time())
        self.spans.append(span)
        stack.append(name)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        stack = self._stack()
        if stack and stack[-1] == span.name:
            stack.pop()

    def is_open(self, name: str) -> bool:
        return name in self._main_stack

    def close_named(self, name: str) -> None:
        for span in reversed(self.spans):
            if span.name == name and span.t1 is None:
                self.close(span)
                return

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        s = self.open(name, parent)
        try:
            yield s
        finally:
            self.close(s)

    def _force(self, key: str, df):
        df = df.localCheckpoint()
        self.forced.setdefault(key, []).append(df)
        return df

    # -- wrappers ---------------------------------------------------------
    def install(self) -> None:
        """Wrap the layer entry points where the pipeline and the streaming
        layer look them up.  Only this process is affected."""
        import kgx.canon.cc as cc_mod
        import kgx.io.checkpoint as ckpt_mod
        import kgx.pipeline as pipe
        import kgx.stages.detect as detect_mod
        import kgx.stages.link as link_mod

        tr = self

        def recorded(fn):
            """Route calls past wrapper ``w`` once recording stopped."""

            def deco(w):
                @functools.wraps(fn)
                def call(*a, **k):
                    return w(*a, **k) if tr.recording else fn(*a, **k)

                return call

            return deco

        def spanned(name, fn):
            @recorded(fn)
            def w(*a, **k):
                with tr.span(name):
                    return fn(*a, **k)

            return w

        load_dict = spanned("io.dictionary", pipe.load_dict)
        index_from_uri = spanned("io.dictionary", pipe.detection_index_from_uri)
        pipe.load_dict, pipe.detection_index_from_uri = load_dict, index_from_uri

        scan = pipe.scan_source_files

        @recorded(scan)
        def scan_w(*a, **k):
            # closed by detect_w once the scan -> repartition -> latest
            # window plan is forced
            tr.open("io.scan")
            return scan(*a, **k)

        pipe.scan_source_files = scan_w

        detect = detect_mod.detect_mentions

        @recorded(detect)
        def detect_w(files, index_bc):
            if tr.is_open("io.scan"):
                files = tr._force("files", files)
                tr.close_named("io.scan")
            with tr.span("stages.detect"):
                return tr._force("mentions", detect(files, index_bc))

        pipe.detect_mentions = detect_mod.detect_mentions = detect_w

        link = link_mod.link_entities

        @recorded(link)
        def link_w(*a, **k):
            with tr.span("stages.link"):
                return link(*a, **k)

        pipe.link_entities = link_mod.link_entities = link_w

        ckpt = ckpt_mod.stage_checkpoint

        @recorded(ckpt)
        def ckpt_w(spark, df, stage, cfg):
            if stage == "links":
                # the routing pass is lazy until the links boundary
                with tr.span("stages.link.routing"):
                    df = tr._force("links", df)
            if cfg.run_dir is None:
                out = ckpt(spark, df, stage, cfg)
            else:
                with tr.span("io.checkpoint"):
                    out = ckpt(spark, df, stage, cfg)
            if stage == "links":
                tr.links_done = time.time()
            return out

        ckpt_mod.stage_checkpoint = ckpt_w

        components = pipe.connected_components

        @recorded(components)
        def cc_w(*a, **k):
            # runs on the pipeline's background thread, concurrently with
            # the corpus stages
            with tr.span("canon.cc", parent=ROOT):
                return components(*a, **k)

        pipe.connected_components = cc_w

        hot_cold = cc_mod.hot_cold_join

        @recorded(hot_cold)
        def round_w(*a, **k):
            tr.cc_rounds += 1  # one call per CC round
            return hot_cold(*a, **k)

        cc_mod.hot_cold_join = round_w

        pipe.compound_rep_map = spanned("canon.elect", pipe.compound_rep_map)

        materialize = pipe.materialize_triples

        @recorded(materialize)
        def materialize_w(*a, **k):
            with tr.span("stages.materialize"):
                return tr._force("triples", materialize(*a, **k))

        pipe.materialize_triples = materialize_w
        pipe.write_triples = spanned("io.write_triples", pipe.write_triples)


# -- status-store readout ---------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(spark) -> list[dict]:
    """Every job and its stage metrics from the driver's status store
    (works with spark.ui.enabled=false)."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    seen: set[int] = set()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        stages = []
        for sid in _seq(j.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            skew = None
            if st.numCompleteTasks() >= 2:
                summ = _opt(store.taskSummary(sid, st.attemptId(), quantiles))
                if summ is not None:
                    run = summ.executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    skew = mx / med if med > 0 else None
            stages.append(
                {
                    "task_s": st.executorRunTime() / 1e3,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
                    "skew": skew,
                }
            )
        jobs.append(
            {
                "description": _opt(j.description()) or "",
                "group": _opt(j.jobGroup()) or "",
                "t0": sub.getTime() / 1e3 if sub is not None else None,
                "t1": done.getTime() / 1e3 if done is not None else None,
                "stages": stages,
            }
        )
    return jobs


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _covered(outer: list[tuple[float, float]], inner: list[tuple[float, float]]) -> float:
    """Length of ``inner`` (unioned) that falls inside ``outer`` (unioned)."""
    total = 0.0
    for a, b in _union(inner):
        for c, d in _union(outer):
            total += max(0.0, min(b, d) - max(a, c))
    return total


def attribute(tracer: Tracer, jobs: list[dict], t_start: float, t_end: float) -> dict[str, dict]:
    """Per-span standard metrics: wall_s, task_s, gc_s, shuffle_write_mb,
    spill_mb, task_skew (max/median task time of the span's heaviest
    stage), jobs; plus self_s for spans that have children."""
    closed = [s for s in tracer.spans if s.t1 is not None]
    intervals: dict[str, list[tuple[float, float]]] = {n: [] for n in SPANS}
    intervals[ROOT] = [(t_start, t_end)]
    for s in closed:
        intervals[s.name].append((s.t0, s.t1))

    by_span: dict[str, list[dict]] = {n: [] for n in intervals}
    for j in jobs:
        if j["t0"] is None or not (t_start <= j["t0"] <= t_end):
            continue
        if j["group"].startswith(_CC_GROUP_PREFIX):
            name = "canon.cc"
        else:
            inner = [s for s in closed if s.name != "canon.cc" and s.t0 <= j["t0"] <= s.t1]
            name = max(inner, key=lambda s: s.t0).name if inner else ROOT
            if name == "stages.link":
                name = _LINK_LABELS.get(j["description"], name)
        by_span[name].append(j)

    for sub in _LINK_LABELS.values():
        intervals[sub] = [(j["t0"], j["t1"] or j["t0"]) for j in by_span[sub]]

    out: dict[str, dict] = {}
    for name, ivs in intervals.items():
        stages = [st for j in by_span[name] for st in j["stages"]]
        heaviest = max(stages, key=lambda st: st["task_s"], default=None)
        rec = {
            "wall_s": _length(ivs),
            "task_s": sum(st["task_s"] for st in stages),
            "gc_s": sum(st["gc_s"] for st in stages),
            "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
            "spill_mb": sum(st["spill_mb"] for st in stages),
            # a one-task stage has no skew to speak of
            "task_skew": 0.0 if heaviest is None else heaviest["skew"] or 1.0,
            "jobs": len(by_span[name]),
        }
        if name in PARENTS_WITH_CHILDREN:
            kids = [(s.t0, s.t1) for s in closed if s.parent == name]
            if name == "stages.link":
                kids += [iv for sub in _LINK_LABELS.values() for iv in intervals[sub]]
            rec["self_s"] = rec["wall_s"] - _covered(ivs, kids)
        out[name] = rec
    return out


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


# -- the per-layer metric set ------------------------------------------------

SPAN_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "task_skew": "ratio",
    "jobs": "count",
}
LINK_METHODS = ("exact", "synonym", "systematic", "abbrev", "fuzzy")
PREDICATES = ("mentions", "foundInRepo", "hasSMILES", "hasInChI", "synonymOf")
CKPT_STAGES = ("mentions", "links", "components", "triples")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {f"{ROOT}.{m}": u for m, u in (
        ("wall_s", "s"), ("untraced_s", "s"), ("overhead", "ratio"),
        ("task_s", "s"), ("gc_s", "s"), ("spill_mb", "MB"), ("jobs", "count"),
    )}
    for span in SPANS:
        units.update({f"{span}.{m}": u for m, u in SPAN_METRICS.items()})
    for span in PARENTS_WITH_CHILDREN:
        units[f"{span}.self_s"] = "s"
    units["io.scan.files"] = "count"
    units["stages.detect.mentions"] = "count"
    units.update({f"links.{m}": "count" for m in LINK_METHODS})
    units["stages.link.unresolved"] = "count"
    units["canon.cc.rounds"] = "count"
    units["canon.cc.critical_path_s"] = "s"
    units.update({f"triples.{p}": "count" for p in PREDICATES})
    units.update({f"io.checkpoint.written_mb.{s}": "MB" for s in CKPT_STAGES})
    units["io.write_triples.written_mb"] = "MB"
    units["streaming.batches"] = "count"
    units["streaming.batch_s"] = "s"
    units["streaming.first_batch_s"] = "s"
    units["streaming.rows_per_batch"] = "rows"
    return units


def _counts_by(df, col: str) -> dict[str, int]:
    return {r[col]: int(r["count"]) for r in df.groupBy(col).count().collect()}


def layer_report(spark, tracer: Tracer, handles: dict, t_start: float, t_end: float) -> dict:
    """Flat ``{metric: value}`` over ``metric_units()`` (``job.untraced_s``
    and ``job.overhead`` are filled in by the caller) plus ``spans``, the
    full per-span table including each span's parent and spill."""
    jobs = spark_jobs(spark)  # before the count jobs below
    spans = attribute(tracer, jobs, t_start, t_end)
    m: dict[str, float] = {}
    for span, rec in spans.items():
        for k, v in rec.items():
            if k in SPAN_METRICS or k == "self_s":
                m[f"{span}.{k}"] = v
    # the job root reports totals over every span, itself included
    m[f"{ROOT}.task_s"] = sum(r["task_s"] for r in spans.values())
    m[f"{ROOT}.gc_s"] = sum(r["gc_s"] for r in spans.values())
    m[f"{ROOT}.spill_mb"] = sum(r["spill_mb"] for r in spans.values())
    m[f"{ROOT}.jobs"] = sum(r["jobs"] for r in spans.values())

    def total(key: str) -> int:
        return sum(df.count() for df in tracer.forced.get(key, []))

    m["io.scan.files"] = total("files")
    m["stages.detect.mentions"] = mentions = total("mentions")
    links = handles.get("links")
    if links is None and tracer.forced.get("links"):
        links = tracer.forced["links"][0]
    by_method = _counts_by(links, "method") if links is not None else {}
    for meth in LINK_METHODS:
        m[f"links.{meth}"] = by_method.get(meth, 0)
    m["stages.link.unresolved"] = mentions - sum(by_method.values())
    m["canon.cc.rounds"] = tracer.cc_rounds
    cc = [s for s in tracer.spans if s.name == "canon.cc" and s.t1 is not None]
    m["canon.cc.critical_path_s"] = (
        max(0.0, cc[-1].t1 - tracer.links_done) if cc and tracer.links_done else 0.0
    )
    triples = handles.get("triples")
    by_pred = _counts_by(triples, "pred") if triples is not None else {}
    for p in PREDICATES:
        m[f"triples.{p}"] = by_pred.get(p, 0)
    cfg = handles.get("cfg")
    for s in CKPT_STAGES:
        m[f"io.checkpoint.written_mb.{s}"] = (
            dir_mb(f"{cfg.run_dir}/{cfg.run_id}/{s}") if cfg is not None else 0.0
        )
    m["io.write_triples.written_mb"] = dir_mb(cfg.out_uri) if cfg is not None else 0.0
    batches = handles.get("batches") or []
    m["streaming.batches"] = len(batches)
    m["streaming.batch_s"] = statistics.median(b["batch_s"] for b in batches) if batches else 0.0
    m["streaming.first_batch_s"] = batches[0]["batch_s"] if batches else 0.0
    m["streaming.rows_per_batch"] = (
        statistics.median(b["rows"] for b in batches) if batches else 0
    )
    parents = {s.name: s.parent for s in tracer.spans}  # as recorded, e.g. under streaming
    return {
        "metrics": m,
        "spans": {n: {"parent": parents.get(n, SPANS.get(n)), **r} for n, r in spans.items()},
    }
