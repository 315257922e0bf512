"""Span tracing and Spark job attribution for the traced benchmark run.

The benchmark wraps the public functions of each package layer from
outside (no program file changes). Each wrapped call records a span
(name, layer, start, end, parent, operation id) in memory and tags the
Spark jobs it launches with a job group named after the span, so that
after each operation the job and stage metrics in Spark's status store
can be charged to the layer that launched them.

Time arithmetic is on half-open intervals ``(start, end)`` in epoch
seconds (Spark job times are epoch milliseconds).
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import statistics
import sys
import threading
import time
from collections import defaultdict

PKG = "web_attack_detection_spark"

# layer -> package modules whose public functions and methods are wrapped
LAYER_MODULES = {
    "session": ["session"],
    "io": ["io.sources", "io.unsw", "io.sinks"],
    "functions.feature": ["functions.feature"],
    "functions.text": ["functions.text", "functions.bpe", "functions.unigram"],
    "ml.pipeline": ["ml.pipeline"],
    "ml.inference": ["ml.inference"],
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "streaming": ["streaming.windows"],
    "runner": ["runner"],
}
PLANS = "plans"
LAYERS = [*LAYER_MODULES, PLANS]
UNATTRIBUTED = "unattributed"
COUNTERS = [
    "busy_s", "driver_s", "spark_jobs", "spark_stages", "executor_run_s",
    "executor_cpu_s", "shuffle_write_bytes", "failed_tasks",
]
# jobs outside every span have no self time to report
JOB_COUNTERS = COUNTERS[2:]
# output counts taken after an operation (traced run only)
COUNT_METRICS = [
    "operators.dedup.candidate_pairs",
    "operators.dedup.pair_yield",
    "operators.similarity.pairs_scored",
    "operators.similarity.max_cell_rows",
]
STREAM_METRICS = [
    "streaming.batches",
    "streaming.trigger_ms_p50",
    "streaming.add_batch_ms_p50",
    "streaming.query_planning_ms_p50",
    "streaming.wal_commit_ms_p50",
    "streaming.state_rows",
]


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = [f"{l}.{c}" for l in LAYERS for c in COUNTERS]
    names += [f"{UNATTRIBUTED}.{c}" for c in JOB_COUNTERS]
    names += ["io.input_bytes", "io.write_bytes", *COUNT_METRICS, *STREAM_METRICS]
    return names + ["trace.overhead_ratio"]


def metric_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_ms_p50"):
        return "ms"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_ratio") or last == "pair_yield":
        return "1"
    if last.endswith("_rows") or last in ("candidate_pairs", "pairs_scored"):
        return "rows"
    return "count"


# --- interval arithmetic ------------------------------------------------------


def union(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint union of ``(start, end)`` intervals."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def subtract(base, minus) -> list[tuple[float, float]]:
    """Parts of the union of ``base`` not covered by any of ``minus``."""
    cut = union(minus)
    out = []
    for s, e in union(base):
        for cs, ce in cut:
            if ce <= s or cs >= e:
                continue
            if cs > s:
                out.append((s, cs))
            s = max(s, ce)
            if s >= e:
                break
        if s < e:
            out.append((s, e))
    return out


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


# --- spans --------------------------------------------------------------------


@dataclasses.dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


@dataclasses.dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int
    executor_run_s: float
    executor_cpu_s: float
    shuffle_write_bytes: int
    input_bytes: int
    output_bytes: int
    failed_tasks: int


class Tracer:
    """In-memory span recorder. ``install`` patches the package;
    ``uninstall`` restores every patched attribute."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op = "setup"
        self.overhead_s = 0.0
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; the span's job group is set for the
        call and the parent's restored after it."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._ids += 1
            span = Span(self._ids, name, layer, parent.id if parent else None, self.op, time.time())
            self.spans.append(span)
        stack.append(span)
        self._set_group(span.group)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            span.end = time.time()
            stack.pop()
            self._set_group(parent.group if parent else None)
            with self._lock:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def wrap(self, fn, layer: str):
        name = f"{fn.__module__.removeprefix(PKG + '.')}.{fn.__qualname__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, layer, fn, *args, **kwargs)

        return traced

    # -- patching
    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public function and public-class method defined in
        the layer modules, and every registry query function. Callers
        use ``from x import f``, so each package module attribute that
        ``is`` an original is patched too."""
        from web_attack_detection_spark.plans import all_plans  # noqa: F401
        from web_attack_detection_spark.plans.registry import QUERIES

        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for m in mods:
                mod = importlib.import_module(f"{PKG}.{m}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        originals[id(obj)] = (obj, self.wrap(obj, layer))
                    elif inspect.isclass(obj):
                        for mname, meth in list(vars(obj).items()):
                            if not mname.startswith("_") and inspect.isfunction(meth):
                                self._patch(obj, mname, self.wrap(meth, layer))
        for name, spec in list(QUERIES.items()):
            wrapped = self.wrap(spec.fn, PLANS)
            originals[id(spec.fn)] = (spec.fn, wrapped)
            self._patch_item(QUERIES, name, dataclasses.replace(spec, fn=wrapped))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patch(mod, attr, hit[1])

    def _patch_item(self, d: dict, key, new) -> None:
        self._patched.append((d, key, d[key]))
        d[key] = new

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)
        self._patched.clear()


# --- Spark status store -------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def new_jobs(sc, after_id: int) -> list[Job]:
    """Jobs with id > ``after_id`` from the status store, with their
    stage metrics summed. Skipped stages report zeros."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # newest first
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid <= after_id:
            break
        start = _opt_ms(j.submissionTime())
        end = _opt_ms(j.completionTime())
        if start is None:
            continue
        run = cpu = shuffle = inp = outp = 0
        stage_ids = j.stageIds()
        for k in range(stage_ids.size()):
            s = store.lastStageAttempt(stage_ids.apply(k))
            run += s.executorRunTime()
            cpu += s.executorCpuTime()
            shuffle += s.shuffleWriteBytes()
            inp += s.inputBytes()
            outp += s.outputBytes()
        grp = j.jobGroup()
        out.append(
            Job(
                jid,
                grp.get() if grp.isDefined() else None,
                start,
                end if end is not None else start,
                j.numCompletedStages() + j.numFailedStages(),
                run / 1e3,
                cpu / 1e9,
                shuffle,
                inp,
                outp,
                j.numFailedTasks(),
            )
        )
    return out


# --- streaming progress -------------------------------------------------------


def progress_listener(runs: set, progress: list):
    """A StreamingQueryListener that records each query's run id (its
    micro-batch jobs carry that id as job group) and every progress
    report. Built lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            runs.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            progress.append(
                {
                    "run": str(p.runId),
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# --- aggregation --------------------------------------------------------------


def layer_metrics(spans: list[Span], jobs: list[Job], stream_runs: set, ops: list[str]) -> dict:
    """Per-layer counters summed over the operations ``ops``, divided by
    their number (``session`` is summed over set-up instead, the only
    place it runs). Self time is a span minus the time its child spans
    cover; driver time is self time minus the span's own Spark jobs."""
    n_ops = max(len(ops), 1)
    opset = set(ops)
    by_group = defaultdict(list)
    for j in jobs:
        by_group[j.group].append(j)
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    tot: dict[str, dict[str, float]] = {l: dict.fromkeys(COUNTERS, 0.0) for l in [*LAYERS, UNATTRIBUTED]}

    def add_jobs(layer: str, js: list[Job]) -> None:
        t = tot[layer]
        for j in js:
            t["spark_jobs"] += 1
            t["spark_stages"] += j.stages
            t["executor_run_s"] += j.executor_run_s
            t["executor_cpu_s"] += j.executor_cpu_s
            t["shuffle_write_bytes"] += j.shuffle_write_bytes
            t["failed_tasks"] += j.failed_tasks

    span_groups = set()
    for s in spans:
        span_groups.add(s.group)
        in_scope = s.op in opset if s.layer != "session" else s.op == "setup"
        if not in_scope:
            continue
        own = subtract([(s.start, s.end)], [(c.start, c.end) for c in children[s.id]])
        mine = by_group.get(s.group, [])
        tot[s.layer]["busy_s"] += length(own)
        tot[s.layer]["driver_s"] += length(subtract(own, [(j.start, j.end) for j in mine]))
        add_jobs(s.layer, mine)
    for grp, js in by_group.items():
        if grp in span_groups:
            continue
        add_jobs("streaming" if grp in stream_runs else UNATTRIBUTED, js)
    out = {}
    for layer, t in tot.items():
        div = 1 if layer == "session" else n_ops
        for c in COUNTERS if layer != UNATTRIBUTED else JOB_COUNTERS:
            out[f"{layer}.{c}"] = t[c] / div
    return out


def stream_metrics(progress: list[dict]) -> dict:
    """Medians of the micro-batch ``durationMs`` parts over batches that
    read data, the batch count, and the largest state size seen."""
    batches = [p for p in progress if p["rows"] > 0]

    def p50(key: str) -> float:
        vals = [p["duration_ms"].get(key, 0) for p in batches]
        return float(statistics.median(vals)) if vals else 0.0

    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
    }
