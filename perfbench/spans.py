"""Span recorder for the traced run.

Spans are recorded from outside the engine: ``install`` wraps the public
calls at each layer boundary. A span keeps its name, start, end, parent
and request id in memory; ``dump`` writes them out when the run ends.

Each span also opens its own Spark job group, so the stage counters of
Spark's status store (tasks, executor time, shuffle bytes, rows read)
are attributed to the innermost span that ran the action. A function
that returns a lazy DataFrame only builds a plan, so its span is short;
the execution lands in the span that calls the action.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    exec_run_ms: float = 0.0
    exec_cpu_ms: float = 0.0
    input_rows: int = 0
    job_intervals: list = field(default_factory=list)


class Recorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # time spent inside the recorder itself, to report its overhead
        self.self_s = 0.0
        self._kids: dict[int, list[Span]] | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, request: str | None) -> None:
        self._local.request = request

    def wrap(self, owner, attr: str, name: str | None = None, name_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = rec.open(name_of(args) if name_of else name)
            try:
                return fn(*args, **kwargs)
            finally:
                rec.close(span)

        setattr(owner, attr, traced)

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        request = getattr(self._local, "request", None) or (parent.request if parent else None)
        span = Span(next(self._ids), name, 0.0, parent.id if parent else None, request)
        stack.append(span)
        self.sc.setJobGroup(f"span-{span.id}", name)
        span.start = time.perf_counter()
        with self._lock:
            self.spans.append(span)
            self.self_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            self.sc.setJobGroup(f"span-{stack[-1].id}", stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.self_s += time.perf_counter() - span.end

    # -------------------------------------------------------- analysis

    def self_time(self, span: Span, stage: dict[int, StageTotals] | None = None) -> float:
        """Duration minus the part covered by child spans and, when
        ``stage`` is given, minus the wall time of the span's own Spark
        jobs: the driver-side time of the layer itself."""
        cover = [(c.start, c.end) for c in self.children(span)]
        if stage is not None and span.id in stage:
            cover += stage[span.id].job_intervals
        return span.dur - _union(cover, span.start, span.end)

    def children(self, span: Span) -> list[Span]:
        """Child spans; call once recording is over (the index is built
        on first use)."""
        if self._kids is None:
            self._kids = {}
            for s in self.spans:
                if s.parent is not None:
                    self._kids.setdefault(s.parent, []).append(s)
        return self._kids.get(span.id, [])

    def stage_totals(self) -> dict[int, StageTotals]:
        """Per span id: the counters of the Spark jobs run in its job
        group, read from the status store once the run is over. Skipped
        stages (shuffle reuse) did no work and are not counted."""
        store = self.sc._jsc.sc().statusStore()
        # java Date → perf_counter seconds
        offset = time.perf_counter() - time.time()
        out: dict[int, StageTotals] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("span-"):
                continue
            tot = out.setdefault(int(group.get()[5:]), StageTotals())
            tot.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                tot.job_intervals.append(
                    (sub.get().getTime() / 1000 + offset, done.get().getTime() / 1000 + offset)
                )
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(k))
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot.stages += 1
                tot.tasks += sd.numCompleteTasks()
                tot.shuffle_bytes += sd.shuffleWriteBytes()
                tot.exec_run_ms += sd.executorRunTime()
                tot.exec_cpu_ms += sd.executorCpuTime() / 1e6
                tot.input_rows += sd.inputRecords()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def install(rec: Recorder) -> None:
    """Wrap the engine's public calls at each layer boundary."""
    from cflux_spark.api.http import CFluxApp
    from cflux_spark.extensions import dedup, pipeline, retrieval, similarity
    from cflux_spark.plans import influxql
    from cflux_spark.sources.ingest import LPStore
    from cflux_spark.streaming.pipeline import StreamingIngest

    def api_name(args) -> str:
        environ = args[1]
        rec.set_request(environ.get("HTTP_X_REQUEST_ID"))
        return "api.write" if environ.get("PATH_INFO") == "/write" else "api.query"

    rec.wrap(CFluxApp, "__call__", name_of=api_name)
    rec.wrap(influxql.InfluxQLEngine, "execute", "plans.execute")
    # module attribute: the engine resolves parse_select at call time
    rec.wrap(influxql, "parse_select", "plans.parse_select")
    rec.wrap(LPStore, "write_batch", "sources.write_batch")
    rec.wrap(LPStore, "read_registry_raw", "sources.read_registry")
    rec.wrap(LPStore, "read_samples", "sources.read_samples")
    rec.wrap(LPStore, "compact", "sources.compact")
    rec.wrap(StreamingIngest, "start", "streaming.start")
    # the job functions only build plans; curate_batch wraps each whole
    # job (build and action) in an ``extensions.<job>`` span of its own
    for module, fn in (
        (pipeline, "curate_corpus"),
        (dedup, "minhash_lsh_pairs"),
        (similarity, "pq_topk_bulk"),
        (retrieval, "bm25_topk"),
        (similarity, "semdedup"),
    ):
        rec.wrap(module, fn, f"extensions.{fn}.build")
