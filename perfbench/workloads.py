"""The workloads. Each one sets up its inputs and the engine, drives one
closed-loop client for the measured window, then checks the answers and
the store against the generator.

- ``telegraf_write``: a Telegraf relay posting 1,000-line bodies to /write.
- ``stream_mixed``: a dashboard polling /query on a compacted store
  while Structured Streaming ingests an open-loop stream of
  line-protocol files into it.
- ``curate_batch``: the corpus-curation jobs of ``extensions`` on a
  generated corpus, each forced with the ``noop`` sink.

LAYERS.md says why each exists and which layer each metric belongs to.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen
import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DB = "telegraf"
LINES_PER_BODY = 1000  # Telegraf's default metric_batch_size
PRELOAD_TICKS = 180  # 30 min of 10 s ticks
STREAM_LINES_PER_FILE = 2500  # one file per second: the reference's 2,500 lines/s floor
STREAM_TRIGGER_S = 2.0
# telegraf_write generates enough bodies for this many writes a second
# (today's engine takes about 0.5); past it the window ends early
WRITE_CEILING_PER_S = 40
# curate_batch corpus: the catalog's sf0.001 table sizes
CORPUS_DOCS = 500
CORPUS_VECS = 500


@dataclass
class Op:
    label: str
    start: float
    end: float
    ok: bool
    response_bytes: int = 0
    values: int = 0  # values in the expected answer

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    rec: object | None  # trace.Recorder in the traced run
    ops: list[Op] = field(default_factory=list)  # measured window
    warm_ops: list[Op] = field(default_factory=list)
    checks: dict[str, bool] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    points: int = 0  # field-points stored
    store_bytes: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    warmup_s: float = 0.0
    t0: float = field(default_factory=time.perf_counter)
    _n: int = 0

    def note(self, what: str) -> None:
        """Log a set-up phase to stderr, timed from process start."""
        print(f"[{time.perf_counter() - self.t0:7.2f} s] {what}", file=sys.stderr, flush=True)

    @property
    def db_dir(self) -> str:
        return os.path.join(self.work, "store", DB)


class Server:
    """The engine's own dev server (``api.http.serve``) on loopback,
    served from one thread, with a minimal HTTP client."""

    def __init__(self, ctx: Ctx):
        from cflux_spark.api.http import serve

        self.ctx = ctx
        self.server, self.app, port = serve(ctx.spark, os.path.join(ctx.work, "store"))
        self.base = f"http://127.0.0.1:{port}"
        self.thread = threading.Thread(target=self.server.serve_forever, name="wsgi", daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def _send(self, req: urllib.request.Request, label: str) -> tuple[int, bytes, Op]:
        self.ctx._n += 1
        req.add_header("X-Request-Id", f"{label}-{self.ctx._n}")
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                status, body = resp.status, resp.read()
        except urllib.error.HTTPError as exc:
            status, body = exc.code, exc.read()
        t1 = time.perf_counter()
        return status, body, Op(label, t0, t1, False)

    def write(self, body: bytes) -> Op:
        req = urllib.request.Request(f"{self.base}/write?db={DB}", data=body, method="POST")
        status, _, op = self._send(req, "write")
        op.ok = status == 204
        if not op.ok:
            print(f"write refused ({status})", file=sys.stderr)
        return op

    def query(self, stmt: gen.Statement, want: list[dict]) -> Op:
        qs = urllib.parse.urlencode({"db": DB, "q": stmt.q})
        status, body, op = self._send(urllib.request.Request(f"{self.base}/query?{qs}"), stmt.kind)
        op.ok = status == 200 and oracle.answer_matches(json.loads(body), want)
        if not op.ok:
            print(f"wrong answer ({status}) to {stmt.q}: {body[:300]!r}", file=sys.stderr)
        op.response_bytes, op.values = len(body), oracle.n_values(want)
        return op


def _run_loop(ctx: Ctx, send, seconds: float, min_ops: int = 1, limit: int | None = None) -> None:
    """Closed loop: the next request goes out when the previous one
    has been answered, until ``seconds`` have passed and at least
    ``min_ops`` requests were made (a dashboard run sees every panel),
    or ``limit`` inputs are used up."""
    t0 = time.perf_counter()
    i = 0
    while (i < min_ops or time.perf_counter() < t0 + seconds) and (limit is None or i < limit):
        ctx.ops.append(send(i))
        i += 1
    ctx.window = (t0, time.perf_counter())


def _census(ctx: Ctx, want_points: int) -> dict:
    c = oracle.store_census(ctx.db_dir)
    ctx.checks["stored points == points sent"] = c["points"] == want_points
    ctx.checks["stored series == series sent"] = c["series"] == oracle.expected_series()
    ctx.points, ctx.store_bytes = c["points"], c["bytes"]
    return c


def _write_text(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _preload(ctx: Ctx, store) -> gen.Points:
    """Half an hour of ticks for every host, written as one LP batch
    through ``LPStore.write_batch``, then compacted."""
    pts = gen.Points()
    lines = gen.Generator(ctx.seed).lines(0, PRELOAD_TICKS, pts)
    path = os.path.join(ctx.work, "preload.lp")
    _write_text(path, lines)
    df = ctx.spark.read.text(path).withColumnRenamed("value", "line")
    store.write_batch(df, collect_stats=False)
    ctx.note("preload written")
    t0 = time.perf_counter()
    store.compact()
    ctx.layer["sources.compact_s"] = time.perf_counter() - t0
    return pts


class Dashboard:
    """The statement rotation with its answers computed in set-up."""

    # enough statements that the client never wraps within a run
    PER_SECOND = 6
    # A fresh engine runs a panel query 2-3× slower than after some 30
    # calls. Warm-up runs this many rotations straight into the engine,
    # concurrently.
    WARM_ROTATIONS = 2

    def __init__(self, ctx: Ctx, pts: gen.Points):
        n = int(ctx.seconds * self.PER_SECOND) + (self.WARM_ROTATIONS + 2) * len(gen.KINDS)
        self.stmts = gen.dashboard_rotation(ctx.seed, PRELOAD_TICKS, n)
        self.want = [oracle.expected(s, pts) for s in self.stmts]

    def send(self, server: Server, i: int) -> Op:
        k = i % len(self.stmts)
        return server.query(self.stmts[k], self.want[k])

    def warm(self, ctx: Ctx, server: Server) -> int:
        """Warm-up straight into the server's engine, answers checked;
        returns the index of the first statement of the measured window."""
        engine = server.app.engine

        def direct(k: int) -> bool:
            return oracle.answer_matches(engine.execute(self.stmts[k].q, db=DB), self.want[k])

        t0 = time.perf_counter()
        n = self.WARM_ROTATIONS * len(gen.KINDS)
        _concurrently(ctx, direct, n)
        ctx.warmup_s = time.perf_counter() - t0
        return n


def _concurrently(ctx: Ctx, fn, n: int) -> None:
    """Warm-up: the JVM compiles hot code by call count, so ``n`` calls
    of ``fn`` from one thread per core warm it in a fraction of the
    wall time a single client would take. Failures count."""

    def call(i: int) -> Op:
        t0 = time.perf_counter()
        try:
            ok = fn(i)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            print(f"warm-up call {i} failed: {exc}", file=sys.stderr)
            ok = False
        return Op("warm", t0, time.perf_counter(), ok)

    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        ctx.warm_ops.extend(pool.map(call, range(n)))


# ------------------------------------------------------------ workloads


def telegraf_write(ctx: Ctx) -> None:
    """Closed loop, one client: a Telegraf relay flushes one full batch
    and waits for the 204 before the next. Warm-up writes one body per
    core straight through ``LPStore.write_batch`` into scratch
    databases, concurrently."""
    from cflux_spark.sources.ingest import LPStore

    cores = len(os.sched_getaffinity(0))
    n_bodies = max(math.ceil(ctx.seconds * WRITE_CEILING_PER_S), cores)
    bodies = gen.Generator(ctx.seed).telegraf_bodies(0, n_bodies, LINES_PER_BODY)
    ctx.note(f"{n_bodies} bodies generated")

    def direct(i: int) -> bool:
        store = LPStore(ctx.spark, os.path.join(ctx.work, "warm"), f"warm{i}")
        lines = [(line,) for line in bodies[i].decode().split("\n")]
        store.write_batch(ctx.spark.createDataFrame(lines, "line string"), collect_stats=False)
        return True

    server = Server(ctx)
    try:
        t0 = time.perf_counter()
        _concurrently(ctx, direct, cores)
        ctx.warmup_s = time.perf_counter() - t0
        ctx.note("writes warm")
        _run_loop(ctx, lambda i: server.write(bodies[i]), ctx.seconds, limit=n_bodies)
    finally:
        server.close()
    if len(ctx.ops) == n_bodies:
        print(f"all {n_bodies} bodies sent before the window ended; raise WRITE_CEILING_PER_S", file=sys.stderr)
    after = _census(ctx, len(ctx.ops) * LINES_PER_BODY // gen.LINES_PER_TICK * gen.POINTS_PER_TICK)
    ctx.layer["sources.files_per_write"] = (after["samples_files"] + after["registry_files"]) / len(ctx.ops)
    ctx.layer["sources.registry_files"] = after["registry_files"]
    ctx.layer["api.write.points_per_s"] = (
        len(ctx.ops) * LINES_PER_BODY // gen.LINES_PER_TICK * gen.POINTS_PER_TICK
    ) / (ctx.window[1] - ctx.window[0])
    if ctx.rec is not None:
        from cflux_spark.sources.lineprotocol import parse_lines

        sample = bodies[:4]
        t0 = time.perf_counter()
        n_lines = sum(len(parse_lines(b.decode())) for b in sample)
        ctx.layer["sources.parse_us_per_line"] = (time.perf_counter() - t0) / n_lines * 1e6


def _query_layers(ctx: Ctx, census: dict) -> None:
    ctx.layer["api.response_bytes"] = _median([o.response_bytes for o in ctx.ops])
    ctx.layer["sources.registry_files"] = census["registry_files"]
    ctx.layer["values_returned"] = sum(o.values for o in ctx.ops)


def stream_mixed(ctx: Ctx) -> None:
    """Writes beside reads. The store is preloaded with half an hour of
    ticks and compacted. An open-loop generator then drops one LP file
    a second into the directory a ``StreamingIngest`` (file source, 2 s
    trigger) watches; the store is not compacted again, so it grows a
    samples file and a registry file per micro-batch. Meanwhile one
    closed-loop client runs the dashboard rotation, whose statements
    all fall inside the preloaded half hour, so their answers stay
    fixed. The stream runs through the read warm-up, so the window
    opens on an engine whose ingest path is warm and contending."""
    from cflux_spark.sources.ingest import LPStore
    from cflux_spark.streaming.pipeline import StreamingIngest, file_line_source

    store = LPStore(ctx.spark, os.path.join(ctx.work, "store"), DB)
    pts = _preload(ctx, store)
    ctx.note("preloaded and compacted")
    dash = Dashboard(ctx, pts)
    # files for the read warm-up (about 10 s) and the window, with room;
    # the generator stops when the window ends
    n_files = 2 * int(ctx.seconds) + 60
    n_ticks = -(-n_files * STREAM_LINES_PER_FILE // gen.LINES_PER_TICK)
    flat = gen.Generator(ctx.seed).lines(PRELOAD_TICKS, n_ticks)
    files = [flat[i : i + STREAM_LINES_PER_FILE] for i in range(0, n_files * STREAM_LINES_PER_FILE, STREAM_LINES_PER_FILE)]
    src = os.path.join(ctx.work, "stream_in")
    staging = os.path.join(ctx.work, "stream_staging")
    ckpt = os.path.join(ctx.work, "checkpoint")
    os.makedirs(src)
    os.makedirs(staging)
    created: dict[str, tuple[float, float]] = {}  # file name → (due, created)
    stop = threading.Event()

    def generate() -> None:
        # open loop: file i is due at t_start + i seconds whatever the
        # engine is doing; lateness is recorded, not hidden
        t_start = time.time()
        for i in range(n_files):
            due = t_start + i
            if stop.wait(max(0.0, due - time.time())):
                return
            name = f"part-{i:05d}.lp"
            _write_text(os.path.join(staging, name), files[i])
            os.rename(os.path.join(staging, name), os.path.join(src, name))
            created[name] = (due, time.time())

    ctx.note("answers and stream files generated")
    query = StreamingIngest(store, ckpt).start(
        file_line_source(ctx.spark, src), trigger_seconds=STREAM_TRIGGER_S
    )
    server = Server(ctx)
    gen_thread = threading.Thread(target=generate, name="generator")
    try:
        gen_thread.start()
        start = dash.warm(ctx, server)
        _wait_committed(query, STREAM_LINES_PER_FILE, 120)
        ctx.note("stream running, reads warm")
        before = oracle.store_census(ctx.db_dir)
        batches_before = len(query.recentProgress)
        window_wall = time.time()
        try:
            _run_loop(ctx, lambda i: dash.send(server, start + i), ctx.seconds, min_ops=len(gen.KINDS))
        finally:
            stop.set()
            gen_thread.join(timeout=30)
        query.processAllAvailable()
    finally:
        stop.set()
        server.close()
        query.stop()
    if len(created) == n_files:
        print(f"the generator ran out of its {n_files} files before the window ended", file=sys.stderr)
    streamed = sum(len(line.split(" ")[1].split(",")) for name in created for line in files[int(name[5:10])])
    c = _census(ctx, pts.n_points + streamed)
    _query_layers(ctx, c)
    batches = sum(p["numInputRows"] > 0 for p in query.recentProgress[batches_before:])
    ctx.layer["sources.files_per_write"] = (
        c["samples_files"] + c["registry_files"] - before["samples_files"] - before["registry_files"]
    ) / max(batches, 1)
    measured = {name: v for name, v in created.items() if v[0] >= window_wall}
    _stream_layers(ctx, query.recentProgress[batches_before:], ckpt, measured)


# The five corpus-curation jobs and the catalog entry (plans.queries)
# whose DuckDB oracle checks each one.
CURATE_JOBS = ("curate_corpus", "minhash_lsh_pairs", "pq_topk_bulk", "bm25_topk", "semdedup")
CURATE_CATALOG = ("q_pipeline_export", "q_dedup_near", "q_vector_pq_bulk", "q_bm25_topk", "q_semdedup")


def _curate_job(spark, corpus: str, name: str):
    """The DataFrame of one curation job, built with the arguments of
    its catalog entry."""
    from pyspark.sql import functions as F

    from cflux_spark.extensions import dedup, pipeline, retrieval, similarity
    from cflux_spark.plans.queries import _retrieval_queries_df
    from cflux_spark.sources.readers import load_table

    docs = load_table(spark, corpus, "documents")
    emb = load_table(spark, corpus, "embeddings")
    if name == "curate_corpus":
        return pipeline.curate_corpus(
            docs,
            bench_docs=docs.filter(F.col("doc_id") % 37 == 0),
            n_shards=8,
            embeddings=emb,
            semdedup_gate=False,
            decontam_bench_embeddings=emb.filter(F.col("vec_id") % 37 == 0),
            decontam_threshold=0.3,
            min_tokens=20,
            min_uniq_frac=0.35,
            max_bigram_share=0.07,
            max_neg_logprob=3.41,
        )
    if name == "minhash_lsh_pairs":
        return dedup.minhash_lsh_pairs(docs)
    if name == "pq_topk_bulk":
        return similarity.pq_topk_bulk(emb, emb, k=3, rerank=100, n_shards=8)
    if name == "bm25_topk":
        return retrieval.bm25_topk(docs, _retrieval_queries_df(spark), k=10)
    return similarity.semdedup(emb, threshold=0.35, k=8)


def curate_batch(ctx: Ctx) -> None:
    """Batch, one client: the corpus-curation job set run again and
    again, each job forced with the ``noop`` sink. Set-up generates the
    corpus and runs each job's catalog entry against its DuckDB oracle;
    that first, cold pass is the correctness check and the warm-up."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import oracle_check  # the catalog's oracle-parity check

    corpus = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus)
    texts = gen.write_corpus(ctx.seed, corpus, CORPUS_DOCS, CORPUS_VECS)
    ctx.note("corpus generated")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    t0 = time.perf_counter()

    def check(entry: str) -> None:
        # a cold engine spends most of a first call compiling on the
        # driver, so the five entries run concurrently
        t1 = time.perf_counter()
        try:
            ok, msg, _ = oracle_check.check(entry, ctx.spark, corpus, con.cursor())
        except Exception as exc:  # noqa: BLE001 — counted as a failed check
            ok, msg = False, f"{type(exc).__name__}: {exc}"
        ctx.checks[f"{entry} matches its DuckDB oracle"] = ok
        ctx.warm_ops.append(Op("warm", t1, time.perf_counter(), ok))
        ctx.note(f"{entry}: {msg}")

    with ThreadPoolExecutor(len(CURATE_CATALOG)) as pool:
        list(pool.map(check, CURATE_CATALOG))
    con.close()
    ctx.warmup_s = time.perf_counter() - t0
    ctx.note("catalog entries checked")

    def run(i: int) -> Op:
        name = CURATE_JOBS[i % len(CURATE_JOBS)]
        t1 = time.perf_counter()
        ok = True
        try:
            with _span(ctx, f"extensions.{name}"):
                _curate_job(ctx.spark, corpus, name).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            print(f"{name} failed: {exc}", file=sys.stderr)
            ok = False
        return Op(name, t1, time.perf_counter(), ok)

    _run_loop(ctx, run, ctx.seconds, min_ops=len(CURATE_JOBS))
    # outside the window: how many MinHash candidates are true
    # near-duplicates, by exact word-3-gram Jaccard
    cand = _curate_job(ctx.spark, corpus, "minhash_lsh_pairs").select("id_a", "id_b").collect()
    verified = sum(oracle.jaccard(texts[a], texts[b]) >= 0.8 for a, b in cand)
    ctx.layer["extensions.minhash_lsh_pairs.verified_per_candidate"] = verified / len(cand) if cand else 0.0


@contextlib.contextmanager
def _span(ctx: Ctx, name: str):
    """A span around a whole job in the traced run, so the stage
    counters of its action are attributed to it."""
    if ctx.rec is None:
        yield
        return
    span = ctx.rec.open(name)
    try:
        yield
    finally:
        ctx.rec.close(span)


def _wait_committed(query, rows: int, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in query.recentProgress) >= rows:
            return
        time.sleep(0.1)
    raise RuntimeError("streaming warm-up batches did not commit")


def _stream_layers(ctx: Ctx, progress: list[dict], ckpt: str, created: dict) -> None:
    """Streaming metrics of the measured window: the micro-batches in
    ``progress`` and the files in ``created``. Freshness comes from the
    checkpoint: ``sources/0/<batch>`` lists the files each micro-batch
    read, and the mtime of ``commits/<batch>`` is when that batch
    became visible."""
    fresh, late, per_batch = [], [], []
    src_log = os.path.join(ckpt, "sources", "0")
    for entry in os.listdir(src_log):
        if not entry.isdigit():
            continue
        commit = os.path.join(ckpt, "commits", entry)
        if not os.path.exists(commit):
            continue
        committed = os.stat(commit).st_mtime
        with open(os.path.join(src_log, entry)) as fh:
            names = [
                os.path.basename(urllib.parse.unquote(json.loads(line)["path"]))
                for line in fh
                if line.startswith("{")
            ]
        if any(n in created for n in names):
            per_batch.append(len(names))
        for name in names:
            if name in created:
                due, made = created[name]
                fresh.append((committed - made) * 1000)
                late.append(max(0.0, made - due) * 1000)
    progress = [p for p in progress if p["numInputRows"] > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    ctx.layer.update(
        {
            "streaming.freshness_p50_ms": _median(fresh),
            "streaming.freshness_p90_ms": _quantile(fresh, 0.9),
            "streaming.generator_late_ms": max(late, default=0.0),
            "streaming.trigger_ms": _median(trig),
            "streaming.add_batch_ms": _median(add),
            "streaming.overhead_ms": _median([t - a for t, a in zip(trig, add)]),
            "streaming.rows_per_batch": _median([p["numInputRows"] for p in progress]),
            "streaming.backlog_files_max": max(per_batch, default=0),
        }
    )


def _median(xs: list[float]) -> float:
    return _quantile(xs, 0.5)


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


WORKLOADS = {
    "telegraf_write": telegraf_write,
    "stream_mixed": stream_mixed,
    "curate_batch": curate_batch,
}
