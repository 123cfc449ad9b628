"""cFlux user benchmark: one run of one workload.

    python3 perfbench/run.py --workload telegraf_write --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Starts the engine on Spark
``local[<cores>]``, sets up the workload from ``--seed``, measures for
``--seconds``, checks every answer, and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans at each layer boundary and prints the per-layer
metrics instead (spans go to ``.perfbench_out/``). Everything the run
writes stays under the checkout and is removed at exit, except the
span dumps.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from gen import CLASS_OF  # noqa: E402
from workloads import CURATE_JOBS, _median  # noqa: E402

SPAN_NAMES = (
    "api.write",
    "api.query",
    "plans.execute",
    "plans.parse_select",
    "sources.write_batch",
    "sources.read_registry",
    "sources.read_samples",
) + tuple(f"extensions.{job}" for job in CURATE_JOBS)
QUERY_CLASSES = ("agg", "selector", "raw", "meta")
OP_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "exec_run_ms")
STREAM_METRICS = (
    "freshness_p50_ms",
    "freshness_p90_ms",
    "generator_late_ms",
    "trigger_ms",
    "add_batch_ms",
    "overhead_ms",
    "rows_per_batch",
    "backlog_files_max",
)
EXT_COUNTERS = (("tasks", "count"), ("shuffle_bytes", "B"), ("exec_cpu_ms", "ms"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cflux_spark")):
        print(f"no cflux_spark package next to {HERE}: run from a source checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    _confine(work)
    sys.path.insert(0, ROOT)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _confine(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    under ``work``: scratch space, temp files, the warehouse."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a 2 GB driver heap holds these stores and leaves room for other work
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        [
            "spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # the traced run reads per-stage counters back at the end
            "spark.ui.retainedJobs=100000",
            "spark.ui.retainedStages=100000",
        ]
    )


def _run(args, work: str) -> dict:
    from pyspark import SparkContext

    from cflux_spark import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    get_spark_s = time.perf_counter() - t0
    rec = None
    if args.trace:
        import spans

        rec = spans.Recorder(spark)
        spans.install(rec)
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, rec, t0=T_START)
    try:
        workloads.WORKLOADS[args.workload](ctx)
        stages = rec.stage_totals() if rec else None
        rss_mb = _tree_peak_rss_mb()
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        # the JVM exits once its stdin closes; wait for it (and with it
        # the Python workers it forked)
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    all_ops = ctx.warm_ops + ctx.ops
    failed = sum(not o.ok for o in all_ops) + sum(not ok for ok in ctx.checks.values())
    attempted = len(all_ops) + len(ctx.checks)
    for name, ok in ctx.checks.items():
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)
    window_s = ctx.window[1] - ctx.window[0]
    if args.trace:
        metrics = _layer_metrics(ctx, rec, stages, cores, get_spark_s)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        rec.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (ctx.window[0] - T_START, "s"),
            "latency_ms": (_latency_ms(ctx.ops), "ms"),
            "ops_per_s": (len(ctx.ops) / window_s, "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer_metrics(ctx, rec, stages, cores: int, get_spark_s: float) -> dict:
    """Per-layer numbers from the spans of the measured window. A layer
    the workload does not run reads 0."""
    lo, hi = ctx.window
    spans = {n: [s for s in rec.spans if s.name == n and lo <= s.start <= hi] for n in SPAN_NAMES}

    def subtree(span) -> list:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(rec.children(s))
        return out

    def totals(span_list) -> dict:
        t = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "exec_run_ms": 0.0, "exec_cpu_ms": 0.0, "input_rows": 0}
        for s in span_list:
            for d in subtree(s):
                st = stages.get(d.id)
                if st is not None:
                    for k in t:
                        t[k] += getattr(st, k)
        return t

    def per_call(span_list, key) -> float:
        return totals(span_list)[key] / len(span_list) if span_list else 0.0

    wb = spans["sources.write_batch"]
    wb_t = totals(wb)
    wb_s = sum(s.dur for s in wb)
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.warmup_s": (ctx.warmup_s, "s"),
        "api.write.self_ms": (_median([rec.self_time(s) * 1000 for s in spans["api.write"]]), "ms"),
        "api.write.points_per_s": (ctx.layer.get("api.write.points_per_s", 0.0), "1/s"),
        "api.query.self_ms": (_median([rec.self_time(s) * 1000 for s in spans["api.query"]]), "ms"),
        "api.response_bytes": (ctx.layer.get("api.response_bytes", 0.0), "B"),
    }
    for cls in QUERY_CLASSES:
        m[f"api.query.{cls}_p50_ms"] = (_median([o.ms for o in ctx.ops if CLASS_OF.get(o.label) == cls]), "ms")
    m.update(
        {
            "sources.write_batch_ms": (_median([s.dur * 1000 for s in wb]), "ms"),
            "sources.write_batch.jobs": (per_call(wb, "jobs"), "count"),
            "sources.write_batch.stages": (per_call(wb, "stages"), "count"),
            "sources.write_batch.tasks": (per_call(wb, "tasks"), "count"),
            "sources.write_batch.shuffle_bytes": (per_call(wb, "shuffle_bytes"), "B"),
            "sources.write_batch.exec_run_ms": (per_call(wb, "exec_run_ms"), "ms"),
            "sources.write_batch.exec_cpu_ms": (per_call(wb, "exec_cpu_ms"), "ms"),
            "sources.write_batch.core_busy_frac": (
                wb_t["exec_run_ms"] / (wb_s * 1000 * cores) if wb_s else 0.0,
                "fraction",
            ),
            "sources.parse_us_per_line": (ctx.layer.get("sources.parse_us_per_line", 0.0), "us"),
            "sources.files_per_write": (ctx.layer.get("sources.files_per_write", 0.0), "count"),
            "sources.registry_files": (ctx.layer.get("sources.registry_files", 0.0), "count"),
            "sources.read_registry_ms": (_median([s.dur * 1000 for s in spans["sources.read_registry"]]), "ms"),
            "sources.read_samples_ms": (_median([s.dur * 1000 for s in spans["sources.read_samples"]]), "ms"),
            "sources.compact_s": (ctx.layer.get("sources.compact_s", 0.0), "s"),
            "sources.bytes_per_point": (ctx.store_bytes / max(ctx.points, 1), "B"),
            "plans.parse_select_us": (_median([s.dur * 1e6 for s in spans["plans.parse_select"]]), "us"),
            "plans.execute.self_ms": (
                _median([rec.self_time(s, stages) * 1000 for s in spans["plans.execute"]]),
                "ms",
            ),
        }
    )
    queries = spans["api.query"]
    for cls in QUERY_CLASSES:
        mine = [s for s in queries if CLASS_OF.get((s.request or "").split("-")[0]) == cls]
        for k in OP_COUNTERS:
            unit = "ms" if k.endswith("_ms") else "B" if k.endswith("bytes") else "count"
            m[f"operators.{cls}.{k}"] = (per_call(mine, k), unit)
    values = ctx.layer.get("values_returned", 0)
    m["operators.rows_examined_per_value"] = (totals(queries)["input_rows"] / values if values else 0.0, "ratio")
    for k in STREAM_METRICS:
        unit = "ms" if k.endswith("_ms") else "count"
        m[f"streaming.{k}"] = (ctx.layer.get(f"streaming.{k}", 0.0), unit)
    for job in CURATE_JOBS:
        mine = spans.get(f"extensions.{job}", [])
        m[f"extensions.{job}_s"] = (_median([s.dur for s in mine]), "s")
        for k, unit in EXT_COUNTERS:
            m[f"extensions.{job}.{k}"] = (per_call(mine, k), unit)
    m["extensions.minhash_lsh_pairs.verified_per_candidate"] = (
        ctx.layer.get("extensions.minhash_lsh_pairs.verified_per_candidate", 0.0),
        "ratio",
    )
    m["trace.spans"] = (len(rec.spans), "count")
    m["trace.self_ms_per_op"] = (rec.self_s * 1000 / max(len(ctx.ops), 1), "ms")
    m["trace.latency_ms"] = (_latency_ms(ctx.ops), "ms")
    return m


def _latency_ms(ops) -> float:
    """Median latency of the workload's operation. A write is one
    request. A dashboard refresh is seven panel queries and a curation
    pass five jobs, so their latency is the sum of each part's median:
    every part counts once, however the window cut the rotation."""
    by_label: dict[str, list[float]] = {}
    for o in ops:
        by_label.setdefault(o.label, []).append(o.ms)
    return sum(_median(v) for v in by_label.values())


def _tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all
    its descendants: the driver JVM and the Python workers it forked."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next((int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


if __name__ == "__main__":
    sys.exit(main())
