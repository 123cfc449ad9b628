"""Collect sets of benchmark runs and compare them.

    # ten seeds of every workload, saved as DIR/<side>/<workload>/<seed>.json
    python3 perfbench/compare.py collect --out DIR --side A=../parent --side B=. --seeds 1-10
    # one set: median, quartiles and spread of every metric
    python3 perfbench/compare.py spread DIR/B
    # two sets: per workload × metric, medians, quartiles, pair win rate, verdict
    python3 perfbench/compare.py diff DIR/A DIR/B
    # tracing overhead: an untraced set against a traced one (--trace 1)
    python3 perfbench/compare.py overhead DIR/B DIR/B_traced

``collect`` runs ``perfbench/run.py`` of each side's checkout, so give
both sides the same benchmark files. Sides alternate which runs first
from one seed to the next.

Verdicts follow the acceptance rule for a performance change. ``invalid``:
the second set has more failed operations, or more incorrect or missing
runs, than the first, so no gain counts. ``better``: the second set wins at least 9 of
10 seed pairs (ties count for neither) and the medians differ by more
than the first set's interquartile range. ``worse``: the median moved
the wrong way by more than the metric's bound in BENCHMARK.json (for a
metric without a bound, the mirror of ``better``). ``unresolved``: a
set's spread (interquartile range over median) exceeds the bound, and
not every run of the second set reads better than every run of the
first. Otherwise ``unchanged``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric_info(spec: dict) -> dict[str, dict]:
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def _seeds(s: str) -> list[int]:
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def collect(args) -> int:
    spec = _spec()
    sides = dict(s.split("=", 1) for s in args.side) if args.side else {"A": "."}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    names = list(sides)
    for i, seed in enumerate(_seeds(args.seeds)):
        order = names if i % 2 == 0 else names[::-1]
        for wl in workloads:
            for side in order:
                root = os.path.abspath(sides[side])
                out_dir = os.path.join(args.out, side, wl)
                os.makedirs(out_dir, exist_ok=True)
                cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", str(args.trace)]
                t0 = time.perf_counter()
                with open(os.path.join(out_dir, f"{seed}.err"), "w") as err:
                    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err, text=True, timeout=900)
                lines = proc.stdout.strip().splitlines()
                ok = proc.returncode == 0 and lines
                if ok:
                    with open(os.path.join(out_dir, f"{seed}.json"), "w") as fh:
                        fh.write(lines[-1] + "\n")
                res = json.loads(lines[-1]) if ok else {}
                print(f"{side} {wl} seed={seed} exit={proc.returncode} correct={res.get('correct')} "
                      f"failed={res.get('failed')} wall={time.perf_counter() - t0:.1f}s", flush=True)
    return 0


def load(set_dir: str) -> dict[str, dict[int, dict]]:
    """workload → seed → result object."""
    out: dict[str, dict[int, dict]] = {}
    for wl in sorted(os.listdir(set_dir)):
        d = os.path.join(set_dir, wl)
        if not os.path.isdir(d):
            continue
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.setdefault(wl, {})[int(f[:-5])] = json.load(fh)
    return out


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        v = vals[0] if vals else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def _values(runs: dict[int, dict], metric: str) -> dict[int, float]:
    return {s: r["metrics"][metric]["value"] for s, r in runs.items() if metric in r["metrics"]}


def _spread(vals: list[float]) -> float:
    q1, med, q3 = _quartiles(vals)
    return (q3 - q1) / med if med else float("inf") if q3 > q1 else 0.0


def spread(args) -> int:
    info = _metric_info(_spec())
    data = load(args.set)
    worst = 0.0
    print(f"{'workload':16s} {'metric':40s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for wl, runs in data.items():
        bad = [s for s, r in runs.items() if not r["correct"] or r["failed"]]
        if bad:
            print(f"{wl}: runs with failures: seeds {sorted(bad)}")
        for metric in sorted({m for r in runs.values() for m in r["metrics"]}):
            vals = list(_values(runs, metric).values())
            q1, med, q3 = _quartiles(vals)
            sp = _spread(vals)
            bound = info.get(metric, {}).get("bound")
            flag = ""
            if bound is not None and metric != "setup_s":
                worst = max(worst, sp / bound)
                flag = " OVER" if sp > bound else " >1/3" if sp > bound / 3 else ""
            b = f"{bound:.2f}" if bound is not None else "-"
            print(f"{wl:16s} {metric:40s} {len(vals):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} {b:>6s}{flag}")
    print(f"largest spread / bound (end-to-end, setup_s excluded): {worst:.2f}")
    return 0


def verdict(a: dict[int, float], b: dict[int, float], higher: bool, bound: float | None) -> tuple[str, float]:
    pairs = [(a[s], b[s]) for s in sorted(set(a) & set(b))]
    sign = 1 if higher else -1
    wins = sum(sign * (y - x) > 0 for x, y in pairs)
    losses = sum(sign * (y - x) < 0 for x, y in pairs)
    n = len(pairs) or 1
    qa1, ma, qa3 = _quartiles(list(a.values()))
    _, mb, _ = _quartiles(list(b.values()))
    delta = mb - ma
    iqr = qa3 - qa1
    if wins / n >= 0.9 and abs(delta) > iqr:
        return "better", wins / n
    if bound is not None:
        if -sign * delta > bound * abs(ma):
            return "worse", wins / n
        if max(_spread(list(a.values())), _spread(list(b.values()))) > bound:
            all_better = all(sign * (y - x) > 0 for x in a.values() for y in b.values())
            return ("unchanged" if all_better else "unresolved"), wins / n
        return "unchanged", wins / n
    if losses / n >= 0.9 and abs(delta) > iqr:
        return "worse", wins / n
    return ("unchanged" if abs(delta) <= iqr else "unresolved"), wins / n


def _failures(runs: dict[int, dict], seeds: set[int]) -> tuple[int, int]:
    """(runs not correct, failed operations) over a set's runs of
    ``seeds``; a run that left no result counts as not correct."""
    return (
        sum(s not in runs or not runs[s]["correct"] for s in seeds),
        sum(runs[s]["failed"] for s in seeds if s in runs),
    )


def diff(args) -> int:
    info = _metric_info(_spec())
    da, db = load(args.a), load(args.b)
    counts: dict[str, int] = {}
    print(f"{'workload':16s} {'metric':40s} {'A median [q1, q3]':>34s} {'B median [q1, q3]':>34s} {'delta':>8s} {'win':>5s}  verdict")
    for wl in sorted(set(da) | set(db)):
        da.setdefault(wl, {})
        db.setdefault(wl, {})
        seeds = set(da[wl]) | set(db[wl])
        fa, fb = _failures(da[wl], seeds), _failures(db[wl], seeds)
        print(f"{wl}: incorrect or missing runs / failed operations of {len(seeds)} seeds: "
              f"A {fa[0]}/{fa[1]}, B {fb[0]}/{fb[1]}")
        invalid = fb[0] > fa[0] or fb[1] > fa[1]
        metrics = sorted({m for r in list(da[wl].values()) + list(db[wl].values()) for m in r["metrics"]})
        for metric in metrics:
            a, b = _values(da[wl], metric), _values(db[wl], metric)
            if not a or not b:
                continue
            m = info.get(metric, {})
            v, win = verdict(a, b, m.get("better") == "higher", m.get("bound"))
            if invalid:
                v = "invalid"
            counts[v] = counts.get(v, 0) + 1
            qa = _quartiles(list(a.values()))
            qb = _quartiles(list(b.values()))
            rel = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            print(
                f"{wl:16s} {metric:40s} {qa[1]:12.4f} [{qa[0]:9.4f},{qa[2]:9.4f}] "
                f"{qb[1]:12.4f} [{qb[0]:9.4f},{qb[2]:9.4f}] {rel:+8.1%} {win:5.2f}  {v}"
            )
    print("verdicts:", ", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    return 0


def overhead(args) -> int:
    du, dt = load(args.untraced), load(args.traced)
    for wl in sorted(set(du) & set(dt)):
        u = statistics.median(_values(du[wl], "latency_ms").values())
        t = statistics.median(_values(dt[wl], "trace.latency_ms").values())
        rec = statistics.median(_values(dt[wl], "trace.self_ms_per_op").values())
        print(f"{wl:16s} latency untraced {u:9.1f} ms  traced {t:9.1f} ms  overhead {(t - u) / u:+6.1%}  "
              f"recorder {rec:.3f} ms/op")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--side", action="append", help="NAME=checkout (default A=.)")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", help="comma-separated (default: all in BENCHMARK.json)")
    c.add_argument("--trace", type=int, default=0, choices=(0, 1))
    c.set_defaults(fn=collect)
    s = sub.add_parser("spread")
    s.add_argument("set")
    s.set_defaults(fn=spread)
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    d.set_defaults(fn=diff)
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    o.set_defaults(fn=overhead)
    args = ap.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
