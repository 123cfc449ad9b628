"""Engine-independent answers: every check here works from the generated
points and the files on disk, never from the engine's own reads.

Semantics follow InfluxDB 1.x as cFlux serves it: time in epoch ms,
``GROUP BY time(1m)`` buckets aligned to the epoch, one series per tag
set, and every numeric field stored as Float64 (cFlux keeps no integer
column), so ``SHOW FIELD KEYS`` reports ``float`` for Telegraf's ``i``
fields too.
"""

from __future__ import annotations

import math
import os

import pyarrow.dataset as ds

from gen import FIELDS, N_HOSTS, Points, Statement, host_name


def expected(stmt: Statement, pts: Points) -> list[dict]:
    """The ``series`` list InfluxDB returns for ``stmt`` over ``pts``."""
    p = stmt.params
    if stmt.kind == "agg":
        out = []
        for h in range(N_HOSTS):
            host = host_name(h)
            vals = _buckets(pts.series[("cpu", host, "usage_user")], p["lo"], p["hi"])
            out.append(
                {
                    "name": "cpu",
                    "tags": {"host": host},
                    "columns": ["time", "mean"],
                    "values": [[t * 1000, _mean(v)] for t, v in vals],
                }
            )
        return out
    if stmt.kind == "agg_host":
        host = p["host"]
        cols = [
            _buckets(pts.series[("cpu", host, f)], p["lo"], p["hi"])
            for f in ("usage_user", "usage_system", "usage_idle")
        ]
        rows = [
            [t * 1000, _mean(u), _mean(s), max(i)]
            for (t, u), (_, s), (_, i) in zip(*cols)
        ]
        return [
            {
                "name": "cpu",
                "columns": ["time", "mean_usage_user", "mean_usage_system", "max_usage_idle"],
                "values": rows,
            }
        ]
    if stmt.kind == "selector":
        out = []
        for h in range(N_HOSTS):
            host = host_name(h)
            t, v = [pt for pt in pts.series[("cpu", host, "usage_user")] if pt[0] < p["hi"]][-1]
            out.append(
                {"name": "cpu", "tags": {"host": host}, "columns": ["time", "last"], "values": [[t * 1000, v]]}
            )
        return out
    if stmt.kind == "raw":
        host = p["host"]
        user = pts.series[("cpu", host, "usage_user")]
        system = dict(pts.series[("cpu", host, "usage_system")])
        rows = [[t * 1000, v, system[t]] for t, v in user if p["lo"] <= t < p["hi"]]
        return [{"name": "cpu", "columns": ["time", "usage_user", "usage_system"], "values": rows}]
    if stmt.kind == "show_meas":
        return [{"name": "measurements", "columns": ["name"], "values": [[m] for m in sorted(FIELDS)]}]
    if stmt.kind == "show_tag_values":
        return [
            {
                "name": "cpu",
                "columns": ["key", "value"],
                "values": [["host", host_name(h)] for h in range(N_HOSTS)],
            }
        ]
    if stmt.kind == "show_field_keys":
        return [
            {
                "name": m,
                "columns": ["fieldKey", "fieldType"],
                "values": [[f, "float"] for f in sorted(FIELDS[m])],
            }
            for m in sorted(FIELDS)
        ]
    raise ValueError(stmt.kind)


def _buckets(series: list[tuple[int, float]], lo: int, hi: int) -> list[tuple[int, list[float]]]:
    groups: dict[int, list[float]] = {}
    for t, v in series:
        if lo <= t < hi:
            groups.setdefault(t - t % 60, []).append(v)
    return sorted(groups.items())


def _mean(vs: list[float]) -> float:
    return math.fsum(vs) / len(vs)


def n_values(series: list[dict]) -> int:
    """Values in an answer: rows × value columns."""
    return sum(len(s["values"]) * (len(s["columns"]) - 1) for s in series)


def answer_matches(envelope: dict, want: list[dict]) -> bool:
    """Series compared as a set keyed by (name, tags); rows in order.
    The engine rounds aggregates to 6 decimals, so floats match within
    6e-7 (half a unit in the 6th decimal plus summation-order error)."""
    results = envelope.get("results") or [{}]
    if len(results) != 1 or "error" in results[0]:
        return False
    got = results[0].get("series", [])

    def key(s: dict) -> tuple:
        return (s["name"], tuple(sorted((s.get("tags") or {}).items())))

    if sorted(map(key, got)) != sorted(map(key, want)):
        return False
    by_key = {key(s): s for s in got}
    for w in want:
        g = by_key[key(w)]
        if g["columns"] != w["columns"] or len(g["values"]) != len(w["values"]):
            return False
        for grow, wrow in zip(g["values"], w["values"]):
            if len(grow) != len(wrow):
                return False
            for a, b in zip(grow, wrow):
                if isinstance(b, float):
                    if not isinstance(a, (int, float)) or not abs(a - b) <= 6e-7:
                        return False
                elif a != b:
                    return False
    return True


# ---------------------------------------------------------------- store


def store_census(db_dir: str) -> dict:
    """Counts read straight from the parquet files of one database:
    stored field-points, distinct series, files and bytes on disk."""
    samples = os.path.join(db_dir, "samples")
    registry = os.path.join(db_dir, "time_series")
    n_points = ds.dataset(samples, format="parquet", partitioning="hive").count_rows()
    fps = ds.dataset(registry, format="parquet").to_table(columns=["fingerprint"]).column(0)
    files = {"samples": 0, "time_series": 0}
    n_bytes = 0
    for part in files:
        for dirpath, _, names in os.walk(os.path.join(db_dir, part)):
            for n in names:
                if n.endswith(".parquet"):
                    files[part] += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, n))
    return {
        "points": n_points,
        "series": len(set(fps.to_pylist())),
        "samples_files": files["samples"],
        "registry_files": files["time_series"],
        "bytes": n_bytes,
    }


def expected_series() -> int:
    return N_HOSTS * sum(len(f) for f in FIELDS.values())


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact Jaccard similarity of two texts' word ``n``-gram sets."""

    def grams(text: str) -> set[tuple[str, ...]]:
        w = text.split()
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb) if ga or gb else 0.0
