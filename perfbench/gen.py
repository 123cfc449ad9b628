"""Seeded input generator: every byte the engine receives comes from here.

The same seed gives the same Telegraf bodies, preload, dashboard
statement rotation and streaming files. Generation runs during set-up,
so client threads only send.

Points follow Telegraf's ``cpu`` and ``mem`` input plugins: one line of
each per host per 10 s tick. Values are kept as the decimal text that
goes on the wire, so the oracle and the engine start from the same
numbers.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

N_HOSTS = 100
TICK_S = 10
# 2023-11-14 01:00:00 UTC: every generated point falls on one UTC date,
# so each store has a single date partition whatever the seed.
BASE_S = 1_699_920_000 + 3600
CPU_FIELDS = ("usage_user", "usage_system", "usage_idle")
MEM_FIELDS = ("used_percent", "available")
FIELDS = {"cpu": CPU_FIELDS, "mem": MEM_FIELDS}
POINTS_PER_TICK = N_HOSTS * (len(CPU_FIELDS) + len(MEM_FIELDS))
LINES_PER_TICK = 2 * N_HOSTS
NS = 1_000_000_000


def host_name(h: int) -> str:
    return f"h{h:03d}"


@dataclass
class Points:
    """Generated points indexed for the oracle: (measurement, host,
    field) → time-ordered [(ts_s, value)]."""

    series: dict[tuple[str, str, str], list[tuple[int, float]]] = field(default_factory=dict)
    n_points: int = 0

    def add(self, meas: str, host: str, fld: str, ts_s: int, value: float) -> None:
        self.series.setdefault((meas, host, fld), []).append((ts_s, value))
        self.n_points += 1


class Generator:
    """Telegraf-shaped line protocol for ``N_HOSTS`` hosts, tick by tick
    from ``BASE_S``. ``lines(t0, n)`` is deterministic in (seed, tick),
    so any tick range can be regenerated and indexed."""

    def __init__(self, seed: int):
        self.seed = seed
        meta = random.Random(f"hosts-{seed}")
        self.regions = {host_name(h): f"r{meta.randrange(4)}" for h in range(N_HOSTS)}
        self.mem_total = {host_name(h): meta.choice((8, 16, 32, 64)) << 30 for h in range(N_HOSTS)}

    def tick_lines(self, tick: int, points: Points | None = None) -> list[str]:
        rng = random.Random(f"tick-{self.seed}-{tick}")
        ts_s = BASE_S + tick * TICK_S
        ts = ts_s * NS
        out = []
        for h in range(N_HOSTS):
            host = host_name(h)
            region = self.regions[host]
            user = f"{rng.uniform(0, 80):.3f}"
            system = f"{rng.uniform(0, 20):.3f}"
            idle = f"{100 - float(user) - float(system):.3f}"
            used = f"{rng.uniform(5, 95):.2f}"
            avail = int(self.mem_total[host] * (1 - float(used) / 100))
            out.append(
                f"cpu,host={host},cpu=cpu-total,region={region} "
                f"usage_user={user},usage_system={system},usage_idle={idle} {ts}"
            )
            out.append(f"mem,host={host},region={region} used_percent={used},available={avail}i {ts}")
            if points is not None:
                for fld, v in zip(CPU_FIELDS, (user, system, idle)):
                    points.add("cpu", host, fld, ts_s, float(v))
                points.add("mem", host, "used_percent", ts_s, float(used))
                points.add("mem", host, "available", ts_s, float(avail))
        return out

    def lines(self, first_tick: int, n_ticks: int, points: Points | None = None) -> list[str]:
        out: list[str] = []
        for t in range(first_tick, first_tick + n_ticks):
            out.extend(self.tick_lines(t, points))
        return out

    def telegraf_bodies(self, first_tick: int, n_bodies: int, lines_per_body: int) -> list[bytes]:
        """Consecutive /write bodies of ``lines_per_body`` lines each
        (Telegraf's ``metric_batch_size``), cut from the tick stream."""
        ticks_per_body = -(-lines_per_body // LINES_PER_TICK)
        bodies = []
        for b in range(n_bodies):
            ls = self.lines(first_tick + b * ticks_per_body, ticks_per_body)[:lines_per_body]
            bodies.append("\n".join(ls).encode())
        return bodies


# ------------------------------------------------------------ dashboard

# Statement classes and the panel each stands for. The rotation visits
# every kind once per cycle in a seeded order, so the class mix is the
# same in every run whatever the seed.
KINDS = ("agg", "agg_host", "selector", "raw", "show_meas", "show_tag_values", "show_field_keys")
CLASS_OF = {
    "agg": "agg",
    "agg_host": "agg",
    "selector": "selector",
    "raw": "raw",
    "show_meas": "meta",
    "show_tag_values": "meta",
    "show_field_keys": "meta",
}


@dataclass
class Statement:
    kind: str
    q: str
    params: dict


def dashboard_rotation(seed: int, n_ticks: int, n_statements: int) -> list[Statement]:
    """Grafana-style panel queries over ticks [0, n_ticks) of the
    preload. Every statement carries explicit time bounds inside that
    range, so its answer stays fixed while later ticks stream in."""
    rng = random.Random(f"dashboard-{seed}")
    span_s = n_ticks * TICK_S
    minutes = span_s // 60
    out: list[Statement] = []
    while len(out) < n_statements:
        kinds = list(KINDS)
        rng.shuffle(kinds)
        for kind in kinds:
            host = host_name(rng.randrange(N_HOSTS))
            if kind == "agg":
                m0 = rng.randrange(0, minutes - 15)
                lo, hi = BASE_S + m0 * 60, BASE_S + (m0 + 15) * 60
                q = (
                    f"SELECT mean(usage_user) FROM cpu WHERE time >= {lo * NS} AND time < {hi * NS} "
                    f"GROUP BY time(1m), host"
                )
                params = {"lo": lo, "hi": hi}
            elif kind == "agg_host":
                lo, hi = BASE_S, BASE_S + minutes * 60
                q = (
                    f"SELECT mean(usage_user), mean(usage_system), max(usage_idle) FROM cpu "
                    f"WHERE host = '{host}' AND time >= {lo * NS} AND time < {hi * NS} GROUP BY time(1m)"
                )
                params = {"lo": lo, "hi": hi, "host": host}
            elif kind == "selector":
                hi = BASE_S + rng.randrange(span_s // 2, span_s)
                q = f"SELECT last(usage_user) FROM cpu WHERE time < {hi * NS} GROUP BY host"
                params = {"hi": hi}
            elif kind == "raw":
                hi = BASE_S + rng.randrange(600, span_s + 1)
                lo = hi - 600
                q = (
                    f"SELECT usage_user, usage_system FROM cpu WHERE host = '{host}' "
                    f"AND time >= {lo * NS} AND time < {hi * NS}"
                )
                params = {"lo": lo, "hi": hi, "host": host}
            elif kind == "show_meas":
                q, params = "SHOW MEASUREMENTS", {}
            elif kind == "show_tag_values":
                q, params = 'SHOW TAG VALUES FROM cpu WITH KEY = "host"', {}
            else:
                q, params = "SHOW FIELD KEYS", {}
            out.append(Statement(kind, q, params))
    return out[:n_statements]


# ------------------------------------------------------------ corpus

# The shape of the catalog's ``documents`` and ``embeddings`` tables:
# texts drawn from a small vocabulary, some of them near-copies of an
# earlier text (the MinHash and curation targets), and unit-length
# 64-dimensional embeddings, loosely grouped around a few centroids
# (cosine ≥ 0.35 for a few hundred of the 125,000 pairs, as in the
# catalog's tables), some of them near-copies too (the SemDeDup and
# decontamination targets).
VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EMB_DIM = 64
N_CENTROIDS = 8
NEAR_COPY_FRAC = 0.08


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> list[str]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into
    ``out_dir``; returns the document texts, indexed by ``doc_id``."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus-{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_COPY_FRAC:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randrange(3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            words.append("dup")
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(15, 90))]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centroids = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(N_CENTROIDS)]
    vecs: list[list[float]] = []
    labels: list[int] = []
    for i in range(n_vecs):
        if i > 10 and rng.random() < NEAR_COPY_FRAC:
            j = rng.randrange(i)
            v, label = [x + rng.gauss(0, 0.01) for x in vecs[j]], labels[j]
        else:
            label = rng.randrange(N_CENTROIDS)
            v = [0.25 * c + rng.gauss(0, 1) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")
    return texts
