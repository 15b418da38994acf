"""Seeded input generator: the points table, the query stream and the ingest
batches. The same seed gives byte-identical inputs; the engine only ever
sees what this module produces.

Table shape (both workloads): 8 metrics x 8 hosts = 64 series over 2 days at
a 120 s step, hour-partitioned into 48 buckets (~90k points), all of it
bulk-loaded. About 2% of the points are dropped at random so ``fill`` has
gaps to fill. Ingest batches continue past the loaded range and cover the 64
existing series plus 16 new ones (hosts h8, h9).

The pipeline entries read a seeded ``documents`` and ``embeddings`` table
of the same shape as the contract's test data (see ``documents``).

Two days, not a week: every acknowledged ingest re-opens the table, and the
re-open lists the table's files as one Spark task per file. At 168 hour
files that listing made an ingest take ~3 s beside readers, too few
requests fitted a run to give steady percentiles, and a run would not fit
the benchmark's time budget.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
DAYS = 2
STEP = 120
T_END = T0 + DAYS * 86_400
METRICS = (
    "cpu.user",
    "cpu.system",
    "mem.used",
    "disk.io",
    "net.rx",
    "net.tx",
    "load.avg",
    "req.count",  # monotonic counter: the `rate` class reads it
)
HOSTS = tuple(f"h{i}" for i in range(8))
NEW_HOSTS = ("h8", "h9")
DROP_SHARE = 0.02
BATCH_TIMESTAMPS = 3  # ingest batch = 3 timestamps x 80 series = 240 points
QUERY_CLASSES = (
    "scan",
    "bucket_agg",
    "rate",
    "fill",
    "window",
    "wide_agg",
    "range",
    "range_lttb",
    "find",
)
LTTB_POINTS = 100
WINDOW_SECONDS = 600
ZIPF_S = 1.1
NEWEST_DAY_SHARE = 0.6


def tags_for(host: str) -> dict[str, str]:
    return {"dc": f"dc{int(host[1:]) % 2}", "host": host}


@dataclass
class Point:
    series: str
    host: str
    ts: int
    value: float

    def ndjson(self) -> str:
        # same bytes as json.dumps(..., separators=(",", ":")), 3x faster
        dc = int(self.host[1:]) % 2
        return (
            f'{{"series":"{self.series}","tags":{{"dc":"dc{dc}","host":"{self.host}"}},'
            f'"ts":{self.ts},"value":{self.value!r}}}'
        )


@dataclass
class Request:
    """One HTTP request of the query stream: ``method`` + ``path`` + ``body``.
    ``cls`` is its query class; ``probe`` holds the parameters the
    correctness checks need."""

    cls: str
    method: str
    path: str
    body: bytes | None
    probe: dict = field(default_factory=dict)


@dataclass
class Inputs:
    bulk: list[Point]
    batches: list[list[Point]]  # ingest batches, past the bulk-loaded range
    queries: list[Request]
    probes: list[Request]  # one per class: the untimed warm-up, checked later

    def bulk_ndjson(self) -> str:
        return "".join(p.ndjson() + "\n" for p in self.bulk)


def _series_values(rng: random.Random, metric: str, n: int) -> list[float]:
    if metric == "req.count":
        out, acc = [], 0.0
        for _ in range(n):
            acc += rng.randint(0, 40)
            out.append(float(acc))
        return out
    level = rng.uniform(10.0, 90.0)
    out = []
    for _ in range(n):
        level = min(100.0, max(0.0, level + rng.gauss(0.0, 1.5)))
        out.append(round(level, 3))
    return out


def _table_points(rng: random.Random) -> list[Point]:
    """The bulk-loaded points, with random drops."""
    n = (T_END - T0) // STEP
    bulk = []
    for metric in METRICS:
        for host in HOSTS:
            for i, v in enumerate(_series_values(rng, metric, n)):
                if rng.random() >= DROP_SHARE:
                    bulk.append(Point(metric, host, T0 + i * STEP, v))
    return bulk


def _ingest_batches(rng: random.Random, n_batches: int) -> list[list[Point]]:
    hosts = HOSTS + NEW_HOSTS
    state = {(m, h): rng.uniform(10.0, 90.0) for m in METRICS for h in hosts}
    batches = []
    for b in range(n_batches):
        batch = []
        for k in range(BATCH_TIMESTAMPS):
            ts = T_END + (b * BATCH_TIMESTAMPS + k) * STEP
            for m in METRICS:
                for h in hosts:
                    v = state[m, h] = round(state[m, h] + rng.uniform(0.0, 3.0), 3)
                    batch.append(Point(m, h, ts, v))
        batches.append(batch)
    return batches


def _window_start(rng: random.Random, span: int) -> int:
    lo = T_END - 86_400 if rng.random() < NEWEST_DAY_SHARE else T0
    return rng.randrange(lo, T_END - span + 1, 60) // 60 * 60


def make_query(cls: str, rng: random.Random, metric: str, host: str) -> Request:
    """One request of class ``cls`` on series (``metric``, ``host``)."""
    sel = f"from {metric} where tag.host = '{host}'"
    if cls == "scan":
        s = _window_start(rng, 3_600)
        q = f"select time, value {sel} and time >= {s} and time < {s + 3_600}"
        probe = {"metric": metric, "host": host, "start": s, "end": s + 3_600}
    elif cls == "bucket_agg":
        s = _window_start(rng, 86_400)
        q = (
            f"select time_bucket(300, time) as b, avg(value) as a, max(value) as m "
            f"{sel} and time >= {s} and time < {s + 86_400} group by b"
        )
        probe = {"metric": metric, "host": host, "start": s, "end": s + 86_400}
    elif cls == "rate":
        s = _window_start(rng, 86_400) // 3_600 * 3_600
        q = (
            f"select time_bucket(3600, time) as b, rate(value) as r "
            f"from req.count where tag.host = '{host}' "
            f"and time >= {s} and time < {s + 86_400} group by b"
        )
        probe = {"metric": "req.count", "host": host, "start": s, "end": s + 86_400}
    elif cls == "fill":
        s = _window_start(rng, 21_600)
        q = (
            f"select avg(value) as v {sel} and time >= {s} and time < {s + 21_600} "
            f"group by time_bucket(60, time) fill(linear)"
        )
        probe = {"metric": metric, "host": host, "start": s, "end": s + 21_600}
    elif cls == "window":
        s = _window_start(rng, 10_800)
        q = (
            f"select time, moving_avg(value, {WINDOW_SECONDS}) as ma "
            f"{sel} and time >= {s} and time < {s + 10_800}"
        )
        probe = {"metric": metric, "host": host, "start": s, "end": s + 10_800}
    elif cls == "wide_agg":
        q = (
            f"select tag.host as host, time_bucket(3600, time) as h, avg(value) as a "
            f"from {metric} where time >= {T0} and time < {T_END} "
            f"group by tag.host, time_bucket(3600, time)"
        )
        probe = {"metric": metric, "start": T0, "end": T_END}
    elif cls in ("range", "range_lttb"):
        span = 7_200 if cls == "range" else 86_400
        s = _window_start(rng, span)
        path = (
            f"/api/v1/query/range?series={metric}"
            f"&tags={json.dumps(tags_for(host), separators=(',', ':'))}"
            f"&start={s}&end={s + span - 1}"
        )
        if cls == "range_lttb":
            path += f"&max_points={LTTB_POINTS}"
        probe = {"metric": metric, "host": host, "start": s, "end": s + span - 1}
        return Request(cls, "GET", path, None, probe)
    elif cls == "find":
        tags = {"host": host} if rng.random() < 0.5 else tags_for(host)
        body = json.dumps({"tags": tags, "op": "and"}).encode()
        return Request(cls, "POST", "/api/v1/query/find", body, {"tags": tags})
    else:
        raise ValueError(f"unknown query class {cls!r}")
    return Request(cls, "POST", "/api/v1/sydraql", q.encode(), probe)


def _zipf_series(rng: random.Random) -> tuple[list[tuple[str, str]], list[float]]:
    series = [(m, h) for m in METRICS for h in HOSTS]
    rng.shuffle(series)
    cum, acc = [], 0.0
    for rank in range(len(series)):
        acc += 1.0 / (rank + 1) ** ZIPF_S
        cum.append(acc)
    return series, cum


def _query_stream(rng: random.Random, n: int) -> list[Request]:
    """Each cycle of 9 requests holds one of every class in a seeded order,
    so every prefix of the stream has the same class mix to within one
    cycle; series are Zipf-skewed."""
    series, cum = _zipf_series(rng)
    out: list[Request] = []
    while len(out) < n:
        order = list(QUERY_CLASSES)
        rng.shuffle(order)
        for cls in order:
            metric, host = rng.choices(series, cum_weights=cum)[0]
            out.append(make_query(cls, rng, metric, host))
    return out[:n]


def make_inputs(seed: int, n_batches: int, n_queries: int) -> Inputs:
    bulk = _table_points(random.Random(seed))
    batches = _ingest_batches(random.Random(seed * 7_919 + 1), n_batches)
    queries = _query_stream(random.Random(seed * 7_919 + 2), n_queries)
    probes = _query_stream(random.Random(seed * 7_919 + 3), len(QUERY_CLASSES))
    return Inputs(bulk, batches, queries, probes)


def batch_body(batch: list[Point]) -> bytes:
    return "".join(p.ndjson() + "\n" for p in batch).encode()


# --- pipeline inputs ---------------------------------------------------------
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SOURCES = 20
EXACT_DUP_SHARE = 0.03  # copies of an earlier text: dedup_exact groups
NEAR_DUP_SHARE = 0.05  # an earlier text with one word replaced: near-dup pairs
EMBED_DIM = 64
EMBED_LABELS = 10


def documents(seed: int, n: int) -> dict[str, list]:
    """Columns of the ``documents`` table the pipeline entries read:
    ``doc_id``, ``text``, ``lang``, ``source``, ``n_chars``."""
    rng = random.Random(seed * 7_919 + 4)
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < EXACT_DUP_SHARE:
            text = rng.choice(texts)
        elif texts and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = "dup"
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 90)))
        texts.append(text)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % SOURCES}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings(seed: int, n: int) -> dict[str, list]:
    """Columns of the ``embeddings`` table: ``vec_id``, a unit-length
    ``embedding`` of ``EMBED_DIM`` floats near its label's centre, ``label``."""
    rng = random.Random(seed * 7_919 + 5)
    centres = [[rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)] for _ in range(EMBED_LABELS)]
    vecs, labels = [], []
    for _ in range(n):
        label = rng.randrange(EMBED_LABELS)
        v = [c + rng.gauss(0.0, 0.6) for c in centres[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    return {"vec_id": list(range(n)), "embedding": vecs, "label": labels}
