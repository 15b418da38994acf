"""Differential fuzzing: template-generated sydraQL queries run through the
ENGINE and through a hand-paired DuckDB SQL twin over the same points —
SURVEY §5 level-4 testing beyond the fixed golden corpus. Cases are
generated with a fixed seed (deterministic, debuggable, no shrink loops
against Spark latency); every case asserts row-for-row equality after
sorting, floats at 1e-9 relative tolerance.

Template coverage: global aggregates (avg/sum/min/max/count, expr-on-agg),
time_bucket grouping, arithmetic/scalar projections, ORDER BY + LIMIT
(values are distinct per series so ties can't make LIMIT ambiguous), exact
percentile (DuckDB quantile_cont), first/last on the gap-free series.
rate/irate/delta/integral and FILL stay with their dedicated oracle
entries (driver contract) — this file fuzzes the compositional surface.
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from sydradb_spark.functions.chunked import WINDOW_CHUNK_S
from sydradb_spark.functions.fill import CHUNK_BUCKETS

T0 = 1_000_000
SERIES_SPAN = {
    # series -> (max offset seconds) for range generation
    "weather.room1": 7200,
    "weather.room2": 3600,
    "cpu.total": 3600,
}


def _rows():
    """Mirror of the conftest `points` fixture rows (series, ts, value)."""
    rows = []
    for i in range(720):
        rows.append(("weather.room1", T0 + i * 10, i * 0.5))
    for i in range(60):
        if 10 <= i < 20:
            continue
        rows.append(("weather.room2", T0 + i * 60, float(i)))
    for i in range(240):
        rows.append(("cpu.total", T0 + i * 15, 100.0 + i * 3))
    rows.append(("weather.room1", 1_000_050, 999.0))
    rows.append(("cpu.total", T0, 50.0))
    return rows


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(series VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?)", _rows())
    yield con
    con.close()


def _gen_cases():
    rnd = random.Random(7)
    cases = []

    def rng(series):
        span = SERIES_SPAN[series]
        a = T0 + rnd.randrange(0, span)
        b = a + rnd.randrange(1, span)
        return a, b

    for _ in range(8):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        agg = rnd.choice(["avg", "sum", "min", "max"])
        cases.append(
            (
                f"agg-{agg}-{s}-{a}",
                f"select {agg}(value) as v, count() as c from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT {agg}(value) AS v, count(*) AS c FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    for _ in range(6):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        w = rnd.choice([30, 60, 300, 900])
        cases.append(
            (
                f"bucket-{s}-{w}-{a}",
                f"select time_bucket({w}, time) as b, avg(value) as v, "
                f"count() as c from {s} where time >= {a} and time < {b} "
                f"group by b",
                f"SELECT (ts // {w}) * {w} AS b, avg(value) AS v, count(*) AS c "
                f"FROM pts WHERE series = '{s}' AND ts >= {a} AND ts < {b} "
                f"GROUP BY 1",
            )
        )
    for _ in range(5):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        m = rnd.randrange(2, 9)
        c = rnd.randrange(-5, 6)
        cases.append(
            (
                f"proj-{s}-{m}-{c}-{a}",
                f"select value * {m} + {c} as x, abs(value - {c}) as y, "
                f"floor(value) as f from {s} where time >= {a} and time < {b}",
                f"SELECT value * {m} + {c} AS x, abs(value - {c}) AS y, "
                f"floor(value) AS f FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        k = rnd.randrange(1, 12)
        cases.append(
            (
                f"topk-{s}-{k}-{a}",
                f"select value from {s} where time >= {a} and time < {b} "
                f"order by value desc limit {k}",
                f"SELECT value FROM pts WHERE series = '{s}' AND ts >= {a} "
                f"AND ts < {b} ORDER BY value DESC LIMIT {k}",
            )
        )
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        p = rnd.choice([0.1, 0.25, 0.5, 0.9, 0.99])
        cases.append(
            (
                f"pct-{s}-{p}-{a}",
                f"select percentile(value, {p}) as p from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT quantile_cont(value, {p}) AS p FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    for _ in range(3):
        a, b = rng("weather.room2")  # gap-free of duplicate ts → ties impossible
        cases.append(
            (
                f"firstlast-{a}",
                f"select first(value) as f, last(value) as l, "
                f"max(value) - min(value) as spread from weather.room2 "
                f"where time >= {a} and time < {b}",
                f"SELECT arg_min(value, ts) AS f, arg_max(value, ts) AS l, "
                f"max(value) - min(value) AS spread FROM pts "
                f"WHERE series = 'weather.room2' AND ts >= {a} AND ts < {b}",
            )
        )
    # value predicates on top of the time range
    for _ in range(5):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        c = rnd.randrange(0, 200)
        op = rnd.choice([">=", "<", ">", "<="])
        cases.append(
            (
                f"valpred-{s}-{op}{c}-{a}",
                f"select value from {s} where time >= {a} and time < {b} "
                f"and value {op} {c}",
                f"SELECT value FROM pts WHERE series = '{s}' AND ts >= {a} "
                f"AND ts < {b} AND value {op} {c}",
            )
        )
    # limit + offset over a deterministic order
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        k, o = rnd.randrange(1, 8), rnd.randrange(0, 6)
        cases.append(
            (
                f"limoff-{s}-{k}-{o}-{a}",
                f"select value from {s} where time >= {a} and time < {b} "
                f"order by value limit {k} offset {o}",
                f"SELECT value FROM pts WHERE series = '{s}' AND ts >= {a} "
                f"AND ts < {b} ORDER BY value LIMIT {k} OFFSET {o}",
            )
        )
    # scalar battery (fixture values are all >= 0, so sqrt/ln stay real)
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        cases.append(
            (
                f"scalar-{s}-{a}",
                f"select sqrt(value) as sq, pow(value, 2) as p2, "
                f"ln(value + 1) as lg, ceil(value / 7) as ce, "
                f"coalesce(value, 0) as co from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT sqrt(value) AS sq, pow(value, 2) AS p2, "
                f"ln(value + 1) AS lg, ceil(value / 7) AS ce, "
                f"coalesce(value, 0) AS co FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    # expressions over aggregates
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        m = rnd.randrange(2, 5)
        cases.append(
            (
                f"aggexpr-{s}-{m}-{a}",
                f"select avg(value) * {m} + max(value) as x, "
                f"sum(value) / count() as mean2 from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT avg(value) * {m} + max(value) AS x, "
                f"sum(value) / count(*) AS mean2 FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    # implicit ascending-time order under LIMIT (no ORDER BY in sydraQL —
    # the engine's documented implicit order; room2 has unique ts)
    for _ in range(3):
        a, b = rng("weather.room2")
        k = rnd.randrange(1, 10)
        cases.append(
            (
                f"implimit-{k}-{a}",
                f"select value from weather.room2 where time >= {a} "
                f"and time < {b} limit {k}",
                f"SELECT value FROM pts WHERE series = 'weather.room2' "
                f"AND ts >= {a} AND ts < {b} ORDER BY ts LIMIT {k}",
            )
        )
    # 3-arg time_bucket with a non-default origin
    for _ in range(3):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        w = rnd.choice([60, 300])
        o = T0 + rnd.randrange(0, w)
        cases.append(
            (
                f"origin-{s}-{w}-{o}-{a}",
                f"select time_bucket({w}, time, {o}) as b, count() as c "
                f"from {s} where time >= {a} and time < {b} group by b",
                f"SELECT ((ts - {o}) // {w}) * {w} + {o} AS b, count(*) AS c "
                f"FROM pts WHERE series = '{s}' AND ts >= {a} AND ts < {b} "
                f"GROUP BY 1",
            )
        )
    # counter-reset-aware increase (lag pairs tie-broken on (ts, value)
    # in both engines)
    for _ in range(3):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        cases.append(
            (
                f"increase-{s}-{a}",
                f"select increase(value) as inc from {s} "
                f"where time >= {a} and time < {b}",
                f"""SELECT sum(CASE WHEN value >= prev THEN value - prev
                                    ELSE value END) AS inc FROM (
                      SELECT value, lag(value) OVER (ORDER BY ts, value) AS prev
                      FROM pts WHERE series = '{s}' AND ts >= {a} AND ts < {b})
                    WHERE prev IS NOT NULL""",
            )
        )
    # bucketed min/max/sum with a value predicate
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        w = rnd.choice([60, 300, 600])
        c = rnd.randrange(0, 100)
        cases.append(
            (
                f"bucketpred-{s}-{w}-{c}-{a}",
                f"select time_bucket({w}, time) as b, min(value) as mn, "
                f"max(value) as mx, sum(value) as sm from {s} "
                f"where time >= {a} and time < {b} and value >= {c} group by b",
                f"SELECT (ts // {w}) * {w} AS b, min(value) AS mn, "
                f"max(value) AS mx, sum(value) AS sm FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} "
                f"AND value >= {c} GROUP BY 1",
            )
        )
    # --- r14 front-end families ------------------------------------------
    # exact-time point lookup (time = X now derives partition bounds; fuzz
    # hits both existing and non-existent timestamps, including room1's
    # duplicate-ts second)
    exact_ts = [T0 + 50, T0 + 55, T0 + 600, T0 + 7199, T0 + 123457]
    for x in exact_ts:
        cases.append(
            (
                f"timeeq-{x}",
                f"select time, value from weather.room1 where time = {x}",
                f"SELECT ts, value FROM pts WHERE series = 'weather.room1' "
                f"AND ts = {x}",
            )
        )
    # BETWEEN sugar (inclusive both ends) on time and on value
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        lo, hi = sorted((rnd.randrange(0, 150), rnd.randrange(0, 300)))
        cases.append(
            (
                f"between-{s}-{a}-{lo}",
                f"select value from {s} where time between {a} and {b} "
                f"and value between {lo} and {hi}",
                f"SELECT value FROM pts WHERE series = '{s}' "
                f"AND ts BETWEEN {a} AND {b} "
                f"AND value BETWEEN {lo} AND {hi}",
            )
        )
    # parenthesized OR / NOT value predicates under the time range
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        c, d = sorted((rnd.randrange(0, 120), rnd.randrange(120, 400)))
        cases.append(
            (
                f"ornot-{s}-{c}-{d}-{a}",
                f"select value from {s} where time >= {a} and time < {b} "
                f"and (value < {c} or value > {d}) and not (value = {c})",
                f"SELECT value FROM pts WHERE series = '{s}' AND ts >= {a} "
                f"AND ts < {b} AND (value < {c} OR value > {d}) "
                f"AND NOT (value = {c})",
            )
        )
    # scalar-on-aggregate after bucketing (the _post re-dispatch path)
    for _ in range(4):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        w = rnd.choice([120, 600])
        cases.append(
            (
                f"postscalar-{s}-{w}-{a}",
                f"select time_bucket({w}, time) as b, round(avg(value)) as r, "
                f"sqrt(max(value)) as q, floor(sum(value) / 3) as f from {s} "
                f"where time >= {a} and time < {b} group by b",
                f"SELECT (ts // {w}) * {w} AS b, round(avg(value)) AS r, "
                f"sqrt(max(value)) AS q, floor(sum(value) / 3) AS f FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} GROUP BY 1",
            )
        )
    # integer modulo projections (time % w) + unary minus — the validator's
    # integer-only '%' rule at its allowed edge; room2 has unique ts so the
    # projection multiset is unambiguous
    for _ in range(3):
        a, b = rng("weather.room2")
        w = rnd.choice([60, 120, 300])
        cases.append(
            (
                f"mod-{w}-{a}",
                f"select time % {w} as m, -value as nv from weather.room2 "
                f"where time >= {a} and time < {b}",
                f"SELECT ts % {w} AS m, -value AS nv FROM pts "
                f"WHERE series = 'weather.room2' AND ts >= {a} AND ts < {b}",
            )
        )
    # ORDER BY an unprojected aggregate (Spark ResolveMissingReferences
    # path the r14 review probed) — DuckDB orders by the same expression
    for _ in range(3):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = rng(s)
        w = rnd.choice([300, 900])
        k = rnd.randrange(1, 5)
        cases.append(
            (
                f"ordhidden-{s}-{w}-{k}-{a}",
                f"select time_bucket({w}, time) as b, sum(value) as s from {s} "
                f"where time >= {a} and time < {b} group by b "
                f"order by avg(value) desc, b limit {k}",
                f"SELECT (ts // {w}) * {w} AS b, sum(value) AS s FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} GROUP BY 1 "
                f"ORDER BY avg(value) DESC, b LIMIT {k}",
            )
        )
    return cases


CASES = _gen_cases()


def _canon(rows):
    def key(r):
        return tuple(
            (v is None, round(v, 6) if isinstance(v, float) else v) for v in r
        )

    return sorted((tuple(r) for r in rows), key=key)


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_differential(engine, ddb, case):
    _, sydraql, sql = case
    got = _canon([list(r) for r in engine.query(sydraql).df.collect()])
    want = _canon(ddb.execute(sql).fetchall())
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}\n{sydraql}"
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for gv, wv in zip(g, w):
            if isinstance(wv, float) and gv is not None:
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (
                    g,
                    w,
                    sydraql,
                )
            else:
                assert gv == wv, (g, w, sydraql)


def _fill_cases():
    """FILL fuzz: bucket-agg over the GAPPY series with a dense spine twin.
    fill(previous) uses DuckDB's IGNORE NULLS carry; fill(linear) (added
    round 9 per the r8 verdict) mirrors the contract oracle's two-window
    lerp — leading/trailing gaps stay NULL."""
    rnd = random.Random(31)
    cases = []
    for strategy in ("null", "7.5", "previous", "linear"):
        for _ in range(2):
            a = T0 + rnd.randrange(0, 1800)
            b = a + rnd.randrange(600, 3600)
            w = rnd.choice([60, 120, 300])
            windows = ""
            if strategy == "null":
                val = "a.v"
            elif strategy == "previous":
                val = (
                    "last_value(a.v IGNORE NULLS) OVER "
                    "(ORDER BY s.b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                )
            elif strategy == "linear":
                pb = "last_value(CASE WHEN a.v IS NOT NULL THEN s.b END IGNORE NULLS) OVER prev"
                nb = "first_value(CASE WHEN a.v IS NOT NULL THEN s.b END IGNORE NULLS) OVER nxt"
                pv = "last_value(a.v IGNORE NULLS) OVER prev"
                nv = "first_value(a.v IGNORE NULLS) OVER nxt"
                val = (
                    f"CASE WHEN a.v IS NOT NULL THEN a.v ELSE "
                    f"{pv} + ({nv} - {pv}) * (s.b - {pb}) / ({nb} - {pb}) END"
                )
                windows = (
                    " WINDOW prev AS (ORDER BY s.b ROWS BETWEEN UNBOUNDED "
                    "PRECEDING AND CURRENT ROW), nxt AS (ORDER BY s.b ROWS "
                    "BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
                )
            else:
                val = f"coalesce(a.v, {strategy})"
            cases.append(
                (
                    f"fill-{strategy}-{w}-{a}",
                    f"select time_bucket({w}, time) as b, avg(value) as v "
                    f"from weather.room2 where time >= {a} and time < {b} "
                    f"group by b fill({strategy})",
                    f"""WITH agg AS (
                          SELECT (ts // {w}) * {w} AS b, avg(value) AS v FROM pts
                          WHERE series = 'weather.room2' AND ts >= {a} AND ts < {b}
                          GROUP BY 1),
                        spine AS (
                          SELECT unnest(generate_series(
                            (SELECT min(b) FROM agg), (SELECT max(b) FROM agg), {w}
                          )) AS b)
                        SELECT s.b AS b, {val} AS v
                        FROM spine s LEFT JOIN agg a USING (b){windows}""",
                )
            )
    return cases


def _window_cases():
    """Window-function fuzz (round 9 per the r8 verdict): lag/lead with
    random offsets, moving_avg with random durations, ema with random
    alphas — the operators whose chunk-seam logic lives in
    functions/chunked.py — over all three fixture series (gappy room2,
    duplicate-ts room1, dense cpu.total). Oracles window AFTER the time
    filter, ordering (ts, value) like the engine's canonical pre-pass."""
    rnd = random.Random(53)
    cases = []
    series = list(SERIES_SPAN)
    for _ in range(4):
        s = rnd.choice(series)
        span = SERIES_SPAN[s]
        a = T0 + rnd.randrange(0, span // 2)
        b = a + rnd.randrange(600, span)
        k1, k2 = rnd.randint(1, 3), rnd.randint(1, 3)
        cases.append(
            (
                f"laglead-{s}-{k1}{k2}-{a}",
                f"select time, value, lag(value, {k1}) as p, "
                f"lead(value, {k2}) as n from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT ts AS time, value, lag(value, {k1}) OVER w AS p, "
                f"lead(value, {k2}) OVER w AS n FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} "
                f"WINDOW w AS (ORDER BY ts, value)",
            )
        )
    for _ in range(4):
        s = rnd.choice(series)
        span = SERIES_SPAN[s]
        a = T0 + rnd.randrange(0, span // 2)
        b = a + rnd.randrange(600, span)
        d = rnd.choice([60, 300, 900])
        cases.append(
            (
                f"movavg-{s}-{d}-{a}",
                f"select time, moving_avg(value, {d}) as ma from {s} "
                f"where time >= {a} and time < {b}",
                f"SELECT ts AS time, avg(value) OVER (ORDER BY ts RANGE "
                f"BETWEEN {d} PRECEDING AND CURRENT ROW) AS ma FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b}",
            )
        )
    for alpha in (0.3, 0.5, 0.8):
        s = rnd.choice(series)
        span = SERIES_SPAN[s]
        a = T0 + rnd.randrange(0, span // 2)
        b = a + rnd.randrange(600, span)
        # closed-form expansion of s_i = α·x_i + (1-α)·s_{i-1}, s_1 = x_1;
        # O(n²) join is fine at fixture scale (≤ ~700 rows), and weights
        # below double ulp just underflow to 0 inside the sum
        cases.append(
            (
                f"ema-{s}-{alpha}-{a}",
                f"select time, ema(value, 60, {alpha}) as ema_v from {s} "
                f"where time >= {a} and time < {b}",
                f"""WITH f AS (
                      SELECT ts, value,
                             CAST(row_number() OVER (ORDER BY ts, value) AS BIGINT) AS rn
                      FROM pts WHERE series = '{s}' AND ts >= {a} AND ts < {b}),
                    e AS (
                      SELECT fi.rn, fi.ts,
                             sum(CASE WHEN fj.rn = 1
                                      THEN power({1 - alpha}, fi.rn - 1) * fj.value
                                      ELSE {alpha} * power({1 - alpha}, fi.rn - fj.rn) * fj.value
                                 END) AS s
                      FROM f fi JOIN f fj ON fj.rn <= fi.rn GROUP BY 1, 2)
                    SELECT ts AS time, s AS ema_v FROM e""",
            )
        )
    return cases


WINDOW_CASES = _window_cases()


@pytest.mark.parametrize("case", WINDOW_CASES, ids=[c[0] for c in WINDOW_CASES])
def test_window_differential(engine, ddb, case):
    test_differential(engine, ddb, case)


FILL_CASES = _fill_cases()


@pytest.mark.parametrize("case", FILL_CASES, ids=[c[0] for c in FILL_CASES])
def test_fill_differential(engine, ddb, case):
    test_differential(engine, ddb, case)


# --- tag-filter fuzz: one series name, several tag sets -----------------------
def _tag_rows():
    rows = []
    for hi, host in enumerate(["h0", "h1", "h2"]):
        for i in range(40):
            rows.append((host, "prod" if i % 2 == 0 else "dev", T0 + i * 30, float(hi * 100 + i)))
    return rows


@pytest.fixture(scope="module")
def tag_engine(spark):
    from sydradb_spark.model import with_identity
    from sydradb_spark.sydraql.engine import SydraQLEngine

    df = spark.createDataFrame(
        [("m.cpu", {"host": h, "env": e}, ts, v) for h, e, ts, v in _tag_rows()],
        "series string, tags map<string,string>, ts long, value double",
    )
    return SydraQLEngine(spark, with_identity(df))


@pytest.fixture(scope="module")
def tag_ddb():
    con = duckdb.connect()
    con.execute("CREATE TABLE tp(host VARCHAR, env VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO tp VALUES (?, ?, ?, ?)", _tag_rows())
    yield con
    con.close()


def _gen_tag_cases():
    rnd = random.Random(21)
    cases = []
    for _ in range(4):
        a = T0 + rnd.randrange(0, 900)
        b = a + rnd.randrange(60, 900)
        h = rnd.choice(["h0", "h1", "h2"])
        cases.append(
            (
                f"tageq-{h}-{a}",
                f"select value from m.cpu where time >= {a} and time < {b} "
                f"and tag.host = '{h}'",
                f"SELECT value FROM tp WHERE ts >= {a} AND ts < {b} "
                f"AND host = '{h}'",
            )
        )
    for _ in range(4):
        a = T0 + rnd.randrange(0, 900)
        b = a + rnd.randrange(120, 1000)
        pat = rnd.choice(["h[01]", "h2", "h[12]", "^h0$"])
        op, sqlneg = rnd.choice([("=~", ""), ("!~", "NOT ")])
        cases.append(
            (
                f"tagre-{op}-{pat}-{a}",
                f"select value from m.cpu where time >= {a} and time < {b} "
                f"and tag.host {op} '{pat}'",
                f"SELECT value FROM tp WHERE ts >= {a} AND ts < {b} "
                f"AND {sqlneg}regexp_matches(host, '{pat}')",
            )
        )
    for _ in range(3):
        a = T0 + rnd.randrange(0, 600)
        b = a + rnd.randrange(300, 1100)
        cases.append(
            (
                f"tagagg-{a}",
                f"select avg(value) as v, count() as c from m.cpu "
                f"where time >= {a} and time < {b} and tag.env = 'prod' "
                f"and tag.host !~ '1$'",
                f"SELECT avg(value) AS v, count(*) AS c FROM tp "
                f"WHERE ts >= {a} AND ts < {b} AND env = 'prod' "
                f"AND NOT regexp_matches(host, '1$')",
            )
        )
    return cases


TAG_CASES = _gen_tag_cases()


@pytest.mark.parametrize("case", TAG_CASES, ids=[c[0] for c in TAG_CASES])
def test_tag_filter_differential(tag_engine, tag_ddb, case):
    _, sydraql, sql = case
    got = _canon([list(r) for r in tag_engine.query(sydraql).df.collect()])
    want = _canon(tag_ddb.execute(sql).fetchall())
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}\n{sydraql}"
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(wv, float) and gv is not None:
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (g, w, sydraql)
            else:
                assert gv == wv, (g, w, sydraql)


# --- rollup-served fuzz (r12, VERDICT r11 item 7) ------------------------------
# r11 widened rollup eligibility (3-arg time_bucket origins ≡ 0 mod step);
# the fuzzer previously generated against raw scans only. These cases are
# generated INSIDE the eligibility envelope (aligned bounds, step a multiple
# of the rollup step, associative aggregates) and each asserts a THREE-way
# equality — rollup-served engine ≡ raw engine ≡ DuckDB — plus a
# servedness proof: the same query against an engine whose raw points are
# EMPTY (but whose rollup is populated) must still return rows, so an
# eligibility regression that silently falls back to raw cannot pass.
_RU_AGGS = {
    "avg": ("avg(value)", "avg(value)"),
    "sum": ("sum(value)", "sum(value)"),
    "count": ("count()", "count(*)"),
    "min": ("min(value)", "min(value)"),
    "max": ("max(value)", "max(value)"),
    "first": ("first(value)", "first(value ORDER BY ts, value)"),
    "last": ("last(value)", "last(value ORDER BY ts, value)"),
}
_RU_STEP = 3600  # rollup materialization step


def _rollup_cases():
    rnd = random.Random(47)
    aligned = [997200, 1000800, 1004400, 1008000]
    cases = []
    for k in range(14):
        s = rnd.choice(list(SERIES_SPAN))
        a, b = sorted(rnd.sample(aligned, 2))
        step = rnd.choice([3600, 7200, 10800])
        origin = step * rnd.choice([0, 1, -2, 277])  # always ≡ 0 (mod step)
        bucket_args = (
            f"{step}, time" if k % 2 == 0 else f"{step}, time, {origin}"
        )
        names = rnd.sample(list(_RU_AGGS), rnd.randrange(2, 4))
        ql_aggs = ", ".join(f"{_RU_AGGS[n][0]} as v_{n}" for n in names)
        sql_aggs = ", ".join(f"{_RU_AGGS[n][1]} AS v_{n}" for n in names)
        cases.append(
            (
                f"rollup-{s}-{step}-{'orig' if k % 2 else 'plain'}-{a}",
                f"select time_bucket({bucket_args}) as b, {ql_aggs} from {s} "
                f"where time >= {a} and time < {b} "
                f"group by time_bucket({bucket_args})",
                f"SELECT (ts // {step}) * {step} AS b, {sql_aggs} FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} GROUP BY 1",
            )
        )
    return cases


ROLLUP_CASES = _rollup_cases()


@pytest.fixture(scope="module")
def rollup_engines(spark, points):
    from sydradb_spark import rollup as rl
    from sydradb_spark.model import POINTS_SCHEMA
    from sydradb_spark.sydraql.engine import SydraQLEngine

    r = rl.build_rollup(points, step_s=_RU_STEP)
    served = SydraQLEngine(spark, points, rollup=r, rollup_step=_RU_STEP)
    raw = SydraQLEngine(spark, points)
    empty = spark.createDataFrame([], POINTS_SCHEMA)
    proof = SydraQLEngine(spark, empty, rollup=r, rollup_step=_RU_STEP)
    return served, raw, proof


@pytest.mark.parametrize("case", ROLLUP_CASES, ids=[c[0] for c in ROLLUP_CASES])
def test_rollup_served_differential(rollup_engines, ddb, case):
    _, sydraql, sql = case
    served, raw, proof = rollup_engines
    got = _canon([list(r) for r in served.query(sydraql).df.collect()])
    got_raw = _canon([list(r) for r in raw.query(sydraql).df.collect()])
    want = _canon(ddb.execute(sql).fetchall())
    assert len(got) == len(got_raw) == len(want), sydraql
    for g, gr, w in zip(got, got_raw, want):
        for gv, grv, wv in zip(g, gr, w):
            if isinstance(wv, float) and gv is not None:
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (g, w, sydraql)
                assert math.isclose(grv, wv, rel_tol=1e-9, abs_tol=1e-9), (gr, w, sydraql)
            else:
                assert gv == wv and grv == wv, (g, gr, w, sydraql)
    # servedness: with empty raw points the rollup must still answer
    if want:  # only provable when the range has data
        assert proof.query(sydraql).df.collect(), (
            "eligible-shape query fell back to the raw path:\n" + sydraql
        )


# --- 3-arg time_bucket origin fuzz (raw path) ----------------------------------
# The rollup fuzz above covers origins ≡ 0 (mod step); the GENERAL origin
# (reference functions.zig:314-324, declared-never-implemented) shifts every
# bucket boundary by origin mod step and always runs the raw path. DuckDB
# twin: origin + floor((ts - origin) / step) * step on BIGINTs.
def _origin_cases():
    rnd = random.Random(83)
    cases = []
    for _ in range(6):
        s = rnd.choice(list(SERIES_SPAN))
        a = T0 + rnd.randrange(0, SERIES_SPAN[s])
        b = a + rnd.randrange(60, SERIES_SPAN[s])
        step = rnd.choice([90, 600, 1800])
        origin = rnd.randrange(1, step)  # deliberately NOT ≡ 0 (mod step)
        cases.append(
            (
                f"origin-{s}-{step}-{origin}",
                f"select time_bucket({step}, time, {origin}) as b, "
                f"avg(value) as v, count() as c from {s} "
                f"where time >= {a} and time < {b} "
                f"group by time_bucket({step}, time, {origin})",
                f"SELECT {origin} + ((ts - {origin}) // {step}) * {step} AS b, "
                f"avg(value) AS v, count(*) AS c FROM pts "
                f"WHERE series = '{s}' AND ts >= {a} AND ts < {b} GROUP BY 1",
            )
        )
    return cases


ORIGIN_CASES = _origin_cases()


@pytest.mark.parametrize("case", ORIGIN_CASES, ids=[c[0] for c in ORIGIN_CASES])
def test_origin_bucket_differential(engine, ddb, case):
    test_differential(engine, ddb, case)


# ---------------------------------------------------------------------------
# align / as-of fuzz (round 13, r12 verdict item 6): the functions.align
# surface had one oracle entry + unit pins but no generated twins. Cases
# sweep bucket widths, tolerance windows, and tie shapes (cpu.total carries
# two values at one ts; weather.room1 a same-ts duplicate) against the
# union+LOCF DuckDB formulation from the r10 oracle rewrite
# (contract/lifecycle.py `align_asof_ratio` — latest-before, max-value
# tie-break at the matched ts, r rows sorting before l rows at equal ts).
# ---------------------------------------------------------------------------

_ASOF_TWIN = """WITH l AS (
  SELECT ts, value FROM pts WHERE series = '{ls}' AND ts >= {a} AND ts < {b}
), r AS (
  SELECT ts, value FROM pts WHERE series = '{rs}' AND ts >= {a} AND ts < {b}
), rd AS (
  SELECT ts, max(value) AS rvalue FROM r GROUP BY ts
), uni AS (
  SELECT ts, CAST(NULL AS DOUBLE) AS lvalue, rvalue, 0 AS is_l FROM rd
  UNION ALL
  SELECT ts, value, CAST(NULL AS DOUBLE), 1 FROM l
), w AS (
  SELECT ts, lvalue, is_l,
         last_value(rvalue IGNORE NULLS) OVER
           (ORDER BY ts, is_l ROWS UNBOUNDED PRECEDING) AS rv,
         max(CASE WHEN rvalue IS NOT NULL THEN ts END) OVER
           (ORDER BY ts, is_l ROWS UNBOUNDED PRECEDING) AS rt
  FROM uni
)
SELECT ts, lvalue AS value,
       CASE WHEN ts - rt <= {tol} THEN rv END AS right_value,
       CASE WHEN ts - rt <= {tol} THEN rt END AS right_ts
FROM w WHERE is_l = 1"""

_RATIO_TWIN = """WITH a AS (
  SELECT (ts // {w}) * {w} AS bucket, avg(value) AS av FROM pts
  WHERE series = '{sa}' AND ts >= {a} AND ts < {b} GROUP BY 1
), b AS (
  SELECT (ts // {w}) * {w} AS bucket, avg(value) AS bv FROM pts
  WHERE series = '{sb}' AND ts >= {a} AND ts < {b} GROUP BY 1
)
SELECT bucket, CASE WHEN b.bv = 0 THEN NULL ELSE a.av / b.bv END AS ratio
FROM a JOIN b USING (bucket)"""


def _align_cases():
    rnd = random.Random(13)
    names = list(SERIES_SPAN)
    cases = []
    for _ in range(6):
        sa, sb = rnd.sample(names, 2)
        span = min(SERIES_SPAN[sa], SERIES_SPAN[sb])
        a = T0 + rnd.randrange(0, span // 2)
        b = a + rnd.randrange(60, span)
        w = rnd.choice([30, 60, 300, 900, 3600])
        cases.append(("ratio", f"ratio-{sa}-{sb}-w{w}-{a}", (sa, sb, w, a, b)))
    for _ in range(8):
        ls, rs = rnd.sample(names, 2)
        span = min(SERIES_SPAN[ls], SERIES_SPAN[rs])
        a = T0 + rnd.randrange(0, span // 2)
        b = a + rnd.randrange(60, span)
        tol = rnd.choice([15, 30, 60, 300, 3600])
        cases.append(("asof", f"asof-{ls}-{rs}-t{tol}-{a}", (ls, rs, tol, a, b)))
    # pinned tie shapes on top of the random sweep:
    # right side has TWO values at one ts (cpu.total at T0) — max must win
    cases.append(
        ("asof", "asof-tie-right", ("weather.room2", "cpu.total", 120, T0, T0 + 3600))
    )
    # left side carries the duplicate-ts rows (both must emit, each matched)
    cases.append(
        ("asof", "asof-tie-left", ("cpu.total", "weather.room1", 45, T0, T0 + 3600))
    )
    # self-join: every left row has a same-ts right match (inclusive bound)
    cases.append(
        ("asof", "asof-self", ("weather.room1", "weather.room1", 30, T0, T0 + 1200))
    )
    return cases


ALIGN_CASES = _align_cases()


@pytest.fixture(scope="module")
def align_df(spark):
    return spark.createDataFrame(
        _rows(), "series string, ts long, value double"
    ).cache()


@pytest.mark.parametrize("case", ALIGN_CASES, ids=[c[1] for c in ALIGN_CASES])
def test_align_asof_differential(align_df, ddb, case):
    from pyspark.sql import functions as F

    from sydradb_spark.functions.align import aligned_ratio, asof_join

    kind, name, params = case
    if kind == "ratio":
        sa, sb, w, a, b = params
        sliced = align_df.where((F.col("ts") >= a) & (F.col("ts") < b))
        got = _canon(
            [list(r) for r in aligned_ratio(sliced, sa, sb, step_s=w).collect()]
        )
        want = _canon(
            ddb.execute(_RATIO_TWIN.format(sa=sa, sb=sb, w=w, a=a, b=b)).fetchall()
        )
    else:
        ls, rs, tol, a, b = params
        sliced = align_df.where((F.col("ts") >= a) & (F.col("ts") < b))
        out = asof_join(
            sliced.where(F.col("series") == ls).withColumn("series_id", F.lit(0)),
            sliced.where(F.col("series") == rs).withColumn("series_id", F.lit(0)),
            tolerance_s=tol,
        )
        got = _canon(
            [
                list(r)
                for r in out.select("ts", "value", "right_value", "right_ts").collect()
            ]
        )
        want = _canon(
            ddb.execute(_ASOF_TWIN.format(ls=ls, rs=rs, tol=tol, a=a, b=b)).fetchall()
        )
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}\n{name}"
    for g, w_ in zip(got, want):
        for gv, wv in zip(g, w_):
            if isinstance(wv, float) and gv is not None:
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (g, w_, name)
            else:
                assert gv == wv, (g, w_, name)


# ---------------------------------------------------------------------------
# Plan-selection boundary fuzz: the translator runs per-series windows and
# FILL as one-pass plans when the WHERE's literal time range fits one chunk,
# and the chunk-and-carry plans otherwise (translator.one_pass_windows /
# one_pass_fill). Each case names the side it must land on — checked on the
# optimized plan's chunk columns — and both sides must match DuckDB. The
# data straddles two midnights (a chunk seam): MID, and 0 with negative
# timestamps; it carries exact (ts, value) duplicates, same-ts rows with
# different values, NULL values whose buckets aggregate to NULL, gaps, and
# a few points a day or two away so that chunked plans span several chunks.
# ---------------------------------------------------------------------------
MID = 12 * 86_400  # a midnight
# the largest span a 60 s FILL runs one-pass for: span // 60 + 2 <= CHUNK_BUCKETS
FILL_LIMIT_60 = (CHUNK_BUCKETS - 2) * 60 + 59


def _edge_rows():
    """(series, host, ts, value) rows of the boundary fixture."""
    rows = []
    for i in range(-180, 181):  # edge.m host a: 60 s steps, MID +- 3 h
        if 10 <= i < 25:
            continue
        v = None if -30 <= i < -20 else float((i * 37) % 101) / 4
        if v is not None and i % 41 == 0:
            # same ts, larger value, arriving first: only the value
            # tiebreak orders it after the row below
            rows.append(("edge.m", "a", MID + i * 60, v + 0.5))
        rows.append(("edge.m", "a", MID + i * 60, v))
        if v is not None and i % 29 == 0:
            rows.append(("edge.m", "a", MID + i * 60, v))  # exact duplicate
    for i in range(-80, 81):  # edge.m host b: 90 s steps, MID +- 2 h
        if -50 <= i < -40:
            continue
        v = None if 20 <= i < 27 else float((i * 13) % 57) - 20
        if v is not None and i % 17 == 0:
            rows.append(("edge.m", "b", MID + i * 90 + 15, v + 0.25))
        rows.append(("edge.m", "b", MID + i * 90 + 15, v))
        if v is not None and i % 23 == 0:
            rows.append(("edge.m", "b", MID + i * 90 + 15, v))
    for k in range(5):  # a day or two away
        rows.append(("edge.m", "a", MID + 86_400 + 3_600 + k * 60, float(k)))
        rows.append(("edge.m", "a", MID - 2 * 86_400 + k * 60, k + 0.5))
    for i in range(-240, 241):  # edge.neg: 45 s steps across 0
        v = None if 100 <= i < 110 else float((i * 13) % 57) - 20
        if v is not None and i % 19 == 0:
            rows.append(("edge.neg", "a", i * 45, v + 0.25))
        rows.append(("edge.neg", "a", i * 45, v))
        if v is not None and i % 31 == 0:
            rows.append(("edge.neg", "a", i * 45, v))
    return rows


@pytest.fixture(scope="module")
def edge_engine(spark):
    from sydradb_spark.model import with_identity
    from sydradb_spark.sydraql.engine import SydraQLEngine

    df = spark.createDataFrame(
        [(s, {"host": h}, ts, v) for s, h, ts, v in _edge_rows()],
        "series string, tags map<string,string>, ts long, value double",
    )
    return SydraQLEngine(spark, with_identity(df))


@pytest.fixture(scope="module")
def edge_ddb():
    con = duckdb.connect()
    con.execute("CREATE TABLE edge(series VARCHAR, host VARCHAR, ts BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO edge VALUES (?, ?, ?, ?)", _edge_rows())
    yield con
    con.close()


def _window_twin(series: str, where: str, cols: str) -> str:
    return (
        f"SELECT ts AS time, host, value, {cols} FROM edge "
        f"WHERE series = '{series}' AND {where} "
        f"WINDOW w AS (PARTITION BY host ORDER BY ts, value), "
        f"ff AS (PARTITION BY host ORDER BY ts, value "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


def _fill_twin(series: str, where: str, bucket: str, w: int, strategy: str, keyed: bool) -> str:
    """Dense per-host spine from each host's min to max bucket, left-joined
    with the aggregate, patched per strategy (leading/trailing linear gaps
    stay NULL)."""
    if strategy == "previous":
        val = "last_value(a.v IGNORE NULLS) OVER prev"
    else:
        pb = "last_value(CASE WHEN a.v IS NOT NULL THEN s.b END IGNORE NULLS) OVER prev"
        nb = "first_value(CASE WHEN a.v IS NOT NULL THEN s.b END IGNORE NULLS) OVER nxt"
        pv = "last_value(a.v IGNORE NULLS) OVER prev"
        nv = "first_value(a.v IGNORE NULLS) OVER nxt"
        val = (
            f"CASE WHEN a.v IS NOT NULL THEN a.v ELSE "
            f"{pv} + ({nv} - {pv}) * (s.b - {pb}) / ({nb} - {pb}) END"
        )
    return f"""WITH agg AS (
          SELECT host, {bucket} AS b, avg(value) AS v FROM edge
          WHERE series = '{series}' AND {where} GROUP BY 1, 2),
        spine AS (
          SELECT host, unnest(generate_series(mn, mx, {w})) AS b
          FROM (SELECT host, min(b) AS mn, max(b) AS mx FROM agg GROUP BY 1))
        SELECT {"s.host, " if keyed else ""}s.b, {val} AS v
        FROM spine s LEFT JOIN agg a ON s.host = a.host AND s.b = a.b
        WINDOW prev AS (PARTITION BY s.host ORDER BY s.b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               nxt AS (PARTITION BY s.host ORDER BY s.b
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"""


def _boundary_cases():
    """(id, sydraQL, DuckDB twin, side) with side 'one-pass' or 'chunked'."""
    rnd = random.Random(59)
    cases = []

    def window(name, series, lo, hi, side):
        """lag/lead/fill_forward/moving_avg over ``series`` in
        ``time >= lo [and time <= hi]``."""
        k1, k2 = rnd.randint(1, 3), rnd.randint(1, 3)
        d = rnd.choice([120, 300, 900])
        ql_range = f"time >= {lo}" + ("" if hi is None else f" and time <= {hi}")
        sql_range = f"ts >= {lo}" + ("" if hi is None else f" AND ts <= {hi}")
        cases.append(
            (
                f"bwin-{name}-{k1}{k2}-{d}",
                f"select time, tag.host as host, value, lag(value, {k1}) as p, "
                f"lead(value, {k2}) as n, fill_forward(value) as f, "
                f"moving_avg(value, {d}) as ma from {series} where {ql_range}",
                _window_twin(
                    series,
                    sql_range,
                    f"lag(value, {k1}) OVER w AS p, lead(value, {k2}) OVER w AS n, "
                    f"last_value(value IGNORE NULLS) OVER ff AS f, "
                    f"avg(value) OVER (PARTITION BY host ORDER BY ts RANGE BETWEEN "
                    f"{d} PRECEDING AND CURRENT ROW) AS ma",
                ),
                side,
            )
        )

    half = WINDOW_CHUNK_S // 2
    window("at-limit", "edge.m", MID - half, MID + half, "one-pass")
    window("over-limit", "edge.m", MID - half, MID + half + 1, "chunked")
    window("midnight-3h", "edge.m", MID - 5_400, MID + 5_399, "one-pass")
    window("half-open", "edge.m", MID - 7_200, None, "chunked")
    window("dups", "edge.m", MID - 600, MID + 599, "one-pass")  # 3 rows at MID
    window("neg-midnight-3h", "edge.neg", -5_400, 5_399, "one-pass")
    window("neg-half-open", "edge.neg", -5_400, None, "chunked")

    def fill(name, series, lo, hi, strategy, w, side, over="time", origin=0, keyed=True):
        """Keyed (per host) or unkeyed FILL of ``time_bucket(w, over[,
        origin])`` over ``time >= lo [and time <= hi]``."""
        args = f"{w}, {over}" + (f", {origin}" if origin else "")
        ts = {"time": "ts", "time + 30": "(ts + 30)"}[over]
        bucket = f"CAST(floor(({ts} - {origin}) / {w}) AS BIGINT) * {w} + {origin}"
        ql_range = f"time >= {lo}" + ("" if hi is None else f" and time <= {hi}")
        sql_range = f"ts >= {lo}" + ("" if hi is None else f" AND ts <= {hi}")
        host, group = ("tag.host as host, ", "tag.host, ") if keyed else ("", "")
        cases.append(
            (
                f"bfill-{name}-{strategy}-{w}",
                f"select {host}time_bucket({args}) as b, avg(value) as v "
                f"from {series} where {ql_range} "
                f"group by {group}time_bucket({args}) fill({strategy})",
                _fill_twin(series, sql_range, bucket, w, strategy, keyed),
                side,
            )
        )

    lo, hi = MID - 5_400, MID + 5_399  # 3 h across midnight
    w = rnd.choice([300, 600])  # both leave NULL-aggregate buckets per host
    fill("keyed-3h", "edge.m", lo, hi, "previous", w, "one-pass")
    fill("keyed-3h", "edge.m", lo, hi, "linear", w, "one-pass")
    fill("keyed-half-open", "edge.m", lo, None, "linear", w, "chunked")
    fill("origin", "edge.m", lo, hi, "linear", w, "one-pass", origin=rnd.randrange(1, w))
    fill("expr-bucket", "edge.m", lo, hi, "previous", w, "chunked", over="time + 30")
    far = MID - 2 * 86_400 - 60  # every edge.m point lies in the next 3.05 days
    fill("at-limit", "edge.m", far, far + FILL_LIMIT_60, "linear", 60, "one-pass")
    fill("over-limit", "edge.m", far, far + FILL_LIMIT_60 + 1, "linear", 60, "chunked")
    fill("neg-3h", "edge.neg", -5_400, 5_399, "linear", w, "one-pass", keyed=False)
    return cases


BOUNDARY_CASES = _boundary_cases()


@pytest.mark.parametrize("case", BOUNDARY_CASES, ids=[c[0] for c in BOUNDARY_CASES])
def test_plan_selection_boundary_differential(edge_engine, edge_ddb, case):
    _, sydraql, sql, side = case
    df = edge_engine.query(sydraql).df
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    got_side = "chunked" if "__wchunk" in plan or "__chunk" in plan else "one-pass"
    assert got_side == side, sydraql
    got = _canon([list(r) for r in df.collect()])
    want = _canon(edge_ddb.execute(sql).fetchall())
    assert len(got) == len(want), f"rowcount {len(got)} != {len(want)}\n{sydraql}"
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(wv, float) and gv is not None:
                assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-9), (g, w, sydraql)
            else:
                assert gv == wv, (g, w, sydraql)
