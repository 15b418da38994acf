"""End-to-end sydraQL → DataFrame tests on the F1 fixture (mirrors the
reference's engine/exec tests, engine.zig:452-585, exec.zig:78-116)."""

import math

import pytest

from sydradb_spark.errors import TimeRangeRequired, ValidationError


def rows(engine, q):
    return [tuple(r) for r in engine.query(q).df.collect()]


def test_select_literal_onerow(engine):
    assert rows(engine, "select 1 as one") == [(1,)]
    assert rows(engine, "select 1 + 2 as x, 'it''s' as s") == [(3, "it's")]


def test_range_scan(engine):
    got = rows(engine, "select time, value from weather.room1 where time >= 1000000 and time < 1000030 order by time")
    assert got == [(1000000, 0.0), (1000010, 0.5), (1000020, 1.0)]


def test_range_scan_respects_bounds(engine):
    got = rows(engine, "select time from weather.room1 where time between 1000000 and 1000020 order by time")
    assert [g[0] for g in got] == [1000000, 1000010, 1000020]


def test_implicit_time_order(engine):
    got = rows(engine, "select time, value from weather.room2 where time >= 1000000 and time < 1000300")
    assert [g[0] for g in got] == sorted(g[0] for g in got)


def test_agg_basic(engine):
    got = rows(
        engine,
        "select avg(value) as a, sum(value) as s, count() as n, count(value) as nv, "
        "min(value) as mn, max(value) as mx "
        "from weather.room1 where time >= 1000000 and time < 1000030",
    )
    a, s, n, nv, mn, mx = got[0]
    assert n == 3 and nv == 3
    assert s == pytest.approx(1.5)
    assert a == pytest.approx(0.5)
    assert (mn, mx) == (0.0, 1.0)


def test_group_by_time_bucket(engine):
    got = rows(
        engine,
        "select count() as n from weather.room1 where time >= 1000000 and time < 1000120 "
        "group by time_bucket(60, time) order by time_bucket_0",
    )
    # unprojected grouping keys stay addressable in the output (the reference
    # Aggregate node always emits its groupings, plan.zig:106-187);
    # the duplicate point at ts=1000050 lands in the middle bucket
    assert got == [(999960, 2), (1000020, 7), (1000080, 4)]


def test_time_bucket_alignment(engine):
    got = rows(
        engine,
        "select time_bucket(60, time) as b, count() as n from weather.room1 "
        "where time >= 1000000 and time < 1000120 group by b order by b",
    )
    assert [g[0] for g in got] == [999960, 1000020, 1000080]


def test_time_bucket_with_origin(engine):
    got = rows(
        engine,
        "select time_bucket(60, time, 1000000) as b, count() as n from weather.room1 "
        "where time >= 1000000 and time < 1000120 group by b order by b",
    )
    assert [g[0] for g in got] == [1000000, 1000060]


def test_first_last(engine):
    got = rows(
        engine,
        "select first(value) as f, last(value) as l from cpu.total "
        "where time >= 1000000 and time < 1000060",
    )
    # at ts=1000000 there are two points (100.0, dup 50.0) — first/last by ts;
    # min_by tie-break is unspecified, so check the last which is unique
    assert got[0][1] == pytest.approx(100.0 + 3 * 3)


def test_first_last_exact_after_compaction(spark, points):
    """Compaction removes the planted duplicate (last-wins by value), after
    which first/last are exact — the reference's compact-then-query flow
    (compact.zig:36-49)."""
    from sydradb_spark.storage import compact_points
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, compact_points(points))
    got = rows(
        eng,
        "select first(value) as f, last(value) as l from cpu.total "
        "where time >= 1000000 and time < 1000060",
    )
    assert got[0] == (pytest.approx(100.0), pytest.approx(109.0))


def test_percentile(engine):
    got = rows(
        engine,
        "select percentile(value, 0.5) as p from weather.room1 where time >= 1000000 and time < 1000100",
    )
    # values 0,0.5,...,4.5 plus dup 999 at ts50 → median of 11 values = 2.25... compute:
    vals = sorted([i * 0.5 for i in range(10)] + [999.0])
    assert got[0][0] == pytest.approx(vals[5])


def test_rate_delta_on_counter(engine):
    got = rows(
        engine,
        "select rate(value) as r, delta(value) as d from cpu.total "
        "where time >= 1000015 and time < 1000915",
    )
    # counter: +3 per 15s → rate 0.2/s; ts 1000015..1000900 → delta = 3*59
    r, d = got[0]
    assert r == pytest.approx(0.2)
    assert d == pytest.approx(177.0)


def test_irate_integral(engine):
    got = rows(
        engine,
        "select irate(value) as ir, integral(value) as ig from cpu.total "
        "where time >= 1000015 and time < 1000075",
    )
    ir, ig = got[0]
    assert ir == pytest.approx(0.2)  # 3 per 15s at the last pair
    # points: (15,103),(30,106),(45,109),(60,112): trapezoids 15*(103+106)/2 etc.
    expected = 15 * ((103 + 106) / 2 + (106 + 109) / 2 + (109 + 112) / 2)
    assert ig == pytest.approx(expected)


def test_lag_lead(engine):
    got = rows(
        engine,
        "select time, value, lag(value) as prev, lead(value) as nxt from weather.room2 "
        "where time >= 1000000 and time < 1000180 order by time",
    )
    assert got[0][2] is None
    assert got[1][2] == got[0][1]
    assert got[0][3] == got[1][1]


def test_moving_avg(engine):
    got = rows(
        engine,
        "select time, moving_avg(value, 2m) as ma from weather.room2 "
        "where time >= 1000000 and time < 1000240 order by time",
    )
    # minute-cadence values 0,1,2,3 → window [t-120, t]
    assert got[0][1] == pytest.approx(0.0)
    assert got[1][1] == pytest.approx(0.5)
    assert got[2][1] == pytest.approx(1.0)
    assert got[3][1] == pytest.approx(2.0)


def test_ema(engine):
    got = rows(
        engine,
        "select time, ema(value, 1m, 0.5) as e from weather.room2 "
        "where time >= 1000000 and time < 1000240 order by time",
    )
    # s0=0; s1=.5*1+.5*0=.5; s2=.5*2+.5*.5=1.25; s3=.5*3+.5*1.25=2.125
    assert [g[1] for g in got] == pytest.approx([0.0, 0.5, 1.25, 2.125])


def test_group_by_tag(engine):
    got = rows(
        engine,
        "select tag.env as env, count() as n from weather.room1 "
        "where time >= 1000000 and time < 1000030 group by tag.env",
    )
    assert got == [("prod", 3)]


def test_group_by_alias(engine):
    # alias grouping — reference optimizer.zig:570-607
    got = rows(
        engine,
        "select tag.host as site, count() as n from cpu.total "
        "where time >= 1000000 and time < 1000060 group by site",
    )
    assert got == [("a", 5)]


def test_order_desc_limit_topk(engine):
    got = rows(
        engine,
        "select time, value from weather.room1 where time >= 1000000 and time < 1007200 "
        "order by value desc, time asc limit 3",
    )
    assert got[0][1] == 999.0  # the duplicate spike
    assert got[1][1] > got[2][1]


def test_offset(engine):
    got = rows(
        engine,
        "select time from weather.room1 where time >= 1000000 and time < 1000100 "
        "order by time limit 3 offset 2",
    )
    assert [g[0] for g in got] == [1000020, 1000030, 1000040]


def test_by_id_selector(engine, points):
    sid = points.where("series = 'cpu.total'").select("series_id").first()[0]
    got = rows(
        engine,
        f"select count() as n from by_id({sid}) where time >= 1000000 and time < 1000060",
    )
    assert got == [(5,)]


def test_tag_regex_filter(engine):
    got = rows(
        engine,
        "select count() as n from weather.room1 where time >= 1000000 and time < 1000030 "
        "and tag.host =~ '^a$'",
    )
    assert got == [(3,)]
    got = rows(
        engine,
        "select count() as n from weather.room1 where time >= 1000000 and time < 1000030 "
        "and tag.host !~ '^a$'",
    )
    assert got == [(0,)]


def test_scalar_functions(engine):
    got = rows(engine, "select abs(-3) as a, ceil(1.2) as c, floor(1.8) as f, round(2.5) as r, pow(2, 10) as p, sqrt(16.0) as q, ln(1.0) as l")
    assert got == [(3.0, 2.0, 1.0, 3.0, 1024.0, 4.0, 0.0)]


def test_division_semantics(engine):
    # int/int is float division (reference expression.zig float arith)
    assert rows(engine, "select 1 / 2 as h") == [(0.5,)]
    # runtime div-by-zero → null (documented Spark delta)
    got = rows(engine, "select value / (value - value) as z from weather.room1 where time >= 1000000 and time < 1000010")
    assert got[0][0] is None


def test_mod(engine):
    assert rows(engine, "select 7 % 3 as m") == [(1,)]


def test_nulls_first_asc(engine):
    got = rows(
        engine,
        "select time, lag(value) as prev from weather.room2 "
        "where time >= 1000000 and time < 1000300 order by prev",
    )
    assert got[0][1] is None  # NULLS FIRST on asc — operator.zig:676-740


def test_avg_of_empty_is_null(engine):
    got = rows(engine, "select avg(value) as a from weather.room1 where time > 1 and time < 2")
    assert got == [(None,)]


def test_fill_previous(engine):
    got = rows(
        engine,
        "select avg(value) as v from weather.room2 where time >= 1000000 and time < 1003600 "
        "group by time_bucket(60, time, 1000000) fill(previous) order by time_bucket_0",
    )
    # rows are (bucket, v) — unprojected groupings are prepended
    assert len(got) == 60  # minutes 0..59 densified
    vals = [g[1] for g in got]
    assert vals[9] == pytest.approx(9.0)
    for i in range(10, 20):
        assert vals[i] == pytest.approx(9.0)
    assert vals[20] == pytest.approx(20.0)


def test_fill_linear(engine):
    got = rows(
        engine,
        "select avg(value) as v from weather.room2 where time >= 1000000 and time < 1003600 "
        "group by time_bucket(60, time, 1000000) fill(linear) order by time_bucket_0",
    )
    vals = [g[1] for g in got]
    # linear between v[9]=9 at minute 9 and v[20]=20 at minute 20 → identity line
    for i in range(10, 20):
        assert vals[i] == pytest.approx(float(i))


def test_fill_constant_and_null(engine):
    got = rows(
        engine,
        "select avg(value) as v from weather.room2 where time >= 1000000 and time < 1003600 "
        "group by time_bucket(60, time, 1000000) fill(-1.0) order by time_bucket_0",
    )
    vals = [g[1] for g in got]
    assert all(vals[i] == -1.0 for i in range(10, 20))

    got = rows(
        engine,
        "select avg(value) as v from weather.room2 where time >= 1000000 and time < 1003600 "
        "group by time_bucket(60, time, 1000000) fill(null) order by time_bucket_0",
    )
    vals = [g[1] for g in got]
    assert all(vals[i] is None for i in range(10, 20))


def test_expression_on_aggregate(engine):
    got = rows(
        engine,
        "select sum(value) / count() as mean, avg(value) as a from weather.room1 "
        "where time >= 1000000 and time < 1000030",
    )
    assert got[0][0] == pytest.approx(got[0][1])


def test_fill_forward_function(engine):
    got = rows(
        engine,
        "select time, fill_forward(lag(value)) as ff from weather.room2 "
        "where time >= 1000000 and time < 1000180 order by time",
    )
    assert got[0][1] is None  # nothing before the first point
    assert got[1][1] == pytest.approx(0.0)


def test_now_deterministic(engine):
    got = rows(engine, "select now() - now() as z")
    assert got == [(0,)]


def test_insert_and_query(spark, points):
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, points)
    eng.query("insert into test.series (ts, value) values (100, 1.5), (200, 2.5)")
    got = rows(eng, "select time, value from test.series where time >= 0 and time < 1000 order by time")
    assert got == [(100, 1.5), (200, 2.5)]


def test_delete(spark, points):
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, points)
    before = rows(eng, "select count() as n from cpu.total where time >= 1000000 and time < 1000060")[0][0]
    eng.query("delete from cpu.total where time >= 1000000 and time < 1000030")
    after = rows(eng, "select count() as n from cpu.total where time >= 1000000 and time < 1000060")[0][0]
    assert before == 5 and after == 2


def test_explain(engine):
    r = engine.query("explain select avg(value) from weather.room1 where time > 0 group by time_bucket(60, time)")
    text = "\n".join(row[0] for row in r.df.collect())
    assert "Aggregate" in text or "HashAggregate" in text


def test_in_memory_mutation_lineage_bounded(spark, points):
    """100 in-memory INSERTs must not build a 100-deep union plan: the engine
    checkpoints every K mutations, so logical plan depth stays bounded."""
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, points.limit(10).localCheckpoint())
    for i in range(40):
        eng.query(f"insert into m.depth (time, value) values ({1000 + i}, 1.0)")
    plan = eng.points._jdf.queryExecution().logical().toString()
    n_unions = plan.count("Union")
    # at most checkpoint_every-1 unions can pile up between checkpoints
    assert n_unions < eng._checkpoint_every, (
        f"{n_unions} Union nodes — lineage grew linearly with statements"
    )
    n = eng.query(
        "select count() as n from m.depth where time >= 0 and time < 2000"
    ).df.collect()[0]["n"]
    assert n == 40


def test_approx_percentile(engine):
    """approx_percentile (GK sketch, beyond-reference scale path) matches the
    exact percentile's neighborhood at test scale: the sketch is exact for
    groups under its accuracy (1e4 rows), and the answer is always one of
    the group's actual values."""
    got = rows(
        engine,
        "select approx_percentile(value, 0.5) as p from weather.room1 "
        "where time >= 1000000 and time < 1000100",
    )
    vals = sorted([i * 0.5 for i in range(10)] + [999.0])
    assert got[0][0] in vals
    assert abs(got[0][0] - vals[5]) <= 0.5  # adjacent to the exact median



def test_increase_counter_resets(spark, points):
    """increase(x): sum of positive deltas; a counter reset contributes the
    post-reset reading instead of a negative delta (Prometheus semantics,
    beyond-reference)."""
    from sydradb_spark.model import with_identity
    from sydradb_spark.sydraql.engine import SydraQLEngine

    rows = [
        ("ctr.a", {}, 1000, 100.0),
        ("ctr.a", {}, 1010, 150.0),   # +50
        ("ctr.a", {}, 1020, 170.0),   # +20
        ("ctr.a", {}, 1030, 5.0),     # reset -> +5
        ("ctr.a", {}, 1040, 30.0),    # +25
    ]
    df = with_identity(
        spark.createDataFrame(
            rows, "series string, tags map<string,string>, ts long, value double"
        )
    )
    eng = SydraQLEngine(spark, df)
    got = rows_q(
        eng,
        "select increase(value) as inc, delta(value) as d from ctr.a "
        "where time >= 1000 and time < 2000",
    )
    assert got[0][0] == pytest.approx(100.0)  # 50+20+5+25
    assert got[0][1] == pytest.approx(-70.0)  # plain delta goes negative
    # bucketed: per-bucket sums over lag pairs computed BEFORE grouping
    got2 = rows_q(
        eng,
        "select time_bucket(20, time) as b, increase(value) as inc from ctr.a "
        "where time >= 1000 and time < 2000 group by b order by b",
    )
    # lag pairs: (1010:+50 -> b=1000), (1020:+20 -> b=1020), (1030:+5 -> b=1020),
    # (1040:+25 -> b=1040); head 1000 contributes null
    assert [(r[0], r[1]) for r in got2] == [
        (1000, pytest.approx(50.0)),
        (1020, pytest.approx(25.0)),
        (1040, pytest.approx(25.0)),
    ]


def rows_q(engine, q):
    return [tuple(r) for r in engine.query(q).df.collect()]


# --- r14 front-end adversarial review pins -----------------------------------
def test_explain_insert_and_delete_do_not_execute(spark, points):
    """EXPLAIN must plan, never execute: the old path ran the mutation, so
    `explain insert ...` durably ingested (r14 review)."""
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, points)
    before = eng.points.count()
    r = eng.query("explain insert into m.x values (123, 9.9)")
    text = "\n".join(row[0] for row in r.df.collect())
    assert "Insert into 'm.x'" in text and "rows: 1" in text
    assert eng.points.count() == before  # nothing ingested

    r = eng.query("explain delete from cpu.total where time >= 1000000 and time < 1000060")
    text = "\n".join(row[0] for row in r.df.collect())
    assert "Delete from 'cpu.total'" in text and "1000000" in text
    assert eng.points.count() == before  # nothing deleted


def test_insert_default_columns_arity_checked(spark, points):
    """VALUES (ts, value, extra) with the DEFAULT column list used to
    zip-truncate silently, dropping the extra value (r14 review)."""
    from sydradb_spark.errors import ValidationError
    from sydradb_spark.sydraql.engine import SydraQLEngine

    eng = SydraQLEngine(spark, points)
    with pytest.raises(ValidationError, match="3 value"):
        eng.query("insert into m.y values (50, 1.5, 999)")
    with pytest.raises(ValidationError, match="1 value"):
        eng.query("insert into m.y values (50)")
    eng.query("insert into m.y values (50, 1.5)")  # correct arity still works
    assert eng.points.where("series = 'm.y'").count() == 1


def test_exact_time_equality_prunes_partitions(spark, points, tmp_path):
    """`time = X` now derives hour_bucket bounds — the exact-time point
    lookup previously full-scanned every partition (r14 review)."""
    from sydradb_spark import storage
    from sydradb_spark.sydraql.engine import SydraQLEngine
    from sydradb_spark.sydraql.translator import time_bounds_from_where
    from sydradb_spark.sydraql.parser import parse

    stmt = parse("select value from a.b where time = 1000050")
    assert time_bounds_from_where(stmt.where) == (1000050, 1000050)

    path = str(tmp_path / "pts")
    storage.write_points(points, path)
    eng = SydraQLEngine(spark, storage_path=path)
    r = eng.query("select time, value from weather.room1 where time = 1000050")
    optimized = r.df._jdf.queryExecution().optimizedPlan().toString()
    assert "hour_bucket" in optimized  # partition bounds derived
    got = r.df.collect()
    assert {row["value"] for row in got} == {5 * 0.5, 999.0}  # dup ts kept


# --- fractional time_bucket steps are rejected, not truncated -----------------
# Before the validator rule, FILL and the rollup path stepped by int(step)
# while the bucket expression kept the fraction.
def test_fractional_step_fill_null_is_rejected(engine):
    # answered 6 of its 7 data-holding buckets as NULL
    with pytest.raises(ValidationError):
        engine.query(
            "select avg(value) as v from weather.room1 where time >= 1000000 "
            "and time < 1000600 group by time_bucket(90.5, time) fill(null)"
        )


def test_fractional_step_fill_previous_is_rejected(engine):
    # answered 0 rows
    with pytest.raises(ValidationError):
        engine.query(
            "select avg(value) as v from weather.room1 where time >= 1000000 "
            "and time < 1000060 group by time_bucket(0.5, time) fill(previous)"
        )


def test_fractional_step_on_the_rollup_path_is_rejected(spark, points):
    # the rollup folded hour buckets by 3600 while the raw path bucketed by
    # 3600.5: different bucket starts and counts for the same query
    from sydradb_spark import rollup as rl
    from sydradb_spark.sydraql.engine import SydraQLEngine

    served = SydraQLEngine(
        spark, points, rollup=rl.build_rollup(points, step_s=3600), rollup_step=3600
    )
    with pytest.raises(ValidationError):
        served.query(
            "select time_bucket(3600.5, time) as b, count() as n from weather.room1 "
            "where time >= 997200 and time < 1004400 group by time_bucket(3600.5, time)"
        )
