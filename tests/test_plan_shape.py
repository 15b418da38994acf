"""Plan shapes of the serving path's window and FILL queries, pinned by
counts that do not depend on timing: scans in the optimized plan, chunk
columns, and the Spark jobs and tasks one collect runs.

A closed time range that fits one chunk runs the one-pass plans (one scan,
no ``__chunk`` / ``__wchunk`` column); a half-open range keeps the
chunk-and-carry plans. The queries have the benchmark's shapes: a 6-hour
``fill(linear)`` over 1-minute buckets and a 3-hour ``moving_avg`` on one
series of a stored, hour-partitioned table."""

from __future__ import annotations

import pytest

from sydradb_spark import api, storage
from sydradb_spark.model import INPUT_SCHEMA, with_identity
from sydradb_spark.sydraql.engine import SydraQLEngine

T0 = 1_704_067_200  # an hour boundary
START = T0 + 3 * 3_600
SEL = "from cpu where tag.host = 'h1'"
HALF_OPEN = f"time >= {START}"


def fill_query(time_range: str) -> str:
    return (
        f"select avg(value) as v {SEL} and {time_range} "
        f"group by time_bucket(60, time) fill(linear)"
    )


def window_query(time_range: str) -> str:
    return f"select time, moving_avg(value, 600) as ma {SEL} and {time_range}"


FILL = fill_query(f"time >= {START} and time < {START + 21_600}")
WINDOW = window_query(f"time >= {START} and time < {START + 10_800}")
SCAN = f"select time, value {SEL} and time >= {START} and time < {START + 10_800}"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    """4 series x 1 day at a 120 s step, every 37th point dropped so FILL
    has gaps: 24 hour files."""
    rows = [
        ("cpu", {"host": h}, T0 + i * 120, float((i * 7) % 23))
        for h in ("h0", "h1", "h2", "h3")
        for i in range(24 * 30)
        if i % 37 != 5
    ]
    path = str(tmp_path_factory.mktemp("shape") / "t")
    storage.write_points(with_identity(spark.createDataFrame(rows, INPUT_SCHEMA)), path)
    return SydraQLEngine(spark, storage_path=path)


def _optimized(engine, q: str) -> str:
    return engine.query(q).df._jdf.queryExecution().optimizedPlan().toString()


def _run(spark, engine, q: str, group: str) -> tuple[int, list[int]]:
    """Collect ``q`` as the HTTP route does, under job group ``group``:
    (jobs, task count of every stage those jobs list)."""
    result = engine.query(q)
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        assert api.to_response(result)["rows"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = [
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    return len(jobs), tasks


@pytest.mark.parametrize("q", [FILL, WINDOW], ids=["fill", "window"])
def test_bounded_query_plans_one_scan_and_no_chunk_column(engine, q):
    plan = _optimized(engine, q)
    assert plan.count("Relation ") == 1, plan
    assert "__chunk" not in plan and "__wchunk" not in plan, plan


def test_bounded_fill_runs_at_most_three_jobs(spark, engine):
    jobs, _ = _run(spark, engine, FILL, "shape-fill")
    assert jobs <= 3


def test_bounded_window_reads_its_files_once_per_stage(spark, engine):
    _, scan_tasks = _run(spark, engine, SCAN, "shape-scan")
    jobs, tasks = _run(spark, engine, WINDOW, "shape-window")
    # the chunked plan unions a ghost re-read of the input into its scan
    # stage, twice the plain scan's tasks
    assert jobs <= 2 and max(tasks) <= max(scan_tasks), (tasks, scan_tasks)


@pytest.mark.parametrize(
    ("q", "column"),
    [(fill_query(HALF_OPEN), "__chunk"), (window_query(HALF_OPEN), "__wchunk")],
    ids=["fill", "window"],
)
def test_half_open_range_keeps_the_chunked_plan(engine, q, column):
    assert column in _optimized(engine, q)
