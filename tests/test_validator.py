import pytest

from sydradb_spark.errors import (
    ArityMismatch,
    DivisionByZero,
    TimeRangeRequired,
    TypeMismatch,
    UnknownFunction,
    ValidationError,
)
from sydradb_spark.sydraql.parser import parse
from sydradb_spark.sydraql.validator import validate


def check(src):
    validate(parse(src))


def test_time_range_required():
    # reference validator.zig:57-66
    with pytest.raises(TimeRangeRequired):
        check("select value from weather.room1")
    with pytest.raises(TimeRangeRequired):
        check("select value from weather.room1 where value > 3")
    check("select value from weather.room1 where time > 0")
    check("select value from weather.room1 where time between 0 and 10")


def test_no_from_no_time_required():
    check("select 1")


def test_delete_requires_time():
    # reference validator.zig:96-105
    with pytest.raises(TimeRangeRequired):
        check("delete from by_id(1)")
    check("delete from by_id(1) where time < 100")


def test_unknown_function_rejected():
    # closed registry — reference validator.zig:132-137
    with pytest.raises(UnknownFunction):
        check("select frobnicate(value) from a.b where time > 0")


def test_arity():
    with pytest.raises(ArityMismatch):
        check("select avg() from a.b where time > 0")
    with pytest.raises(ArityMismatch):
        check("select avg(value, 2) from a.b where time > 0")
    with pytest.raises(ArityMismatch):
        check("select percentile(value) from a.b where time > 0")
    check("select count() from a.b where time > 0")
    check("select count(value) from a.b where time > 0")


def test_mod_integer_only():
    # reference expression.zig:124
    with pytest.raises(TypeMismatch):
        check("select 5.5 % 2 from a.b where time > 0")
    check("select 5 % 2")


def test_division_by_literal_zero():
    with pytest.raises(DivisionByZero):
        check("select 1 / 0")


def test_nested_aggregates_rejected():
    with pytest.raises(ValidationError):
        check("select avg(sum(value)) from a.b where time > 0")


def test_aggregate_in_where_rejected():
    with pytest.raises(ValidationError):
        check("select value from a.b where avg(value) > 3 and time > 0")


def test_fill_requires_group_by():
    with pytest.raises(ValidationError):
        validate(parse("select avg(value) from a.b where time > 0 fill(previous)"))


def test_type_mismatch_arith_on_string():
    with pytest.raises(TypeMismatch):
        check("select 'a' + 1")


def test_regex_needs_string_pattern():
    with pytest.raises(TypeMismatch):
        check("select 1 where tag.host =~ 5")


# --- r14 front-end adversarial review pins -----------------------------------
def test_mod_rejects_string_and_bool():
    """'%' is integer-only (expression.zig:124); STRING/BOOLEAN operands
    previously slipped past the FLOAT-only rejection into a silent null."""
    with pytest.raises(TypeMismatch):
        check("select 'a' % 2")
    with pytest.raises(TypeMismatch):
        check("select true % 2")
    check("select 5 % 2")  # integer form still fine


def test_delete_where_rejects_aggregates_and_windows():
    """DELETE WHERE mirrors SELECT WHERE: an aggregate errored only at
    translate time and a window call leaked an INTERNAL 'column not
    materialized' error (r14 review)."""
    with pytest.raises(ValidationError):
        check("delete from a.b where time > 0 and avg(value) > 1")
    with pytest.raises(ValidationError):
        check("delete from a.b where time > 0 and lag(value) > 1")
    check("delete from a.b where time > 0")


def test_fill_forward_rejected_in_where():
    """fill_forward is Kind.FILL but window-backed — in WHERE it leaked an
    internal 'column not materialized' error instead of a clean rejection
    (r14 review)."""
    with pytest.raises(ValidationError):
        check("select value from a.b where time > 0 and fill_forward(value) > 1")
    with pytest.raises(ValidationError):
        check("delete from a.b where time > 0 and fill_forward(value) > 1")


def test_time_bucket_step_must_be_a_positive_integer_literal():
    """FILL's spine and the rollup fold step in whole seconds; a fractional,
    zero, negative or computed step is rejected instead of truncated."""
    for step in ("90.5", "0.5", "0", "-60", "0s", "30 * 2", "value"):
        with pytest.raises(ValidationError):
            check(f"select time_bucket({step}, time) as b from a.b where time > 0")
    with pytest.raises(ValidationError):
        check("select count() from a.b where time > 0 group by time_bucket(3600.5, time)")
    check("select time_bucket(60, time) as b from a.b where time > 0")
    check("select time_bucket(1h30m, time, 900) as b from a.b where time > 0")
