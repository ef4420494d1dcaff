"""Time operators (validify/src/validation/time.rs:3-87) with a pinned
run_ts, and iter (per-element) validation with indexed locations
(derive_tests/tests/iter.rs).
"""

import datetime as dt

import pytest

from validify_spark import (
    RuleSet, ValidationEngine, email, iter_, length, range_, time,
)

RUN_TS = dt.datetime(2024, 6, 15, 12, 0, 0)


def run(spark, rows, ddl, rules, key=("id",)):
    df = spark.createDataFrame(rows, ddl)
    eng = ValidationEngine(RuleSet(rules=list(rules)), key_cols=list(key),
                           run_ts=RUN_TS)
    return eng.violations(df).collect()


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_before_strict_and_inclusive(spark):
    target = ts("2024-01-01T00:00:00")
    rows = [(1, ts("2023-12-31T23:59:59")), (2, target),
            (3, ts("2024-01-02T00:00:00"))]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before", target=target)])
    assert sorted(r["id"] for r in v) == [2, 3]
    assert v[0]["code"] == "before"
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before", target=target, inclusive=True)])
    assert sorted(r["id"] for r in v) == [3]
    assert v[0]["code"] == "before_or_equal"  # validation.rs:277-279


def test_after_and_now_ops(spark):
    rows = [(1, ts("2024-06-15T11:00:00")), (2, ts("2024-06-15T13:00:00"))]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before_now")])
    assert [r["id"] for r in v] == [2]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="after_now")])
    assert [r["id"] for r in v] == [1]


def test_from_now_ops(spark):
    # before_from_now(1 day): must be at least 1 day in the past
    rows = [(1, ts("2024-06-14T11:00:00")),   # 25h ago -> pass
            (2, ts("2024-06-15T11:00:00"))]   # 1h ago -> fail
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before_from_now", days=1)])
    assert [r["id"] for r in v] == [2]
    assert v[0]["code"] == "before_from_now"
    # after_from_now(1 day): must be at least 1 day in the future
    rows = [(1, ts("2024-06-16T13:00:00")),   # +25h -> pass
            (2, ts("2024-06-15T13:00:00"))]   # +1h -> fail
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="after_from_now", days=1)])
    assert [r["id"] for r in v] == [2]


def test_in_period_negative_interval_swaps_bounds(spark):
    # time.rs:63-87: start <= actual <= start+dur; bounds swapped if dur<0
    target = ts("2024-06-15T00:00:00")
    rows = [(1, ts("2024-06-14T12:00:00")), (2, ts("2024-06-15T12:00:00")),
            (3, ts("2024-06-13T12:00:00"))]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="in_period", target=target, days=-1)])
    # window = [2024-06-14, 2024-06-15]; id 1 in, ids 2,3 out
    assert sorted(r["id"] for r in v) == [2, 3]
    assert v[0]["params"]["from"] == "2024-06-14 00:00:00"
    assert v[0]["params"]["to"] == "2024-06-15 00:00:00"


def test_string_target_with_format(spark):
    v = run(spark, [(1, ts("2024-03-01T00:00:00"))], "id int, t timestamp",
            [time("t", op="before", target="2024-02-01 00:00:00",
                  format="%Y-%m-%d %H:%M:%S")])
    assert len(v) == 1


def test_null_timestamp_passes(spark):
    v = run(spark, [(1, None)], "id int, t timestamp",
            [time("t", op="before_now")])
    assert v == []


# ---------------------------------------------------------------------------
# iter
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("kind,params,items", [
    ("email", {}, ["ok@mail.com", "notanemail", "x@y.com"]),
    ("phone", {}, ["+14152370800", "14152370800", None]),
    ("ip", {}, ["10.0.0.1", "10.0.0.256", "fe80::1"]),
    ("ip", {"format": "v6"}, ["::1", "::1%eth0", "1:2:3:4:5:6:1.2.3.4"]),
], ids=["email", "phone", "ip", "ip_v6"])
def test_iter_scalar_elements(spark, kind, params, items):
    from validify_spark.rules import Rule
    inner = Rule(kind=kind, column=None, params=params)
    v = run(spark, [(1, items), (2, None)],
            "id int, emails array<string>",
            [iter_("emails", inner)])
    assert len(v) == 1
    assert v[0]["location"] == "/emails/1"
    assert v[0]["code"] == kind


def test_iter_range_on_ints(spark):
    from validify_spark.rules import Rule
    inner = Rule(kind="range", column=None, params={"min": 1, "max": 10})
    v = run(spark, [(1, [1, 5, 99, 2, 100])], "id int, nums array<int>",
            [iter_("nums", inner)])
    locs = sorted(r["location"] for r in v)
    assert locs == ["/nums/2", "/nums/4"]


def test_iter_struct_subfield(spark):
    from validify_spark.rules import Rule
    inner = Rule(kind="length", column="name", params={"min": 2,
                                                       "max": None,
                                                       "equal": None})
    v = run(spark, [(1, [("ab", True), ("x", False)])],
            "id int, prefs array<struct<name: string, value: boolean>>",
            [iter_("prefs", inner)])
    assert len(v) == 1
    assert v[0]["location"] == "/prefs/1/name"


def test_now_ops_inclusive(spark):
    # reference time.rs:3-11: eq=true compiles <= / >= against now;
    # rows timestamped exactly at run_ts pass when inclusive
    rows = [(1, RUN_TS), (2, ts("2024-06-15T13:00:00"))]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before_now")])
    assert sorted(r["id"] for r in v) == [1, 2]  # strict: eq fails
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="before_now", inclusive=True)])
    assert sorted(r["id"] for r in v) == [2]
    v = run(spark, rows, "id int, t timestamp",
            [time("t", op="after_now", inclusive=True)])
    assert sorted(r["id"] for r in v) == []


def test_in_period_target_column(spark):
    # dynamic in_period: window [anchor, anchor + 1h] per row
    rows = [(1, ts("2024-01-01T00:30:00"), ts("2024-01-01T00:00:00")),
            (2, ts("2024-01-01T02:00:00"), ts("2024-01-01T00:00:00")),
            (3, ts("2023-12-31T23:30:00"), ts("2024-01-01T00:00:00"))]
    v = run(spark, rows, "id int, t timestamp, anchor timestamp",
            [time("t", op="in_period", target_column="anchor", hours=1)])
    assert sorted(r["id"] for r in v) == [2, 3]
    # negative duration: window [anchor - 1h, anchor]
    v = run(spark, rows, "id int, t timestamp, anchor timestamp",
            [time("t", op="in_period", target_column="anchor", hours=-1)])
    assert sorted(r["id"] for r in v) == [1, 2]
