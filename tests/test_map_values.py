"""Map-value validation with key-based locations
(derive_tests/tests/error_location.rs '/name/3/stuff' golden;
error.rs:117-158)."""

import pytest

from validify_spark import RuleSet, ValidationEngine, map_values_
from validify_spark.rules import Rule, RuleSpecError


def run(spark, rows, ddl, rules, key=("id",)):
    df = spark.createDataFrame(rows, ddl)
    eng = ValidationEngine(RuleSet(rules=list(rules)), key_cols=list(key))
    return eng.violations(df).collect()


def test_map_values_scalar(spark):
    inner = Rule(kind="range", column=None, params={"min": 1, "max": 10})
    v = run(spark, [(1, {"a": 5, "b": 99})], "id int, m map<string,int>",
            [map_values_("m", inner)])
    assert len(v) == 1
    assert v[0]["location"] == "/m/b"
    assert v[0]["code"] == "range"


@pytest.mark.parametrize("inner,good,bad", [
    (Rule(kind="phone", column=None), "+1 415 237 0800", "14152370800"),
    (Rule(kind="ip", column=None, params={"format": "v6"}),
     "2001:db8::1", "192.168.0.1"),
], ids=["phone", "ip_v6"])
def test_map_values_sql_inner(spark, inner, good, bad):
    # ip and phone are pure SQL, so they run inside the map lambda
    v = run(spark, [(1, {"a": good, "b": bad})],
            "id int, m map<string,string>", [map_values_("m", inner)])
    assert len(v) == 1
    assert v[0]["location"] == "/m/b"
    assert v[0]["code"] == inner.kind


def test_map_values_struct_subfield_location(spark):
    # byname MAP<STRING, STRUCT<stuff: ARRAY<INT>>> with length(min=2)
    # on stuff → location '/name/3/stuff' (map key '3')
    inner = Rule(kind="length", column="stuff",
                 params={"min": 2, "max": None, "equal": None})
    v = run(spark,
            [(1, {"3": ([7],), "4": ([1, 2],)})],
            "id int, byname map<string, struct<stuff: array<int>>>",
            [map_values_("byname", inner, display_name="name")])
    assert len(v) == 1
    assert v[0]["location"] == "/name/3/stuff"
    assert v[0]["code"] == "length"


def test_map_values_null_map_passes(spark):
    inner = Rule(kind="range", column=None, params={"min": 1, "max": 10})
    v = run(spark, [(1, None)], "id int, m map<string,int>",
            [map_values_("m", inner)])
    assert v == []


def test_map_values_rejects_udf_inner():
    with pytest.raises(RuleSpecError):
        RuleSet(rules=[map_values_("m", Rule(kind="email", column=None))])
