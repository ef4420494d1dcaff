"""Streaming serialized-payload validation.

``validate_json_payload`` is built entirely from stateless ops (one
``from_json`` + filters/projections + the two-phase engine, whose plan
is the same for a batch and a streaming frame), so the SAME function
runs unchanged on a ``readStream`` DataFrame — transcripts arriving as JSON strings over a stream are deserialized, shape-checked
(code='payload' at '/'), and rule-validated per micro-batch in append
mode. Parity is structural AND tested: stream violations == batch
violations on the same files.
"""

import pytest
from pyspark.sql import types as T

import validify_spark as vs
from validify_spark.payload import validate_json_payload

SCHEMA = "role string, text string"


def _ruleset():
    return vs.RuleSet(rules=[
        vs.required("role", stage="presence"),
        vs.required("text", stage="presence"),
        vs.length("text", min=2, max=64),
    ])


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def _payload_rows(spark, n, tag):
    return spark.range(n).selectExpr(
        "id AS k",
        f"""CASE WHEN id % 9 = 0 THEN 'not json {{'
             WHEN id % 9 = 1 THEN '[1,2,3]'
             WHEN id % 9 = 2 THEN '42'
             WHEN id % 9 = 3 THEN '{{"role":"user"}}'
             WHEN id % 9 = 4 THEN '{{"role":null,"text":"hi"}}'
             WHEN id % 9 = 5 THEN '{{"role":"user","text":"x"}}'
             ELSE '{{"role":"{tag}","text":"hello world"}}'
        END AS payload""")


def test_stream_payload_violations_match_batch(spark, tmpdir):
    src = f"{tmpdir}/payload_src"
    _payload_rows(spark, 600, "user").write.parquet(src)
    # second file: a later arrival — exercises more than one input split
    _payload_rows(spark, 600, "assistant").write.mode("append").parquet(src)

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("payload", T.StringType())])
    stream = spark.readStream.schema(schema).parquet(src)
    _good, sv = validate_json_payload(
        stream, "payload", SCHEMA, _ruleset(), key_cols=["k"])
    assert sv.isStreaming
    q = (sv.select("k", "location", "code")
         .writeStream.format("memory").queryName("payload_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT k, location, code FROM payload_stream")
    _bg, bv = validate_json_payload(
        spark.read.parquet(src), "payload", SCHEMA, _ruleset(),
        key_cols=["k"])
    want = bv.select("k", "location", "code")
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # all three families present: shape failures, presence, main rules
    codes = {r["code"] for r in got.select("code").distinct().collect()}
    assert codes == {"payload", "required", "length"}
    # no shuffle between phase 1 and phase 2: the micro-batch and the
    # batch read both run in one stage
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    assert "Exchange" not in plan.toString(), plan.toString()
    bplan = bv._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in bplan, bplan
