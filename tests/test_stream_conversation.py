"""Streaming conversation-shape check: conversations accumulated
across micro-batches finalize on an event-time session gap and emit
the SAME violation rows as the batch check on the same turns."""

import time as _time

import pytest
from pyspark.sql import functions as F

from validify_spark.checks import conversation_shape_violations
from validify_spark.streaming import (stream_conversation_rules,
                                      stream_conversation_shape)

DDL = "conv_id string, turn_idx long, role string, ts_s string"

KW = dict(zero_based=True, first_role="user", last_role="assistant",
          alternate=True, max_turns=4)


def _mk(spark, rows):
    return (spark.createDataFrame(rows, DDL)
            .select("conv_id", "turn_idx", "role",
                    F.col("ts_s").cast("timestamp").alias("ts")))


def _run_stream(spark, tmpdir, name, batches, **kw):
    src_dir = f"{tmpdir}/{name}_src"
    schema = None
    for b in batches:
        df = _mk(spark, b)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(src_dir)
        _time.sleep(1.1)  # distinct mtimes => file source batch order
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_conversation_shape(stream, ts_col="ts", **kw)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return {(r.conv_id, r.turn_idx, r.code)
            for r in spark.sql(f"SELECT * FROM {name}").collect()}


# a far-future lone row that advances the watermark past every real
# conversation's session gap so their timeouts fire; its own conv
# never finalizes and is excluded from comparisons
FLUSH = [("zz_flush", 0, "user", "2024-02-01T00:00:00")]


def test_cross_batch_finalize_and_batch_parity(spark, tmpdir):
    # c1 spans two micro-batches; only the union is a valid shape.
    # c2 lost its head (starts at 1 with 'assistant'): 2 codes.
    # c3 repeats 'user' at turn 1 and ends on 'user': 2 codes.
    # c4 has 6 turns > max_turns=4: conv-level code, NULL idx.
    b1 = [("c1", 0, "user", "2024-01-01T00:00:00"),
          ("c2", 1, "assistant", "2024-01-01T00:00:10"),
          ("c3", 0, "user", "2024-01-01T00:00:20"),
          ("c3", 1, "user", "2024-01-01T00:00:30"),
          ("c4", 0, "user", "2024-01-01T00:00:40")]
    b2 = [("c1", 1, "assistant", "2024-01-01T00:01:00"),
          ("c2", 2, "user", "2024-01-01T00:01:10"),
          ("c2", 3, "assistant", "2024-01-01T00:01:20"),
          ("c3", 2, "user", "2024-01-01T00:01:30")] + \
         [("c4", i, "user" if i % 2 == 0 else "assistant",
           f"2024-01-01T00:01:{40 + i}") for i in range(1, 6)]
    got = _run_stream(spark, tmpdir, "conv_stream",
                      [b1, b2, FLUSH],
                      watermark="10 minutes", session_gap="30 minutes",
                      **KW)

    # c1 is only valid because state merged BOTH batches — a per-batch
    # (stateless) run of the batch check would flag each half
    assert not any(c == "c1" for c, _, _ in got)
    assert ("c4", None, "too_many_turns") in got

    union = _mk(spark, b1).unionByName(_mk(spark, b2))
    batch = {(r.conv_id, r.turn_idx, r.code)
             for r in conversation_shape_violations(union, **KW)
             .collect()}
    assert got == batch, f"stream {sorted(got, key=str)} != " \
                         f"batch {sorted(batch, key=str)}"
    assert len(batch) >= 5  # the scenario exercises every code family


def test_gap_splits_one_conv_into_fragments(spark, tmpdir):
    """Turns for the same conv_id separated by more than the session
    gap are judged as separate fragments — the second fragment gets
    the lost-head codes."""
    b1 = [("c9", 0, "user", "2024-01-01T00:00:00"),
          ("c9", 1, "assistant", "2024-01-01T00:00:10")]
    # 2 hours later — far beyond the 30-minute gap
    b2 = [("c9", 2, "user", "2024-01-01T02:00:00"),
          ("c9", 3, "assistant", "2024-01-01T02:00:10")]
    got = _run_stream(spark, tmpdir, "conv_gap",
                      [b1, b2, FLUSH],
                      watermark="1 minute", session_gap="30 minutes",
                      **KW)
    # fragment 1 (turns 0-1) is a valid shape; fragment 2 (turns 2-3)
    # starts at 2 — lost head
    assert ("c9", 2, "first_idx_not_zero") in got
    assert not any(code in ("role_repeat", "too_many_turns")
                   for _, _, code in got)


def _run_per_file(spark, tmpdir, name, batches, build):
    """One availableNow query per file on a shared checkpoint. Each
    query ends with the no-data batch that fires the timeouts its
    watermark passed; a single query over all files skips those
    between files (``_run_stream``)."""
    src_dir, rows = f"{tmpdir}/{name}_src", []
    for b in batches:
        df = _mk(spark, b)
        df.coalesce(1).write.mode("append").parquet(src_dir)
        q = (build(spark.readStream.schema(df.schema).parquet(src_dir))
             .writeStream
             .foreachBatch(lambda out, _: rows.extend(out.collect()))
             .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
    return rows


_STREAM_KW = dict(ts_col="ts", watermark="10 minutes",
                  session_gap="30 minutes")
_NULL_TS_CASES = {
    "shape": (lambda s: stream_conversation_shape(s, **_STREAM_KW, **KW),
              lambda r: (r.conv_id, r.turn_idx, r.code),
              {("c6", 0, "first_role")}),
    "convrules": (lambda s: stream_conversation_rules(
        s, [("first_user", lambda p: p["role"].iloc[0] == "user"),
            ("ends_assistant",
             lambda p: p["role"].iloc[-1] == "assistant")],
        **_STREAM_KW),
        lambda r: (r.conv_id, r.code), {("c6", "first_user")}),
}


@pytest.mark.parametrize("kind", sorted(_NULL_TS_CASES))
def test_null_ts_head_waits_for_later_turns(spark, tmpdir, kind):
    """c5's first turn has a NULL ts. Its timeout must not finalize it
    before turn 1 (timestamped, next file) arrives, even though c1
    moves the watermark in between. c6 has only NULL-ts turns and
    still finalizes once the watermark passes."""
    build, key, expected = _NULL_TS_CASES[kind]
    f1 = [("c1", 0, "user", "2024-01-01T00:00:00"),
          ("c1", 1, "assistant", "2024-01-01T00:00:10"),
          ("c5", 0, "user", None),
          ("c6", 0, "assistant", None)]
    f2 = [("c5", 1, "assistant", "2024-01-01T00:02:30")]
    rows = _run_per_file(spark, tmpdir, f"null_ts_{kind}",
                         [f1, f2, FLUSH], build)
    assert {key(r) for r in rows} == expected


def test_no_checks_requested_raises(spark):
    with pytest.raises(ValueError, match="no shape checks"):
        stream_conversation_shape(
            _mk(spark, [("c", 0, "user", "2024-01-01T00:00:00")]),
            zero_based=False)
