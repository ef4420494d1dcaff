"""Streaming uniqueness: duplicate keys across micro-batches are
emitted as violations; max dup_count per key matches the batch check;
event-time ttl bounds what a late duplicate can collide with."""

import time as _time

from pyspark.sql import functions as F

from validify_spark.checks import uniqueness_violations
from validify_spark.streaming import stream_uniqueness_violations

DDL = "conv_id string, turn_idx long, ts_s string"


def _mk(spark, rows):
    return (spark.createDataFrame(rows, DDL)
            .select("conv_id", "turn_idx",
                    F.col("ts_s").cast("timestamp").alias("ts")))


def _run(spark, tmpdir, name, batches, **kw):
    src_dir = f"{tmpdir}/{name}_src"
    schema = None
    for b in batches:
        df = _mk(spark, b)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(src_dir)
        _time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_uniqueness_violations(
            stream, ["conv_id", "turn_idx"], **kw)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return [(r.conv_id, r.turn_idx, r.dup_count)
            for r in spark.sql(f"SELECT * FROM {name}").collect()]


def test_cross_batch_duplicates_and_batch_parity(spark, tmpdir):
    b1 = [("a", 0, "2024-01-01T00:00:00"),
          ("a", 1, "2024-01-01T00:00:01"),
          ("b", 0, "2024-01-01T00:00:02"),
          ("b", 0, "2024-01-01T00:00:03")]   # in-batch dup
    b2 = [("a", 0, "2024-01-01T00:01:00"),   # cross-batch dup
          ("a", 0, "2024-01-01T00:01:01"),   # triplicate
          ("c", 9, "2024-01-01T00:01:02")]
    got = _run(spark, tmpdir, "uq", [b1, b2],
               ts_col="ts", ttl="1 hour", watermark="1 hour")
    assert sorted(got) == [("a", 0, 2), ("a", 0, 3), ("b", 0, 2)]

    # max dup_count per key == batch uniqueness_violations on the union
    union = _mk(spark, b1).unionByName(_mk(spark, b2))
    batch = {(r.conv_id, r.turn_idx): r.dup_count
             for r in uniqueness_violations(
                 union, ["conv_id", "turn_idx"]).collect()}
    stream_max = {}
    for c, i, n in got:
        stream_max[(c, i)] = max(stream_max.get((c, i), 0), n)
    assert stream_max == batch


def test_ttl_expires_stale_keys(spark, tmpdir):
    b1 = [("k", 5, "2024-01-01T00:00:00")]
    # 3h later: key state (ttl 1h) must be gone — no violation, even
    # though the same key arrives again
    b2 = [("k", 5, "2024-01-01T03:00:00")]
    b3 = [("flush", 0, "2024-01-02T00:00:00")]
    got = _run(spark, tmpdir, "uq_ttl", [b1, b2, b3],
               ts_col="ts", ttl="1 hour", watermark="30 minutes")
    assert got == []


def test_unbounded_mode_without_ts(spark, tmpdir):
    b1 = [("x", 1, "2024-01-01T00:00:00")]
    b2 = [("x", 1, "2024-06-01T00:00:00")]  # months later, still a dup
    got = _run(spark, tmpdir, "uq_nowm", [b1, b2])
    assert got == [("x", 1, 2)]


def test_null_ts_occurrence_counts_toward_duplicate(spark, tmpdir):
    """An earlier occurrence without an event time still counts: only
    a timestamped earlier occurrence can put a row past the ttl."""
    b1 = [("k", 1, None), ("k", 1, "2024-01-01T00:00:00")]
    got = _run(spark, tmpdir, "uq_null_ts", [b1],
               ts_col="ts", ttl="1 hour", watermark="1 hour")
    assert got == [("k", 1, 2)]
    batch = [(r.conv_id, r.turn_idx, r.dup_count)
             for r in uniqueness_violations(
                 _mk(spark, b1), ["conv_id", "turn_idx"]).collect()]
    assert batch == got


def test_state_partitions_follow_session_shuffle_partitions(spark, tmpdir):
    """Every micro-batch of a new checkpoint runs one state task per
    ``spark.sql.shuffle.partitions`` — the count ``get_spark`` ties to
    the host's cores, so a stateful batch runs in one wave of tasks."""
    src_dir = f"{tmpdir}/uq_parts_src"
    for b in ([("a", 0, "2024-01-01T00:00:00")],
              [("a", 0, "2024-01-01T00:01:00")]):
        _mk(spark, b).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (spark.readStream.schema(_mk(spark, []).schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream_uniqueness_violations(
            stream, ["conv_id", "turn_idx"], ts_col="ts", ttl="1 hour",
            watermark="1 hour")
         .writeStream.format("memory").queryName("uq_parts")
         .option("checkpointLocation", f"{tmpdir}/uq_parts_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    progress = q.recentProgress
    assert progress
    assert [p["stateOperators"][0]["numShufflePartitions"]
            for p in progress] == [want] * len(progress)
