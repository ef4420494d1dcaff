"""Streaming SimHash near-dup (r4 verdict "missing #4"): a near-dup
arriving in a later micro-batch of a doc from an earlier batch is
caught; the stream's pair set equals the batch ``simhash_pairs`` on
the union; event-time TTL bounds what an arriving doc can match."""

import time as _time

import pytest
from pyspark.sql import functions as F

from validify_spark.pipeline import simhash_pairs
from validify_spark.streaming import (stream_minhash_pairs,
                                      stream_simhash_pairs)

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lamda mu nu xi omicron pi rho sigma tau upsilon phi chi "
          "psi omega one two three four five six seven eight nine "
          "ten eleven twelve thirteen fourteen fifteen sixteen "
          "seventeen eighteen nineteen twenty red green blue cyan "
          "magenta yellow black white gray silver gold bronze iron "
          "copper zinc").split()
BASE = " ".join(_WORDS)
# one-token edit picked so the fingerprints land at Hamming distance 1
# (verified offline with the same md5 bit-vote algorithm): 'two'->'twoz'
EDIT = " ".join(w if w != "two" else "twoz" for w in _WORDS)
OTHER = ("completely unrelated text about database systems and "
         "distributed query planning with vectorized execution")

DDL = "doc_id long, text string, ts_s string"


def _mk(spark, rows):
    return (spark.createDataFrame(rows, DDL)
            .select("doc_id", "text",
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
    q = (stream_simhash_pairs(stream, ts_col="ts", **kw)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return {(r.id_a, r.id_b, r.hamming)
            for r in spark.sql(f"SELECT * FROM {name}").collect()}


def test_cross_batch_near_dup_and_batch_parity(spark, tmpdir):
    b1 = [(1, BASE, "2024-01-01T00:00:00"),
          (2, OTHER, "2024-01-01T00:01:00")]
    b2 = [(10, BASE, "2024-01-01T00:10:00"),    # exact dup of batch-1 doc
          (11, EDIT, "2024-01-01T00:11:00"),    # near-dup (1-token edit)
          (12, OTHER + " extra", "2024-01-01T00:12:00")]
    got = _run_stream(spark, tmpdir, "sh_stream", [b1, b2])

    # the doc from batch 1 is matched by batch-2 arrivals — the case a
    # per-batch (stateless) formulation cannot see
    assert (1, 10, 0) in got

    union = _mk(spark, b1).unionByName(_mk(spark, b2))
    batch = {(r.id_a, r.id_b, r.hamming)
             for r in simhash_pairs(union).collect()}
    assert got == batch, (f"stream {sorted(got)} != batch "
                          f"{sorted(batch)}")
    # sanity: this corpus actually exercises near (not only exact) dups
    assert any(h > 0 for _, _, h in batch), batch


def test_ttl_bounds_matchable_history(spark, tmpdir):
    """An identical doc arriving AFTER the ttl window must not pair
    with the stale fingerprint (event-time bounded state)."""
    b1 = [(1, BASE, "2024-01-01T00:00:00")]
    b2 = [(20, BASE, "2024-01-01T03:00:00")]   # 3h later, ttl 1h
    got = _run_stream(spark, tmpdir, "sh_ttl", [b1, b2],
                      ttl="1 hour", watermark="10 hours")
    assert got == set(), f"stale fingerprint matched: {got}"


def test_corpus_parity_500_docs(spark, tmpdir):
    """Full 500-doc testdata corpus streamed in 2 micro-batches must
    reproduce the batch pair set exactly — the bucket-collision /
    multi-band regime a handful of crafted docs can't reach."""
    docs = (spark.read
            .parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumn("ts", F.to_timestamp(F.lit("2024-01-01")) +
                        F.make_interval(
                            secs=F.col("doc_id").cast("double"))))
    src = f"{tmpdir}/corpus_src"
    docs.where("doc_id < 250").coalesce(1) \
        .write.mode("append").parquet(src)
    _time.sleep(1.1)
    docs.where("doc_id >= 250").coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_simhash_pairs(stream, ts_col="ts", ttl="1 hour")
         .writeStream.format("memory").queryName("sh_corpus")
         .option("checkpointLocation", f"{tmpdir}/corpus_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = {(r.id_a, r.id_b, r.hamming)
           for r in spark.sql("SELECT * FROM sh_corpus").collect()}
    batch = {(r.id_a, r.id_b, r.hamming)
             for r in simhash_pairs(docs).collect()}
    assert got == batch
    assert len(batch) > 500  # the corpus is genuinely dup-heavy


def test_rejects_unbandable_threshold_and_string_ids(spark):
    import pytest as _pytest
    df = (spark.range(3)
          .select(F.col("id").alias("doc_id"),
                  F.lit("x").alias("text")))
    with _pytest.raises(ValueError, match="recall guarantee"):
        stream_simhash_pairs(
            spark.readStream.format("rate").load()
            .withColumnRenamed("value", "doc_id")
            .withColumn("text", F.lit("x")), max_hamming=5)
    sdf = (spark.readStream.format("rate").load()
           .withColumn("doc_id", F.col("value").cast("string"))
           .withColumn("text", F.lit("x")))
    with _pytest.raises(ValueError, match="integral"):
        stream_simhash_pairs(sdf)


def test_bucket_local_pruning_cannot_starve_lowest_band(spark, tmpdir):
    """Round-5 review regression: buckets prune on their own local
    clocks, so an unrelated newer doc ('collider', precomputed offline
    to share BASE's band-0 bucket while differing on bands 1-3,
    hamming 19) used to evict a fingerprint from the pair's LOWEST
    matching band while it survived in higher bands — where the pair
    was then suppressed by the lowest-band rule. Physical retention of
    ttl + watermark (match window still ttl) keeps the partner alive
    in every band for any in-watermark arrival."""
    collider = "w13851a w13851b w13851c w13851d w13851e"
    b1 = [(1, BASE, "2024-01-01T00:00:00")]
    b2 = [(2, collider, "2024-01-01T02:00:00")]  # advances band-0 only
    b3 = [(3, BASE, "2024-01-01T00:30:00")]      # late, within ttl of 1
    got = _run_stream(spark, tmpdir, "sh_starve", [b1, b2, b3],
                      ttl="1 hour", watermark="2 hours")
    assert (1, 3, 0) in got, got


def test_redelivered_id_emits_pair_once(spark, tmpdir):
    """At-least-once sources re-deliver: the same (doc_id, text) in two
    micro-batches must not double the state entry, or every later
    near-dup of it would emit its pair twice."""
    b1 = [(1, BASE, "2024-01-01T00:00:00")]
    b2 = [(1, BASE, "2024-01-01T00:00:00")]      # re-delivery
    b3 = [(9, BASE, "2024-01-01T00:05:00")]
    src = f"{tmpdir}/redeliver_src"
    schema = None
    for b in [b1, b2, b3]:
        df = _mk(spark, b)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_simhash_pairs(stream, ts_col="ts")
         .writeStream.format("memory").queryName("sh_redeliver")
         .option("checkpointLocation", f"{tmpdir}/redeliver_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = [(r.id_a, r.id_b, r.hamming) for r in
            spark.sql("SELECT * FROM sh_redeliver").collect()]
    assert rows == [(1, 9, 0)], rows


def test_within_batch_pairs_no_cross_band_dupes(spark, tmpdir):
    """Identical fingerprints agree on ALL four bands — lowest-band
    suppression must still emit the pair exactly once (memory sink
    accumulates every emission, so a dupe would show as extra rows)."""
    b1 = [(1, BASE, "2024-01-01T00:00:00"),
          (2, BASE, "2024-01-01T00:00:30"),
          (3, BASE, "2024-01-01T00:01:00")]
    src = f"{tmpdir}/sh_one_src"
    df = _mk(spark, b1)
    df.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_simhash_pairs(stream, ts_col="ts")
         .writeStream.format("memory").queryName("sh_one")
         .option("checkpointLocation", f"{tmpdir}/sh_one_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = [(r.id_a, r.id_b, r.hamming)
            for r in spark.sql("SELECT * FROM sh_one").collect()]
    assert sorted(rows) == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]


@pytest.mark.parametrize("op", [stream_simhash_pairs,
                                stream_minhash_pairs],
                         ids=["simhash", "minhash"])
def test_null_ts_doc_dropped(spark, tmpdir, op):
    """A doc without an event time has no place on the ttl clock: it
    is dropped before the state instead of failing the query, and the
    duplicate pair beside it in the same batch is still emitted."""
    b1 = [(1, BASE, "2024-01-01T00:00:00"),
          (2, BASE, "2024-01-01T00:01:00"),
          (3, BASE, None)]
    src = f"{tmpdir}/null_ts_src"
    df = _mk(spark, b1)
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    name = f"null_ts_{op.__name__}"
    q = (op(stream, ts_col="ts")
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", f"{tmpdir}/{name}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = [(r.id_a, r.id_b) for r in
            spark.sql(f"SELECT * FROM {name}").collect()]
    assert rows == [(1, 2)], rows
