"""Streaming column profiles + distribution drift over event-time
windows — the monitoring face of checks/stats.py and checks/drift.py
(north_star: KL/PSI drift on role/tool/text-length histograms), lifted
to Structured Streaming.

Design constraints that shape the implementation:

- ONE streaming aggregation per query. Chained stateful aggregations
  are restricted in append mode, so everything (per-bucket counts,
  null counts, min/max) folds into a single windowed groupBy with
  conditional aggregates; PSI/KL are stateless projections on top.
- The drift baseline is a DRIVER-SIDE constant (the batch histogram of
  a reference corpus, e.g. yesterday's validated partition). That is
  how production drift monitoring works at 100 TB: the baseline is
  computed once in batch (checks/drift.categorical_histogram) and the
  stream compares each finalized window against it — no stream-stream
  join, no second aggregation, state bounded by the watermark.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

_EPS = 1e-6  # same floor as checks/drift.py — keeps PSI/KL finite


def _watermarked(df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """withWatermark, accepting TIMESTAMP_NTZ event-time columns too
    (parquet written with the session in UTC lands as NTZ; watermarks
    demand TIMESTAMP, so NTZ is cast — identical instants under the
    engine's pinned UTC session timezone)."""
    from pyspark.sql import types as T
    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def stream_column_profile(df: DataFrame, columns: Sequence[str],
                          ts_col: str = "ts",
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Per-window, per-column profile: rows, nulls, null_rate,
    approx_distinct, min/max (as strings, type-agnostic).

    One windowed aggregation computes every column's metrics
    (conditional aggs), then a stateless stack unpivots to long form —
    append-mode safe, watermark-bounded state.

    Output: window_start, window_end, column, n_rows, n_null,
    null_rate, approx_distinct, min, max."""
    src = _watermarked(df, ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"__null_{c}"),
            F.approx_count_distinct(c).alias(f"__dist_{c}"),
            # TYPED min/max, cast after aggregation (checks/stats.py
            # does the same): casting before would give lexicographic
            # ordering — '10' < '2' — wrong for numeric/timestamp cols
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    wide = (src
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(*aggs))
    # unpivot: one struct per column, exploded — stateless projection
    per_col = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__dist_{c}").alias("approx_distinct"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__max_{c}").alias("max"),
        ) for c in columns])
    return (wide
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    F.col("__n").alias("n_rows"),
                    F.explode(per_col).alias("m"))
            .select("window_start", "window_end", "m.column", "n_rows",
                    "m.n_null",
                    F.round(F.col("m.n_null") / F.col("n_rows"), 6)
                     .alias("null_rate"),
                    "m.approx_distinct", "m.min", "m.max"))


def stream_length_drift(df: DataFrame, text_col: str,
                        baseline: Mapping[str, float],
                        bucket_size: int = 50,
                        ts_col: str = "ts",
                        window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Text-LENGTH histogram drift on a stream (north_star's third
    histogram family): fixed-width char-length buckets, keyed the same
    way as checks/drift.length_histogram (bucket id = floor(len/size)
    as a string, NULL text → '__null__'), compared per window against a
    batch baseline from that function. Thin composition over
    stream_drift — the derived bucket column is stateless."""
    bucket = F.floor(F.length(F.col(text_col)) / bucket_size) \
              .cast("bigint").cast("string")
    return stream_drift(
        df.withColumn("__len_bucket", bucket), "__len_bucket",
        baseline, ts_col=ts_col, window=window, watermark=watermark)


def stream_drift(df: DataFrame, column: str,
                 baseline: Mapping[str, float],
                 ts_col: str = "ts",
                 window: str = "1 hour",
                 watermark: str = "2 hours",
                 null_bucket: str = "__null__",
                 other_bucket: str = "__other__") -> DataFrame:
    """PSI + KL divergence of ``column``'s categorical distribution per
    event-time window vs a fixed ``baseline`` {bucket: probability}
    (from checks/drift.categorical_histogram on a reference corpus,
    collected driver-side; baselines are small by construction —
    categorical columns).

    Buckets are the baseline's keys; NULL maps to ``null_bucket`` and
    any unseen value to ``other_bucket`` (baseline probability 0 →
    floored at 1e-6, so a new category inflates PSI — exactly the
    alarm wanted). Single windowed aggregation with one conditional
    count per bucket; PSI/KL/max_abs_diff are stateless projections.

    Output: window_start, window_end, n_rows, psi, kl, max_abs_diff.
    """
    if not baseline:
        raise ValueError("stream_drift needs a non-empty baseline")
    if len(baseline) > 512:
        # the single-streaming-aggregation design pays one conditional
        # aggregate (plus one isin() entry) PER baseline bucket, per
        # input row — linear per-row cost and ballooning codegen, the
        # same 64 KB-class risk engine.py fights. Length-histogram
        # baselines over long-text corpora are the usual offender:
        # coarsen bucket_size (or pre-merge the tail into one bucket)
        # before streaming.
        raise ValueError(
            f"stream_drift baseline has {len(baseline)} buckets "
            "(max 512): coarsen the bucketing — each bucket costs a "
            "conditional aggregate per input row in the streaming agg")
    buckets = sorted(set(baseline) | {null_bucket, other_bucket})
    known = [b for b in buckets if b not in (null_bucket, other_bucket)]
    src = _watermarked(df, ts_col, watermark)
    col = F.col(column).cast("string")
    bucketed = F.when(col.isNull(), null_bucket) \
                .when(col.isin(known) if known else F.lit(False), col) \
                .otherwise(other_bucket)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum((bucketed == F.lit(b)).cast("long")).alias(f"__b_{i}")
        for i, b in enumerate(buckets)]
    wide = (src
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(*aggs))

    def _term(i: int, b: str) -> tuple[Column, Column, Column]:
        p = F.greatest(F.col(f"__b_{i}") / F.col("__n"), F.lit(_EPS))
        p_raw = F.col(f"__b_{i}") / F.col("__n")
        q = F.lit(max(float(baseline.get(b, 0.0)), _EPS))
        q_raw = F.lit(float(baseline.get(b, 0.0)))
        psi = (p - q) * (F.log(p) - F.lit(math.log(
            max(float(baseline.get(b, 0.0)), _EPS))))
        kl = F.when(p_raw > 0, p * (F.log(p) - F.log(q))) \
              .otherwise(F.lit(0.0))
        return psi, kl, F.abs(p_raw - q_raw)

    terms = [_term(i, b) for i, b in enumerate(buckets)]
    psi = sum((t[0] for t in terms), F.lit(0.0))
    kl = sum((t[1] for t in terms), F.lit(0.0))
    mad = F.greatest(*[t[2] for t in terms]) if len(terms) > 1 \
        else terms[0][2]
    return wide.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.col("__n").alias("n_rows"),
        F.round(psi, 6).alias("psi"),
        F.round(kl, 6).alias("kl"),
        F.round(mad, 6).alias("max_abs_diff"))


def numeric_drift_baseline(batch_df: DataFrame, column: str,
                           n_buckets: int = 20,
                           rel_err: float = 0.001):
    """Build the (cuts, baseline) pair for :func:`stream_numeric_drift`
    from a batch reference corpus (yesterday's validated partition):
    ``cuts`` = deduped GK-sketch quantile boundaries of ``column``,
    ``baseline`` = the reference probability of each inter-cut bucket
    (string ids '0'..'k', '__null__' for NULLs) — equal-mass buckets
    by construction, so drift shows up as mass imbalance, the most
    sensitive fixed-bucket layout for PSI.

    Driver-side result is tiny (≤ n_buckets+1 entries); the one eager
    pass over the reference is batch work, done once per baseline
    refresh, never per micro-batch."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = sorted(set(batch_df.approxQuantile(column, qs, rel_err))) \
        if n_buckets > 1 else []
    bucket = F.coalesce(_numeric_bucket(F.col(column), cuts),
                        F.lit("__null__"))
    rows = (batch_df
            .select(bucket.alias("b"))
            .groupBy("b").count().collect())
    total = sum(r["count"] for r in rows) or 1
    baseline = {r["b"]: r["count"] / total for r in rows}
    return cuts, baseline


def _numeric_bucket(col: Column, cuts: Sequence[float]) -> Column:
    """Deterministic bucket id for a numeric value given sorted cut
    points — same pure-function-of-the-value scheme as checks/cdf.py
    (never a re-sampled range partitioner). NULL/NaN stay NULL so the
    downstream consumer's own null handling applies: stream_drift's
    isNull() branch routes them to its null_bucket (pre-mapping to a
    '__null__' STRING here would fall through stream_drift's isin()
    into '__other__' — a spurious-drift bug caught in review)."""
    b = F.lit(0)
    for c in cuts:
        b = b + F.when(col >= F.lit(float(c)), 1).otherwise(0)
    return F.when(col.isNull() | F.isnan(col.cast("double")),
                  F.lit(None).cast("string")).otherwise(b.cast("string"))


def stream_numeric_drift(df: DataFrame, column: str,
                         cuts: Sequence[float],
                         baseline: Mapping[str, float],
                         ts_col: str = "ts",
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """PSI/KL drift of a NUMERIC column per event-time window vs a
    fixed batch baseline — the fourth streaming drift family next to
    categorical and text-length (and the monitoring face of the batch
    KS/W1/CvM exact statistics, which need the full sorted sample and
    so stay batch-side).

    ``cuts``/``baseline`` come from :func:`numeric_drift_baseline`.
    The bucket id is a stateless pure function of the value, so this
    is a thin composition over :func:`stream_drift`: one windowed
    aggregation, watermark-bounded state, unseen-mass alarm through
    the PSI floor. Output: window_start, window_end, n_rows, psi, kl,
    max_abs_diff."""
    bucketed = df.withColumn(
        "__num_bucket", _numeric_bucket(F.col(column), list(cuts)))
    return stream_drift(bucketed, "__num_bucket", baseline,
                        ts_col=ts_col, window=window,
                        watermark=watermark)
