"""Distribution-drift checks: KL divergence and PSI between a current
table and a baseline over categorical columns or bucketed numeric
histograms (north_star: "KL/PSI distribution-drift on role/tool/
text-length histograms").

Everything is pure Column math over two small aggregated histograms:
  groupBy(bucket).count() on each side (partial+final agg)
  → normalize → full outer join on bucket (tiny; broadcast)
  → PSI = Σ (p-q)·ln(p/q),  KL(p‖q) = Σ p·ln(p/q)
with epsilon smoothing for empty buckets. The only shuffle is the two
histogram aggregations; the join is over bucket cardinality (tiny).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

EPS = 1e-6


def categorical_histogram(df: DataFrame, col: str,
                          null_bucket: str = "__null__") -> DataFrame:
    """(bucket, n, p) over a categorical column; NULLs get a bucket."""
    h = (df
         .groupBy(F.coalesce(F.col(col).cast("string"),
                             F.lit(null_bucket)).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n")))
    return _with_share(h)


def length_histogram(df: DataFrame, col: str,
                     bucket_size: int = 100) -> DataFrame:
    """(bucket, n, p) over char-length of a string column, fixed-width
    buckets (text-length drift)."""
    b = (F.floor(F.length(F.col(col)) / bucket_size)).cast("string")
    h = (df
         .groupBy(F.coalesce(b, F.lit("__null__")).alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n")))
    return _with_share(h)


def _with_share(h: DataFrame) -> DataFrame:
    """Add ``p`` = n / total. The total is a one-row aggregate
    cross-joined back (a broadcast), not a window over an empty
    partition spec, which would move every bucket to one partition and
    log a WindowExec warning per call."""
    total = h.agg(F.sum("n").alias("__total"))
    return (h.crossJoin(total)
            .withColumn("p", F.col("n") / F.col("__total"))
            .drop("__total"))


def _safe(p: Column) -> Column:
    return F.greatest(p, F.lit(EPS))


def drift_report(current_hist: DataFrame, baseline_hist: DataFrame,
                 round_to: int = 6) -> DataFrame:
    """Join two (bucket, p) histograms and compute PSI + KL(cur‖base).

    Output (single row): psi, kl, n_buckets, max_abs_diff.
    """
    cur = current_hist.select("bucket", F.col("p").alias("p_cur"))
    base = baseline_hist.select("bucket", F.col("p").alias("p_base"))
    joined = cur.join(base, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("p_cur", F.lit(0.0)).alias("p"),
        F.coalesce("p_base", F.lit(0.0)).alias("q"),
    )
    p, q = _safe(F.col("p")), _safe(F.col("q"))
    return joined.agg(
        F.round(F.sum((p - q) * F.log(p / q)), round_to).alias("psi"),
        F.round(F.sum(F.when(F.col("p") > 0,
                             p * F.log(p / q)).otherwise(0.0)),
                round_to).alias("kl"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.max(F.abs(F.col("p") - F.col("q"))), round_to)
         .alias("max_abs_diff"),
    )
