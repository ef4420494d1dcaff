"""Per-column stats profiles (north_star: null-rate, distinct-count via
HLL sketches, min/max, quantiles).

One job / one table scan computes every requested column's stats as a
single wide aggregate row (partial+final hash agg — mergeable across
partitions for free), then unpivots driver-side into a long profile
table. At 10^12 rows this is the only shape that works: sketches
(HLL, approx quantiles) are bounded-size and mergeable; nothing is
collected except the final one-row aggregate.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)

PROFILE_QUANTILES = [0.25, 0.5, 0.75]


def _profile_aggs(df: DataFrame, cols: Sequence[str], approx: bool,
                  rsd: float):
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
        if approx:
            aggs.append(
                F.approx_count_distinct(col, rsd).alias(f"{c}__distinct"))
        else:
            aggs.append(F.countDistinct(col).alias(f"{c}__distinct"))
        if isinstance(df.schema[c].dataType, _NUMERIC):
            if approx:
                aggs.append(F.percentile_approx(
                    col, PROFILE_QUANTILES).alias(f"{c}__q"))
            else:
                aggs.append(F.percentile(
                    col, F.array(*[F.lit(q) for q in PROFILE_QUANTILES])
                ).alias(f"{c}__q"))
        else:
            aggs.append(F.lit(None).cast("array<double>").alias(f"{c}__q"))
    return aggs


def _profile(df: DataFrame, columns: Optional[Sequence[str]], approx: bool,
             rsd: float = 0.05) -> DataFrame:
    cols = list(columns or df.columns)
    row = df.agg(*_profile_aggs(df, cols, approx, rsd))
    # unpivot the single wide row into one row per column — stack() is
    # driver-free (still one Spark job, the agg above)
    n = F.col("__n")
    parts = []
    for c in cols:
        parts.append(F.struct(
            F.lit(c).alias("column"),
            n.alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.round(F.col(f"{c}__nulls") / F.greatest(n, F.lit(1)), 6)
             .alias("null_rate"),
            F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
            F.round(F.col(f"{c}__q")[0], 6).alias("q25"),
            F.round(F.col(f"{c}__q")[1], 6).alias("q50"),
            F.round(F.col(f"{c}__q")[2], 6).alias("q75"),
        ))
    return (row
            .select(F.explode(F.array(*parts)).alias("s"))
            .select("s.*"))


def outliers_iqr(df: DataFrame, key_cols: Sequence[str],
                 columns: Sequence[str], factor: float = 1.5,
                 approx: bool = True,
                 round_bounds: Optional[int] = None) -> DataFrame:
    """Tukey-fence outlier rows per numeric column: value outside
    [q1 - factor*iqr, q3 + factor*iqr].

    100 TB shape: ONE aggregation computes every column's (q1, q3)
    as a single 1-row result (GK sketch by default — mergeable,
    bounded; ``approx=False`` uses exact interpolated percentiles for
    small-SF oracle parity); the fences are then a broadcast-joined
    constant row, and ONE filter scan emits the violating rows via an
    array-of-structs + explode entirely in codegen — no per-row
    Python, no shuffle on the data side.

    ``round_bounds``: round the fences to N decimals before comparing
    — makes the violation SET reproducible across engines whose
    interpolated quantiles differ in the last ulp (used by the DuckDB
    oracle query; leave None for pure-Spark use).

    Returns: key_cols..., column, value, lo, hi (value/fences rounded
    to 6 for display)."""
    cols = list(columns)
    aggs = []
    for c in cols:
        q = (F.percentile_approx(F.col(c), [0.25, 0.75]) if approx
             else F.percentile(F.col(c),
                               F.array(F.lit(0.25), F.lit(0.75))))
        aggs.append(q.alias(f"{c}__q"))
    bounds = df.agg(*aggs)

    joined = df.select(*key_cols, *cols).crossJoin(F.broadcast(bounds))
    arms = []
    for c in cols:
        q1, q3 = F.col(f"{c}__q")[0], F.col(f"{c}__q")[1]
        lo = q1 - F.lit(factor) * (q3 - q1)
        hi = q3 + F.lit(factor) * (q3 - q1)
        if round_bounds is not None:
            lo, hi = F.round(lo, round_bounds), F.round(hi, round_bounds)
        arms.append(F.struct(
            F.lit(c).alias("column"),
            F.col(c).cast("double").alias("value"),
            lo.alias("lo"), hi.alias("hi")))
    viol = F.filter(
        F.array(*arms),
        lambda s: s["value"].isNotNull()
        & ((s["value"] < s["lo"]) | (s["value"] > s["hi"])))
    return (joined
            .select(*key_cols, F.explode(viol).alias("__o"))
            .select(*key_cols,
                    F.col("__o.column").alias("column"),
                    F.round(F.col("__o.value"), 6).alias("value"),
                    F.round(F.col("__o.lo"), 6).alias("lo"),
                    F.round(F.col("__o.hi"), 6).alias("hi")))


def stats_profile(df: DataFrame,
                  columns: Optional[Sequence[str]] = None,
                  rsd: float = 0.05) -> DataFrame:
    """Sketch-based profile (HLL distinct, GK quantiles) — the 100 TB
    path. Note: the north_star names t-digest for quantiles; Spark's
    built-in mergeable quantile sketch is Greenwald-Khanna
    (percentile_approx), which serves the same role (bounded-size,
    mergeable, tunable accuracy) JVM-side. Bounded memory, mergeable
    partials."""
    return _profile(df, columns, approx=True, rsd=rsd)


def stats_profile_exact(df: DataFrame,
                        columns: Optional[Sequence[str]] = None
                        ) -> DataFrame:
    """Exact profile (countDistinct, exact interpolated percentiles) —
    used for DuckDB-oracle cross-checks at small SF; one extra shuffle
    per distinct column vs the sketch path."""
    return _profile(df, columns, approx=False)
