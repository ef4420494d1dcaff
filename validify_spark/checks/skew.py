"""Explicit skew handling for hot keys (north_rule: "explicit salting
and AQE-handled skew on hot conv_ids").

Two complementary mechanisms:

1. AQE (always on via session.py): splits skewed shuffle partitions at
   runtime — covers joins and final aggregations.
2. Explicit salting (this module): for grouped computations whose
   per-key state grows with group size (collect_list, long string
   aggs, exact distinct within key), where AQE cannot help because a
   single key's rows MUST meet. Salting splits each key into
   ``n_salts`` subgroups, aggregates partially per (key, salt), then
   merges the partials per key — two small shuffles instead of one
   skewed one, bounding any single task's state to |key|/n_salts rows.

Plain hash aggregations (count, sum, min, max, approx sketches) do NOT
need salting: Spark's partial aggregation already combines map-side, so
a hot conv_id contributes one partial row per input partition.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salts: int = 16,
              seed: int = 42) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts) — hash of all columns
    rather than rand() so retried tasks produce identical salts
    (determinism requirement; rand() breaks idempotent re-runs)."""
    return df.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns],
                          F.lit(seed)), F.lit(n_salts)).cast("int"))


def salted_agg(df: DataFrame, keys: Sequence[str],
               partial_aggs: Sequence[Column],
               merge_aggs: Sequence[Column],
               n_salts: int = 16) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``partial_aggs``: aggregate expressions evaluated per (keys, salt);
    ``merge_aggs``: expressions merging the partials per keys. The
    partial outputs must be aliased, and merge expressions reference
    those aliases.

    Example — per-conversation totals robust to 100x-hot conv_ids:
        salted_agg(turns, ["conv_id"],
                   [F.count("*").alias("n"),
                    F.sum(F.length("text")).alias("chars")],
                   [F.sum("n").alias("n_turns"),
                    F.sum("chars").alias("total_chars")])
    """
    partial = (with_salt(df, n_salts)
               .groupBy(*keys, SALT_COL)
               .agg(*partial_aggs))
    return partial.groupBy(*keys).agg(*merge_aggs)


def heavy_hitters(df: DataFrame, cols: Sequence[str],
                  k: int = None, min_share: float = None,
                  extra_aggs: Sequence[Column] = ()) -> DataFrame:
    """Exact hot-key detection — the diagnosis step that decides WHICH
    keys need ``salted_agg``/AQE treatment (north_rule: "explicit
    salting and AQE-handled skew on hot conv_ids").

    100 TB shape: ``groupBy().count()`` partial-aggregates map-side, so
    a 10^9-row hot key contributes ONE partial row per input partition
    (the count itself never skews); ``orderBy(...).limit(k)`` compiles
    to TakeOrderedAndProject — per-partition top-k merged on the
    driver, no global sort. ``min_share`` filters by share of total
    rows instead of rank (one extra tiny broadcast of the 1-row total).
    ``extra_aggs`` piggybacks additional per-key metrics (e.g. sum of
    a cost column) onto the same single-scan aggregation. Ties at the
    k boundary break deterministically by key ascending."""
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_rows"),
                                   *extra_aggs)
    if min_share is not None:
        total = counts.agg(F.sum("n_rows").alias("__total"))
        counts = (counts.crossJoin(F.broadcast(total))
                  .filter(F.col("n_rows")
                          >= F.col("__total") * F.lit(min_share))
                  .drop("__total"))
    if k is not None:
        counts = counts.orderBy(
            F.desc("n_rows"), *[F.asc(c) for c in cols]).limit(k)
    return counts


def heavy_hitters_sketch(df: DataFrame, cols: Sequence[str],
                         k: int = 10, capacity: int = 4096) -> DataFrame:
    """Misra-Gries heavy-hitter sketch — the bounded-memory path for
    key domains too large to hash-aggregate exactly (e.g. distinct
    conv_ids at 10^12 turns). Each partition keeps at most ``capacity``
    counters, folding Arrow batches in and applying the MG reduction
    on overflow (subtract the (capacity+1)-th largest count from every
    counter, drop the non-positive); partial summaries then merge with
    a plain sum groupBy — the merged counts are LOWER bounds, and any
    key with true frequency > n_partition/(capacity+1) summed over
    partitions is guaranteed to survive. NULL keys are excluded.

    Returns top-``k`` rows (cols..., n_rows_min) by the merged lower
    bound, ties broken by key ascending. With capacity >= the true
    distinct count the result is exact (pytest-verified against
    heavy_hitters).

    Why a Python pass here: exact :func:`heavy_hitters` shuffles every
    distinct key, while this pass shuffles at most ``capacity`` keys
    per partition. Spark's only built-in alternative,
    ``DataFrame.freqItems``, returns candidates without counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cols = list(cols)
    out_schema = T.StructType(
        [df.schema[c] for c in cols]
        + [T.StructField("n_rows_min", T.LongType())])

    def _mg(batches):
        d: dict = {}
        for pdf in batches:
            vc = pdf.dropna().groupby(cols, sort=False).size()
            for key, cnt in vc.items():
                kk = key if isinstance(key, tuple) else (key,)
                d[kk] = d.get(kk, 0) + int(cnt)
            if len(d) > capacity:
                vals = np.fromiter(d.values(), dtype="int64")
                cut_i = len(d) - capacity - 1
                cut = int(np.partition(vals, cut_i)[cut_i])
                d = {kk: v - cut for kk, v in d.items() if v > cut}
        if d:
            yield pd.DataFrame(
                [(*kk, v) for kk, v in d.items()],
                columns=cols + ["n_rows_min"])

    merged = (df.select(*cols)
              .mapInPandas(_mg, out_schema)
              .groupBy(*cols)
              .agg(F.sum("n_rows_min").alias("n_rows_min")))
    return merged.orderBy(
        F.desc("n_rows_min"), *[F.asc(c) for c in cols]).limit(k)


def salted_collect_list(df: DataFrame, keys: Sequence[str],
                        value: str, n_salts: int = 16) -> DataFrame:
    """collect_list per key without a single-task hot-key bottleneck:
    per-salt partial lists, flattened at merge. Ordering within the
    list is not guaranteed (sort afterwards if needed)."""
    return salted_agg(
        df, keys,
        [F.collect_list(value).alias("_part")],
        [F.flatten(F.collect_list("_part")).alias(f"{value}_list")],
        n_salts=n_salts)
