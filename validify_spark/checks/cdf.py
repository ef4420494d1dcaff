"""Exact two-sample empirical-CDF drift statistics, distributed — the
binning-free complement to the KL/PSI histogram drift family
(north_star "distribution-drift on ... text-length histograms"):

- KS:  D  = sup_x |F_l(x) − F_r(x)|       (how far the CDFs get apart)
- W1:  ∫ |F_l(x) − F_r(x)| dx              (how much mass moves, how far)
- CvM: n0·n1/(n0+n1)² · Σ over distinct pooled values of
       (pooled multiplicity) · (F_l − F_r)²  (body-of-distribution shape)

All three read the same CDF differences, each taken after a value's
whole tie group, so one pass computes all three.

Scale shape (the prefix-sum problem without a global sort):

1. union both samples with a side tag ``s``, NULL/NaN dropped, and
   ``localCheckpoint`` the slim (v, s) projection once: every later
   job reads that materialization, so inputs on expensive lineage are
   computed exactly once. The blocks are released by the context
   cleaner once the returned DataFrame is dropped.
2. derive a DETERMINISTIC value bucket ``b`` per row from explicit
   approxQuantile cuts. (Not ``repartitionByRange``: its boundaries
   are re-sampled per action, so two jobs could disagree on where a
   row lands — the bucket expression is a pure function of the value,
   so a tie group never straddles two buckets.)
3. per-bucket (n0, n1, min v) — one small collect (≤ p rows); the
   driver turns the counts into prefix offsets, the exact cumulative
   counts at each bucket's start, and records each bucket's successor
   minimum.
4. one window over the rows, partitioned by ``b`` and ordered by
   ``v``, gives the CDFs (offsets inlined as literal maps plus the
   running side counts) and W1's widths (``lead(v)``, or the next
   bucket's minimum at a bucket's end). One aggregate reads max,
   Σ d·gap and Σ d² (a tie group's rows share one d, so the sum over
   rows is the pooled-multiplicity sum).

The rows are not first grouped by ``(b, v)``: that halves the time on
heavily tied samples but costs a hash aggregate over every distinct
value. The column of the one caller, the oracle ``drift`` query
(TPC-H ``o_totalprice``), is all-distinct but for 0.34 % of its rows,
and there the grouped form measured slower than this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _lit_map(d: dict, typ: str):
    """Literal map column (constant-folded by Catalyst)."""
    return F.create_map(*[x for k, v in sorted(d.items())
                          for x in (F.lit(k), F.lit(v).cast(typ))])


def _two_sample_stats(left: DataFrame, left_col: str,
                      right: DataFrame, right_col: str | None,
                      num_partitions: int | None,
                      round_to: int, caller: str) -> DataFrame:
    """1-row (d, w1, cvm, n_left, n_right) over the two samples."""
    right_col = right_col or left_col
    spark = left.sparkSession
    # buckets are PARALLELISM units, not precision — the statistics
    # are exact at any p. Cap at 256: beyond that the p-1 chained
    # when() cut expressions stop buying wall-clock and start costing
    # Catalyst tree depth / codegen size (same ballooning-expression
    # class streaming/profile.py guards with its 512-bucket limit),
    # and defaultParallelism on a real cluster can be in the
    # thousands.
    p = min(num_partitions or spark.sparkContext.defaultParallelism,
            256)

    u = (left.select(F.col(left_col).cast("double").alias("v"),
                     F.lit(0).alias("s"))
         .unionAll(right.select(F.col(right_col).cast("double")
                                .alias("v"), F.lit(1).alias("s")))
         .filter(F.col("v").isNotNull() & ~F.isnan("v"))
         .localCheckpoint(eager=True))
    cuts = (sorted(set(u.approxQuantile(
        "v", [i / p for i in range(1, p)], 0.01))) if p > 1 else [])
    bkt = F.lit(0)
    for c in cuts:
        bkt = bkt + F.when(F.col("v") >= c, 1).otherwise(0)
    ub = u.select("v", "s", bkt.alias("b"))

    c0 = F.count(F.when(F.col("s") == 0, 1)).alias("c0")
    c1 = F.count(F.when(F.col("s") == 1, 1)).alias("c1")
    rows = sorted(ub.groupBy("b").agg(c0, c1, F.min("v").alias("lo"))
                  .collect(), key=lambda r: r["b"])
    n0 = sum(r["c0"] for r in rows)
    n1 = sum(r["c1"] for r in rows)
    if n0 == 0 or n1 == 0:
        raise ValueError(f"{caller}: a side has no non-null values")
    off0, off1, nxt, run0, run1 = {}, {}, {}, 0, 0
    for r, r_next in zip(rows, rows[1:] + [None]):
        off0[r["b"]], off1[r["b"]] = run0, run1
        run0 += r["c0"]
        run1 += r["c1"]
        nxt[r["b"]] = r_next["lo"] if r_next else None

    # the default frame of an ordered window is RANGE ... CURRENT ROW:
    # it spans the row's whole tie group, so every row reads the CDFs
    # after its group (the KS tie convention); lead(v) − v is 0 inside
    # a group and the width to the next value on the group's last row
    w = Window.partitionBy("b").orderBy("v")
    f0 = (_lit_map(off0, "long")[F.col("b")]
          + F.sum(1 - F.col("s")).over(w)) / F.lit(float(n0))
    f1 = (_lit_map(off1, "long")[F.col("b")]
          + F.sum("s").over(w)) / F.lit(float(n1))
    gap = F.coalesce(F.lead("v").over(w),
                     _lit_map(nxt, "double")[F.col("b")]) - F.col("v")
    cdf = ub.repartition(p, "b").select(F.abs(f0 - f1).alias("d"),
                                        gap.alias("gap"))
    scale = (n0 * n1) / float(n0 + n1) ** 2
    d = F.col("d")
    return cdf.agg(
        F.round(F.max(d), round_to).alias("d"),
        F.round(F.coalesce(F.sum(d * F.col("gap")), F.lit(0.0)),
                round_to).alias("w1"),
        F.round(F.sum(d * d) * F.lit(scale), round_to).alias("cvm"),
        F.lit(n0).cast("long").alias("n_left"),
        F.lit(n1).cast("long").alias("n_right"))


def cdf_drift(left: DataFrame, left_col: str,
              right: DataFrame, right_col: str | None = None,
              num_partitions: int | None = None,
              round_to: int = 6) -> DataFrame:
    """All three exact CDF drift statistics from ONE pass: (d, w1,
    cvm, n_left, n_right) — KS's sup |F_l − F_r|, Wasserstein-1's
    ∫ |F_l − F_r| dx, and Cramér–von Mises' pooled-measure
    Σ (F_l − F_r)² all read the same after-group CDF differences, so
    a drift monitor wanting any two should call this, not the
    wrappers. The three disagree on purpose: KS is the sup (localized
    gaps), W1 weights by distance (mean shifts), CvM weights by
    pooled mass (body-of-distribution shape changes). NULL/NaN values
    are excluded (they have no position on the real line); a side with
    none left raises ``ValueError``."""
    return _two_sample_stats(left, left_col, right, right_col,
                             num_partitions, round_to, "cdf_drift")


def ks_statistic(left: DataFrame, left_col: str,
                 right: DataFrame, right_col: str | None = None,
                 num_partitions: int | None = None,
                 round_to: int = 6) -> DataFrame:
    """Exact two-sample KS over a numeric column of each side: 1-row
    (d, n_left, n_right). See :func:`cdf_drift`."""
    return _two_sample_stats(left, left_col, right, right_col,
                             num_partitions, round_to,
                             "ks_statistic").select(
        "d", "n_left", "n_right")


def wasserstein_distance(left: DataFrame, left_col: str,
                         right: DataFrame, right_col: str | None = None,
                         num_partitions: int | None = None,
                         round_to: int = 6) -> DataFrame:
    """Exact W1 between the empirical distributions of a numeric
    column of each side: 1-row (w1, n_left, n_right). Matches
    ``scipy.stats.wasserstein_distance`` on the same samples
    (equal-weight empirical measures). See :func:`cdf_drift`."""
    return _two_sample_stats(left, left_col, right, right_col,
                             num_partitions, round_to,
                             "wasserstein_distance").select(
        "w1", "n_left", "n_right")


def cvm_statistic(left: DataFrame, left_col: str,
                  right: DataFrame, right_col: str | None = None,
                  num_partitions: int | None = None,
                  round_to: int = 6) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic (pooled-empirical-
    measure integral convention, ties read after their whole group):
    1-row (cvm, n_left, n_right). See :func:`cdf_drift`."""
    return _two_sample_stats(left, left_col, right, right_col,
                             num_partitions, round_to,
                             "cvm_statistic").select(
        "cvm", "n_left", "n_right")
