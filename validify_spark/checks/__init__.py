"""Distributed-only checks — the constraints validify cannot express from
inside one record (BASELINE.json north_star): column stats profiles,
uniqueness, referential integrity, distribution drift, ordering
invariants. Each is a separate composable job over the shared scan
(SURVEY.md §2.8). Every approximate quantile (stats_profile,
outliers_iqr, tdigest_quantiles, the CDF drift cuts) comes from
Spark's Greenwald-Khanna sketch."""

from .stats import outliers_iqr, stats_profile, stats_profile_exact
from .tdigest import tdigest_quantiles
from .uniqueness import uniqueness_violations
from .referential import referential_orphans
from .drift import categorical_histogram, drift_report, length_histogram
from .ordering import ordering_violations
from .conversation import conversation_shape_violations
from .convrules import conversation_rules
from .diffcheck import transcript_diff
from .cdf import (cdf_drift, cvm_statistic, ks_statistic,
                  wasserstein_distance)
from .skew import (heavy_hitters, heavy_hitters_sketch,
                   salted_agg, salted_collect_list, with_salt)

__all__ = [
    "stats_profile", "stats_profile_exact", "outliers_iqr",
    "tdigest_quantiles",
    "uniqueness_violations",
    "referential_orphans", "categorical_histogram", "length_histogram",
    "drift_report", "ordering_violations",
    "conversation_shape_violations", "conversation_rules",
    "transcript_diff", "ks_statistic",
    "wasserstein_distance", "cdf_drift", "cvm_statistic",
    "salted_agg", "salted_collect_list", "with_salt",
    "heavy_hitters", "heavy_hitters_sketch",
]
