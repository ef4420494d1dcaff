"""SparkSession factory with scale-aware defaults.

``get_spark()`` sizes the session from the host it runs on:

- ``local[cpus]``, where ``cpus`` is the argument, else
  ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on;
- ``spark.sql.shuffle.partitions`` = ``cpus``. A stateful streaming
  operator does not coalesce its partitions under AQE: every
  micro-batch, the no-data batch that fires timeouts included, runs one
  task per state partition, and each Python state task has a fixed
  cost. One partition per core runs that batch in one wave of tasks.
  A stateful query keeps the count its checkpoint was started with;
- a quarter of physical memory (at least 1g) as driver memory.

Explicit arguments win. Large batch jobs should pass
``shuffle_partitions``: AQE coalesces small shuffles, but the count
still sets the map side. The configuration block (AQE, skew join,
Arrow) is the one to ship to a cluster via spark-submit --py-files —
only master, partitions and memory change.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession, functions as F


def checkpoint_partitioned(df):
    """``localCheckpoint(eager=True)`` that PRESERVES the plan's output
    partitioning. Under AQE the materialized plan is an
    AdaptiveSparkPlan, which reports UnknownPartitioning to the
    LogicalRDD wrapper — every downstream join/groupBy on the
    partitioning key then re-exchanges (measured in r6's jaccard and
    ordering plans). Disabling AQE for just the materialization keeps
    the HashPartitioning visible, so co-partitioned consumers run
    exchange-free; the checkpointed data is identical either way."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def literal_frame(spark, rows: list, schema: str):
    """A small DataFrame of ``rows`` (dicts keyed by the field names of
    the DDL ``schema``), built in the JVM: one JSON literal parsed with
    ``from_json`` and ``inline``d over a one-partition range. Unlike
    ``createDataFrame`` of a Python list, it starts no Python worker
    and does not depend on the Arrow conf, and a write of it makes one
    file. JSON round-trips Python ints, floats and strings exactly."""
    return spark.range(1, numPartitions=1).select(F.inline(F.from_json(
        F.lit(json.dumps(rows)), f"array<struct<{schema}>>")))


def _sizes(cpus, shuffle_partitions, driver_memory):
    """(cpus, shuffle partitions, driver memory) for ``get_spark``:
    explicit values win, then ``$SPARK_GRAFT_CPUS``, then the host."""
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    if not driver_memory:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        driver_memory = f"{max(1, (phys // 4) >> 30)}g"
    return cpus, int(shuffle_partitions or cpus), driver_memory


def get_spark(app_name: str = "validify-spark",
              cpus: int | str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus, shuffle_partitions, driver_memory = _sizes(
        cpus, shuffle_partitions, driver_memory)
    b = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate puts size(e)>0 below every explode
        # with the generator expression SUBSTITUTED — for the shingling
        # operators (5-gram regexp_extract_all over full documents) the
        # most expensive expression in the suite then runs ~2x per row
        # (measured in token_stats' plan: the same regex in Filter and
        # Project). The inferred filter only pays off when exploded
        # arrays are often empty AND a shuffle follows the generate;
        # neither holds anywhere in this library — shingle arrays are
        # almost never empty and every explode is consumed in-stage.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # allow shuffled-hash joins when the per-partition build side
        # fits (guide §9): skips the per-side sorts a sort-merge join
        # pays — e.g. the transcript-diff full-outer join over digest
        # rows. AQE's OOM guard (size checks) still applies; sort-merge
        # remains the fallback for oversized build sides.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark's DataFrame debugging records the Python call site of
        # every API call (functions.*, Column ops) in the JVM: about four
        # extra py4j round trips per call. Building one audit commit
        # batch made 4,300 py4j calls with it on and 1,500 with it off;
        # the cost is per plan, so it dominates short queries. Errors
        # still carry the JVM stack and the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
