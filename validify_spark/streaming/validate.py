"""Structured Streaming validation.

The rule compiler emits stateless projections/filters, so the exact
same compiled expressions run unchanged on a streaming DataFrame —
``readStream`` → modify → validate → violations stream → ``writeStream``.
Watermarked windowed aggregation gives per-window pass/fail metrics with
late-data tolerance (SURVEY.md steering: watermarks + windowed aggs).

The batch/stream parity is structural, and tested: the violations of a
file-streamed table (availableNow trigger) equal the batch engine's
violations on the same data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine import ValidationEngine
from ._util import batch_frame


def stream_violations(engine: ValidationEngine,
                      stream_df: DataFrame) -> DataFrame:
    """Violations as a streaming DataFrame (append-mode friendly:
    stateless projection + filter + explode, no aggregation state).
    A micro-batch runs phase 1, phase 2 and the explode in one stage,
    the same plan as a batch frame."""
    return engine.violations(stream_df)


def stream_ordering_violations(stream_df: DataFrame,
                               conv_col: str = "conv_id",
                               idx_col: str = "turn_idx",
                               ts_col: str = "ts") -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    per-conversation ordering invariants — duplicate turn_idx, index
    gaps, timestamps moving backwards — detected ACROSS micro-batches.

    The stateless window-lag formulation (checks/ordering.py) can only
    compare rows within one batch; this keeps (last_idx, last_ts) per
    conv_id in Spark-managed group state, so a turn arriving in batch
    N+1 is checked against the conversation's tail from batch N. Within
    a batch rows are sorted by (idx, ts) with NULLs first — the same
    stable ordering as the batch check, so a single-batch run is
    bit-identical to ``ordering_violations``.

    Output: <conv_col>, <idx_col>, code ∈ {'dup_turn_idx',
    'turn_idx_gap', 'ts_out_of_order'} (append mode)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ftypes = {f.name: f.dataType.simpleString()
              for f in stream_df.schema.fields}
    out_schema = (f"{conv_col} {ftypes[conv_col]}, "
                  f"{idx_col} {ftypes[idx_col]}, code string")
    # state: previous row's idx/ts plus null-ness flags (the batch
    # check compares against the immediately-previous row even when
    # that row's fields are NULL)
    state_schema = ("last_idx long, last_ts_us long, "
                    "has_idx boolean, has_ts boolean")

    def fn(key, pdfs, state):
        if state.exists:
            last_idx, last_ts_us, has_idx, has_ts = state.get
        else:
            last_idx, last_ts_us, has_idx, has_ts = 0, 0, False, False
        convs, idxs, codes = [], [], []
        conv = key[0]

        def emit(i, code):
            convs.append(conv)
            idxs.append(i)
            codes.append(code)

        # sorting per Arrow chunk would compare rows across unsorted
        # chunk boundaries, so join the group's chunks first and sort
        # ONCE — this is what keeps a single-batch run bit-identical
        # to the batch ordering check
        pdf = batch_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values([idx_col, ts_col],
                                  na_position="first", kind="stable")
            for idx, ts in zip(pdf[idx_col], pdf[ts_col]):
                idx_ok = not pd.isna(idx)
                ts_ok = not pd.isna(ts)
                if idx_ok and has_idx:
                    if int(idx) == last_idx:
                        emit(int(idx), "dup_turn_idx")
                    elif int(idx) > last_idx + 1:
                        emit(int(idx), "turn_idx_gap")
                if ts_ok and has_ts and ts.value // 1000 < last_ts_us:
                    emit(int(idx) if idx_ok else None,
                         "ts_out_of_order")
                has_idx = idx_ok
                last_idx = int(idx) if idx_ok else 0
                has_ts = ts_ok
                last_ts_us = int(ts.value // 1000) if ts_ok else 0
        state.update((last_idx, last_ts_us, has_idx, has_ts))
        yield pd.DataFrame({conv_col: convs, idx_col: idxs,
                            "code": codes})

    return (stream_df
            .select(conv_col, idx_col, ts_col)
            .groupBy(conv_col)
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.NoTimeout))


def stream_partition_metrics(engine: ValidationEngine,
                             stream_df: DataFrame,
                             ts_col: str = "ts",
                             window: str = "1 hour",
                             watermark: str = "2 hours") -> DataFrame:
    """Per-event-time-window validation metrics with a watermark for
    late data: (window, n_rows, n_failed_rows, passed). Append output
    mode — windows finalize when the watermark passes."""
    src = (engine.with_valid_flag(stream_df, "__is_valid")
           .withWatermark(ts_col, watermark))
    failed = (~F.col("__is_valid")).cast("long")
    return (src
            .groupBy(F.window(F.col(ts_col), window).alias("window"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(failed).alias("n_failed_rows"))
            .withColumn("passed", F.col("n_failed_rows") == 0))
