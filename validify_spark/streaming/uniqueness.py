"""Streaming uniqueness check on a declared key — the ingest-side
twin of checks/uniqueness.py (north_star uniqueness on
(conv_id, turn_idx)), and the violation-EMITTING complement of
streaming/dedup.py's first-occurrence-wins dedup: dedup silently keeps
the first row per key; a validation pipeline additionally wants the
duplicate arrivals AS violation rows, including cross-micro-batch
duplicates that a per-batch groupBy can never see.

Scale shape: one shuffle (the groupBy(keys) any stateful operator
needs); state per live key is a single (first_seen, n_seen, max_ts)
triple, dropped by an event-time timeout once the watermark passes
``max_ts + ttl`` — bounded by keys seen within one ttl+watermark
horizon, the same retention contract as ``dropDuplicatesWithinWatermark``.
Without ``ts_col`` the state never expires (exact, unbounded — only
for finite backfills).

Emission: one row per DUPLICATE arrival (the first occurrence of a
key is not a violation), with the key's running multiplicity AFTER
that arrival — so the highest ``dup_count`` per key equals the batch
check's ``dup_count`` on the same data, and filtering
``dup_count = 2`` gives exactly one row per duplicated key (asserted
by tests/test_stream_uniqueness.py).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

from ._util import batch_frame, dur_ms, expire_after

# max_ts_ms of a key with no timestamped occurrence yet
_NO_TS = -2**62


def stream_uniqueness_violations(stream_df: DataFrame,
                                 keys: Sequence[str],
                                 ts_col: Optional[str] = None,
                                 ttl: str = "1 hour",
                                 watermark: str = "1 hour") -> DataFrame:
    """Duplicate-key arrivals on a stream (append mode).

    Output: <keys...>, dup_count (multiplicity including this
    arrival; ≥ 2). With ``ts_col``, state for a key is dropped once
    the watermark passes its newest event + ``ttl`` — a duplicate
    arriving later than that is judged as a fresh key, mirroring
    ``dropDuplicatesWithinWatermark`` retention.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = list(keys)
    ftypes = {f.name: f.dataType.simpleString()
              for f in stream_df.schema.fields}
    out_schema = ", ".join(f"{k} {ftypes[k]}" for k in keys) \
        + ", dup_count long"
    state_schema = "n_seen long, max_ts_ms long"
    ttl_ms = dur_ms(ttl)
    use_ts = ts_col is not None

    src = stream_df.select(*keys, *([ts_col] if use_ts else []))
    if use_ts:
        src = src.withWatermark(ts_col, watermark)

    def empty():
        return pd.DataFrame({**{k: [] for k in keys}, "dup_count": []})

    def fn(key, pdfs, state):
        import numpy as np
        if state.hasTimedOut:
            state.remove()
            yield empty()
            return
        n_seen, max_ts_ms = state.get if state.exists else (0, _NO_TS)
        pdf = batch_frame(pdfs)
        if pdf is None:
            yield empty()
            return
        if use_ts:
            # The ttl is enforced against EVENT time here, not only
            # via the state timeout: the watermark (which drives
            # timeouts) lags arrivals by a batch, so during a replay a
            # "fresh" key can meet state that should already have
            # expired. Sorting by ts makes the running max == the
            # previous value, so expiry points are where the sorted
            # gap exceeds ttl. NULL ts sorts first and never expires
            # anything, and only a timestamped earlier occurrence can
            # expire a row (NULL-ts occurrences keep counting).
            pdf = pdf.sort_values(ts_col, na_position="first",
                                  kind="stable")
            ts_ns = pdf[ts_col].values.astype("int64", copy=False)
            valid = ~pdf[ts_col].isna().to_numpy()
            ts_ms = np.where(valid, ts_ns // 10**6, np.int64(_NO_TS))
            prev = np.maximum.accumulate(
                np.concatenate(([max_ts_ms], ts_ms[:-1])))
            resets = valid & (prev != _NO_TS) & (ts_ms > prev + ttl_ms)
            seg = np.cumsum(resets)
            # position within the current segment
            seg_start = np.zeros(len(pdf), dtype=np.int64)
            idx = np.nonzero(resets)[0]
            for i in idx:  # ≤ a handful of expiry points per batch
                seg_start[i:] = i
            pos = np.arange(len(pdf)) - seg_start + 1
            counts = np.where(seg == 0, pos + n_seen, pos)
            n_seen = int(counts[-1])
            if valid.any():
                max_ts_ms = max(max_ts_ms, int(ts_ms[valid].max()))
        else:
            counts = n_seen + np.arange(1, len(pdf) + 1)
            n_seen = int(counts[-1])
        dup_counts = [int(c) for c in counts if c >= 2]
        state.update((n_seen, max_ts_ms))
        if use_ts:
            expire_after(state, max_ts_ms, ttl_ms)
        yield pd.DataFrame({**{k: [key[i]] * len(dup_counts)
                               for i, k in enumerate(keys)},
                            "dup_count": dup_counts})

    return (src.groupBy(*keys)
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout if use_ts
                else GroupStateTimeout.NoTimeout))
