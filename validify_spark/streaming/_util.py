"""Shared helpers for the streaming operators, and the two state
kernels the stateful ones are built on:

- ``session_turns``: per-conversation turn state, finalized once the
  watermark passes the newest turn + session gap
  (stream_conversation_shape, stream_conversation_rules).
- ``banded_pairs``: per-(band, bucket) near-dup state with a ttl match
  window and a ttl + watermark retention prune (stream_simhash_pairs,
  stream_minhash_pairs).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

_MULT_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000}


def dur_ms(spec: str) -> int:
    """'10 minutes' / '1 hour' / '30 seconds' → milliseconds. The
    grammar is the subset of Spark's CalendarInterval the streaming
    operators accept for gaps/ttls (single integer + unit)."""
    n, unit = spec.split()
    return int(n) * _MULT_MS[unit.rstrip("s")]


def dur_us(spec: str) -> int:
    """Same grammar, microseconds."""
    return dur_ms(spec) * 1000


def batch_frame(pdfs):
    """One group's Arrow chunks of this micro-batch as one frame (None
    when it brought no rows). The state operator hands a group over
    in chunks of ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows; every operator that sorts or counts must see them joined."""
    import pandas as pd
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    return (pd.concat(frames, ignore_index=True) if len(frames) > 1
            else frames[0])


def expire_after(state, max_ts_ms: int, horizon_ms: int) -> None:
    """Event-time timeout at the group's newest event + horizon. The
    timeout must sit ABOVE the current watermark, so a group whose
    horizon already elapsed (bulk replay of old data) times out one
    batch later via a minimal timeout."""
    state.setTimeoutTimestamp(
        max(max_ts_ms + horizon_ms, state.getCurrentWatermarkMs() + 1))


def split_fragments(idxs: list, ts_us: list, gap_us: int) -> list:
    """Session-gap fragmentation of one conversation's accumulated
    turns. The split happens HERE, not only via the state timeout:
    during a bulk replay the watermark lags arrivals, so turns
    separated by hours of event time can land in state before the
    first fragment's timeout fires. Splitting wherever consecutive
    event times differ by more than the gap makes fragment semantics
    independent of arrival batching; the timeout's only job is
    bounding state lifetime. Rows with NULL ts sort first and never
    force a split (no temporal position). Returns a list of fragments,
    each a list of positions into the input arrays in event-time
    order."""
    t_order = sorted(
        range(len(idxs)),
        key=lambda k: (ts_us[k] is not None, ts_us[k] or 0))
    frags, cur, prev_ts = [], [], None
    for k in t_order:
        t = ts_us[k]
        if (cur and t is not None and prev_ts is not None
                and t - prev_ts > gap_us):
            frags.append(cur)
            cur = []
        cur.append(k)
        if t is not None:
            prev_ts = t
    if cur:
        frags.append(cur)
    return frags


def order_turns(frag: list, idxs: list, ts_us: list) -> list:
    """Within-fragment turn order: None-first (idx, ts) — the batch
    checks' deterministic struct array_sort tie-break."""
    return sorted(
        frag,
        key=lambda k: (idxs[k] is not None, idxs[k] or 0,
                       ts_us[k] is not None, ts_us[k] or 0))


def session_turns(stream_df: DataFrame, *, conv_col: str, idx_col: str,
                  ts_col: str, fields: Sequence, state_schema: str,
                  out_schema: str, finalize: Callable,
                  watermark: str, session_gap: str) -> DataFrame:
    """The session-finalize kernel. Per ``conv_col`` the state holds
    the turns as parallel arrays ``(idxs, ts_us, <one per field>,
    max_ts_ms)`` — ``state_schema`` names them. ``fields`` is a list
    of ``(column, coerce)`` pairs carried beside idx and ts.

    Once the watermark passes the newest turn + ``session_gap``, the
    turns are split on event-time gaps (``split_fragments``), each
    fragment is put in None-first (idx, ts) order (``order_turns``),
    and ``finalize(conv, fragments)`` returns the output frame; each
    fragment is a list of column lists ``[idxs, ts_us, *fields]``.
    Then the state is dropped. Turns without an event time wait one
    gap past the watermark their first timeout fires at.
    ``finalize(conv, [])`` must give the empty output frame, which
    every other call emits."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = dur_ms(session_gap)

    def fn(key, pdfs, state):
        conv = key[0]
        if state.exists:
            *cols, max_ts_ms = state.get
            cols = [list(c) for c in cols]
        else:
            cols, max_ts_ms = [[] for _ in range(2 + len(fields))], 0
        if state.hasTimedOut:
            if max_ts_ms == 0 and all(t is None for t in cols[1]):
                # no turn has an event time yet: start the session
                # clock here, so later timestamped turns still join
                max_ts_ms = state.getCurrentWatermarkMs()
            else:
                state.remove()
                idxs, ts_us = cols[:2]
                frags = []
                for frag in split_fragments(idxs, ts_us, gap_ms * 1000):
                    order = order_turns(frag, idxs, ts_us)
                    frags.append([[c[k] for k in order] for c in cols])
                yield finalize(conv, frags)
                return
        pdf = batch_frame(pdfs)
        if pdf is not None:
            # column-wise extraction: no per-row dicts, and immune to
            # itertuples' silent renaming of non-identifier columns
            new_us = [None if pd.isna(v) else int(v.value // 1000)
                      for v in pdf[ts_col]]
            cols[0] += [None if pd.isna(v) else int(v)
                        for v in pdf[idx_col]]
            cols[1] += new_us
            for (c, py), acc in zip(fields, cols[2:]):
                acc += [None if pd.isna(v) else py(v) for v in pdf[c]]
            got_us = [u for u in new_us if u is not None]
            if got_us:
                max_ts_ms = max(max_ts_ms, max(got_us) // 1000)
        state.update((*cols, max_ts_ms))
        expire_after(state, max_ts_ms, gap_ms)
        yield finalize(conv, [])

    return (stream_df
            .select(conv_col, idx_col, ts_col, *[c for c, _ in fields])
            .withWatermark(ts_col, watermark)
            .groupBy(conv_col)
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout))


def banded_pairs(stream_df: DataFrame, *, id_col: str,
                 ts_col: Optional[str], ttl: Optional[str],
                 watermark: str, project: Callable, match: Callable,
                 state_schema: str, value: str) -> DataFrame:
    """The banded near-dup kernel. ``project(rows)`` maps the stream,
    given as ``__id, __ts_us`` plus its own columns, to ``__id,
    __ts_us, __fp`` (the fingerprint kept in state) and ``__buckets``
    (one bucket value per band). Each (band, bucket) group keeps
    ``(ids, fps, tss)`` of the docs it has seen; ``state_schema``
    names the three arrays.

    Within a micro-batch docs arrive in (ts, id) order. A re-delivered
    id is ignored (first sight wins: a second entry would emit every
    later pair twice). An arriving doc meets the entries at most
    ``ttl`` older than its own event time: ``match(fp, band,
    others)`` yields ``(j, v)`` for each ``others[j]`` it pairs with at
    this band (and at no lower band), and the kernel emits ``id_a <
    id_b`` plus ``v`` under the name and type in ``value``. After the
    batch, entries older than ``ttl + watermark`` behind the bucket's
    newest event are pruned.

    With ``ts_col`` the input is watermarked and rows with a NULL
    event time are dropped before the state: they have no place on
    the ttl clock. Without ``ts_col`` (or ``ttl``) state grows with
    distinct docs (tests/small streams only)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    id_type = dict(stream_df.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{id_col!r} must be an integral column for the packed "
            f"fingerprint state (got {id_type}); hash or dictionary-"
            "encode string ids upstream")
    ttl_us = retain_us = None
    if ts_col is not None and ttl is not None:
        ttl_us = dur_us(ttl)
        retain_us = ttl_us + dur_us(watermark)
    src, ts_us = stream_df, F.lit(0).cast("long")
    if ts_col is not None:
        src = (src.withWatermark(ts_col, watermark)
               .filter(F.col(ts_col).isNotNull()))
        ts_us = (F.col(ts_col).cast("double") * 1_000_000).cast("long")
    rows = project(src.select(F.col(id_col).alias("__id"),
                              ts_us.alias("__ts_us"), "*"))
    value_col = value.split()[0]

    def fn(key, pdfs, state):
        band = int(key[0])
        ids, fps, tss = ([list(c) for c in state.get] if state.exists
                         else ([], [], []))
        out_a, out_b, out_v = [], [], []
        pdf = batch_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(["__ts_us", "__id"], kind="stable")
            known = set(ids)
            for did, fp, ts in zip(pdf["__id"].tolist(),
                                   pdf["__fp"].tolist(),
                                   pdf["__ts_us"].tolist()):
                if did in known:
                    continue
                # an entry older than ttl RELATIVE TO THIS DOC must not
                # match, even if the batch-end prune hasn't dropped it
                live = [i for i, t in enumerate(tss)
                        if ttl_us is None or t >= ts - ttl_us]
                for j, v in match(fp, band, [fps[i] for i in live]):
                    a, b = sorted((ids[live[j]], did))
                    out_a.append(a)
                    out_b.append(b)
                    out_v.append(v)
                ids.append(did)
                fps.append(fp)
                tss.append(ts)
                known.add(did)
            if retain_us is not None:
                # retention must outlast any in-watermark arrival that
                # could still pair with an entry: buckets prune on their
                # own local clocks, and lowest-band suppression needs
                # the partner alive in EVERY band it matches
                cutoff = max(tss) - retain_us
                keep = [i for i, t in enumerate(tss) if t >= cutoff]
                ids, fps, tss = ([c[i] for i in keep]
                                 for c in (ids, fps, tss))
        state.update((ids, fps, tss))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b,
                            value_col: out_v})

    # NoTimeout + the per-batch prune: state is bounded per ACTIVE
    # bucket; an idle bucket holds at most one retention window
    return (rows.select("__id", "__ts_us", "__fp",
                        F.posexplode("__buckets")
                        .alias("__band", "__bucket"))
            .groupBy("__band", "__bucket")
            .applyInPandasWithState(
                fn, f"id_a long, id_b long, {value}", state_schema,
                "append", GroupStateTimeout.NoTimeout))
