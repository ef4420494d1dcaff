"""Streaming user-defined whole-conversation rules — the ingest-side
twin of checks/convrules.conversation_rules (itself the reference's
struct-level ``schema_validation``, ``derive_tests/tests/schema.rs:
183-212``, lifted to the transcript hierarchy).

Whole-conversation rules can only be judged once the conversation is
complete; on a stream "complete" is an event-time session gap — the
same finalize semantics as stream_conversation_shape, via the shared
session-finalize kernel ``_util.session_turns``: once the watermark
passes ``last turn's ts + gap`` with no new turn, the accumulated
turns are fragmented on event-time gaps, each fragment is handed to
every rule as a sorted pandas DataFrame, and the failing rule codes
are emitted (append mode); then the group's state is dropped.

Two streaming forms, mirroring the batch tiers:

- ``stream_conversation_rules`` — the PANDAS tier: inside a stateful
  Arrow operator the finalized turns are already per-group Python
  data, so a pandas rule fn is the natural evaluation form. The SAME
  (code, fn) pairs work unchanged as
  ``conversation_rules(pandas_rules=...)`` in batch, which is the
  parity contract tests/test_stream_convrules.py asserts.
- ``stream_conversation_rules_agg`` — the AGGREGATE tier via Spark's
  native ``session_window``: fully JVM-side, no Python state at all;
  the same boolean aggregate Columns as
  ``conversation_rules(agg_rules=...)``.

Scale shape: one shuffle (the groupBy(conv_id) every stateful operator
needs); state per live conversation is its turn tuples — bounded by
conversation length and freed at finalize, so total state is
proportional to conversations OPEN within one gap+watermark horizon,
not corpus history. Rule evaluation is amortized once per
conversation, not per batch.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from ._util import session_turns

# state-array element type + python coercion per Spark simpleString
# (primitive turn columns only — binary/array/struct payloads belong
# in batch rules, not in per-conversation streaming state)
_FIELD_TYPES = {
    "string": ("string", str),
    "boolean": ("boolean", bool),
    "tinyint": ("long", int), "smallint": ("long", int),
    "int": ("long", int), "bigint": ("long", int),
    "float": ("double", float), "double": ("double", float),
}


def stream_conversation_rules(stream_df: DataFrame,
                              pandas_rules: Sequence,
                              *,
                              conv_col: str = "conv_id",
                              idx_col: str = "turn_idx",
                              ts_col: str = "ts",
                              fields: Optional[Sequence[str]] = None,
                              watermark: str = "10 minutes",
                              session_gap: str = "30 minutes"
                              ) -> DataFrame:
    """One append row per (finalized conversation fragment, failed
    rule): ``<conv_col>, session_start, code`` — ``session_start`` is
    the fragment's first event time (NULL if no turn carried one), the
    same fragment identifier the agg twin reports, so two episodes of
    one conv_id failing the same rule stay distinguishable.

    ``pandas_rules``: sequence of ``(code, fn)`` — the same contract
    as the batch operator's pandas tier: ``fn(pdf)`` gets the
    fragment's turns as a pandas DataFrame (columns ``idx_col``,
    ``ts_col`` and ``fields``, rows in None-first (idx, ts) order —
    identical to the batch tier's na_position='first' sort) and
    returns truthy ok; falsy/None ⇒ violation, an exception fails the
    query. NOTE: nullable-int dtypes may differ from batch Arrow
    conversion (state round-trips through Python lists) — compare
    values, not dtypes, in rules shared across both.

    ``fields``: extra turn columns carried in state (primitive types
    only); default = every column except conv/idx/ts.
    """
    from ..checks.convrules import _validate_code

    pandas_rules = list(pandas_rules or [])
    if not pandas_rules:
        raise ValueError("no conversation rules given")
    for code, fn in pandas_rules:
        _validate_code(code)
        if not callable(fn):
            raise ValueError(f"rule {code}: fn must be callable")

    import pandas as pd

    ftypes = {f.name: f.dataType.simpleString()
              for f in stream_df.schema.fields}
    if fields is None:
        fields = [c for c in stream_df.columns
                  if c not in (conv_col, idx_col, ts_col)]
    carried = []
    state_cols = ["idxs array<long>", "ts_us array<long>"]
    for i, c in enumerate(fields):
        t = ftypes[c]
        if t not in _FIELD_TYPES:
            raise ValueError(
                f"field {c}: unsupported state type {t} (primitives "
                f"only; pre-extract what the rule needs)")
        arr_t, py = _FIELD_TYPES[t]
        state_cols.append(f"f{i} array<{arr_t}>")
        carried.append((c, py))

    def finalize(conv, frags):
        convs, starts, codes = [], [], []
        for idxs, ts_us, *fvals in frags:
            data = {idx_col: pd.array(idxs, dtype="Int64"),
                    ts_col: pd.to_datetime(
                        pd.array(ts_us, dtype="Int64"), unit="us")}
            for (c, _), vals in zip(carried, fvals):
                data[c] = pd.Series(vals, dtype="object")
            pdf = pd.DataFrame(data)
            frag_ts = [t for t in ts_us if t is not None]
            start = (pd.Timestamp(min(frag_ts), unit="us")
                     if frag_ts else pd.NaT)
            for code, fn in pandas_rules:
                if not fn(pdf):
                    convs.append(conv)
                    starts.append(start)
                    codes.append(code)
        return pd.DataFrame({conv_col: convs, "session_start": starts,
                             "code": codes})

    return session_turns(
        stream_df, conv_col=conv_col, idx_col=idx_col, ts_col=ts_col,
        fields=carried,
        state_schema=", ".join(state_cols + ["max_ts_ms long"]),
        out_schema=(f"`{conv_col}` {ftypes[conv_col]}, "
                    f"session_start timestamp, code string"),
        finalize=finalize, watermark=watermark, session_gap=session_gap)


def stream_conversation_rules_agg(stream_df: DataFrame,
                                  agg_rules: Sequence,
                                  *,
                                  conv_col: str = "conv_id",
                                  ts_col: str = "ts",
                                  watermark: str = "10 minutes",
                                  session_gap: str = "30 minutes"
                                  ) -> DataFrame:
    """The AGGREGATE tier of conversation_rules on a stream — fully
    JVM-side, no Python state: ``groupBy(conv_id,
    session_window(ts, gap))`` evaluates the same boolean aggregate
    expressions (``F.sum(F.length("text")) <= budget``, ...) per
    event-time session, and the failing codes are emitted in append
    mode when the watermark closes the session. Spark's native session
    windows ARE the session-gap fragmentation (turns within ``gap`` of
    each other merge into one session), so fragment semantics match
    the stateful pandas twin — without its per-group Python state,
    which makes this the 100 TB/day ingest path: whole-stage-codegen
    aggregation with partial states in Spark's own windowed-agg state
    store, bounded by sessions open within one gap+watermark horizon.

    ``agg_rules``: same ``(code, ok)`` contract as
    ``conversation_rules(agg_rules=...)`` — boolean aggregate Column
    or 0-arg callable; NULL verdict ⇒ failure. Order-dependent rules
    need ``F.min_by/max_by(..., ts)`` here (there is no sorted array);
    rows with NULL event time are dropped by the session window
    (batch twins see them NULL-first) — enforce ``required(ts)``
    upstream if NULL timestamps must be violations.

    Output (append): ``<conv_col>, session_start, code``.
    """
    from ..checks.convrules import codes_column, compile_agg_rules

    agg_rules = list(agg_rules or [])
    if not agg_rules:
        raise ValueError("no conversation rules given")
    # same rule compilation + NULL-verdict encoding as the batch
    # operator — shared helpers keep the two tiers from drifting
    aggs, checks = compile_agg_rules(agg_rules)
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(conv_col,
                     F.session_window(F.col(ts_col), session_gap))
            .agg(*aggs)
            .select(conv_col,
                    F.col("session_window.start").alias("session_start"),
                    F.explode(codes_column(checks)).alias("code")))
