"""Streaming conversation-shape check — the ingest-side twin of
checks/conversation.py (north_star: multi-turn transcripts validated
at arrival, not only in batch backfills).

Shape invariants are CONVERSATION-level: they can only be judged once
the conversation is complete. On a stream "complete" is an event-time
session gap — once the watermark passes ``last turn's ts + gap`` with
no new turn, the conversation is finalized: the same invariants as the
batch check run over the accumulated turns and the violations are
emitted (append mode), then the group's state is dropped. The turn
state, timeout and fragmenting are the session-finalize kernel
(``_util.session_turns``) shared with stream_conversation_rules.

Scale shape: one shuffle (the groupBy(conv_id) every stateful operator
needs); state per live conversation is just its (turn_idx, ts, role)
triples — bounded by conversation length, the same contract as the
batch check's sorted collect_list — and is freed the moment the
session gap elapses, so total state is proportional to conversations
OPEN within one gap+watermark horizon, not to corpus history. The
shape evaluation itself is O(n) Python over one conversation at
finalize time (driver-free, per-group, amortized once per
conversation — not per batch).

Parity: sorting and codes mirror checks/conversation.py exactly — a
conversation fully contained in the stream produces the identical
violation rows the batch check produces on the same turns (asserted
by tests/test_stream_conversation.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ._util import session_turns


def _shape_codes(turns: list, zero_based: bool,
                 first_role: Optional[str], last_role: Optional[str],
                 alternate: bool, max_turns: Optional[int]) -> list:
    """Violations for ONE finalized conversation. ``turns`` is a list
    of (idx, role) already sorted by (idx, ts) with None-first — the
    stable order the batch check's struct array_sort produces for
    non-NULL indices. Returns [(idx_or_None, code), ...] in the same
    per-conversation code order as the batch check (conv-level codes
    first, then role_repeat by position)."""
    out = []
    first_i, first_r = turns[0]
    last_i, last_r = turns[-1]
    # NULL idx: the batch check's SQL `first.i != 0` is NULL ⇒ no
    # violation — mirror that (None != 0 is True in Python)
    if zero_based and first_i is not None and first_i != 0:
        out.append((first_i, "first_idx_not_zero"))
    if first_role is not None and first_r != first_role:
        out.append((first_i, "first_role"))
    if last_role is not None and last_r != last_role:
        out.append((last_i, "last_role"))
    if max_turns is not None and len(turns) > max_turns:
        out.append((None, "too_many_turns"))
    if alternate:
        for (_, r_prev), (i_cur, r_cur) in zip(turns, turns[1:]):
            if r_prev == r_cur:  # eqNullSafe: None == None repeats too
                out.append((i_cur, "role_repeat"))
    return out


def stream_conversation_shape(stream_df: DataFrame,
                              conv_col: str = "conv_id",
                              idx_col: str = "turn_idx",
                              role_col: str = "role",
                              ts_col: str = "ts",
                              watermark: str = "10 minutes",
                              session_gap: str = "30 minutes",
                              zero_based: bool = True,
                              first_role: Optional[str] = None,
                              last_role: Optional[str] = None,
                              alternate: bool = False,
                              max_turns: Optional[int] = None
                              ) -> DataFrame:
    """Conversation-shape violations on a stream, emitted when each
    conversation's event-time session gap elapses.

    Output (append): <conv_col>, <idx_col> (NULL for conv-level
    codes), code ∈ {first_idx_not_zero, first_role, last_role,
    too_many_turns, role_repeat} — the batch check's code set.

    A turn later than ``watermark`` behind the stream's max event time
    follows ordinary watermark semantics (may be dropped). Turns of
    the same conv_id separated by more than ``session_gap`` of EVENT
    time are judged as separate conversation fragments regardless of
    how arrivals were batched (post-finalize arrivals start a new
    state; pre-finalize stragglers are split inside finalize) — a
    late fragment then shows exactly the "lost head" shape the
    ``first_idx_not_zero``/``first_role`` codes exist to flag.
    """
    if not (zero_based or alternate or first_role is not None
            or last_role is not None or max_turns is not None):
        # `is not None`, not truthiness: max_turns=0 is a valid (if
        # harsh) cap and must behave like the batch check
        raise ValueError("no shape checks requested")
    import pandas as pd

    ftypes = {f.name: f.dataType.simpleString()
              for f in stream_df.schema.fields}

    def finalize(conv, frags):
        rows = []
        for idxs, _, roles in frags:
            rows.extend(_shape_codes(list(zip(idxs, roles)), zero_based,
                                     first_role, last_role, alternate,
                                     max_turns))
        return pd.DataFrame({conv_col: [conv] * len(rows),
                             idx_col: [i for i, _ in rows],
                             "code": [c for _, c in rows]})

    # accumulated turns; parallel arrays keep the state row flat
    return session_turns(
        stream_df, conv_col=conv_col, idx_col=idx_col, ts_col=ts_col,
        fields=[(role_col, str)],
        state_schema=("idxs array<long>, ts_us array<long>, "
                      "roles array<string>, max_ts_ms long"),
        out_schema=(f"{conv_col} {ftypes[conv_col]}, "
                    f"{idx_col} {ftypes[idx_col]}, code string"),
        finalize=finalize, watermark=watermark, session_gap=session_gap)
