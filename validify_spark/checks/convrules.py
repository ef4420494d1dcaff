"""User-defined whole-conversation rules — the reference's
struct-level ``schema_validation`` (a custom fn over the whole record,
``validify_derive/src/lib.rs:187-217``, semantics pinned by
``derive_tests/tests/schema.rs:183-212``: runs over the assembled
value, errors merged, never short-circuits, multiple rules allowed per
``schema.rs:79-101``) lifted to the transcript hierarchy: here the
"whole record" is a conversation — every turn of one ``conv_id`` in
stable (turn_idx, ts) order — and a rule is any predicate over that
sequence ("must contain an assistant turn", "total text under the
token budget", "tool turns only after an assistant turn", ...).

Like the engine's schema rule (compiler.lower), a rule
that evaluates to NULL counts as FAILED (unknown is not proven ok),
and every rule is evaluated for every conversation — no
short-circuiting, all violations merged.

Three tiers, same philosophy as the engine's rule compiler — prefer
the most declarative form the rule admits:

- **Aggregate tier** (fastest): the rule is a boolean AGGREGATE
  expression over the turn columns (``F.sum(F.length("text")) <= 9``,
  ``F.max_by("role", "turn_idx") == "assistant"``). These run as
  ordinary declarative aggregates: whole-stage codegen end to end AND
  map-side partial aggregation — only per-conv partial states cross
  the shuffle, never the turns themselves. Most whole-conversation
  rules (budgets, counts, first/last, min/max relations) fit here.
- **Seq tier**: the rule builder receives the sorted
  ``array<struct<...>>`` Column of turns and returns a boolean Column
  — for genuinely order-dependent logic aggregates can't express.
  Costs a ``collect_list`` (the turns DO cross the shuffle) and
  higher-order array expressions are interpreted, not codegen — use
  the aggregate tier when possible.
- **Pandas tier** (escape hatch): the rule fn receives the
  conversation's turns as a sorted ``pandas.DataFrame`` and returns
  truthy ok — ONE Arrow-batched ``applyInPandas`` pass evaluates every
  pandas rule per group. Never per-row Python.

Aggregate + seq tiers share ONE groupBy(conv_id) aggregation: one
shuffle total regardless of rule count (the conversation-level twin of
the engine's one-scan-all-rules design); with aggregate rules only,
no array is ever collected. Per-conversation turn counts are bounded
in practice (same contract as conversation_shape_violations — a hot
conv_id is one group's work, and the groupBy is AQE-skew-splittable).
Struct array_sort orders field-by-field, so the struct leads with
(turn_idx[, ts]) — the same deterministic tie-break every sequence
check and external ``ORDER BY turn_idx, ts`` oracle uses.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

ColumnRule = "tuple[str, Callable[[Column], Column]]"
PandasRule = "tuple[str, Callable[..., object]]"


def _validate_code(code) -> None:
    if not isinstance(code, str) or not code:
        raise ValueError(f"rule code must be a non-empty str: {code!r}")


def compile_agg_rules(agg_rules: Sequence) -> tuple:
    """(aliased aggregate Columns, (code, ok-Column) checks) for a
    list of ``(code, Column-or-0-arg-callable)`` aggregate rules —
    shared by this batch operator and the session_window streaming
    twin so the two tiers cannot drift."""
    aggs, checks = [], []
    for i, (code, ok) in enumerate(agg_rules):
        _validate_code(code)
        if not isinstance(ok, Column) and not callable(ok):
            raise ValueError(
                f"agg rule {code}: need a Column or a 0-arg callable")
        col = ok() if callable(ok) else ok
        aggs.append(col.alias(f"_ok{i}"))
        checks.append((code, F.col(f"_ok{i}")))
    return aggs, checks


def codes_column(checks: Sequence) -> Column:
    """Failing-code array from (code, ok-Column) checks. NULL ok falls
    through when() to the code literal — the engine's schema-rule
    convention (unknown ⇒ not proven ok)."""
    return F.array_compact(F.array(*[
        F.when(ok, F.lit(None).cast("string")).otherwise(F.lit(code))
        for code, ok in checks]))


def conversation_rules(
        df: DataFrame,
        rules: Optional[Sequence] = None,
        *,
        agg_rules: Optional[Sequence] = None,
        pandas_rules: Optional[Sequence] = None,
        conv_col: str = "conv_id",
        idx_col: str = "turn_idx",
        ts_col: Optional[str] = "ts",
        fields: Optional[Sequence[str]] = None) -> DataFrame:
    """One row per (conversation, failed rule): ``<conv_col>, code``.

    ``agg_rules``: sequence of ``(code, ok)`` where ``ok`` is a boolean
    AGGREGATE Column over the turn columns (or a 0-arg callable
    returning one), e.g. ``F.sum(F.length("text")) <= 9``. True =
    conversation passes; NULL ⇒ failure. Prefer this tier: it is
    whole-stage codegen with map-side partial aggregation.

    ``rules``: sequence of ``(code, builder)`` where ``builder(turns)``
    maps the sorted ``array<struct<turn_idx[, ts], *fields>>`` Column
    to a boolean Column (True = conversation passes). NULL ⇒ failure.

    ``pandas_rules``: sequence of ``(code, fn)`` where ``fn(pdf)``
    receives the conversation's turns as a pandas DataFrame (columns
    ``idx_col``, ``ts_col`` if present, and ``fields``; rows sorted by
    (idx, ts) with NULLs FIRST — the same order the seq tier's struct
    array_sort and the streaming twin produce) and returns truthy ok. Falsy/None ⇒ failure; an
    exception propagates (a broken rule should fail the job, not pass
    the data).

    ``fields``: turn columns exposed to the rules; default = every
    column except conv/idx/ts. ``ts_col`` defaults to the transcript
    schema's ``ts`` but is only used when the column exists — pass an
    explicit name to make a missing column an error.
    """
    rules = list(rules or [])
    agg_rules = list(agg_rules or [])
    pandas_rules = list(pandas_rules or [])
    if not rules and not agg_rules and not pandas_rules:
        raise ValueError("no conversation rules given")
    for code, fn in rules + pandas_rules:
        _validate_code(code)
        if not callable(fn):
            raise ValueError(f"rule {code}: builder must be callable")
    if ts_col == "ts" and "ts" not in df.columns:
        ts_col = None
    key_cols = [conv_col, idx_col] + ([ts_col] if ts_col else [])
    if fields is None:
        fields = [c for c in df.columns if c not in key_cols]
    struct_cols = [idx_col] + ([ts_col] if ts_col else []) + list(fields)

    parts = []
    if rules or agg_rules:
        aggs, checks = compile_agg_rules(agg_rules)
        if rules:
            seq = F.array_sort(
                F.collect_list(F.struct(*[F.col(c) for c in struct_cols])))
            aggs.append(seq.alias("_turns"))
            checks += [(code, builder(F.col("_turns")))
                       for code, builder in rules]
        g = df.groupBy(conv_col).agg(*aggs)
        parts.append(g.select(
            conv_col, F.explode(codes_column(checks)).alias("code")))

    if pandas_rules:
        import pandas as pd

        conv_type = df.schema[conv_col].dataType.simpleString()
        out_schema = f"`{conv_col}` {conv_type}, code string"
        sort_cols = [idx_col] + ([ts_col] if ts_col else [])
        carry = sort_cols + list(fields)
        prules = pandas_rules

        def _eval(key, pdf):
            # na_position='first': NULL idx/ts order first, matching
            # the seq tier's struct array_sort and the streaming
            # twin's order_turns (SQL NULLS FIRST convention)
            turns = (pdf[carry].sort_values(sort_cols,
                                            na_position="first")
                     .reset_index(drop=True))
            failed = [code for code, fn in prules if not fn(turns)]
            return pd.DataFrame({conv_col: [key[0]] * len(failed),
                                 "code": failed})

        parts.append(df.select(conv_col, *carry)
                       .groupBy(conv_col)
                       .applyInPandas(_eval, out_schema))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
