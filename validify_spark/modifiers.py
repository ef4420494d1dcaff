"""Modifiers — deterministic column normalizations applied before
validation, in declaration order (reference: Modifier enum
validify_derive/src/validify/modifier.rs:5-12; applied left-to-right
before validation, validify/impl.rs:40-56).

The engine never mutates its source: ``apply_modifiers`` produces a
normalized VIEW of the input (SURVEY.md §7 risk register — per-turn text
equality invariant holds on the normalized output deterministically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from .compiler import resolve_type
from .rules import Modifier

# Rust `str::trim` trims the Unicode White_Space property, not just ASCII
# space (modifier.rs:23-36; SURVEY.md §2.3). The property set, expanded:
_WS_CHARS = ("\t\n\x0b\x0c\r \x85\xa0 "
             + "".join(chr(c) for c in range(0x2000, 0x200B))
             + "    　")


def _trim_unicode(c: Column) -> Column:
    """Exact-parity Unicode trim: one `btrim` over the 25-char
    White_Space set (verified char-for-char equal to Python
    str.strip(WS) incl. multi-byte \\u3000/\\u2028 and NOT trimming
    ZWSP). ONE expression matters as much as runtime here: when
    Catalyst still substituted the modifier into every rule predicate
    referencing the column (~18 copies in the 8-rule flagship's
    phase-1 filter, before the engine filtered above a Generate), a
    25-char startswith/endswith probe chain — the previous
    implementation — ballooned the scan stage past Janino's 64 KB
    method limit (20k-line processNext, failed compile → interpreted
    eval). btrim is O(trimmed chars) from both ends, so untouched
    strings still pay near-nothing; no regex (a `^ws+|ws+$`
    regexp_replace benches ~10x slower)."""
    return F.btrim(c, F.lit(_WS_CHARS))


def _cap(c: Column) -> Column:
    # uppercase FIRST CHAR only, rest untouched (modifier.rs:65-78) —
    # deliberately NOT initcap (which lowercases the rest, per word)
    return F.when(
        c.isNull(), c
    ).otherwise(
        F.concat(F.upper(F.substring(c, 1, 1)),
                 F.substring(c, 2, 2147483646)))


def _scalar_expr(kind: str, c: Column, fn=None) -> Column:
    if kind == "trim":
        return _trim_unicode(c)
    if kind == "lowercase":
        return F.lower(c)
    if kind == "uppercase":
        return F.upper(c)
    if kind == "capitalize":
        return _cap(c)
    if kind == "custom":
        return fn(c)
    raise ValueError(f"unknown modifier kind {kind}")


def modifier_expr(m: Modifier, c: Column,
                  dtype: T.DataType | None) -> Column:
    """String modifiers map over elements of array columns
    (fields.rs:456-481; golden validify.rs:15-32). A gated modifier
    (enum-variant analog) leaves non-matching rows untouched."""
    if isinstance(dtype, T.ArrayType):
        out = F.transform(c, lambda x: _scalar_expr(m.kind, x, m.fn))
    else:
        out = _scalar_expr(m.kind, c, m.fn)
    gate = getattr(m, "gate", None)
    if gate is not None:
        out = F.when(F.expr(gate), out).otherwise(c)
    return out


def _rebuild(expr: Column, dtype: T.DataType, parts: list,
             leaf_fn) -> Column:
    """Rewrite the value at a dotted path inside ``expr``, descending
    through structs (withField) and arrays of structs (transform —
    per-element rewrite, like the reference's per-element nested
    validify, fields.rs:400-434)."""
    if not parts:
        return leaf_fn(expr, dtype)
    head, rest = parts[0], parts[1:]
    if isinstance(dtype, T.ArrayType) and \
            isinstance(dtype.elementType, T.StructType):
        edt = dtype.elementType
        return F.transform(
            expr,
            lambda x: x.withField(
                head, _rebuild(x[head], edt[head].dataType, rest,
                               leaf_fn)))
    if isinstance(dtype, T.StructType):
        return expr.withField(
            head, _rebuild(expr[head], dtype[head].dataType, rest,
                           leaf_fn))
    raise ValueError(f"cannot descend into {dtype} at '{head}'")


def apply_modifiers(df: DataFrame, modifiers: list) -> DataFrame:
    """Apply all modifiers in order. Chained modifiers on the same column
    compose left-to-right within one projection (Catalyst collapses the
    withColumn chain), matching modify.rs:89-126 golden
    ('           hELLO world    ' → trim,lowercase,capitalize →
    'Hello world'). Dotted paths descend structs and arrays of structs
    ('languages.language' maps over every array element)."""
    def _path_exists(dtype, parts) -> bool:
        # mirrors _rebuild's descent (structs AND arrays of structs)
        if not parts:
            return True
        if isinstance(dtype, T.ArrayType) and \
                isinstance(dtype.elementType, T.StructType):
            dtype = dtype.elementType
        if isinstance(dtype, T.StructType) and \
                parts[0] in dtype.fieldNames():
            return _path_exists(dtype[parts[0]].dataType, parts[1:])
        return False

    for m in modifiers:
        parts = m.column.split(".")
        root = parts[0]
        # payload semantics: a modifier naming an absent column is a
        # no-op (the matching rule reports `required` instead)
        if root not in df.schema.fieldNames() or not _path_exists(
                df.schema[root].dataType, parts[1:]):
            continue
        root_type = df.schema[root].dataType

        def leaf(expr, dtype, _m=m):
            return modifier_expr(_m, expr, dtype)

        df = df.withColumn(
            root, _rebuild(F.col(root), root_type, parts[1:], leaf))
    return df
