"""Rule compiler: lowers the Rule IR to vectorized Spark Column expressions.

Analog of the reference's codegen (validify_derive/src/tokens.rs:80-264):
where the proc macro emits one inlined ``if !check {...}`` block per rule,
we lower each rule once (``lower``) to the parts both evaluation phases
need — an exact pass predicate, a cheap phase-1 screen and an
``array<violation-struct>`` that is empty when the rule passes. The
engine fuses every rule's parts into single projections so the table is
scanned once (SURVEY.md §4.2 "rule fusion"); Catalyst then gives CSE +
whole-stage codegen for free. Because both phases come from one
lowering, a row passes the phase-1 scan exactly when phase 2 gives it
no violation (up to the email/url screen, which only over-captures).

Option semantics (fields.rs:355-396): every rule except ``required``
passes on NULL, and a NULL verdict fails (``_verdict``).
"""

from __future__ import annotations

import datetime as _dt
from functools import cached_property
from typing import Optional

from pyspark.sql import Column, functions as F, types as T

from .rules import Rule
from .validators import sql_builders as V
from .validators import udf_tier as U

# The uniform violation element type — every rule compiles to an array of
# these (usually 0/1 elements; iter rules may emit several). Mirrors
# ValidationError::Field (validify/src/error.rs:5-35).
VIOLATION_STRUCT_DDL = (
    "struct<rule_id:string,field:string,location:string,"
    "code:string,message:string,params:map<string,string>>"
)
VIOLATION_ARRAY_DDL = f"array<{VIOLATION_STRUCT_DDL}>"


def empty_violations() -> Column:
    return F.array().cast(VIOLATION_ARRAY_DDL)


def make_violation(rule_id: str, field: Optional[str], location,
                   code: str, message: Optional[str],
                   params: dict) -> Column:
    """Build one violation struct. ``params`` values are Columns (cast to
    string — the reference serializes params as JSON values,
    tokens.rs:318-341); ``location`` is a str or Column."""
    loc = location if isinstance(location, Column) else F.lit(location)
    if params:
        kv = []
        for k, v in params.items():
            vc = v if isinstance(v, Column) else F.lit(v)
            kv += [F.lit(k), vc.cast("string")]
        pmap = F.create_map(*kv)
    else:
        pmap = F.lit(None).cast("map<string,string>")
    return F.struct(
        F.lit(rule_id).alias("rule_id"),
        (F.lit(field) if field is not None
         else F.lit(None)).cast("string").alias("field"),
        loc.cast("string").alias("location"),
        F.lit(code).alias("code"),
        F.lit(message).cast("string").alias("message"),
        pmap.alias("params"),
    )


# ---------------------------------------------------------------------------
# type resolution for dotted paths
# ---------------------------------------------------------------------------


def resolve_type(schema: T.StructType, dotted: str) -> Optional[T.DataType]:
    cur: T.DataType = schema
    for part in dotted.split("."):
        if isinstance(cur, T.StructType):
            try:
                cur = cur[part].dataType
            except KeyError:
                return None
        else:
            return None
    return cur


# ---------------------------------------------------------------------------
# per-kind pass predicates (+ violation params)
# ---------------------------------------------------------------------------


def _length_count(c: Column, dtype: Optional[T.DataType]) -> Column:
    # strings count chars not bytes (traits.rs:26-42 uses .chars().count());
    # arrays/maps count elements (traits.rs:44-96)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(c)
    return F.length(c)


def ok_and_params(rule: Rule, c: Column, dtype: Optional[T.DataType],
                  run_ts: _dt.datetime,
                  schema: Optional[T.StructType] = None):
    """Return (ok_predicate, params_dict) for a rule applied to Column ``c``.

    ``ok`` is True ⇔ the value PASSES. NULL handling is applied by the
    lowering (``Lowered``), not here. ``schema`` (when available) lets
    time rules detect string-typed target_columns that must parse at
    runtime.
    """
    p = rule.params
    kind = rule.kind

    if kind == "length":
        n = _length_count(c, dtype)
        mn, mx, eq = p.get("min"), p.get("max"), p.get("equal")
        if eq is not None:
            ok = n == F.lit(eq)  # equal overrides (length.rs:8-32)
            prm = {"actual": n, "equal": F.lit(eq)}
        else:
            ok = F.lit(True)
            prm = {"actual": n}
            if mn is not None:
                ok = ok & (n >= F.lit(mn))
                prm["min"] = F.lit(mn)
            if mx is not None:
                ok = ok & (n <= F.lit(mx))
                prm["max"] = F.lit(mx)
        return ok, prm

    if kind == "range":
        # inclusive bounds, compared as f64 (range.rs:4-22; tokens.rs:410-427)
        v = c.cast("double")
        mn, mx = p.get("min"), p.get("max")
        ok = F.lit(True)
        prm = {"actual": c}
        if mn is not None:
            ok = ok & (v >= F.lit(float(mn)))
            prm["min"] = F.lit(float(mn))
        if mx is not None:
            ok = ok & (v <= F.lit(float(mx)))
            prm["max"] = F.lit(float(mx))
        return ok, prm

    if kind == "required":
        return c.isNotNull(), {}

    if kind == "regex":
        # unanchored search, same as Regex::is_match (tokens.rs:594-618)
        return c.rlike(p["pattern"]), {"actual": c}

    if kind == "non_control_char":
        # Unicode Cc = U+0000-U+001F + U+007F-U+009F
        # (unic_ucd_common::control; non_control_char.rs:3-12)
        return ~c.rlike(r"[\x00-\x1F\x7F-\x9F]"), {"actual": c}

    if kind == "contains" or kind == "contains_not":
        v = p["value"]
        if isinstance(dtype, T.ArrayType):
            ok = F.array_contains(c, v)
        elif isinstance(dtype, T.MapType):
            # map containment = KEY membership (traits.rs:158-180)
            ok = F.map_contains_key(c, F.lit(v))
        else:
            ok = c.contains(F.lit(v))
        if kind == "contains_not":
            ok = ~ok
        return ok, {"actual": c, "target": F.lit(v)}

    if kind == "is_in":
        return c.isin(*p["values"]), {"actual": c}

    if kind == "not_in":
        return ~c.isin(*p["values"]), {"actual": c}

    if kind == "must_match":
        other = F.col(p["other"])
        return c.eqNullSafe(other), {"actual": c, "target": other}

    if kind == "email":
        return V.email_ok(c), {"actual": c}

    if kind == "url":
        # two-tier: regex fast path in codegen, WHATWG-parse UDF fed
        # NULL for decided rows (sql_builders.url_ok)
        return V.url_ok(c), {"actual": c}

    if kind == "ip":
        fmt = p.get("format")
        if fmt == "v4":
            ok = V.ipv4_ok(c)
        elif fmt == "v6":
            ok = V.ipv6_ok(c)
        else:
            ok = V.ip_any_ok(c)
        return ok, {"actual": c}

    if kind == "phone":
        return V.phone_ok(c), {"actual": c}

    if kind == "credit_card":
        return V.credit_card_ok(c), {"actual": c}

    if kind == "custom":
        # caller-supplied violation params (ValidationError::with_param,
        # derive_tests/tests/custom.rs field-override case): values are
        # literals or Column-builders evaluated against the column
        prm = {"actual": c}
        for k, v in (p.get("params") or {}).items():
            prm[k] = v(c) if callable(v) else F.lit(v)
        return p["builder"](c), prm

    if kind == "time":
        return _time_ok(rule, c, run_ts, schema, dtype)

    raise ValueError(f"ok_and_params: unsupported kind {kind}")


def _coerce_target(p: dict) -> Optional[_dt.datetime]:
    tgt = p.get("target")
    if isinstance(tgt, str):
        return _dt.datetime.strptime(tgt, p["format"])
    return tgt


def _time_string_target(rule: Rule,
                        schema: Optional[T.StructType]) -> Optional[str]:
    """The target_column's name iff it is string-typed (⇒ parsed at
    runtime with the rule's format), else None. Only the three
    target-taking ops qualify (the RuleSet sanity pass rejects targets
    on now-relative ops)."""
    if rule.kind != "time" or schema is None:
        return None
    if rule.params.get("op") not in ("before", "after", "in_period"):
        return None
    tc = rule.params.get("target_column")
    if tc and isinstance(resolve_type(schema, tc), T.StringType):
        return tc
    return None


def _parse_target_col(tc: str, fmt: Optional[str]) -> Column:
    """Per-row runtime parse of a string target (NULL ⇔ unparseable) —
    the table-lifted analog of chrono parse_from_str in
    quote_time_with_target (tokens.rs:900-914)."""
    return (F.try_to_timestamp(F.col(tc), F.lit(fmt)) if fmt
            else F.try_to_timestamp(F.col(tc)))


def _time_ok(rule: Rule, c: Column, run_ts: _dt.datetime,
             schema: Optional[T.StructType] = None,
             dtype: Optional[T.DataType] = None):
    """The 7 time ops (validify/src/validation/time.rs:3-87). All bound
    arithmetic is folded driver-side into literals (constant folding the
    reference does at parse time, parser.rs:455-483). String-typed
    target_columns parse per row; an unparseable target is never proven
    ok (the parse-error violation flavor is built by
    ``Lowered``). Date-typed columns route to the
    whole-day *_date/*_today variants."""
    if isinstance(dtype, T.DateType):
        return _time_ok_date(rule, c, run_ts, schema)
    p = rule.params
    op = p["op"]
    inclusive = bool(p.get("inclusive", False))
    dur = _dt.timedelta(seconds=p.get("interval_seconds", 0))

    if p.get("target_column"):
        if _time_string_target(rule, schema):
            tlit: Column = _parse_target_col(p["target_column"],
                                             p.get("format"))
        else:
            tlit = F.col(p["target_column"])
        tstr: Column = tlit
    else:
        t = _coerce_target(p)
        tlit = F.lit(t) if t is not None else None
        tstr = tlit

    if op == "before":
        ok = (c <= tlit) if inclusive else (c < tlit)
        return ok, {"actual": c, "target": tstr}
    if op == "after":
        ok = (c >= tlit) if inclusive else (c > tlit)
        return ok, {"actual": c, "target": tstr}
    if op == "before_now":
        # eq flag supported like before/after (time.rs:3-11)
        ok = (c <= F.lit(run_ts)) if inclusive else (c < F.lit(run_ts))
        return ok, {"actual": c, "target": F.lit(run_ts)}
    if op == "after_now":
        ok = (c >= F.lit(run_ts)) if inclusive else (c > F.lit(run_ts))
        return ok, {"actual": c, "target": F.lit(run_ts)}
    if op == "before_from_now":
        # now - actual >= duration  ⇔  actual <= now - duration (time.rs:39-44)
        bound = run_ts - dur
        return c <= F.lit(bound), {"actual": c, "target": F.lit(bound)}
    if op == "after_from_now":
        # actual - now >= duration (time.rs:46-49)
        bound = run_ts + dur
        return c >= F.lit(bound), {"actual": c, "target": F.lit(bound)}
    if op == "in_period":
        if p.get("target_column"):
            # dynamic target: bounds as Column arithmetic with an
            # interval literal (the duration is still compile-time)
            tcol = tlit
            shifted = tcol + F.make_dt_interval(
                secs=F.lit(float(dur.total_seconds())))
            lo_c, hi_c = ((tcol, shifted) if dur >= _dt.timedelta(0)
                          else (shifted, tcol))
            return c.between(lo_c, hi_c), {
                "actual": c, "from": lo_c, "to": hi_c}
        t = _coerce_target(p)
        try:
            lo, hi = ((t, t + dur) if dur >= _dt.timedelta(0)
                      else (t + dur, t))
        except OverflowError:
            # reference semantics: bound overflow ⇒ check is false
            # (time.rs:63-70 checked_add returning None fails the rule)
            return F.lit(False), {"actual": c, "target": F.lit(str(t))}
        return c.between(F.lit(lo), F.lit(hi)), {
            "actual": c, "from": F.lit(lo), "to": F.lit(hi)}
    raise ValueError(f"unknown time op {op}")


def _time_ok_date(rule: Rule, c: Column, run_ts: _dt.datetime,
                  schema: Optional[T.StructType] = None):
    """Date-typed columns use the reference's *_date / *_today variants
    (time.rs:13-21, 31-37, 51-61, 78-87) — the reference selects them
    at macro time from the field type (has_time=false); we select from
    the column's Spark type. Whole-day semantics: now truncates to its
    date, from-now ops compare day-diffs (in seconds) against the full
    duration, and in_period adds only the WHOLE DAYS of the duration
    (NaiveDate::checked_add_signed drops sub-day parts)."""
    p = rule.params
    op = p["op"]
    inclusive = bool(p.get("inclusive", False))
    dur = _dt.timedelta(seconds=p.get("interval_seconds", 0))
    dur_secs = dur.total_seconds()
    run_date = run_ts.date()

    if p.get("target_column"):
        if _time_string_target(rule, schema):
            tlit: Column = F.to_date(_parse_target_col(
                p["target_column"], p.get("format")))
        else:
            # truncate timestamp-typed targets to dates too — same
            # whole-day semantics as literal/string targets (a
            # date-typed target column passes through to_date unchanged)
            tlit = F.to_date(F.col(p["target_column"]))
    else:
        t = _coerce_target(p)
        if isinstance(t, _dt.datetime):
            t = t.date()  # before_date/after_date take date targets
        tlit = F.lit(t) if t is not None else None

    if op == "before":
        ok = (c <= tlit) if inclusive else (c < tlit)
        return ok, {"actual": c, "target": tlit}
    if op == "after":
        ok = (c >= tlit) if inclusive else (c > tlit)
        return ok, {"actual": c, "target": tlit}
    if op in ("before_now", "after_now"):
        lim = F.lit(run_date)  # before_today/after_today (time.rs:13-21)
        if op == "before_now":
            ok = (c <= lim) if inclusive else (c < lim)
        else:
            ok = (c >= lim) if inclusive else (c > lim)
        return ok, {"actual": c, "target": lim}
    if op == "before_from_now":
        # today - actual >= duration, day-diff in seconds (time.rs:51-57)
        ok = (F.datediff(F.lit(run_date), c).cast("long") * 86400
              >= F.lit(dur_secs))
        return ok, {"actual": c, "target": F.lit(run_date)}
    if op == "after_from_now":
        ok = (F.datediff(c, F.lit(run_date)).cast("long") * 86400
              >= F.lit(dur_secs))
        return ok, {"actual": c, "target": F.lit(run_date)}
    if op == "in_period":
        dur_days = int(dur_secs / 86400)  # trunc toward 0 = num_days
        if p.get("target_column"):
            end = F.date_add(tlit, dur_days)
            lo_c, hi_c = ((tlit, end) if dur_days >= 0 else (end, tlit))
            return c.between(lo_c, hi_c), {
                "actual": c, "from": lo_c, "to": hi_c}
        t = _coerce_target(p)
        if isinstance(t, _dt.datetime):
            t = t.date()
        try:
            end_d = t + _dt.timedelta(days=dur_days)
        except OverflowError:
            return F.lit(False), {"actual": c, "target": F.lit(str(t))}
        lo, hi = ((t, end_d) if dur_days >= 0 else (end_d, t))
        return c.between(F.lit(lo), F.lit(hi)), {
            "actual": c, "from": F.lit(lo), "to": F.lit(hi)}
    raise ValueError(f"unknown time op {op}")


# ---------------------------------------------------------------------------
# lowering: rule → pass predicate, phase-1 screen, violation array
# ---------------------------------------------------------------------------


def rule_input_columns(rule: Rule) -> list:
    """Dotted column paths a rule reads — a rule naming an absent column
    reports `required` instead of failing analysis (validate_from
    semantics, validify_derive/src/payload.rs:123-135)."""
    cols = []
    if rule.kind != "schema" and rule.column:
        cols.append(rule.column)
    if rule.kind == "must_match":
        cols.append(rule.params["other"])
    if rule.kind == "time" and rule.params.get("target_column"):
        cols.append(rule.params["target_column"])
    return cols


def _verdict(kind: str, c: Column, ok: Column) -> Column:
    """Pass verdict of value ``c`` under predicate ``ok``: NULL passes
    every kind but ``required`` (fields.rs:355-396, required.rs:2-5).
    A NULL verdict is a failure (unknown is not proven ok): CASE WHEN
    takes it as false, and ``_proven`` makes it false."""
    return ok if kind == "required" else c.isNull() | ok


def _proven(verdict: Column) -> Column:
    return F.coalesce(verdict, F.lit(False))


def _true() -> Column:
    return F.lit(True)


def _one(viol: Column) -> Column:
    return F.array(viol).cast(VIOLATION_ARRAY_DDL)


def lower(rule: Rule, schema: T.StructType, run_ts: _dt.datetime,
          df=None) -> "Lowered":
    """Lower ``rule`` against a frame of ``schema``; ``df`` is the frame
    a schema rule's callable predicate binds to."""
    return Lowered(rule, schema, run_ts, df)


class Lowered:
    """One rule's row semantics for both evaluation phases. Each part is
    built on first use, from one ``ok_and_params`` call:

    - ``passes``: True ⇔ the row has no violation of the rule; never
      NULL.
    - ``screen``: the phase-1 filter. For email/url it is the pure
      codegen fast path, a sound under-approximation of ``passes``
      (fast True ⇒ valid), so the Arrow UDF tier leaves the full-table
      scan and runs only on the captured minority. Every other kind is
      pure SQL, so its screen is ``passes``.
    - ``violations``: the ``array<violation-struct>`` (usually 0/1
      elements; iter/map_values may emit several), empty ⇔ ``passes``.

    Shared by all three: a variant gate (``params["_gate"]``, the
    enum-variant analog of derive_tests/tests/enum.rs) that is NULL or
    false makes the rule not apply; an input column absent from the
    schema fails every row with code `required` at the missing field
    (derive_tests/tests/payload.rs:14-22); schema rules are whole-row
    predicates reported at location '/' with no field, like
    ValidationError::Schema (error.rs:62-68).
    """

    def __init__(self, rule: Rule, schema: T.StructType,
                 run_ts: _dt.datetime, df=None):
        self.rule, self.schema, self.run_ts, self.df = (
            rule, schema, run_ts, df)
        self.missing = [c for c in rule_input_columns(rule)
                        if resolve_type(schema, c) is None]

    def _gated(self, part: Column, otherwise) -> Column:
        """``part`` where the gate holds, else ``otherwise()`` — called
        only for a gated rule, since every Column costs py4j calls."""
        gate = self.rule.params.get("_gate")
        if gate is None:
            return part
        g = F.expr(gate) if isinstance(gate, str) else gate
        return F.when(g, part).otherwise(otherwise())

    @cached_property
    def passes(self) -> Column:
        return _proven(self._gated(self._ok, _true))

    @cached_property
    def screen(self) -> Column:
        r = self.rule
        if r.kind not in ("email", "url") or self.missing:
            return self.passes
        c = F.col(r.column)
        fast = V.email_ok_fast(c) if r.kind == "email" else V.url_ok_fast(c)
        return _proven(self._gated(_verdict(r.kind, c, fast), _true))

    @cached_property
    def violations(self) -> Column:
        return self._gated(self._violations(), empty_violations)

    # -- ungated parts ------------------------------------------------------
    @cached_property
    def _ok_prm(self):
        r = self.rule
        return ok_and_params(r, F.col(r.column),
                             resolve_type(self.schema, r.column),
                             self.run_ts, self.schema)

    @cached_property
    def _ok(self) -> Column:
        """The ungated pass verdict; NULL fails."""
        r = self.rule
        if self.missing:
            return F.lit(False)
        if r.kind == "schema":
            pred = r.params["predicate"]
            return F.expr(pred) if isinstance(pred, str) else pred(self.df)
        if r.kind in ("iter", "map_values"):
            items, verdict, _ = self._items
            # NULL container passes (option-of-array, iter.rs)
            return F.col(r.column).isNull() | F.forall(
                items, lambda x: _verdict(r.params["inner"].kind,
                                          *verdict(x)[:2]))
        return _verdict(r.kind, F.col(r.column), self._ok_prm[0])

    def _violations(self) -> Column:
        r = self.rule
        if self.missing:
            col = self.missing[0]
            return _one(make_violation(
                r.rule_id, col.split(".")[-1], "/" + col.replace(".", "/"),
                "required", r.message, {}))
        if r.kind == "schema":
            return F.when(self._ok, empty_violations()).otherwise(_one(
                make_violation(r.rule_id, None, "/", r.effective_code,
                               r.message, {})))
        field = r.display_name or r.column.split(".")[-1]
        if r.kind in ("iter", "map_values"):
            return self._item_violations(field)
        out = F.when(self._ok, empty_violations())
        tc = _time_string_target(r, self.schema)
        if tc:
            # an unparseable string target is its own violation flavor,
            # params {actual, format} (tokens.rs:738-747 quoted_parse_error)
            fmt = r.params.get("format")
            out = out.when(_parse_target_col(tc, fmt).isNull(), _one(
                make_violation(r.rule_id, field, r.location,
                               r.effective_code, r.message,
                               {"actual": F.col(r.column),
                                "format": F.lit(fmt)})))
        return out.otherwise(_one(make_violation(
            r.rule_id, field, r.location, r.effective_code, r.message,
            self._ok_prm[1])))

    # -- iter / map_values --------------------------------------------------
    @cached_property
    def _items(self):
        """Per-element validation of an array (iter: index-suffixed
        locations, tokens.rs:167-235, golden '/test/1' iter.rs:26) or of
        a map's values (locations carry the KEY, error.rs:117-158,
        golden '/name/3/stuff'), as higher-order functions that stay in
        codegen. Returns (items, verdict, leaf): ``verdict(item)`` is
        (element value, ok, params); ``leaf`` is the location suffix."""
        r = self.rule
        inner: Rule = r.params["inner"]
        sub = inner.column  # optional subfield of struct elements
        col = F.col(r.column)
        ctype = resolve_type(self.schema, r.column)
        is_map = r.kind == "map_values"
        items = F.map_entries(col) if is_map else col
        etype = (ctype.valueType if isinstance(ctype, T.MapType)
                 else ctype.elementType if isinstance(ctype, T.ArrayType)
                 else None)
        if inner.kind in ("email", "url") and not is_map:
            # Spark bans Python UDFs inside higher-order-function lambdas
            # (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF): one
            # top-level Arrow UDF builds an array<boolean> ok-vector,
            # zipped against the array so the lambdas stay pure Catalyst
            ok_arr = U.iter_ok(inner.kind)(F.transform(
                col, lambda x: x[sub] if sub else x))
            items = F.zip_with(col, ok_arr, lambda x, ok: F.struct(
                x.alias("v"), ok.alias("ok")))

            def verdict(p):
                v = p["v"][sub] if sub else p["v"]
                return v, p["ok"], {"actual": v}
            return items, verdict, sub
        edt = (resolve_type(etype, sub)
               if (sub and isinstance(etype, T.StructType)) else etype)

        def verdict(x):
            v = x["value"] if is_map else x
            v = v[sub] if sub else v
            # top-level ``schema`` threaded so a nested time rule with a
            # string-typed target_column parses it at runtime too; only
            # the dedicated parse-error flavor is top-level only (a
            # nested unparseable target emits the rule's normal code)
            return (v, *ok_and_params(inner, v, edt, self.run_ts,
                                      self.schema))
        # inner display_name renames the location leaf, like
        # ValidationError::new_field_named (error_location.rs:186-190)
        return items, verdict, inner.display_name or sub

    def _item_violations(self, field: str) -> Column:
        r = self.rule
        inner: Rule = r.params["inner"]
        items, verdict, leaf = self._items

        def per_item(x: Column, i: Column) -> Column:
            v, ok, prm = verdict(x)
            key = x["key"] if r.kind == "map_values" else i
            loc = F.concat(F.lit(r.location + "/"), key.cast("string"),
                           F.lit("/" + leaf) if leaf else F.lit(""))
            viol = make_violation(r.rule_id, field, loc,
                                  inner.effective_code,
                                  inner.message or r.message, prm)
            return F.when(_verdict(inner.kind, v, ok),
                          F.lit(None).cast(VIOLATION_STRUCT_DDL)) \
                    .otherwise(viol)

        viols = F.filter(F.transform(items, per_item),
                         lambda v: v.isNotNull())
        return F.when(F.col(r.column).isNull(), empty_violations()) \
                .otherwise(viols)
