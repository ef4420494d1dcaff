"""Rule IR — the declarative rule surface of the engine.

This is the PySpark-native analog of validify's derive-attribute IR
(``/root/reference/validify_derive/src/validate/validation.rs:20-37``:
``enum Validator`` with one variant per rule kind). A :class:`Rule` is one
constraint on one column (or, for ``schema`` rules, on the whole row); a
:class:`RuleSet` is the analog of one ``#[derive(Validate)]`` struct: an
ordered list of modifiers + field rules + schema rules.

Pure Python — no Spark imports — so specs can be built/validated without a
session (mirrors the reference compiling rules at macro-expansion time).
"""

from __future__ import annotations

import datetime as _dt
import re as _re
from dataclasses import dataclass, field as _field, replace
from typing import Any, Callable, Optional, Sequence

# ---------------------------------------------------------------------------
# Rule kinds (reference dispatcher:
# validify_derive/src/validate/impl.rs:160-384, constants impl.rs:18-34)
# ---------------------------------------------------------------------------

VALIDATOR_KINDS = frozenset(
    {
        "length",
        "range",
        "email",
        "url",
        "ip",
        "phone",
        "credit_card",
        "non_control_char",
        "required",
        "regex",
        "contains",
        "contains_not",
        "is_in",
        "not_in",
        "custom",
        "time",
        "iter",
        "map_values",
        "must_match",
        "schema",
    }
)

MODIFIER_KINDS = frozenset(
    {"trim", "lowercase", "uppercase", "capitalize", "custom", "nested"}
)

# default error codes (reference: each validator's default code —
# validify_derive/src/validate/validation.rs:50-73 and 186-292)
DEFAULT_CODES = {
    "length": "length",
    "range": "range",
    "email": "email",
    "url": "url",
    "ip": "ip",
    "phone": "phone",
    "credit_card": "credit_card",
    "non_control_char": "non_control_char",
    "required": "required",
    "regex": "regex",
    "contains": "contains",
    "contains_not": "contains_not",
    "is_in": "in",
    "not_in": "not_in",
    "custom": "custom",
    "must_match": "must_match",
    "schema": "schema",
}

# time-op default codes (validation.rs:269-292)
TIME_OP_CODES = {
    ("before", False): "before",
    ("before", True): "before_or_equal",
    ("after", False): "after",
    ("after", True): "after_or_equal",
    ("before_now", False): "before_now",
    ("before_now", True): "before_now",
    ("after_now", False): "after_now",
    ("after_now", True): "after_now",
    ("before_from_now", False): "before_from_now",
    ("before_from_now", True): "before_from_now",
    ("after_from_now", False): "after_from_now",
    ("after_from_now", True): "after_from_now",
    ("in_period", False): "in_period",
    ("in_period", True): "in_period",
}

TIME_OPS = frozenset(op for op, _ in TIME_OP_CODES)


class RuleSpecError(ValueError):
    """Raised by the sanity pass for impossible/ill-formed rule specs.

    Analog of the reference's compile-time assertions
    (validation.rs:294-406 ``Time::assert``, parser.rs:125-129 length
    equal-vs-bounds conflict, tokens.rs:170-175 iter-nesting ban).
    """


@dataclass(frozen=True)
class Rule:
    """One declarative constraint.

    ``column`` is a dotted path into the row (``"a.b"`` for struct
    subfields), mirroring nested ``#[validate]`` locations. ``None`` only
    for ``schema`` rules (whole-row predicates, location ``/`` —
    error.rs:62-68).
    """

    kind: str
    column: Optional[str] = None
    params: dict = _field(default_factory=dict)
    code: Optional[str] = None
    message: Optional[str] = None
    display_name: Optional[str] = None  # serde-rename analog (serde.rs:110-236)
    rule_id: Optional[str] = None
    stage: str = "main"  # "presence" rules gate "main" rules (payload §2.4)

    # -- derived ---------------------------------------------------------
    @property
    def effective_code(self) -> str:
        if self.code:
            return self.code
        if self.kind == "time":
            op = self.params.get("op")
            inclusive = bool(self.params.get("inclusive", False))
            return TIME_OP_CODES[(op, inclusive)]
        if self.kind in ("iter", "map_values"):
            return self.params["inner"].effective_code
        return DEFAULT_CODES.get(self.kind, self.kind)

    @property
    def location(self) -> str:
        """JSON-pointer-ish location prefix (error.rs:117-158). A
        display_name renames only the LEAF of a dotted path — serde
        rename applies to the field, not its parents
        (with_serde.rs:5-29)."""
        if self.kind == "schema":
            return "/"
        if self.display_name and self.column and "." in self.column:
            prefix = "/".join(self.column.split(".")[:-1])
            return "/" + prefix + "/" + self.display_name
        name = self.display_name or self.column or ""
        return "/" + name.replace(".", "/")

    def with_id(self, rule_id: str) -> "Rule":
        return replace(self, rule_id=rule_id)


@dataclass(frozen=True)
class Modifier:
    """A column transformation applied before validation, in declaration
    order (validify/impl.rs:40-56; modify.rs:89-126 golden chain).

    ``gate``: optional SQL predicate — the modifier applies only to rows
    where it's true (enum-variant modifiers, derive_tests/tests/
    enum_validify.rs: each variant's #[modify] runs only for rows OF
    that variant)."""

    kind: str
    column: str
    fn: Optional[Callable] = None  # for kind == "custom": Column -> Column
    gate: Optional[str] = None


# ---------------------------------------------------------------------------
# Factory helpers (the ergonomic rule-spec surface)
# ---------------------------------------------------------------------------


def _mk(kind: str, column: Optional[str], params: dict, **kw: Any) -> Rule:
    return Rule(kind=kind, column=column, params=params, **kw)


def length(column: str, min: Optional[int] = None, max: Optional[int] = None,
           equal: Optional[int] = None, **kw: Any) -> Rule:
    return _mk("length", column, {"min": min, "max": max, "equal": equal}, **kw)


def range_(column: str, min: Optional[float] = None,
           max: Optional[float] = None, **kw: Any) -> Rule:
    return _mk("range", column, {"min": min, "max": max}, **kw)


def email(column: str, **kw: Any) -> Rule:
    return _mk("email", column, {}, **kw)


def url(column: str, **kw: Any) -> Rule:
    return _mk("url", column, {}, **kw)


def ip(column: str, format: Optional[str] = None, **kw: Any) -> Rule:
    return _mk("ip", column, {"format": format}, **kw)


def phone(column: str, **kw: Any) -> Rule:
    return _mk("phone", column, {}, **kw)


def credit_card(column: str, **kw: Any) -> Rule:
    return _mk("credit_card", column, {}, **kw)


def non_control_char(column: str, **kw: Any) -> Rule:
    return _mk("non_control_char", column, {}, **kw)


def required(column: str, **kw: Any) -> Rule:
    return _mk("required", column, {}, **kw)


def regex(column: str, pattern: str, **kw: Any) -> Rule:
    return _mk("regex", column, {"pattern": pattern}, **kw)


def contains(column: str, value: Any, **kw: Any) -> Rule:
    return _mk("contains", column, {"value": value}, **kw)


def contains_not(column: str, value: Any, **kw: Any) -> Rule:
    return _mk("contains_not", column, {"value": value}, **kw)


def is_in(column: str, values: Sequence[Any], **kw: Any) -> Rule:
    return _mk("is_in", column, {"values": list(values)}, **kw)


def not_in(column: str, values: Sequence[Any], **kw: Any) -> Rule:
    return _mk("not_in", column, {"values": list(values)}, **kw)


def must_match(column: str, other: str, **kw: Any) -> Rule:
    return _mk("must_match", column, {"other": other}, **kw)


def custom(column: str, builder: Callable,
           params: Optional[dict] = None, **kw: Any) -> Rule:
    """``builder`` is ``Column -> Column(bool)`` — True means pass.

    Preferred custom-rule form: stays in Catalyst (§2.9). For checks that
    need Python libs pass a pandas_udf-wrapped builder.

    ``params``: extra violation params (with_param,
    derive_tests/tests/custom.rs): {name: literal or Column-builder};
    builders are called with the rule's column. ``display_name``
    renames the violation field/location (new_field_named analog)."""
    p: dict = {"builder": builder}
    if params:
        p["params"] = dict(params)
    return _mk("custom", column, p, **kw)


def time(column: str, op: str, target: Optional[Any] = None,
         inclusive: bool = False, seconds: int = 0, minutes: int = 0,
         hours: int = 0, days: int = 0, weeks: int = 0,
         format: Optional[str] = None, target_column: Optional[str] = None,
         **kw: Any) -> Rule:
    """Time constraint (the 7 ops of validify/src/validation/time.rs).

    String ``target`` LITERALS are parse-checked at RuleSet build time
    (the sanity pass; a bad literal raises RuleSpecError immediately —
    strictly earlier feedback than the reference's runtime error for
    the same misconfiguration). A string-typed ``target_column``, by
    contrast, is row data: it parses per row under ``format``
    (Spark DateTimeFormatter pattern, e.g. 'yyyy-MM-dd HH:mm:ss'), and
    an unparseable target emits a per-row violation carrying
    actual+format params — the reference's runtime parse-error
    semantics (tokens.rs:740-747)."""
    interval = (seconds + 60 * minutes + 3600 * hours + 86400 * days
                + 604800 * weeks)
    return _mk(
        "time", column,
        {"op": op, "target": target, "target_column": target_column,
         "inclusive": inclusive, "interval_seconds": interval,
         "format": format},
        **kw,
    )


def iter_(column: str, inner: Rule, **kw: Any) -> Rule:
    """Apply ``inner`` to each element of array column ``column``
    (tokens.rs:167-235); violations get index-suffixed locations
    (iter.rs:26 golden ``/test/1``)."""
    return _mk("iter", column, {"inner": inner}, **kw)


def map_values_(column: str, inner: Rule, **kw: Any) -> Rule:
    """Apply ``inner`` to each VALUE of map column ``column``; violation
    locations carry the map key (error.rs:117-158)."""
    return _mk("map_values", column, {"inner": inner}, **kw)


def _sql_literal(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise RuleSpecError(f"variant tag value {v!r} not SQL-literal-able")


def variant_rules(tag_column: str, cases: dict,
                  known_only: bool = False) -> list:
    """Enum-variant analog (reference: per-variant field validation,
    validify_derive/src/validate/impl.rs:40-98,
    derive_tests/tests/enum.rs): rules for a variant apply only to rows
    whose ``tag_column`` equals that variant's tag. Rows of other
    variants (or NULL tag) pass those rules vacuously.

    ``cases``: {tag_value: [Rule, ...]}. Returns a flat rule list to
    splice into a RuleSet. With ``known_only=True`` an ``is_in`` rule on
    the tag column is prepended (unknown variants violate)."""
    out = []
    if known_only:
        out.append(is_in(tag_column, list(cases.keys())))
    for value, rules in cases.items():
        gate = f"`{tag_column}` = {_sql_literal(value)}"
        for r in rules:
            out.append(replace(r, params={**r.params, "_gate": gate}))
    return out


def _convert_case(name: str, convention: str) -> str:
    parts = name.split("_")
    if convention == "camelCase":
        return parts[0] + "".join(p[:1].upper() + p[1:]
                                  for p in parts[1:])
    if convention == "PascalCase":
        return "".join(p[:1].upper() + p[1:] for p in parts)
    if convention == "kebab-case":
        return "-".join(parts)
    if convention == "SCREAMING_SNAKE_CASE":
        return name.upper()
    if convention == "snake_case":
        return name
    raise RuleSpecError(f"rename_all: unknown convention {convention}")


def rename_all(rules: Sequence[Rule],
               convention: str = "camelCase") -> list:
    """serde `rename_all` analog (with_serde.rs:55-79): every rule
    without an explicit display_name gets one derived from its column's
    leaf under ``convention``; violations then carry the renamed field
    in locations and field names."""
    out = []
    for r in rules:
        if (r.display_name is None and r.column
                and r.kind != "schema"):
            leaf = r.column.split(".")[-1]
            out.append(replace(
                r, display_name=_convert_case(leaf, convention)))
        else:
            out.append(r)
    return out


def variant_modifiers(tag_column: str, cases: dict) -> list:
    """Per-variant modifiers (derive_tests/tests/enum_validify.rs): each
    variant's modifiers transform only rows whose ``tag_column`` equals
    that variant's tag. ``cases``: {tag_value: [Modifier, ...]}."""
    out = []
    for value, mods in cases.items():
        gate = f"`{tag_column}` = {_sql_literal(value)}"
        for m in mods:
            out.append(replace(m, gate=gate))
    return out


def schema_rule(predicate: Any, code: str = "schema",
                message: Optional[str] = None, **kw: Any) -> Rule:
    """Whole-row rule. ``predicate``: SQL string or ``df -> Column`` —
    True means the row PASSES. Runs after field checks, never
    short-circuits (schema.rs:183-212)."""
    return Rule(kind="schema", column=None, params={"predicate": predicate},
                code=code, message=message, **kw)


def trim(column: str) -> Modifier:
    return Modifier("trim", column)


def lowercase(column: str) -> Modifier:
    return Modifier("lowercase", column)


def uppercase(column: str) -> Modifier:
    return Modifier("uppercase", column)


def capitalize(column: str) -> Modifier:
    return Modifier("capitalize", column)


def custom_modifier(column: str, fn: Callable) -> Modifier:
    return Modifier("custom", column, fn=fn)


# ---------------------------------------------------------------------------
# RuleSet + sanity pass
# ---------------------------------------------------------------------------


@dataclass
class RuleSet:
    """Ordered modifiers + rules for one table. Modify-then-validate
    ordering follows ``validify()`` (validify/impl.rs:44-48)."""

    rules: list = _field(default_factory=list)
    modifiers: list = _field(default_factory=list)
    name: str = "ruleset"

    def __post_init__(self) -> None:
        self._assign_ids()
        self.check()

    def _assign_ids(self) -> None:
        out = []
        for i, r in enumerate(self.rules):
            if r.rule_id is None:
                col = (r.column or "row").replace(".", "_")
                r = r.with_id(f"{self.name}.{col}.{r.kind}.{i}")
            out.append(r)
        self.rules = out

    # -- sanity pass (analog of Time::assert etc., validation.rs:294-406)
    def check(self) -> None:
        for r in self.rules:
            self._check_rule(r)
        for m in self.modifiers:
            if m.kind not in MODIFIER_KINDS:
                raise RuleSpecError(f"unknown modifier kind: {m.kind}")
            if m.kind == "custom" and m.fn is None:
                raise RuleSpecError("custom modifier needs fn")

    def _check_rule(self, r: Rule) -> None:
        if r.kind not in VALIDATOR_KINDS:
            raise RuleSpecError(f"unknown rule kind: {r.kind}")
        if r.kind != "schema" and not r.column and r.kind not in (
                "iter", "map_values"):
            raise RuleSpecError(f"rule {r.kind} needs a column")
        p = r.params
        if r.kind == "length":
            if p.get("equal") is not None and (
                p.get("min") is not None or p.get("max") is not None
            ):
                # parser.rs:125-129: equal cannot combine with min/max
                raise RuleSpecError("length: `equal` excludes min/max")
            if all(p.get(k) is None for k in ("min", "max", "equal")):
                raise RuleSpecError("length: need min, max or equal")
            for k in ("min", "max", "equal"):
                if p.get(k) is not None and p[k] < 0:
                    # we do NOT reproduce the reference's usize-wrap quirk
                    # (derive_tests/tests/length.rs:69-82) — reject instead
                    raise RuleSpecError(f"length: {k} must be >= 0")
        elif r.kind == "range":
            lo, hi = p.get("min"), p.get("max")
            if lo is None and hi is None:
                raise RuleSpecError("range: need min or max")
            if lo is not None and hi is not None and lo > hi:
                raise RuleSpecError("range: min > max")
        elif r.kind == "regex":
            try:
                _re.compile(p["pattern"])
            except _re.error as e:  # proxy sanity check for Java regex
                raise RuleSpecError(f"regex: bad pattern: {e}") from e
        elif r.kind in ("is_in", "not_in"):
            if not p.get("values"):
                raise RuleSpecError(f"{r.kind}: empty collection")
        elif r.kind == "ip":
            if p.get("format") not in (None, "v4", "v6"):
                raise RuleSpecError("ip: format must be v4|v6")
        elif r.kind == "time":
            self._check_time(p)
        elif r.kind in ("iter", "map_values"):
            inner = p.get("inner")
            if not isinstance(inner, Rule):
                raise RuleSpecError(f"{r.kind}: inner must be a Rule")
            if inner.kind in ("iter", "map_values", "schema", "required"):
                # tokens.rs:170-175: no nested iter/validate inside iter
                raise RuleSpecError(f"{r.kind}: cannot nest {inner.kind}")
            if r.kind == "map_values" and inner.kind in ("email", "url"):
                raise RuleSpecError(
                    "map_values: UDF-backed inner kinds unsupported "
                    "(Spark bans UDFs in higher-order lambdas)")
        elif r.kind == "custom":
            if not callable(p.get("builder")):
                raise RuleSpecError("custom: builder must be callable")
        elif r.kind == "must_match":
            if not p.get("other"):
                raise RuleSpecError("must_match: need other column")
        elif r.kind == "schema":
            if p.get("predicate") is None:
                raise RuleSpecError("schema: need predicate")

    @staticmethod
    def _check_time(p: dict) -> None:
        op = p.get("op")
        if op not in TIME_OPS:
            raise RuleSpecError(f"time: unknown op {op}")
        interval = p.get("interval_seconds", 0)
        if op in ("before", "after"):
            if p.get("target") is None and p.get("target_column") is None:
                raise RuleSpecError(f"time {op}: need target")
        if op in ("before_now", "after_now", "before_from_now",
                  "after_from_now"):
            # now-relative ops take no target (reference parser has no
            # target slot for them) — reject instead of silently
            # ignoring, so both evaluation phases agree by construction
            if p.get("target") is not None or p.get("target_column"):
                raise RuleSpecError(f"time {op}: does not take a target")
        if op in ("before_from_now", "after_from_now"):
            # negative/zero duration rejected at parse (validation.rs:351-369)
            if interval <= 0:
                raise RuleSpecError(f"time {op}: interval must be > 0")
        if op == "in_period":
            if p.get("target") is None and p.get("target_column") is None:
                raise RuleSpecError("time in_period: need target")
            if interval == 0:
                raise RuleSpecError("time in_period: need nonzero interval")
        tgt = p.get("target")
        if isinstance(tgt, str):
            fmt = p.get("format")
            if not fmt:
                raise RuleSpecError("time: string target needs format")
            try:  # compile-time parse check (validation.rs:296-316)
                _dt.datetime.strptime(tgt, fmt)
            except ValueError as e:
                raise RuleSpecError(f"time: target !~ format: {e}") from e

    # -- convenience -----------------------------------------------------
    @property
    def presence_rules(self) -> list:
        return [r for r in self.rules if r.stage == "presence"]

    @property
    def main_rules(self) -> list:
        return [r for r in self.rules if r.stage != "presence"]
