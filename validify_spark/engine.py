"""ValidationEngine — compiles a RuleSet against a DataFrame and produces
the violations table + normalized view + per-partition verdicts.

Execution shape (SURVEY.md §3.4): every rule is lowered once against
the frame (``compiler.lower``) and the engine only combines the lowered
parts. Phase 1 scans the source once with the conjunction of every
rule's screen; phase 2 builds the violation arrays (one per rule,
flattened, in one projection) only for the rows phase 1 captured.
Phase 1 computes the screen in a one-row ``Generate`` and filters on
its output: Catalyst's PushPredicateThroughNonJoin would push a plain
filter below the modifier projection, substituting each modifier into
every rule predicate on its column, and whole-stage codegen does no
subexpression elimination inside a ``Filter``. So each modifier runs
once per row, in the projection below the ``Generate``.
Phase 1, phase 2 and the explode run in one stage, on a batch frame
and on a streaming micro-batch alike.
Catalyst CSE folds repeated subexpressions within a projection (e.g.
five rules on the same column) and whole-stage codegen inlines the
predicates — the distributed analog of the reference's monomorphized
straight-line `validate()` (validify_derive/src/tokens.rs:80-264).
Row-level verdicts (``with_valid_flag``, ``partition_report``,
``coverage_report``) use the lowered pass predicates alone and build
no violation structs.

Violations-table schema (§2.6):
  <key cols...>, rule_id, field, location, code, message,
  params map<string,string>
"""

from __future__ import annotations

import datetime as _dt
import operator
from dataclasses import dataclass
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from . import compiler as C
from .modifiers import apply_modifiers
from .rules import Rule, RuleSet


# phase 1's screen column (``_violations``)
_SCREEN = "__vs_screen"


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


def _all(cols) -> Column:
    """Conjunction of ``cols`` (True when there are none)."""
    cols = list(cols)
    return reduce(operator.and_, cols) if cols else F.lit(True)


def _schema_last(lowered: list) -> list:
    # schema (whole-row) rules run last, never short-circuited
    # (schema.rs:183-212)
    return sorted(lowered, key=lambda low: low.rule.kind == "schema")


@dataclass
class ValidationResult:
    normalized: DataFrame
    violations: DataFrame
    key_cols: Sequence[str]

    def summary(self) -> DataFrame:
        return (self.violations
                .groupBy("rule_id", "code")
                .agg(F.count("*").alias("n_violations"))
                .orderBy("rule_id"))

    def is_valid(self) -> bool:
        return self.violations.isEmpty()


class ValidationEngine:
    """Analog of a ``#[derive(Validify)]`` impl, lifted to tables.

    ``validate`` = modify-then-validate (validify/impl.rs:44-48);
    presence ("payload") rules gate main rules per row
    (payload/impl.rs:17-53 short-circuit → F.when wrapping, §2.4).
    """

    def __init__(self, ruleset: RuleSet, key_cols: Sequence[str],
                 run_ts: Optional[_dt.datetime] = None,
                 dedup: bool = False):
        self.ruleset = ruleset
        self.key_cols = list(key_cols)
        # pinned run timestamp: every time-vs-now rule folds against this
        # one constant — deterministic within a run (SURVEY.md §4.2)
        self.run_ts = run_ts or _utcnow()
        self.dedup = dedup

    # -- normalization (modifiers) ----------------------------------------
    def normalize(self, df: DataFrame) -> DataFrame:
        return apply_modifiers(df, self.ruleset.modifiers)

    # -- lowering -----------------------------------------------------------
    def _lower(self, df: DataFrame):
        """(presence, main) rules lowered against ``df``."""
        schema = df.schema

        def lower(rules):
            return [C.lower(r, schema, self.run_ts, df) for r in rules]
        return (lower(self.ruleset.presence_rules),
                lower(self.ruleset.main_rules))

    @staticmethod
    def _pass_all(presence: list, mains: list, part: str = "passes"):
        """True ⇔ the row has no violation: the conjunction of every
        lowered rule's ``part``. A presence failure suppresses the main
        rules' violations but still fails the row, so presence needs no
        special case. ``part="screen"`` is violations()' phase 1, which
        may over-capture (``compiler.Lowered.screen``)."""
        return _all(getattr(low, part) for low in presence + mains)

    @staticmethod
    def _violations_array(presence: list, mains: list):
        """One flattened array<violation> Column for every lowered rule.
        A presence failure gates the main and schema rules' violations
        (payload/impl.rs:17-53); the presence violations themselves are
        always emitted."""
        arrays = [low.violations for low in presence]
        presence_ok = _all(low.passes for low in presence) if presence \
            else None
        for low in _schema_last(mains):
            arrays.append(low.violations if presence_ok is None else
                          F.when(presence_ok, low.violations)
                          .otherwise(C.empty_violations()))
        if not arrays:
            return C.empty_violations()
        return F.flatten(F.array(*arrays))

    def violations(self, df: DataFrame,
                   pre_normalized: bool = False,
                   extra_cols: Sequence[str] = ()) -> DataFrame:
        """The violations table of ``df``: key columns, ``extra_cols``
        and one row per violation (module docstring for the schema).
        A batch or streaming ``df`` runs both phases in one stage.

        ``pre_normalized``: ``df`` already went through ``normalize``."""
        return self._violations(df, pre_normalized, extra_cols)

    def _violations(self, df: DataFrame, pre_normalized: bool,
                    extra_cols: Sequence[str],
                    observe_rows=None) -> DataFrame:
        """``violations()`` with an optional per-row hook:
        ``observe_rows(rows, failed)`` may wrap (e.g. ``observe``) the
        phase-2 frame that holds one row per phase-1 capture, where
        ``failed`` is the exact per-row failure flag. Without ``dedup``
        that frame is in the output's stage. Without the hook the plan
        is the one ``violations()`` builds."""
        src = df if pre_normalized else self.normalize(df)
        carry = list(self.key_cols) + list(extra_cols)
        # two-phase: cheap boolean scan over everything, expensive
        # violation-struct construction only on the failing minority.
        presence, mains = self._lower(src)
        # the anchor: the screen is computed in a one-row Generate and
        # filtered on above it. A Filter on ``src`` directly is pushed
        # below the modifier projection by Catalyst's
        # PushPredicateThroughNonJoin, which substitutes each modifier
        # into every rule predicate on its column, and whole-stage
        # codegen does no subexpression elimination inside a Filter:
        # the standard turns ruleset's phase-1 filter held 5 trim(text)
        # and 3 lower(role), each copying the text per row. No rule
        # pushes a Filter on a generated column below its Generate, so
        # each modifier runs once, in the projection below it. Phase 2
        # selects its columns, so the screen column needs no drop.
        failing = (src.select("*", F.explode(F.array(
                       ~self._pass_all(presence, mains, "screen")))
                       .alias(_SCREEN))
                   .filter(_SCREEN))

        # phase 2 is ONE projection over the captured rows, reusing
        # phase 1's lowering: ``failing`` keeps ``src``'s attributes, so
        # even frame-bound schema-rule callables resolve on it.
        # Whole-stage codegen emits it as one method; measured with nine
        # built-in kinds, 99 rules compile and 144 exceed Janino's 64 KB
        # method limit, where Spark runs phase 2 operator by operator
        # with the same result.
        per_row = failing.select(
            *carry, self._violations_array(presence, mains).alias("_v"))
        if observe_rows is not None:
            per_row = observe_rows(per_row, F.size("_v") > 0)
        # NO size(_v)>0 filter on _v, written or inferred: Catalyst
        # pushes a filter on _v below the phase-1 anchor, substituting
        # the ENTIRE violations expression (modifier chains inlined per
        # rule) into the phase-1 filter, where it once overflowed
        # Janino's 64 KB method limit on the 8-rule flagship. A plain
        # explode() gets that filter from InferFiltersFromGenerate in
        # any session that does not exclude the rule (get_spark does);
        # the rule skips outer generators, so the generator is
        # explode_outer, and the NULL row it emits for an empty array
        # is dropped by a filter on the generated column, which stays
        # above it.
        out = (per_row
               .select(*carry, F.explode_outer("_v").alias("v"))
               .filter(F.col("v").isNotNull())
               .select(*carry, "v.*"))
        if self.dedup:
            # ValidationErrors::merge dedup semantics (error.rs:222-231)
            out = (out
                   .withColumn("_p", F.to_json("params"))
                   .dropDuplicates(self.key_cols
                                   + ["location", "code", "_p"])
                   .drop("_p"))
        return out

    # -- row-level pass flag (for gating downstream pipelines) -------------
    def with_valid_flag(self, df: DataFrame,
                        flag: str = "is_valid") -> DataFrame:
        src = self.normalize(df)
        return src.withColumn(flag, self._pass_all(*self._lower(src)))

    # -- per-rule coverage (ruleset lint) -----------------------------------
    def coverage_report(self, df: DataFrame,
                        pre_normalized: bool = False) -> DataFrame:
        """One row per rule: how often it fires on ``df`` — the
        ruleset lint a large deployment runs before trusting a config
        (a rule that never fires is dead weight or a bug; one that
        fires on every row is usually a schema mismatch).

        ONE scan: every rule's fail indicator (``~passes`` of its
        lowering, so semantics match ``violations()`` exactly) folds
        into a single aggregation (map-side combined), then the 1-row
        wide result explodes to long form. A presence failure
        suppresses the main and schema rules' counts.

        Output: rule_id, kind, location, n_rows, n_failed, fail_rate.
        """
        src = df if pre_normalized else self.normalize(df)
        presence, mains = self._lower(src)
        mains = _schema_last(mains)
        presence_ok = _all(low.passes for low in presence)
        fired = ([~low.passes for low in presence]
                 + [presence_ok & ~low.passes for low in mains])
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(f.cast("long")).alias(f"__f_{i}")
            for i, f in enumerate(fired)]
        wide = src.agg(*aggs)
        rows = F.array(*[
            F.struct(F.lit(r.rule_id).alias("rule_id"),
                     F.lit(r.kind).alias("kind"),
                     F.lit(r.location).alias("location"),
                     F.col("__n").alias("n_rows"),
                     F.col(f"__f_{i}").alias("n_failed"))
            for i, r in enumerate(low.rule for low in presence + mains)])
        return (wide.select(F.explode(rows).alias("r")).select("r.*")
                .withColumn("fail_rate",
                            F.round(F.col("n_failed")
                                    / F.greatest(F.col("n_rows"),
                                                 F.lit(1)), 6)))

    # -- full run -----------------------------------------------------------
    def validate(self, df: DataFrame) -> ValidationResult:
        normalized = self.normalize(df)
        return ValidationResult(
            normalized=normalized,
            violations=self.violations(normalized, pre_normalized=True),
            key_cols=self.key_cols,
        )

    # -- per-partition verdicts (north_rule: per-partition pass/fail) -------
    def partition_report(self, df: DataFrame, partition_col) -> DataFrame:
        """One row per partition: total rows, failing rows, pass verdict.
        ``partition_col``: column name or Column expression."""
        src = self.normalize(df)
        pc = F.col(partition_col) if isinstance(partition_col, str) \
            else partition_col
        failed = (~self._pass_all(*self._lower(src))).cast("long")
        return (src
                .groupBy(pc.alias("partition_id"))
                .agg(F.count("*").alias("n_rows"),
                     F.sum(failed).alias("n_failed_rows"))
                .withColumn("passed", F.col("n_failed_rows") == 0))


def validate(df: DataFrame, rules: list, key_cols: Sequence[str],
             modifiers: Optional[list] = None,
             run_ts: Optional[_dt.datetime] = None,
             name: str = "ruleset") -> ValidationResult:
    """One-shot convenience: build RuleSet + engine, run validate."""
    rs = RuleSet(rules=list(rules), modifiers=list(modifiers or []),
                 name=name)
    return ValidationEngine(rs, key_cols, run_ts=run_ts).validate(df)


def rule_of(kind_or_rule, **kw) -> Rule:
    if isinstance(kind_or_rule, Rule):
        return kind_or_rule
    return Rule(kind=kind_or_rule, **kw)
