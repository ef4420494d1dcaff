"""ValidationEngine — compiles a RuleSet against a DataFrame and produces
the violations table + normalized view + per-partition verdicts.

Execution shape (SURVEY.md §3.4): ONE wide projection evaluates every
rule (array-of-violation-struct per rule, flattened), so the source is
scanned once regardless of rule count; Catalyst CSE folds repeated
subexpressions (e.g. five rules on the same column) and whole-stage
codegen inlines the predicates — the distributed analog of the
reference's monomorphized straight-line `validate()`
(validify_derive/src/tokens.rs:80-264).

Violations-table schema (§2.6):
  <key cols...>, rule_id, field, location, code, message,
  params map<string,string>
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from . import compiler as C
from .modifiers import apply_modifiers
from .rules import Rule, RuleSet


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


# Relative whole-stage-codegen weight of one compiled rule, by kind.
# Used to pack the phase-2 violation projection into chunks that each
# compile comfortably under Janino's 64 KB per-method bytecode limit.
# Calibrated against the 8-rule flagship ruleset, whose fused projection
# generated a ~17k-line processNext() that failed to compile: time rules
# (multi-branch parse/overflow/format handling, compiler.py:239-459) and
# regex-bearing string validators dominate; scalar comparisons are small.
_KIND_WEIGHT = {
    "length": 1, "range": 1, "is_in": 1, "not_in": 1, "must_match": 1,
    "required": 1, "contains": 2, "contains_not": 2, "custom": 2,
    "regex": 2, "non_control_char": 2, "email": 2, "url": 2, "ip": 2,
    "phone": 2, "credit_card": 2, "time": 4, "iter": 4, "nested": 4,
    "map_values": 4, "schema": 3,
}
# Max summed weight per phase-2 codegen chunk. The real 64 KB overflow
# was the size(_v)>0 filter pushed below the barrier (see violations());
# with that gone, the 13-weight flagship's fused post-barrier projection
# generates ~3k lines and compiles comfortably, so the budget only
# splits genuinely huge rulesets (~2x the flagship per chunk).
_CHUNK_WEIGHT = 24

# Measured backstop for the weight table above: the table is an
# ESTIMATE (a `custom` rule weighs 2 regardless of how large the
# caller's builder expression actually is, and future rule kinds
# default to 2), so violations() additionally PROBES each packed
# chunk's generated phase-2 code and keeps splitting while any
# whole-stage-codegen unit exceeds this many source lines. The r4
# failure threshold was ~14k generated lines (≈ Janino's 64 KB
# bytecode method limit); 8k leaves 40% headroom, same bound the
# flagship pytest enforces.
_MAX_UNIT_LINES = 8000


def _unit_line_counts(df) -> list:
    """Source-line count of each whole-stage-codegen unit in ``df``'s
    physical plan — the measured (not estimated) input to chunk
    splitting. Returns [] when the probe is unavailable (Spark
    Connect has no py4j bridge; debug codegen may be absent), which
    disables the backstop but never breaks the query."""
    try:
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        out = []
        for i in range(seq.size()):
            body = seq.apply(i)._2()
            if not isinstance(body, str):
                body = body.body()
            out.append(body.count("\n"))
        return out
    except Exception:  # noqa: BLE001 — probe is best-effort
        return []


def _safe_unpersist(df) -> None:
    """Finalizer target: unpersist a cached DataFrame, swallowing
    errors from an already-stopped SparkSession (interpreter
    shutdown ordering is arbitrary)."""
    try:
        df.unpersist(blocking=False)
    except Exception:  # noqa: BLE001 — best-effort cleanup
        pass


def _release_caches(caches: list) -> None:
    """Finalizer target: drain + unpersist an engine's failing-row
    caches (module-level so the engine's weakref.finalize holds no
    reference back to the engine)."""
    while caches:
        _safe_unpersist(caches.pop())


def _chunk_by_weight(rules: list, budget: int) -> list:
    chunks, cur, w = [], [], 0
    for r in rules:
        rw = _KIND_WEIGHT.get(r.kind, 2)
        if cur and w + rw > budget:
            chunks.append(cur)
            cur, w = [], 0
        cur.append(r)
        w += rw
    if cur:
        chunks.append(cur)
    return chunks or [[]]


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
        # failing-row caches created by multi-chunk violations() runs.
        # Lifetime is tied to the ENGINE (which the caller necessarily
        # holds while consuming results), not to the returned DataFrame:
        # a caller that chains `engine.violations(df).filter(...)` drops
        # the returned wrapper immediately, and a finalizer on it would
        # release the shared cache before the first action — making
        # every union chunk re-run the full phase-1 scan.
        self._phase_caches: list = []
        import weakref
        weakref.finalize(self, _release_caches, self._phase_caches)

    def release_caches(self) -> None:
        """Explicitly unpersist failing-row caches from prior
        multi-chunk ``violations()`` runs. Optional — caches are also
        released when the engine is garbage-collected; lineage stays
        intact either way, so late consumers merely recompute."""
        _release_caches(self._phase_caches)

    # -- normalization (modifiers) ----------------------------------------
    def normalize(self, df: DataFrame) -> DataFrame:
        return apply_modifiers(df, self.ruleset.modifiers)

    # -- payload column-existence (validate_from semantics, §2.4) ----------
    @staticmethod
    def _missing_inputs(rule: Rule, schema) -> list:
        """Input columns of ``rule`` absent from ``schema``. Non-empty ⇒
        the rule can't run; it emits a constant `required` violation per
        row instead of throwing AnalysisException
        (derive_tests/tests/payload.rs:14-22)."""
        return [c for c in C.rule_input_columns(rule)
                if C.resolve_type(schema, c) is None]

    # -- violations --------------------------------------------------------
    def _pass_all(self, df: DataFrame, prefilter: bool = False):
        """Phase-1 predicate: True ⇔ row has NO violation. Compact
        conjunction of per-rule pass predicates — stays inside
        whole-stage codegen even for large rulesets, unlike the full
        violation-struct expression (which can exceed codegen method
        limits and fall back to interpreted eval).

        ``prefilter=True`` (violations() only) lets two-tier validator
        kinds answer with their pure-codegen fast path — a sound
        under-approximation of pass, so phase 1 may over-capture rows
        that phase 2's exact expressions then clear; the Arrow UDF tier
        leaves the full-table scan entirely (compiler.pass_expr)."""
        schema = df.schema

        def p(rule):
            if self._missing_inputs(rule, schema):
                # missing column ⇒ every (gate-matching) row fails
                g = C._gate_expr(rule)
                if g is not None:
                    return F.when(g, F.lit(False)).otherwise(F.lit(True))
                return F.lit(False)
            return F.coalesce(
                C.pass_expr(rule, schema, self.run_ts, df,
                            prefilter=prefilter), F.lit(False))

        presence = self.ruleset.presence_rules
        mains = self.ruleset.main_rules
        presence_pass = None
        for r in presence:
            presence_pass = p(r) if presence_pass is None \
                else (presence_pass & p(r))
        main_pass = None
        for r in mains:
            main_pass = p(r) if main_pass is None else (main_pass & p(r))
        if presence_pass is None and main_pass is None:
            return F.lit(True)
        if presence_pass is None:
            return main_pass
        if main_pass is None:
            return presence_pass
        # presence failure gates main rules, but the row still fails
        return presence_pass & main_pass

    def _violations_array(self, df: DataFrame, rules: list = None,
                          emit_presence: bool = True):
        """Build one flattened array<violation> Column for ``rules``
        (default: every main rule). Presence rules are always *evaluated*
        (their failure gates main/schema rules, payload/impl.rs:17-53)
        but their own violation structs are emitted only when
        ``emit_presence`` — so chunked evaluation emits each presence
        violation exactly once."""
        schema = df.schema
        presence = self.ruleset.presence_rules
        pool = self.ruleset.main_rules if rules is None else rules
        main = [r for r in pool if r.kind != "schema"]
        schema_rules = [r for r in pool if r.kind == "schema"]

        def compile_or_missing(r):
            miss = self._missing_inputs(r, schema)
            if miss:
                arr = C.compile_missing_column(r, miss[0])
                g = C._gate_expr(r)
                if g is not None:
                    arr = F.when(g, arr).otherwise(C.empty_violations())
                return arr
            return C.compile_rule(r, schema, self.run_ts)

        presence_arrays = [compile_or_missing(r) for r in presence]
        if presence_arrays:
            presence_ok = F.size(F.flatten(F.array(*presence_arrays))) == 0
        else:
            presence_ok = F.lit(True)

        arrays = list(presence_arrays) if emit_presence else []
        for r in main:
            arr = compile_or_missing(r)
            if presence:
                # presence failure suppresses later-stage rules for the row
                arr = F.when(presence_ok, arr).otherwise(
                    C.empty_violations())
            arrays.append(arr)
        # schema (whole-row) rules run last, never short-circuited
        # (schema.rs:183-212)
        for r in schema_rules:
            arr = C.compile_schema_rule(r, df)
            if presence:
                arr = F.when(presence_ok, arr).otherwise(
                    C.empty_violations())
            arrays.append(arr)

        if not arrays:
            return C.empty_violations()
        return F.flatten(F.array(*arrays))

    def _weights_untrusted(self) -> bool:
        """True when the static _KIND_WEIGHT estimate cannot bound the
        ruleset's generated-code size: a `custom` rule carries an
        arbitrary caller builder (weight 2 regardless of its real
        size), an unknown kind has no calibrated weight, and iter/
        nested/map_values can wrap either."""
        def untrusted(r) -> bool:
            if r.kind == "custom" or r.kind not in _KIND_WEIGHT:
                return True
            inner = (r.params or {}).get("inner")
            return inner is not None and untrusted(inner)
        return any(untrusted(r) for r in self.ruleset.main_rules)

    def _refine_chunk_measured(self, empty: DataFrame, carry, chunk_rules,
                               emit_presence: bool) -> list:
        """Split ``chunk_rules`` until its phase-2 projection's largest
        whole-stage-codegen unit measures under _MAX_UNIT_LINES. A
        single rule that alone exceeds the bound can't be split at this
        level — warn and rely on Spark's expression splitting /
        non-codegen fallback (which compile fine; the 64 KB hard
        failure needs a fused multi-rule unit)."""
        viol = self._violations_array(empty, rules=chunk_rules,
                                      emit_presence=emit_presence)
        probe = (empty.select(*carry, viol.alias("_v"))
                 .select(*carry, F.explode("_v").alias("v"))
                 .select(*carry, "v.*"))
        units = _unit_line_counts(probe)
        if not units or max(units) <= _MAX_UNIT_LINES:
            return [chunk_rules]
        if len(chunk_rules) == 1:
            import warnings
            warnings.warn(
                f"rule {chunk_rules[0].kind} on "
                f"{chunk_rules[0].column!r} alone generates a "
                f"{max(units)}-line codegen unit (> {_MAX_UNIT_LINES}); "
                "cannot chunk further — if Janino rejects it, Spark "
                "falls back to interpreted eval for that branch")
            return [chunk_rules]
        mid = len(chunk_rules) // 2
        return (self._refine_chunk_measured(
                    empty, carry, chunk_rules[:mid], emit_presence)
                + self._refine_chunk_measured(
                    empty, carry, chunk_rules[mid:], emit_presence=False))

    def violations(self, df: DataFrame,
                   pre_normalized: bool = False,
                   extra_cols: Sequence[str] = (),
                   barrier: bool = True) -> DataFrame:
        return self._violations(df, pre_normalized, extra_cols, barrier)

    def _violations(self, df: DataFrame, pre_normalized: bool,
                    extra_cols: Sequence[str], barrier: bool,
                    observe_rows=None) -> DataFrame:
        """``violations()`` with an optional per-row hook:
        ``observe_rows(rows, failed)`` may wrap (e.g. ``observe``) the
        phase-2 frame that holds one row per phase-1 capture, where
        ``failed`` is the exact per-row failure flag. With the barrier
        (and without ``dedup``) that frame is in the output's stage.
        Without the hook the plan is the one ``violations()`` builds."""
        src = df if pre_normalized else self.normalize(df)
        carry = list(self.key_cols) + list(extra_cols)
        # two-phase: cheap boolean scan over everything, expensive
        # violation-struct construction only on the failing minority.
        # ``barrier`` inserts a shuffle between the phases so they land
        # in SEPARATE whole-stage-codegen units. Without it they fuse
        # into one giant processNext(): C2 takes minutes to compile it
        # and recurring deopts in the rarely-taken phase-2 branches
        # throw the ENTIRE hot scan loop back to C1/interpreter —
        # measured 10x throughput swings between identical passes
        # (70k vs 800k turns/s). With the barrier the full-scan stage
        # is a compact conjunction that JITs in seconds and stays
        # compiled; the shuffle moves only failing rows (violation
        # minority), which is also the natural partitioning for
        # writing the violations table.
        failing = src.filter(~self._pass_all(src, prefilter=True))
        if barrier:
            if self.key_cols:
                failing = failing.repartition(
                    *[F.col(k) for k in self.key_cols])
            else:
                failing = failing.repartition(
                    df.sparkSession.sparkContext.defaultParallelism)

        def project(rows, chunk_rules, emit_presence, observe=None):
            viol = self._violations_array(
                rows, rules=chunk_rules, emit_presence=emit_presence)
            per_row = rows.select(*carry, viol.alias("_v"))
            if observe is not None:
                per_row = observe(per_row, F.size("_v") > 0)
            # NO size(_v)>0 pre-filter here: explode() already emits
            # zero rows for an empty array, and a filter on _v gets
            # pushed by Catalyst below the barrier exchange — which
            # substitutes the ENTIRE violations expression (with
            # modifier chains inlined per rule, since normalize hasn't
            # materialized yet on that side) into the full-scan stage.
            # That duplication is what overflowed Janino's 64 KB method
            # limit on the 8-rule flagship (17k-line processNext, 3x
            # failed compiles + interpreted fallback per fresh JVM).
            return (per_row
                    .select(*carry, F.explode("_v").alias("v"))
                    .select(*carry, "v.*"))

        # Phase 2 itself can also overflow Janino's 64 KB method limit
        # once a ruleset is big enough (~2x the 8-rule flagship, whose
        # post-barrier projection generates ~2k lines): a single
        # flatten(array(...)) is ONE expression, so Spark's expression
        # splitter cannot cut it, and a failed compile means
        # interpreted eval over every failing row — at 10^12 rows
        # that is 10^11 interpreted-eval rows. Insurance: pack rules
        # into weight-bounded chunks and project each chunk in its OWN
        # union branch, each a separate whole-stage-codegen unit that
        # compiles comfortably. Extra cost: K-1 additional reads of the
        # materialized failing minority only.
        # Chunking needs the barrier (without it each branch would
        # re-run the full scan), so barrier=False keeps the fused
        # single projection — that path exists for semantics tests.
        # Streaming input keeps the fused single projection: the
        # multi-chunk path shares the failing minority via persist(),
        # which streaming DataFrames don't support, and K union
        # branches without it would re-run the phase-1 scan K times
        # EVERY micro-batch. Micro-batches are small relative to a
        # batch backfill, so the fused phase-2 is the right trade.
        chunks = (_chunk_by_weight(self.ruleset.main_rules, _CHUNK_WEIGHT)
                  if barrier and not df.isStreaming
                  else [self.ruleset.main_rules])
        if barrier and not df.isStreaming and self._weights_untrusted():
            # measure, don't estimate: the weight table can't see how
            # big a caller's custom builder really is, so verify each
            # packed chunk's GENERATED code over an empty relation with
            # the same schema (LocalTableScan + the chunk's projection
            # only — exactly the code chunking controls, no AQE, no
            # scan) and keep halving any chunk whose largest codegen
            # unit exceeds _MAX_UNIT_LINES. Driver-side only, skipped
            # entirely for rulesets of known-weight kinds.
            empty = df.sparkSession.createDataFrame([], src.schema)
            refined = []
            first = True
            for chunk_rules in chunks:
                refined.extend(self._refine_chunk_measured(
                    empty, carry, chunk_rules, emit_presence=first))
                first = False
            chunks = refined
        persisted = None
        if len(chunks) > 1:
            # Per-branch column pruning makes each branch's exchange
            # canonicalize differently, defeating ReuseExchange — so a
            # multi-chunk union would re-run the full phase-1 scan per
            # chunk. persist() shares one materialization of the
            # failing minority across every branch (the cache manager
            # matches the canonicalized plan) while KEEPING lineage —
            # unlike localCheckpoint, a lost executor recomputes the
            # missing blocks instead of failing the whole query, which
            # matters precisely in the huge-ruleset cluster regime
            # this path serves.
            from pyspark import StorageLevel
            failing = failing.persist(StorageLevel.MEMORY_AND_DISK)
            persisted = failing
        if observe_rows is not None and len(chunks) > 1:
            # no single branch sees all of a row's violations, so the
            # first branch, which reads every captured row, carries the
            # exact pass predicate (compact, unlike the violation arrays)
            out = project(observe_rows(failing, ~self._pass_all(failing)),
                          chunks[0], emit_presence=True)
        else:
            out = project(failing, chunks[0], emit_presence=True,
                          observe=observe_rows)
        for chunk_rules in chunks[1:]:
            out = out.unionByName(project(failing, chunk_rules,
                                          emit_presence=False))
        if self.dedup:
            # ValidationErrors::merge dedup semantics (error.rs:222-231)
            out = (out
                   .withColumn("_p", F.to_json("params"))
                   .dropDuplicates(self.key_cols
                                   + ["location", "code", "_p"])
                   .drop("_p"))
        if persisted is not None:
            # registered on the ENGINE's cache list — released when the
            # engine is GC'd or release_caches() is called, and bounded
            # to the 2 most recent: a long-lived engine driving
            # violations() in a loop must not accumulate one persist
            # per call for its lifetime. Lineage is intact everywhere,
            # so a consumer holding an older result merely recomputes
            # once its cache is rotated out.
            self._phase_caches.append(persisted)
            while len(self._phase_caches) > 2:
                _safe_unpersist(self._phase_caches.pop(0))
        return out

    # -- row-level pass flag (for gating downstream pipelines) -------------
    def with_valid_flag(self, df: DataFrame,
                        flag: str = "is_valid") -> DataFrame:
        src = self.normalize(df)
        return src.withColumn(flag, self._pass_all(src))

    # -- per-rule coverage (ruleset lint) -----------------------------------
    def coverage_report(self, df: DataFrame,
                        pre_normalized: bool = False) -> DataFrame:
        """One row per rule: how often it fires on ``df`` — the
        ruleset lint a large deployment runs before trusting a config
        (a rule that never fires is dead weight or a bug; one that
        fires on every row is usually a schema mismatch).

        ONE scan: every rule's fail indicator folds into a single
        aggregation (map-side combined), then the 1-row wide result
        explodes to long form. Semantics match ``violations()``
        exactly — variant gates honored, presence failure suppresses
        main/schema rules, Option semantics (NULL passes everything
        but required), missing columns count as per-row failures.

        Output: rule_id, kind, location, n_rows, n_failed, fail_rate.
        """
        src = df if pre_normalized else self.normalize(df)
        schema = src.schema

        def arr(r):
            miss = self._missing_inputs(r, schema)
            if miss:
                a = C.compile_missing_column(r, miss[0])
                g = C._gate_expr(r)
                if g is not None:
                    a = F.when(g, a).otherwise(C.empty_violations())
                return a
            return C.compile_rule(r, schema, self.run_ts)

        presence = self.ruleset.presence_rules
        mains = [r for r in self.ruleset.main_rules
                 if r.kind != "schema"]
        schema_rules = [r for r in self.ruleset.main_rules
                        if r.kind == "schema"]
        presence_arrays = [arr(r) for r in presence]
        presence_ok = (F.size(F.flatten(F.array(*presence_arrays))) == 0
                       if presence_arrays else F.lit(True))

        entries, aggs = [], [F.count(F.lit(1)).alias("__n")]
        for i, r in enumerate(presence):
            fired = F.size(presence_arrays[i]) > 0
            aggs.append(F.sum(fired.cast("long")).alias(f"__f_{i}"))
            entries.append((i, r))
        off = len(presence)
        for j, r in enumerate(mains + schema_rules):
            a = (C.compile_schema_rule(r, src) if r.kind == "schema"
                 else arr(r))
            fired = presence_ok & (F.size(a) > 0)
            aggs.append(
                F.sum(fired.cast("long")).alias(f"__f_{off + j}"))
            entries.append((off + j, r))
        wide = src.agg(*aggs)
        rows = F.array(*[
            F.struct(F.lit(r.rule_id).alias("rule_id"),
                     F.lit(r.kind).alias("kind"),
                     F.lit(r.location).alias("location"),
                     F.col("__n").alias("n_rows"),
                     F.col(f"__f_{i}").alias("n_failed"))
            for i, r in entries])
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
        failed = (~self._pass_all(src)).cast("long")
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
