"""Payload entry point — the ``T::validify_from(payload)`` analog.

The reference's third entry point (validify_derive/src/payload.rs;
payload/impl.rs:36-53; SURVEY.md §3.3) takes a SERIALIZED payload,
deserializes it (serde), runs the payload's required checks, and only
then converts + validates. Here the payload is a JSON-string column on
an ingest DataFrame — the shape transcript events actually arrive in —
and the whole flow stays declarative:

1. ``from_json`` with a corrupt-record column deserializes every row
   in the JVM (no Python). A payload that does not parse as an object
   of the target schema (malformed JSON, or a JSON array / scalar
   where serde would fail with "expected struct") becomes a single
   ``code='payload'`` violation at location ``/`` — the analog of
   ``validify_from`` returning the deserialization Err.
   ``from_json`` is a ``CodegenFallback`` in Spark 4.1: an operator
   that holds it runs interpreted, outside whole-stage codegen. The
   engine's phase 1 holds no copy of it (its screen is filtered above
   a ``Generate``, see ``engine``), but Catalyst still substitutes
   ``__payload`` into the two filters that split parsed from corrupt
   rows: a well-formed payload is parsed in its branch's filter and
   again in the projection that expands its fields, and the
   ``code='payload'`` branch scans the source a second time and parses
   every payload once more (3 ``from_json`` in the optimized plan for
   a six-field, eight-rule ruleset).
2. Rows that parsed are expanded to the schema's fields and run through
   the normal two-phase engine: missing / explicitly-null fields are
   NULL, so presence-stage ``required`` rules fire exactly like the
   payload's Option checks, and presence failures gate main rules
   (payload/impl.rs:17-53 short-circuit).

Serde parity (measured, not assumed): Spark's PERMISSIVE ``from_json``
already sets the corrupt-record column when ANY field fails type
conversion (string/float/array into int, object into scalar, ...), so
a type-mismatched field fails the WHOLE payload with ``code='payload'``
by default — the same outcome as serde's ``invalid type`` error.
``strict_types=True`` adds serde's error-MESSAGE parity on top: one
``get_json_object`` per top-level field re-probes the raw JSON to name
the first field that parsed NULL while the raw text holds a non-null
value there (``params['field']``), at the cost of those extra probes.
The one undetectable class either way: a JSON number quietly
stringifies into a declared string field (``text: 42`` → ``"42"``) —
serde fails it, Spark's parser coerces it, and ``get_json_object``
cannot tell the difference (both serialize to the same text).
"""

from __future__ import annotations

from typing import Sequence, Tuple, Union

from pyspark.sql import DataFrame, functions as F, types as T

from .compiler import make_violation
from .engine import ValidationEngine
from .rules import RuleSet

CORRUPT_COL = "__corrupt_payload"
PAYLOAD_CODE = "payload"


def validate_json_payload(
        df: DataFrame, json_col: str,
        schema: Union[str, T.StructType],
        ruleset: RuleSet,
        key_cols: Sequence[str],
        dedup: bool = False,
        strict_types: bool = False) -> Tuple[DataFrame, DataFrame]:
    """Deserialize ``json_col`` against ``schema`` and validate.

    Returns ``(parsed, violations)``:

    - ``parsed``: key columns + the schema's fields for every row whose
      payload deserialized (rows may still carry rule violations —
      anti-join on the keys against ``violations`` for the
      reference's all-or-nothing ``validify_from`` semantics).
    - ``violations``: deserialization failures (``code='payload'``,
      location ``/``, the raw payload in ``params['actual']``) UNION
      the ruleset's violations over the parsed rows — one DataFrame in
      the engine's standard violation schema.

    ``schema`` field names must not collide with ``key_cols``.

    Type-mismatched fields fail the whole payload by default (Spark's
    PERMISSIVE parser marks them corrupt — serde ``invalid type``
    parity). ``strict_types=True`` additionally names the first
    offending top-level field in ``params['field']`` by re-probing the
    raw JSON with ``get_json_object`` per declared field.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"{CORRUPT_COL} is reserved")
    probe = T.StructType(
        list(schema.fields)
        + [T.StructField(CORRUPT_COL, T.StringType())])

    parsed = df.withColumn(
        "__payload",
        F.from_json(F.col(json_col), probe,
                    {"columnNameOfCorruptRecord": CORRUPT_COL}))
    is_bad = F.col("__payload").getField(CORRUPT_COL).isNotNull()
    bad_field = F.lit(None).cast("string")
    if strict_types:
        # attribution only: a field that parsed NULL while the raw
        # JSON holds a non-null value at its key is the failed
        # conversion the corrupt column already flagged; explicit-null
        # and missing-key both read NULL from get_json_object and stay
        # Option::None. All codegen: one get_json_object per field.
        mism = [F.when(F.col("__payload").getField(f).isNull()
                       & F.get_json_object(F.col(json_col),
                                           f"$.{f}").isNotNull(),
                       F.lit(f))
                for f in schema.fieldNames()]
        bad_field = F.get(F.array_compact(F.array(*mism)), 0)
        is_bad = is_bad | bad_field.isNotNull()

    key_cols = list(key_cols)
    bad_viol = (parsed.filter(is_bad)
                .select(*key_cols,
                        make_violation(
                            PAYLOAD_CODE, None, "/", PAYLOAD_CODE,
                            "payload could not be deserialized",
                            {"actual": F.col(json_col),
                             **({"field": bad_field}
                                if strict_types else {})}).alias("v"))
                .select(*key_cols, "v.*"))

    good = (parsed.filter(~is_bad)
            .select(*key_cols,
                    *[F.col("__payload").getField(f).alias(f)
                      for f in schema.fieldNames()]))
    eng = ValidationEngine(ruleset, key_cols=key_cols, dedup=dedup)
    rule_viol = eng.violations(good)
    return good, rule_viol.unionByName(bad_viol)
