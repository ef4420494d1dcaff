"""Round-5 hardening, kept after phase 2 became one projection: large
rulesets must compile phase 2 with no Janino failure and no
too-long-method fallback.

Phase 2 is a single flatten(array(...)) over every rule's violation
array. Sixteen depth-200 custom builders fuse into one whole-stage
codegen unit (~14k generated lines) that compiles. The 160-rule
ruleset of ten built-in kinds stays out of whole-stage codegen,
because credit_card's Luhn check is a higher-order function; Spark's
per-operator projection splits its expressions into methods. The
signal is JVM stderr, so each ruleset runs in its own subprocess."""

import os
import subprocess
import sys
import textwrap

import pytest

_SESSION = """
    import validify_spark as vs
    from validify_spark.engine import ValidationEngine
    from validify_spark.rules import RuleSet
    from pyspark.sql import functions as F

    spark = vs.get_spark("patho", cpus=4, shuffle_partitions=4,
                         driver_memory="4g")
    spark.sparkContext.setLogLevel("INFO")
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
"""

# 16 custom rules, each a depth-200 builder; every c_name is 18 chars
# long, so every row fails every rule and phase 2 runs on all of them
_CUSTOMS = """
    def huge(depth):
        def build(col, params=None):
            e = F.lit(True)
            for i in range(depth):
                e = e & F.when(
                    F.substring(col, (i % 20) + 1, 3) == F.lit(f"x{i}"),
                    F.lit(False)).otherwise(F.length(col) != F.lit(i))
            return e
        return build

    rules = [vs.custom("c_name", huge(200), display_name=f"h{j}")
             for j in range(16)]
"""

# 16 copies of ten built-in kinds, none of them an Arrow UDF; the time
# rule compares a timestamp against a string target parsed per row
_KINDS = """
    df = (df.withColumn("c_since",
                        F.timestamp_seconds(F.col("c_custkey") * 8640000))
            .withColumn("c_until", F.when(
                F.col("c_custkey") % 7 == 0, F.lit("n/a")).otherwise(
                F.date_format(F.timestamp_seconds(
                    F.col("c_nationkey") * 50000000), "yyyy-MM-dd"))))

    def block(j):
        return [
            vs.length("c_name", min=1, max=17, display_name=f"len{j}"),
            vs.regex("c_name", r"^Customer#0+[1-9]", display_name=f"re{j}"),
            vs.contains("c_mktsegment", "MACH", display_name=f"has{j}"),
            vs.ip("c_name", display_name=f"ip{j}"),
            vs.phone("c_name", display_name=f"ph{j}"),
            vs.non_control_char("c_mktsegment", display_name=f"ncc{j}"),
            vs.credit_card("c_name", display_name=f"cc{j}"),
            vs.time("c_since", op="before", target_column="c_until",
                    format="yyyy-MM-dd", display_name=f"t{j}"),
            vs.range_("c_acctbal", min=0, max=9000, display_name=f"rng{j}"),
            vs.is_in("c_nationkey", list(range(10)), display_name=f"in{j}"),
        ]

    rules = [r for j in range(16) for r in block(j)]
"""

_RUN = """
    eng = ValidationEngine(RuleSet(rules=rules, name="patho"),
                           ["c_custkey"])
    print("VIOLATIONS", eng.violations(df).count())
    spark.stop()
"""


@pytest.mark.parametrize("rules", [_CUSTOMS, _KINDS],
                         ids=["customs", "kinds"])
def test_pathological_customs_zero_codegen_fallbacks(rules):
    """A ruleset of deliberately enormous custom builders, and one of
    160 built-in rules, must each produce ZERO Janino `Failed to
    compile` errors and ZERO `Found too long generated codes` (logged
    at INFO). Runs in a subprocess because the signal is JVM stderr,
    which a pre-launched session's JVM writes to its inherited fd —
    invisible to pytest capture."""
    script = "\n".join(textwrap.dedent(part)
                       for part in (_SESSION, rules, _RUN))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", script], cwd=repo,
                       capture_output=True, text=True, timeout=480)
    assert r.returncode == 0, r.stderr[-2000:]
    n_viol = int(r.stdout.split("VIOLATIONS")[1].split()[0])
    assert n_viol > 0, "phase 2 must run for its code to be compiled"
    n_failed = r.stderr.count("Failed to compile")
    assert n_failed == 0, (
        f"{n_failed} Janino failed-compiles:\n{r.stderr[-2000:]}")
    n_long = r.stderr.count("Found too long generated codes")
    assert n_long == 0, (
        f"{n_long} codegen fallbacks:\n{r.stderr[-2000:]}")
