"""Physical-plan audit of every queries() entry: shuffle count, scan
pushdown/pruning, whole-stage-codegen coverage, and Python-UDF operator
count — the scale-readiness checklist, emitted as PLAN_AUDIT.md.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402
from validify_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# The JVM inherits this process's stderr at gateway launch, so
# redirecting fd 2 to a file BEFORE get_spark() captures log4j output —
# including CodeGenerator "Failed to compile" errors (Janino 64 KB
# overflows fall back to interpreted eval SILENTLY from the plan's
# point of view; r3's only scale regression was exactly that, invisible
# to every other audit column).
JVM_LOG = "/tmp/plan_audit_jvm.log"
_orig_stderr_fd = os.dup(2)
_log_f = open(JVM_LOG, "wb", buffering=0)
os.dup2(_log_f.fileno(), 2)


def _excepthook(tp, val, tb):
    # the dup2 above routes fd 2 (incl. Python tracebacks) into the JVM
    # log file; mirror uncaught errors to the REAL console too so a
    # failure isn't buried in megabytes of log4j output
    import traceback
    msg = "".join(traceback.format_exception(tp, val, tb))
    os.write(_orig_stderr_fd, msg.encode("utf-8", "replace"))
    sys.__excepthook__(tp, val, tb)


sys.excepthook = _excepthook


def _jvm_log_tail(offset: int) -> tuple[str, int]:
    with open(JVM_LOG, "rb") as f:
        f.seek(offset)
        data = f.read()
    return data.decode("utf-8", "replace"), offset + len(data)


def audit_one(df) -> dict:
    import contextlib
    import io

    # collect() executes THIS DataFrame's own QueryExecution (count()
    # would wrap it in a new agg plan and leave this one un-finalized),
    # so the audited plan is the adaptive FINAL plan — runtime
    # ReusedExchange and codegen ids included
    df.collect()
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # AdaptiveSparkPlan prints "Final Plan" AND "Initial Plan" sections;
    # audit only the final (executed) one
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    # AQE hides codegen '*(n)' markers in toString; formatted explain
    # carries explicit "[codegen id : N]" annotations instead
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    fmt = buf.getvalue()
    shuffles = sum(1 for l in lines
                   if "Exchange" in l and "ReusedExchange" not in l
                   and "BroadcastExchange" not in l)
    broadcasts = sum(1 for l in lines if "BroadcastExchange" in l)
    scans = [l for l in lines if "Scan parquet" in l
             or "FileScan parquet" in l]
    pushed = sum(1 for l in scans
                 if "PushedFilters: [" in l
                 and "PushedFilters: []" not in l)
    # complex predicates (length/lower/regex) aren't expressible as
    # parquet PushedFilters; they evaluate inside the scan operator as
    # DataFilters — still one pass, no separate Filter stage
    datafiltered = sum(1 for l in scans
                       if "DataFilters: [" in l
                       and "DataFilters: []" not in l)
    # pruned = every scan reads a strict subset of table columns
    read_cols = []
    for l in scans:
        m = re.search(r"ReadSchema: struct<([^>]*)>", l)
        if m:
            read_cols.append(len([c for c in m.group(1).split(",")
                                  if c.strip()]))
    wscg = len(set(re.findall(r"codegen id : (\d+)", fmt))) or \
        len(set(re.findall(r"\*\((\d+)\)", plan)))
    pyudf = sum(1 for l in lines
                if "ArrowEvalPython" in l or "BatchEvalPython" in l
                or "MapInPandas" in l or "FlatMapGroupsInPandas" in l)
    return {
        "shuffles": shuffles,
        "broadcasts": broadcasts,
        "scans": len(scans),
        "scans_pushed": pushed,
        "scans_datafiltered": datafiltered,
        "read_cols": read_cols,
        "wscg": wscg,
        "py_ops": pyudf,
    }


def main() -> int:
    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8,
                      driver_memory="8g")
    rows = []
    log_pos = 0
    for name, fn in E.queries().items():
        try:
            _, log_pos = _jvm_log_tail(log_pos)  # drop pre-query noise
            a = audit_one(fn(spark, SF_DIR))
            tail, log_pos = _jvm_log_tail(log_pos)
            a["codegen_fallbacks"] = tail.count("Failed to compile")
            rows.append((name, a))
            print(f"{name}: {a}", flush=True)
        except Exception as ex:  # noqa: BLE001
            rows.append((name, {"error": str(ex)[:120]}))
            print(f"{name}: ERROR {str(ex)[:120]}", flush=True)
    spark.stop()

    out = [
        "# PLAN_AUDIT — physical-plan checklist per query "
        f"(sf_dir={SF_DIR})",
        "",
        "Generated by `python scripts/plan_audit.py`. Columns:",
        "shuffle exchanges (excl. broadcast), broadcast exchanges,",
        "parquet scans / scans with parquet-pushed filters / scans with",
        "scan-evaluated DataFilters (complex predicates evaluate inside",
        "the scan — no separate Filter stage), columns read per scan",
        "(pruning), whole-stage-codegen units, Python/Arrow operators",
        "(UDF tier + mapInPandas — the deliberate slow-path surface:",
        "email/url carry their gated UDF in phase 2 only, iter rules",
        "in both phases; ip and phone are pure SQL), and",
        "codegen_fallbacks = Janino `Failed to compile` errors logged",
        "while the query ran (a fallback means interpreted eval of",
        "that stage at scale — MUST be 0 everywhere).",
        "",
        "| query | shuffles | bcast | scans | pushed | datafilt |"
        " read_cols | wscg | py_ops | cg_fallbacks |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if "error" in a:
            out.append(f"| {name} | ERROR: {a['error']} |||||||||")
            continue
        out.append(
            f"| {name} | {a['shuffles']} | {a['broadcasts']} "
            f"| {a['scans']} | {a['scans_pushed']} "
            f"| {a['scans_datafiltered']} "
            f"| {a['read_cols']} | {a['wscg']} | {a['py_ops']} "
            f"| {a.get('codegen_fallbacks', '?')} |")
    with open("PLAN_AUDIT.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLAN_AUDIT.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
