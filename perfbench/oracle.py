"""Expected outputs, computed by DuckDB straight from the generated
files (and the generators' truth tables) before any timing starts. No
Spark and no library code runs here, so a library bug cannot agree with
itself.
"""

from __future__ import annotations

import duckdb

EPS = 1e-6  # the smoothing floor of checks.drift_report

# The nightly job's standard turns ruleset, restated as SQL over the
# normalized turns (text trimmed of Unicode white space, role
# lowercased): rule id -> "this row violates the rule". Ids follow the
# library's ``<ruleset>.<column>.<kind>.<position>`` naming. NULL passes
# every rule but ``required``.
TURN_RULES = {
    "turns.role.required.0": "role IS NULL",
    "turns.ts.required.1": "ts IS NULL",
    "turns.text.length.2": "length(text) NOT BETWEEN 1 AND 4000",
    "turns.role.is_in.3":
        "role NOT IN ('system', 'user', 'assistant', 'tool')",
    "turns.tool.not_in.4": "tool IN ('', 'forbidden')",
    "turns.text.non_control_char.5": "regexp_matches(text, $cc)",
    "turns.turn_idx.range.6": "turn_idx NOT BETWEEN 0 AND 100000",
    "turns.ts.time.7": "ts > TIMESTAMP '2030-01-01'",
}
# ... and the standard whole-conversation rules: code -> "this
# conversation fails", over the per-conversation aggregates below
CONV_RULES = {
    "has_assistant": "NOT coalesce(has_asst, false)",
    "max_512_turns": "n > 512",
    "tool_after_assistant": "NOT coalesce(min_tool IS NULL OR "
                            "(min_asst IS NOT NULL AND min_asst < min_tool), "
                            "false)",
}
# Unicode White_Space (what the trim modifier strips) and control chars
WHITE_SPACE = ("\t\n\x0b\x0c\r \x85\xa0\u1680\u2000\u2001\u2002"
               "\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
               "\u2028\u2029\u202f\u205f\u3000")
CONTROL = r"[\x00-\x1f\x7f-\x9f]"

# rule code emitted for each defect the event generator injects
DEFECT_CODES = {"role": "in", "text": "length", "email": "email",
                "url": "url", "ip": "ip", "phone": "phone"}


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def _one(con, sql: str):
    return con.sql(sql).fetchone()


def _role_hist(src: str) -> str:
    return (f"SELECT coalesce(role, '__null__') AS bucket, "
            f"count(*) / sum(count(*)) OVER () AS p "
            f"FROM {src} GROUP BY 1")


def _violations(con, turns: str) -> tuple:
    """Expected violations of the nightly audit: per rule id, per
    conversation-rule code, and the rows failing any rule."""
    norm = f"""(SELECT conv_id, turn_idx, lower(role) AS role,
                       trim(text, $ws) AS text, tool, ts
                FROM {turns})"""
    fails = {r: f"coalesce({sql}, false)" for r, sql in TURN_RULES.items()}
    counts = con.execute(
        "SELECT " + ", ".join(f"count(*) FILTER (WHERE {f})"
                              for f in fails.values())
        + f", count(*) FILTER (WHERE {' OR '.join(fails.values())})"
        f" FROM {norm}", {"ws": WHITE_SPACE, "cc": CONTROL}).fetchone()
    conv = con.execute(f"""
        WITH c AS (
          SELECT count(*) AS n, bool_or(role = 'assistant') AS has_asst,
                 min(turn_idx) FILTER (WHERE role = 'tool') AS min_tool,
                 min(turn_idx) FILTER (WHERE role = 'assistant')
                   AS min_asst
          FROM {norm} GROUP BY conv_id)
        SELECT """ + ", ".join(f"count(*) FILTER (WHERE {sql})"
                               for sql in CONV_RULES.values())
        + " FROM c", {"ws": WHITE_SPACE}).fetchone()
    rules = {r: n for r, n in zip(fails, counts) if n}
    return rules, counts[-1], {c: n for c, n in zip(CONV_RULES, conv) if n}


def scan(d: str, sql: str) -> list:
    """The rows of ``sql`` over table ``t``: the parquet files a job
    wrote under ``d``."""
    with duckdb.connect() as con:
        return con.sql(f"WITH t AS (SELECT * FROM {_pq(d)}) {sql}").fetchall()


def nightly(in_dir: str) -> dict:
    turns, meta = _pq(f"{in_dir}/turns"), _pq(f"{in_dir}/meta")
    base = _pq(f"{in_dir}/baseline")
    with duckdb.connect() as con:
        (n_rows,) = _one(con, f"SELECT count(*) FROM {turns}")
        rules, failing, conv = _violations(con, turns)
        dup_keys, dup_rows = _one(con, f"""
            SELECT count(*), coalesce(sum(c), 0) FROM (
              SELECT count(*) AS c FROM {turns}
              GROUP BY conv_id, turn_idx HAVING count(*) > 1)""")
        orphans, orphan_rows = _one(con, f"""
            SELECT count(DISTINCT conv_id), count(*) FROM {turns} t
            WHERE NOT EXISTS (SELECT 1 FROM {meta} m
                              WHERE m.conv_id = t.conv_id)""")
        # Spark sorts NULLs first in ascending order; DuckDB must be told
        ordering = dict(con.sql(f"""
            WITH o AS (
              SELECT turn_idx, ts,
                lag(turn_idx) OVER w AS pi, lag(ts) OVER w AS pts
              FROM {turns}
              WINDOW w AS (PARTITION BY conv_id
                           ORDER BY turn_idx NULLS FIRST, ts NULLS FIRST))
            SELECT 'dup_turn_idx', count(*) FILTER (WHERE turn_idx = pi)
              FROM o
            UNION ALL
            SELECT 'turn_idx_gap', count(*) FILTER (WHERE turn_idx > pi + 1)
              FROM o
            UNION ALL
            SELECT 'ts_out_of_order', count(*) FILTER (WHERE ts < pts)
              FROM o""").fetchall())
        nulls = dict(con.sql(f"""
            UNPIVOT (SELECT
              count(*) FILTER (WHERE conv_id IS NULL) AS conv_id,
              count(*) FILTER (WHERE turn_idx IS NULL) AS turn_idx,
              count(*) FILTER (WHERE role IS NULL) AS role,
              count(*) FILTER (WHERE text IS NULL) AS text,
              count(*) FILTER (WHERE tool IS NULL) AS tool,
              count(*) FILTER (WHERE ts IS NULL) AS ts
              FROM {turns}) ON COLUMNS(*) INTO NAME col VALUE n
            """).fetchall())
        psi, n_buckets = _one(con, f"""
            WITH c AS ({_role_hist(turns)}), b AS ({_role_hist(base)}),
            j AS (SELECT greatest(coalesce(c.p, 0), {EPS}) AS p,
                         greatest(coalesce(b.p, 0), {EPS}) AS q
                  FROM c FULL OUTER JOIN b USING (bucket))
            SELECT sum((p - q) * ln(p / q)), count(*) FROM j""")
    return {"n_rows": n_rows, "rules": rules, "failing_rows": failing,
            "conv": conv, "dup_keys": dup_keys, "dup_rows": dup_rows,
            "orphans": orphans, "orphan_rows": orphan_rows,
            "ordering": {k: v for k, v in ordering.items() if v},
            "nulls": nulls, "psi": psi, "drift_buckets": n_buckets}


def stream(in_dir: str) -> dict:
    events, truth = _pq(f"{in_dir}/events"), _pq(f"{in_dir}/events_truth")
    with duckdb.connect() as con:
        n_events, malformed = _one(con, f"""
            SELECT count(*), count(*) FILTER (WHERE NOT json_valid(payload))
            FROM {events}""")
        codes = {DEFECT_CODES[f]: n for f, n in con.sql(f"""
            SELECT bad_field, count(*) FROM {truth}
            WHERE bad_field IS NOT NULL GROUP BY 1""").fetchall()}
        dups = dict(((c, t), n) for c, t, n in con.sql(f"""
            SELECT conv_id, turn_idx, count(*) FROM {events}
            GROUP BY 1, 2 HAVING count(*) > 1""").fetchall())
    if malformed:
        codes["payload"] = malformed
    return {"n_events": n_events, "codes": codes, "dups": dups}


def corpus(in_dir: str) -> dict:
    truth = _pq(f"{in_dir}/docs_truth")
    with duckdb.connect() as con:
        (n_docs,) = _one(con, f"SELECT count(*) FROM {_pq(in_dir + '/docs')}")
        keep = [r[0] for r in con.sql(f"""
            SELECT doc_id FROM {truth}
            WHERE kind = 'original' AND NOT contaminated
            ORDER BY doc_id""").fetchall()]
        (redactions,) = _one(con, f"""
            SELECT coalesce(sum(n_pii), 0) FROM {truth}
            WHERE kind = 'original' AND NOT contaminated""")
    return {"n_docs": n_docs, "survivors": keep, "redactions": redactions}
