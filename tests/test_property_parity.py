"""Property-based parity tests (hypothesis): the SQL/codegen kernels
must agree with independent Python reference implementations of the
reference's semantics on randomized inputs — not just on the golden
fixtures. Each example sends a batch of strings through ONE Spark job.
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

# Unicode White_Space property (what Rust str::trim trims —
# modifier.rs:23-36); deliberately NOT Python str.strip()'s set, which
# also strips \x1c-\x1f
WS = ("\t\n\x0b\x0c\r \x85\xa0 "
      + "".join(chr(c) for c in range(0x2000, 0x200B))
      + "    　")

ws_text = st.text(
    alphabet=st.one_of(
        st.sampled_from(WS),
        st.characters(min_codepoint=33, max_codepoint=0x2FFF,
                      blacklist_characters=WS)),
    max_size=30)


def _ref_trim(s: str) -> str:
    return s.strip(WS)


@settings(max_examples=5, deadline=None)
@given(st.lists(ws_text, min_size=1, max_size=60))
def test_trim_unicode_parity(spark, strings):
    from validify_spark.modifiers import _trim_unicode
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: r["t"] for r in
           df.select("i", _trim_unicode(F.col("s")).alias("t"))
             .collect()}
    for i, s in enumerate(strings):
        assert got[i] == _ref_trim(s), repr(s)


def _ref_luhn(digits: str) -> bool:
    total = 0
    for pos, ch in enumerate(reversed(digits)):
        d = int(ch)
        if pos % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet="0123456789", min_size=12,
                        max_size=19), min_size=1, max_size=60))
def test_luhn_parity(spark, numbers):
    from validify_spark.validators.sql_builders import luhn_ok
    df = spark.createDataFrame([(i, n) for i, n in enumerate(numbers)],
                               "i int, n string")
    got = {r["i"]: r["ok"] for r in
           df.select("i", luhn_ok(F.col("n")).alias("ok")).collect()}
    for i, n in enumerate(numbers):
        assert got[i] == _ref_luhn(n), n


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1,
                max_size=60))
def test_length_counts_chars_not_bytes(spark, strings):
    # traits.rs:26-42 uses .chars().count() — code points, not bytes
    strings = [s.replace("\x00", "") for s in strings]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: r["n"] for r in
           df.select("i", F.length("s").alias("n")).collect()}
    for i, s in enumerate(strings):
        assert got[i] == len(s), repr(s)


_email_alphabet = st.sampled_from(
    list("abcXYZ019.!#$%&'*+/=?^_`{|}~-@[]:")
    + ["ü", "日", " "])


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet=_email_alphabet, min_size=1,
                        max_size=25), min_size=1, max_size=80))
def test_email_two_tier_matches_full_python(spark, strings):
    # the fast-path + gated-UDF composition must equal the full Python
    # HTML5 check (email.rs:22-72 semantics) on arbitrary junk
    from validify_spark.validators.sql_builders import email_ok
    from validify_spark.validators.udf_tier import _email_full
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: bool(r["ok"]) for r in
           df.select("i", F.coalesce(email_ok(F.col("s")),
                                     F.lit(False)).alias("ok"))
             .collect()}
    for i, s in enumerate(strings):
        assert got[i] == _email_full(s), repr(s)


def test_email_literal_in_non_ascii_domain_matches_python(spark):
    # Python's IGNORECASE folds U+212A KELVIN SIGN and U+017F LONG S into
    # the literal class [A-f], Java's (?i) does not: the two engines then
    # capture different '[...]' literals, so the SQL fast path must leave
    # non-ASCII domains to the Python slow path
    from validify_spark.validators.sql_builders import email_ok
    from validify_spark.validators.udf_tier import _email_full
    strings = ["a@[\u212a[1.2.3.4]", "a@[\u212a[::1]", "a@[\u017f[::1]",
               "a@[::1]", "a@[1.2.3.4]", "a@[fe80::1%1]", "a@[::1]x"]
    df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
    got = {r["i"]: r["ok"] for r in
           df.select("i", F.coalesce(email_ok(F.col("s")),
                                     F.lit(False)).alias("ok"))
             .collect()}
    assert [got[i] for i in range(len(strings))] == [
        _email_full(s) for s in strings]


@settings(max_examples=5, deadline=None)
@given(st.lists(st.one_of(
    st.from_regex(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
                  fullmatch=True),
    st.ip_addresses(v=6).map(str),
    st.ip_addresses(v=6).map(lambda a: a.exploded),
    st.text(alphabet="0123456789.:abcdef%", min_size=1, max_size=20)),
    min_size=1, max_size=80))
def test_ip_any_two_tier_matches_python(spark, strings):
    # the SQL ip regexes (v4 | v6, and v6 alone) == Python reference
    # (ipaddress with the zone-id rejection)
    from validify_spark.validators.sql_builders import ip_any_ok, ipv6_ok
    from validify_spark.validators.udf_tier import _is_ip_any, _is_ipv6
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: (bool(r["any"]), bool(r["v6"])) for r in
           df.select("i",
                     F.coalesce(ip_any_ok(F.col("s")),
                                F.lit(False)).alias("any"),
                     F.coalesce(ipv6_ok(F.col("s")),
                                F.lit(False)).alias("v6"))
             .collect()}
    for i, s in enumerate(strings):
        assert got[i] == (_is_ip_any(s), _is_ipv6(s)), repr(s)


# '+', ASCII digits, the separators, whitespace that only Python's \s
# matches, and non-ASCII digits
_phone_alphabet = st.sampled_from(
    list("+0123456789().-") + ["\x1c", "\x85", "\u2007", "\u3000",
                               "\uff11", "\u0663"])


def _phone_strings():
    from validify_spark.validators.phone_metadata import (
        ASSIGNED_CALLING_CODES)
    plausible = st.tuples(
        st.sampled_from(sorted(ASSIGNED_CALLING_CODES)),
        st.text(alphabet=_phone_alphabet, max_size=14),
    ).map(lambda t: "+" + t[0] + t[1].replace("+", ""))
    return st.one_of(plausible,
                     st.text(alphabet=_phone_alphabet, max_size=20))


@settings(max_examples=5, deadline=None)
@given(st.lists(_phone_strings(), min_size=1, max_size=80))
def test_phone_sql_matches_python(spark, strings):
    # the generated plan regex == the Python plan check it mirrors; the
    # calling-code alternation is exact only because codes are
    # prefix-free
    from validify_spark.validators.phone_metadata import (
        ASSIGNED_CALLING_CODES as codes)
    from validify_spark.validators.sql_builders import phone_ok
    from validify_spark.validators.udf_tier import _is_phone
    assert not [(a, b) for a in codes for b in codes
                if a != b and b.startswith(a)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: bool(r["ok"]) for r in
           df.select("i", F.coalesce(phone_ok(F.col("s")),
                                     F.lit(False)).alias("ok"))
             .collect()}
    for i, s in enumerate(strings):
        assert got[i] == _is_phone(s), repr(s)


_url_alphabet = st.sampled_from(
    list("abzAZ09:/.?#@[]%-_+ ") + ["http", "://", "mailto:", "ftp"])


@settings(max_examples=5, deadline=None)
@given(st.lists(st.lists(_url_alphabet, min_size=1, max_size=8)
                .map("".join), min_size=1, max_size=80))
def test_url_two_tier_matches_full_python(spark, strings):
    # regex fast path + scheme-gated WHATWG UDF == the full Python
    # check on arbitrary junk (catches fast-true/slow-false divergence)
    from validify_spark.validators.sql_builders import url_ok
    from validify_spark.validators.udf_tier import _is_url
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i int, s string")
    got = {r["i"]: bool(r["ok"]) for r in
           df.select("i", F.coalesce(url_ok(F.col("s")),
                                     F.lit(False)).alias("ok"))
             .collect()}
    for i, s in enumerate(strings):
        assert got[i] == _is_url(s), repr(s)


# ---------------------------------------------------------------------------
# duplicate_clusters vs a Python union-find on random graphs
# ---------------------------------------------------------------------------


@settings(max_examples=4, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40))
                .filter(lambda e: e[0] != e[1]),
                min_size=1, max_size=60))
def test_duplicate_clusters_matches_union_find(spark, edges):
    from validify_spark.pipeline import duplicate_clusters

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(df).collect()}
    assert got == expected


# ---------------------------------------------------------------------------
# date-typed time ops vs pure-Python whole-day reference (time.rs
# *_today / *_date semantics)
# ---------------------------------------------------------------------------


@settings(max_examples=3, deadline=None)
@given(st.lists(st.dates(min_value=__import__("datetime").date(2020, 1, 1),
                         max_value=__import__("datetime").date(2028, 1, 1)),
                min_size=1, max_size=40),
       st.integers(1, 200))
def test_date_time_ops_parity(spark, dates, dur_hours):
    import datetime as dt

    import validify_spark as vs
    from validify_spark.engine import ValidationEngine

    run = dt.datetime(2024, 6, 15, 13, 37)  # midday on purpose
    rules = [
        vs.time("d", op="before_now"),
        vs.time("d", op="before_from_now", hours=dur_hours),
        vs.time("d", op="after_from_now", hours=dur_hours),
    ]
    eng = ValidationEngine(vs.RuleSet(rules=rules), key_cols=["i"],
                           run_ts=run)
    df = spark.createDataFrame([(i, d) for i, d in enumerate(dates)],
                               "i int, d date")
    got = {}
    for r in eng.violations(df).collect():
        got.setdefault(r["i"], set()).add(r["code"])

    today = run.date()
    dur = dt.timedelta(hours=dur_hours)
    for i, d in enumerate(dates):
        exp = set()
        if not (d < today):                          # before_today
            exp.add("before_now")
        if not ((today - d) >= dur):                 # before_from_now_date
            exp.add("before_from_now")
        if not ((d - today) >= dur):                 # after_from_now_date
            exp.add("after_from_now")
        assert got.get(i, set()) == exp, (d, dur_hours)
