"""Truth-table parity with the reference's table-driven unit tests —
engine verdict per string must equal the reference's expected boolean
(SURVEY.md §5.2 item 3).

Sources: validify/src/validation/email.rs:83-133 (Django-derived),
ip.rs:36-126, urls.rs tests, cards.rs tests, phone.rs tests,
non_control_char.rs tests.
"""

import pytest

from validify_spark import RuleSet, ValidationEngine, credit_card, email, ip, non_control_char, phone, url

EMAIL_CASES = [
    ("email@here.com", True),
    ("weirder-email@here.and.there.com", True),
    (r"!def!xyz%abc@example.com", True),
    ("email@[127.0.0.1]", True),
    ("email@[2001:dB8::1]", True),
    ("email@[2001:dB8:0:0:0:0:0:1]", True),
    ("email@[::fffF:127.0.0.1]", True),
    ("example@valid-----hyphens.com", True),
    ("example@valid-with-hyphens.com", True),
    ("test@domain.with.idn.tld.उदाहरण.परीक्षा", True),
    ('"test@test"@example.com', False),
    ("a@atm." + "a" * 63, True),
    ("a@" + "a" * 63 + ".atm", True),
    ("a@" + "a" * 63 + ".bbbbbbbbbb.atm", True),
    ("a@atm." + "a" * 64, False),
    ("", False),
    ("abc", False),
    ("abc@", False),
    ("abc@bar", True),
    ("a @x.cz", False),
    ("abc@.com", False),
    ("something@@somewhere.com", False),
    ("email@127.0.0.1", True),
    ("email@[127.0.0.256]", False),
    ("email@[2001:db8::12345]", False),
    ("email@[2001:db8:0:0:0:0:1]", False),
    ("email@[::ffff:127.0.0.256]", False),
    ("example@invalid-.com", False),
    ("example@-invalid.com", False),
    ("example@invalid.com-", False),
    ("example@inv-.alid-.com", False),
    ("example@inv-.-alid.com", False),
    ('test@example.com\\n\\n<script src="x.js">', False),
    (r'"\\\011"@here.com', False),
    (r'"\\\012"@here.com', False),
    ("trailingdot@shouldfail.com.", False),
    ("a@b.com\n", False),
    ("a\n@b.com", False),
    ('"test@test"\n@example.com', False),
    ("a@[127.0.0.1]\n", False),
    ("John.Doe@exam_ple.com", False),
    # rfc5321 caps
    ("a" * 65 + "@mail.com", False),
    ("a@" + "a" * 252 + ".com", False),
    # UTS-46 divergence cases (r4): verdicts match the reference's
    # `idna` crate (email.rs:46-52 — non-transitional, std3 rules OFF).
    # The old str.encode("idna") (IDNA2003) folded ß→ss (still valid
    # here but via the WRONG punycode, xn--fass vs xn--fa-hia) and
    # rejected emoji labels outright.
    ("user@faß.de", True),          # ß preserved: xn--fa-hia.de
    ("user@bücher.de", True),       # xn--bcher-kva.de
    ("user@😀.com", True),          # WHATWG allows emoji: xn--e28h.com
    ("user@xn--fa-hia.de", True),   # already-punycoded passthrough
]

IP_ANY_CASES = [
    ("1.1.1.1", True), ("255.0.0.0", True), ("0.0.0.0", True),
    ("256.1.1.1", False), ("25.1.1.", False), ("25,1,1,1", False),
    ("fe80::223:6cff:fe8a:2e8a", True), ("::ffff:254.42.16.14", True),
    ("2a02::223:6cff :fe8a:2e8a", False),
]

IP_V4_CASES = [
    ("1.1.1.1", True), ("255.0.0.0", True), ("0.0.0.0", True),
    ("256.1.1.1", False), ("25.1.1.", False), ("25,1,1,1", False),
    ("25.1 .1.1", False), ("1.1.1.1\n", False), ("٧.2٥.3٣.243", False),
]

IP_V6_CASES = [
    ("fe80::223:6cff:fe8a:2e8a", True), ("2a02::223:6cff:fe8a:2e8a", True),
    ("1::2:3:4:5:6:7", True), ("::", True), ("::a", True), ("2::", True),
    ("::ffff:254.42.16.14", True), ("::ffff:0a0a:0a0a", True),
    ("::254.42.16.14", True), ("::0a0a:0a0a", True),
    ("foo", False), ("127.0.0.1", False), ("12345::", False),
    ("1::2::3::4", False), ("1::zzz", False), ("1:2", False),
    ("fe80::223: 6cff:fe8a:2e8a", False), ("2a02::223:6cff :fe8a:2e8a", False),
    ("::ffff:999.42.16.14", False), ("::ffff:zzzz:0a0a", False),
]

URL_CASES = [
    ("http", False), ("https://google.com", True),
    ("http://localhost:80", True), ("ftp://localhost:80", True),
]

CARD_CASES = [
    ("4539571147647251", True), ("343380440754432", True),
    ("zduhefljsdfKJKJZHUI", False), ("5236313877109141", False),
]

PHONE_CASES = [
    ("+1 (415) 237-0800", True), ("+14152370800", True),
    ("+33642926829", True), ("14152370800", False),
    ("0642926829", False), ("00642926829", False),
    ("A012", False), ("TEXT", False),
]

# Valid E.164 SHAPE but no such numbering plan. Round 4's bare-shape
# fallback accepted all of these (recorded then as a strict xfail);
# round 5's vendored metadata subset (phone_metadata.py: ITU assigned
# calling codes + generalDesc lengths/leading-digit patterns) rejects
# them like libphonenumber does — the r4 verdict's "flip the xfail to
# pass for the subset cases" ask.
PHONE_PLAN_CASES = [
    ("+1 123 456 7890", False),   # NANP area code cannot start with 1
    ("+1 999 123 4567", False),   # NANP exchange cannot start with 1
    ("+44 300 000 0000", True),   # real UK non-geographic range
    ("+999 12345678", False),     # country code 999 does not exist
    ("+1 415 037 0800", False),   # NANP exchange cannot start with 0
    ("+33 123456789012", False),  # FR national number is 9 digits
    ("+65 1234 5678", False),     # SG numbers start 3/6/8/9
    ("+86 13912345678", True),    # CN mobile 1[3-9] + 9 digits
    ("+61 13 24 58", True),       # AU 6-digit shared-cost 13-number
    ("+65 1800 123 4567", True),  # SG 11-digit toll-free
]

# Per-RANGE assignments are beyond the vendored generalDesc subset:
# NANP area code 999 is unassigned (libphonenumber rejects it) but
# matches the coarse [2-9]\d{2} pattern. Strict xfail: closing it needs
# full libphonenumber metadata, which is not vendored.
PHONE_RANGE_CASES = [
    ("+1 999 234 5678", False),   # unassigned NANP area code 999
]

NCC_CASES = [
    ("2H₂ + O₂ ⇌ 2H₂O", True), ("\x0c", False), ("abc\x9fdef", False),
    ("perfectly fine", True),
]


def _verdicts(spark, cases, rule):
    rows = [(i, v) for i, (v, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id int, v string")
    eng = ValidationEngine(RuleSet(rules=[rule]), key_cols=["id"])
    failed_ids = {r["id"] for r in eng.violations(df).collect()}
    return [i not in failed_ids for i in range(len(cases))]


def _assert_table(spark, cases, rule):
    got = _verdicts(spark, cases, rule)
    bad = [(v, exp, g) for (v, exp), g in zip(cases, got) if exp != g]
    assert not bad, f"mismatches (value, expected, got): {bad}"


def test_email_truth_table(spark):
    _assert_table(spark, EMAIL_CASES, email("v"))


def test_ip_any_truth_table(spark):
    _assert_table(spark, IP_ANY_CASES, ip("v"))


def test_ip_v4_truth_table(spark):
    _assert_table(spark, IP_V4_CASES, ip("v", format="v4"))


def test_ip_v6_truth_table(spark):
    _assert_table(spark, IP_V6_CASES, ip("v", format="v6"))


def test_url_truth_table(spark):
    _assert_table(spark, URL_CASES, url("v"))


def test_credit_card_truth_table(spark):
    _assert_table(spark, CARD_CASES, credit_card("v"))


def test_phone_truth_table(spark):
    _assert_table(spark, PHONE_CASES, phone("v"))


def test_phone_numbering_plan_subset(spark):
    """r4 xfail flipped to pass: the vendored plan subset rejects
    plan-invalid numbers the bare E.164 shape check accepted."""
    _assert_table(spark, PHONE_PLAN_CASES, phone("v"))


@pytest.mark.xfail(
    reason="per-range metadata (unassigned NANP area 999) is beyond "
           "the vendored generalDesc subset; exact verdicts need full "
           "libphonenumber metadata (reference phone.rs:1-11)",
    strict=True)
def test_phone_per_range_boundary(spark):
    _assert_table(spark, PHONE_RANGE_CASES, phone("v"))


def test_non_control_char_truth_table(spark):
    _assert_table(spark, NCC_CASES, non_control_char("v"))
