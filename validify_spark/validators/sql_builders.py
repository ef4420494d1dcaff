"""Pure-SQL (Catalyst Column) validators.

Each builder returns a boolean Column — True ⇔ value passes. These stay
inside whole-stage codegen; no Python crosses the row path. ip and phone
are exact here; email and url consult the UDF tier only for the rows
their fast path cannot decide.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from . import phone_metadata as _phone_plan

# ---------------------------------------------------------------------------
# IPv4 — exact Rust `std::net::Ipv4Addr::from_str` semantics
# (reference: validify/src/validation/ip.rs:6-29): ASCII digits only,
# octets 0-255, no leading zeros, no whitespace, anchored.
# ---------------------------------------------------------------------------

_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
IPV4_RE = rf"^{_OCTET}(\.{_OCTET}){{3}}\z"


def ipv4_ok(c: Column) -> Column:
    return c.rlike(IPV4_RE)


# ---------------------------------------------------------------------------
# IPv6 — exact Python `ipaddress.IPv6Address` semantics (the parity
# oracle udf_tier._is_ipv6; ip.rs:31-139): 1-4 ASCII hex digits per
# hextet, one '::' standing for at least one zero hextet, an IPv4 tail
# counting as two hextets, no zone id. One alternative per shape: 8
# hextets, 6 plus the tail, and k hextets '::' up to 7-k more (5-k plus
# the tail).
# ---------------------------------------------------------------------------

_HEX = "[0-9A-Fa-f]{1,4}"
_V4_TAIL = rf"{_OCTET}(?:\.{_OCTET}){{3}}"


def _ipv6_forms():
    yield rf"(?:{_HEX}:){{7}}{_HEX}"
    yield rf"(?:{_HEX}:){{6}}{_V4_TAIL}"
    for k in range(8):
        head = ":".join([_HEX] * k) + "::"
        yield head + (rf"(?:{_HEX}(?::{_HEX}){{0,{6 - k}}})?" if k < 7
                      else "")
        if k < 6:
            yield head + rf"(?:{_HEX}:){{0,{5 - k}}}{_V4_TAIL}"


IPV6_RE = rf"^(?:{'|'.join(_ipv6_forms())})\z"


def ipv6_ok(c: Column) -> Column:
    return c.rlike(IPV6_RE)


def ip_any_ok(c: Column) -> Column:
    return ipv4_ok(c) | ipv6_ok(c)


# ---------------------------------------------------------------------------
# phone — the vendored numbering plan (phone_metadata.py; reference
# phone.rs:1-11), generated from its tables so they stay its only
# encoding. Mirrors the parity oracle udf_tier._is_phone: strip Python's
# `[\s().-]`, then '+', 8-15 ASCII digits, an assigned calling code and
# that code's plan. Java's `\s` is ASCII-only, so the strip class lists
# all 29 code points of Python's. Calling codes are prefix-free, so one
# alternation over them is the longest-prefix lookup.
# ---------------------------------------------------------------------------

PHONE_STRIP_RE = (r"[\t\n\x0B\f\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A"
                  r"\u2028\u2029\u202F\u205F\u3000().\-]")


def _phone_forms():
    plain = sorted(cc for cc in _phone_plan.ASSIGNED_CALLING_CODES
                   if cc not in _phone_plan.PLAN)
    yield rf"(?:{'|'.join(plain)})[0-9]{{4,}}"
    for cc, plan in _phone_plan.PLAN.items():
        lengths = "|".join(f"[0-9]{{{n}}}" for n in sorted(plan.lengths))
        body = plan.pattern.pattern if plan.pattern else "[0-9]*"
        yield rf"{cc}(?=(?:{lengths})\z)(?:{body})"


PHONE_RE = rf"^\+(?=[0-9]{{8,15}}\z)(?:{'|'.join(_phone_forms())})\z"


def phone_ok(c: Column) -> Column:
    return F.regexp_replace(c, PHONE_STRIP_RE, "").rlike(PHONE_RE)


# ---------------------------------------------------------------------------
# Email — HTML5-spec fast path
# (reference: validify/src/validation/email.rs:22-72; regexes 10-15).
# Split at the LAST '@'; RFC5321 byte-length caps (user ≤64, domain ≤255 —
# the reference uses str::len = BYTES there, hence octet_length);
# user/domain regexes from the HTML5 spec; '[ip]' literal domains (v4 or
# v6). The IDN (non-ASCII domain) retry lives in the UDF tier and is
# consulted only when this fast path fails.
# ---------------------------------------------------------------------------

EMAIL_USER_RE = r"^(?i)[a-z0-9.!#$%&'*+/=?^_`{|}~-]+\z"
EMAIL_DOMAIN_RE = (
    r"^(?i)[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?"
    r"(?:\.[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?)*\z"
)
# literal form (SMTP 4.1.3) — intentionally unanchored at the start,
# matching the reference's quirk (email.rs:16)
EMAIL_LITERAL_RE = r"(?i)\[([A-f0-9:\.]+)\]\z"


def _email_parts(c: Column):
    user = F.regexp_extract(c, r"^(.*)@[^@]*$", 1)
    domain = F.regexp_extract(c, r"^.*@([^@]*)$", 1)
    return user, domain


_NON_ASCII_RE = r"[^\x00-\x7F]"


def email_ok_fast(c: Column) -> Column:
    """ASCII fast path: exact for every email whose domain needs no IDN
    conversion, and never true for an invalid one."""
    user, domain = _email_parts(c)
    structure = (F.length(c) > 0) & c.contains("@")
    caps = (F.octet_length(user) <= 64) & (F.octet_length(domain) <= 255)
    user_ok = user.rlike(EMAIL_USER_RE)
    domain_ok = domain.rlike(EMAIL_DOMAIN_RE)
    # ASCII domains only: Python's IGNORECASE lets the literal class take
    # some non-ASCII letters (U+212A KELVIN SIGN folds into [A-f]), so in
    # a non-ASCII domain Java and Python can capture different literals
    ip_literal = F.regexp_extract(domain, EMAIL_LITERAL_RE, 1)
    literal_ok = (domain.rlike(EMAIL_LITERAL_RE)
                  & ~domain.rlike(_NON_ASCII_RE) & ip_any_ok(ip_literal))
    return structure & caps & user_ok & (domain_ok | literal_ok)


def email_needs_slow(c: Column) -> Column:
    """Rows where the fast path can't decide: structurally plausible email
    whose domain is non-ASCII (IDN)."""
    user, domain = _email_parts(c)
    structure = (F.length(c) > 0) & c.contains("@")
    caps = (F.octet_length(user) <= 64) & (F.octet_length(domain) <= 255)
    user_ok = user.rlike(EMAIL_USER_RE)
    return structure & caps & user_ok & domain.rlike(_NON_ASCII_RE)


def email_ok(c: Column) -> Column:
    from . import udf_tier as U
    fast = email_ok_fast(c)
    # feed the UDF NULL for rows the fast path already decided, so the
    # Arrow batch does real work only on the undecided minority
    slow_input = F.when(email_needs_slow(c) & ~fast, c)
    return fast | F.coalesce(U.email_slow_ok(slow_input), F.lit(False))


# ---------------------------------------------------------------------------
# Credit card — brand prefix pattern + Luhn, mirroring the card-validate
# crate used by the reference (validify/src/validation/cards.rs:3-9).
# Luhn runs entirely in Catalyst via higher-order array functions.
# ---------------------------------------------------------------------------

# brand patterns (public card-IIN ranges, as in the card-validate crate)
CARD_BRAND_RE = (
    r"^(4[0-9]{12}(?:[0-9]{3})?(?:[0-9]{3})?"   # visa 13/16/19
    r"|5[1-5][0-9]{14}|2(?:22[1-9]|2[3-9][0-9]|[3-6][0-9]{2}|7[01][0-9]|720)[0-9]{12}"  # mastercard
    r"|3[47][0-9]{13}"                           # amex
    r"|3(?:0[0-5]|[68][0-9])[0-9]{11}"           # diners
    r"|6(?:011|5[0-9]{2})[0-9]{12}"              # discover
    r"|(?:2131|1800|35[0-9]{3})[0-9]{11}"        # jcb
    r"|62[0-9]{14,17}"                           # unionpay
    r"|(?:5[0678][0-9][0-9]|6304|6390|67[0-9][0-9])[0-9]{8,15}"  # maestro
    r")\z"
)


def luhn_ok(c: Column) -> Column:
    """Luhn mod-10 over the digit string — pure Catalyst: reverse →
    split to digit array → double every 2nd → aggregate sum % 10 == 0."""
    digits = F.transform(
        F.split(F.reverse(c), ""), lambda x: x.cast("int"))
    adjusted = F.transform(
        digits,
        lambda d, i: F.when(i % 2 == 1,
                            F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
                            ).otherwise(d))
    total = F.aggregate(adjusted, F.lit(0), lambda acc, x: acc + x)
    return (total % 10) == 0


def credit_card_ok(c: Column) -> Column:
    is_digits = c.rlike(r"^[0-9]{12,19}\z")
    return is_digits & c.rlike(CARD_BRAND_RE) & luhn_ok(c)


# ---------------------------------------------------------------------------
# URL — SQL fast path for the common scheme://host form. The exact
# WHATWG-parse fidelity check (url::Url::parse, urls.rs:3-10) lives in the
# UDF tier; this fast path is used by oracle-checked queries.
# ---------------------------------------------------------------------------

URL_FAST_RE = (
    r"^(?i)[a-z][a-z0-9+.-]*://"            # scheme://
    r"([^\s/@:]+(:[^\s/@]*)?@)?"            # userinfo@
    r"([a-z0-9._~%-]+|\[[0-9a-f:.]+\])"     # host or [ipv6]
    r"(:[0-9]{1,4})?"                       # :port (0-9999 always valid;
                                            #  5-digit ports → UDF tier)
    r"([/?#][^\s]*)?\z"                     # path/query/fragment
)

URL_SCHEME_RE = r"^(?i)[a-z][a-z0-9+.-]*:"


def url_ok_fast(c: Column) -> Column:
    return c.rlike(URL_FAST_RE)


def url_ok(c: Column) -> Column:
    """Two-tier URL check: the fast regex decides the common
    scheme://host form in codegen; everything else that at least has a
    scheme prefix (opaque-path schemes like mailto:, 5-digit ports,
    odd hosts) goes to the WHATWG-parse UDF — which is fed NULL for
    rows already decided, mirroring email_ok's gating."""
    from . import udf_tier as U
    fast = url_ok_fast(c)
    undecided = c.rlike(URL_SCHEME_RE) & ~F.coalesce(fast, F.lit(False))
    slow_input = F.when(undecided, c)
    return fast | F.coalesce(U.url_slow_ok(slow_input), F.lit(False))

