"""Arrow-vectorized pandas UDF tier — the slow path, used only where SQL
cannot express the reference's exact semantics (SURVEY.md §2.9: "no
per-row Python anywhere — only vectorized pandas/Arrow UDFs"): WHATWG
url parsing and IDN email domains. The ip and phone checks here are the
parity oracles of their exact SQL forms in ``sql_builders``.

Every UDF here is ``pd.Series -> pd.Series`` batch-at-a-time; NULL in ⇒
NULL out, so callers can gate work by feeding NULL for already-decided
rows (two-tier dispatch).
"""

from __future__ import annotations

import ipaddress
import re
import urllib.parse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

def _apply_bool(s: pd.Series, fn) -> pd.Series:
    out = s.map(lambda v: None if v is None else bool(fn(v)))
    return out.astype("boolean")


# ---------------------------------------------------------------------------
# ipv6 / ip — Python `ipaddress` has the same strict RFC semantics as Rust
# std::net (no spaces, no unicode digits, no leading zeros in v4 octets).
# Reference truth table: ip.rs:31-139. Parity oracles for the SQL ip
# regexes; _is_ip_any also decides ip literals in _email_domain_slow.
# ---------------------------------------------------------------------------


def _is_ipv6(v: str) -> bool:
    # Python 3.9+ ipaddress accepts zone-scoped 'fe80::1%eth0';
    # Rust std::net::Ipv6Addr::from_str (ip.rs) rejects zones
    if "%" in v:
        return False
    try:
        ipaddress.IPv6Address(v)
        return True
    except ValueError:
        return False


def _is_ip_any(v: str) -> bool:
    if "%" in v:
        return False
    try:
        ipaddress.ip_address(v)
        return True
    except ValueError:
        return False


# ---------------------------------------------------------------------------
# URL — mirrors `url::Url::parse` (WHATWG; urls.rs:3-10). Truth table:
# 'http' false (no colon), 'https://google.com' true,
# 'ftp://localhost:80' true. Special schemes require a valid host; other
# schemes ('unix:/x', 'mailto:a@b') parse as opaque paths.
# ---------------------------------------------------------------------------

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_SPECIAL = {"http", "https", "ws", "wss", "ftp"}


def _is_url(v: str) -> bool:
    if not v:
        return False
    m = _SCHEME_RE.match(v)
    if not m:
        return False
    scheme = v[: m.end() - 1].lower()
    try:
        parts = urllib.parse.urlsplit(v)
        parts.port  # raises on invalid port
    except ValueError:
        return False
    if scheme in _SPECIAL:
        if not parts.hostname:
            return False
    elif scheme == "file":
        pass  # file URLs may have empty host
    if any(ch in v for ch in ("\n", "\t", " ")):
        return False
    return True


@pandas_udf(BooleanType())
def _url_udf(s: pd.Series) -> pd.Series:
    return _apply_bool(s, _is_url)


# used by the two-tier dispatch in sql_builders.url_ok — receives NULL
# for rows the SQL fast path already decided
def url_slow_ok(c: Column) -> Column:
    return _url_udf(c)


# ---------------------------------------------------------------------------
# phone — the parity oracle for sql_builders.PHONE_RE: the vendored
# numbering-plan subset (phone_metadata.py): full ITU assigned
# calling-code set + generalDesc-level lengths/leading-digit patterns
# for ~28 high-traffic codes, matching the reference truth table
# (phone.rs tests: '+14152370800' true, '14152370800' false,
# '0642926829' false, 'A012' false) AND the numbering-plan cases the
# bare E.164 shape check could not (+1 1xx…, +1 exchange 1xx, +999).
# REMAINING BOUNDARY (strict-xfail test_phone_per_range_boundary):
# per-range assignments (e.g. unassigned NANP area code 999) need full
# libphonenumber metadata, which is not vendored.
# ---------------------------------------------------------------------------

from . import phone_metadata as _phone_plan

_PHONE_STRIP = re.compile(r"[\s().\-]")
_E164 = re.compile(r"^\+[0-9]{8,15}$")


def _is_phone(v: str) -> bool:
    stripped = _PHONE_STRIP.sub("", v)
    if not _E164.match(stripped):
        return False
    return _phone_plan.plan_valid(stripped[1:])


# ---------------------------------------------------------------------------
# email slow path — IDN domains (punycode retry, email.rs:46-52). The
# SQL fast path decides every ASCII domain, ip literals included, and
# feeds this UDF NULL for those rows (two-tier dispatch); the literal
# branch keeps the full-Python iter check below exact.
# ---------------------------------------------------------------------------

_DOMAIN_RE = re.compile(
    r"^[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?"
    r"(?:\.[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?)*$",
    re.IGNORECASE,
)
_LITERAL_RE = re.compile(r"\[([A-f0-9:\.]+)\]\Z", re.IGNORECASE)


def _domain_to_ascii(domain: str) -> str:
    """UTS-46 domain_to_ascii, matching the reference's `idna` crate
    (email.rs:46-52; idna 0.5 defaults: non-transitional,
    UseSTD3ASCIIRules=false). The Python `idna` package implements
    UTS-46 mapping + strict IDNA2008 validation — right for the common
    cases the old `str.encode("idna")` (IDNA2003) got wrong (ß is
    preserved as xn--fa-hia, not folded to ss) — but IDNA2008 rejects
    codepoints WHATWG allows (emoji), so on IDNAError fall back to
    UTS-46 remap + raw punycode per label, which is what
    domain_to_ascii does without the IDNA2008 validity check. Raises
    on garbage; the caller maps any exception to invalid."""
    try:
        import idna
    except ImportError:  # pragma: no cover — installed in this env
        return domain.encode("idna").decode("ascii")
    try:
        return idna.encode(domain, uts46=True,
                           std3_rules=False).decode("ascii")
    except idna.IDNAError:
        remapped = idna.uts46_remap(domain, std3_rules=False,
                                    transitional=False)
        out = []
        for lab in remapped.split("."):
            if lab.isascii():
                out.append(lab)
            else:
                out.append("xn--"
                           + lab.encode("punycode").decode("ascii"))
        return ".".join(out)


def _email_domain_slow(v: str) -> bool:
    domain = v.rsplit("@", 1)[-1]
    m = _LITERAL_RE.search(domain)
    if m:
        return _is_ip_any(m.group(1))
    # IDN retry: domain_to_ascii then re-check the HTML5 domain regex
    try:
        ascii_domain = _domain_to_ascii(domain)
    except Exception:  # noqa: BLE001 — any mapping failure = invalid
        return False
    return bool(_DOMAIN_RE.match(ascii_domain))


@pandas_udf(BooleanType())
def _email_slow_udf(s: pd.Series) -> pd.Series:
    return _apply_bool(s, _email_domain_slow)


def email_slow_ok(c: Column) -> Column:
    return _email_slow_udf(c)


# ---------------------------------------------------------------------------
# full-Python email check (HTML5 semantics, email.rs:22-72) — used for
# per-element (iter) validation where Spark bans UDF calls inside
# higher-order-function lambdas; the engine instead computes one
# array<boolean> ok-vector per row with a single top-level Arrow UDF.
# ---------------------------------------------------------------------------

_USER_RE = re.compile(r"^[a-z0-9.!#$%&'*+/=?^_`{|}~-]+\Z", re.IGNORECASE)


def _email_full(v: str) -> bool:
    if not v or "@" not in v:
        return False
    user, domain = v.rsplit("@", 1)
    if len(user.encode("utf-8", "surrogatepass")) > 64 \
            or len(domain.encode("utf-8", "surrogatepass")) > 255:
        return False
    if not _USER_RE.match(user):
        return False
    if _DOMAIN_RE.match(domain):
        return True
    return _email_domain_slow(v)


_ITER_CHECKS = {"email": _email_full, "url": _is_url}

_ITER_UDF_CACHE: dict = {}


def iter_ok(kind: str):
    """Array-level check: array<string> -> array<boolean> in one Arrow
    batch UDF call (per-element Python only within each row's list)."""
    if kind not in _ITER_UDF_CACHE:
        fn = _ITER_CHECKS[kind]

        @pandas_udf("array<boolean>")
        def _arr_udf(s: pd.Series) -> pd.Series:
            return s.map(
                lambda lst: None if lst is None else
                [None if v is None else bool(fn(v)) for v in lst])

        _ITER_UDF_CACHE[kind] = _arr_udf
    return _ITER_UDF_CACHE[kind]
