"""URL canonicalization and keying (SURVEY.md P1-P3, F5-F11).

Two implementations of the SAME semantics:

- Column expressions (``canonicalize_col`` etc.) — the engine path.
  Pure JVM-side built-ins (trim/regexp_replace/concat/parse_url/md5),
  whole-stage-codegen'd, no Python in the hot loop.
- Pure-Python twins (``canonicalize_py`` etc.) — used only by the
  normative oracle (tests/golden generation) so engine and oracle
  share one definition of "canonical URL".

Normalization semantics mirror the reference's normalize_url
(reference: app_wrapper.py:13-22): strip whitespace; rewrite
``http://`` to ``https://``; prefix ``https://`` when no scheme;
empty input -> null (dropped by caller). The URL key is md5 of the
canonical URL (the reference's own '.works' variant hashes URLs with
md5 — app_wrapper.py.works:29 — and md5 exists identically in Spark,
DuckDB and hashlib, which makes oracle parity trivial; xxhash64 is
used only engine-internally where cross-language parity is not
needed).
"""

from __future__ import annotations

import hashlib
import ipaddress
import re
from urllib.parse import quote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark column expressions (engine path — JVM-side, codegen)
# ---------------------------------------------------------------------------


def canonicalize_col(url: Column) -> Column:
    """Canonical URL per reference normalize_url semantics; null if empty.

    Steps (identical in canonicalize_py — parity-tested in test_urls):
    1. strip LEADING/TRAILING ASCII whitespace [ \\t\\n\\r\\f\\x0B] —
       btrim with the explicit set, not F.trim, which strips only ' '
       and would disagree with the Python twin on a '\\thttp://a.com'
       seed (ADVICE r01; btrim is a plain JVM char-set loop — the
       regexp_replace version costs ~4x on the 2M-row bench);
    2. http:// -> https://; prefix https:// when no scheme;
    3. percent-encode every char outside printable ASCII (plus the
       space) as UTF-8 %XX — the reference quote()s non-ASCII titles
       into URL paths (reference MakeURLs.py:19-21, urllib.parse.quote)
       and an unencoded unicode seed would break url_hash parity with
       any real fetcher. '%' stays safe, so already-encoded URLs are
       NOT double-encoded and the canonicalizer is idempotent
       (outlinks re-enter it every round).
    """
    trimmed = F.btrim(url, F.lit(" \t\n\r\f\x0b"))
    https = F.regexp_replace(trimmed, "^http://", "https://")
    with_scheme = F.when(https.rlike("^https://"), https).otherwise(
        F.concat(F.lit("https://"), https)
    )
    encoded = F.when(
        with_scheme.rlike("[^!-~]"),  # rare path: something to encode
        F.array_join(
            F.transform(
                # regexp (not split('', ...)): matches whole code points,
                # so astral-plane chars keep their surrogate pairs intact
                F.regexp_extract_all(with_scheme, F.lit(r"([\s\S])"), 1),
                lambda c: F.when(c.rlike("^[!-~]$"), c).otherwise(
                    # url_encode is form-encoding; space comes back '+',
                    # quote() wants %20 (a literal '+' encodes to %2B
                    # first, so this replace only ever hits spaces)
                    F.regexp_replace(F.url_encode(c), r"\+", "%20")
                ),
            ),
            "",
        ),
    ).otherwise(with_scheme)
    return F.when(trimmed == "", F.lit(None).cast("string")).otherwise(encoded)


def url_hash_col(canonical_url: Column) -> Column:
    """Stable URL key: md5 hex of the canonical URL."""
    return F.md5(canonical_url)


def host_col(canonical_url: Column) -> Column:
    """Registrable host, lower-cased, PORT DROPPED (parse_url HOST
    semantics; host_py mirrors via urlparse().hostname — ADVICE r01
    flagged the twin keeping the port, which made politeness/robots
    lookups diverge for ported URLs). Reference netloc extraction:
    app.py:200, app.py:503.

    try_parse_url, NOT parse_url: the JVM parser THROWS on URI-illegal
    bytes a real crawl sees constantly (stray '%' not followed by two
    hex digits, raw `"<>^\\`{|}[]` in the path — r03 fuzz finding), and
    one malformed outlink would kill the whole stage. try_parse_url
    returns NULL instead, and the P2 validity predicate drops the row —
    malformed URLs are data, not exceptions. host_py mirrors the
    rejection so engine and oracle drop the same rows."""
    return F.lower(F.try_parse_url(canonical_url, F.lit("HOST")))


def path_col(canonical_url: Column) -> Column:
    return F.try_parse_url(canonical_url, F.lit("PATH"))


def intake_urls(df: DataFrame, raw_url: Column, *keep: str | Column) -> DataFrame:
    """The one frontier-entry rule: canonicalize ``raw_url``, key it and
    take its host, dropping NULL (blank) URLs and host-less rows — the
    P2 validity predicate. Returns ``(url_hash, url, host, *keep)``.
    The oracle twin keeps a raw URL exactly when
    ``canonicalize_py(raw)`` and ``host_py()`` of it are both truthy,
    so engine and oracle drop the same rows instead of diverging on
    NULL-vs-'' hosts (a %-encoded byte in the authority — possible
    since the canonicalizer percent-encodes non-ASCII — has no host)."""
    canon = df.select(canonicalize_col(raw_url).alias("url"), *keep).filter(
        F.col("url").isNotNull()
    )
    return canon.select(
        url_hash_col(F.col("url")).alias("url_hash"),
        "url",
        host_col(F.col("url")).alias("host"),
        *[c for c in canon.columns if c != "url"],
    ).filter(F.col("host").isNotNull() & (F.col("host") != ""))


def resolve_outlink_col(base_host: Column, href: Column) -> Column:
    """Resolve an href against the fetching page's host.

    Absolute http(s) hrefs pass through; host-relative ('/x') and
    bare-relative hrefs join onto the base host. (The reference's
    relative resolution is buggy string concat — app.py:347-352; we
    resolve correctly, as documented in SURVEY.md H13.)
    """
    absolute = href.rlike("^https?://")
    rooted = F.concat(F.lit("https://"), base_host, F.lit("/"), F.regexp_replace(href, "^/+", ""))
    return F.when(absolute, F.regexp_replace(href, "^http://", "https://")).otherwise(rooted)


# ---------------------------------------------------------------------------
# Pure-Python twins (oracle path only — NEVER inside Spark jobs)
# ---------------------------------------------------------------------------


# quote() treats alphanumerics + '_.-~' as always-safe; adding the
# rest of printable ASCII means ONLY the space, control chars and
# non-ASCII get %-encoded — the exact complement of the engine's
# [!-~] passthrough class, and idempotent ('%' is safe)
_QUOTE_SAFE = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
# ASCII whitespace only — str.strip() with no args also strips unicode
# whitespace, which the JVM regexp twin does not (ADVICE r01)
_ASCII_WS = " \t\n\r\f\x0b"


def canonicalize_py(url: str | None) -> str | None:
    if url is None:
        return None
    u = url.strip(_ASCII_WS)
    if not u:
        return None
    if u.startswith("http://"):
        u = "https://" + u[len("http://") :]
    elif not u.startswith("https://"):
        u = "https://" + u
    return quote(u, safe=_QUOTE_SAFE)


def url_hash_py(canonical_url: str) -> str:
    return hashlib.md5(canonical_url.encode("utf-8")).hexdigest()


# --- faithful mirror of java.net.URI's server-authority parse -------
# (the engine's host_col uses try_parse_url, whose semantics are
# java.net.URI; the twin must reject EXACTLY what the JVM rejects or
# engine and oracle disagree on which URLs are invalid. Rules below
# were probed empirically on Spark 4.1 — r03 fuzz, 6k random URLs.)

# excluded chars are illegal EVERYWHERE; brackets are additionally
# illegal before the query/fragment EXCEPT as the delimiters of an
# IPv6 server authority (handled by the carve-out in host_py; java
# also allows [] in query+fragment); a '%' must start a two-hex escape
_JVM_ILLEGAL_ANY = re.compile(r'["<>\\^`{|}]|%(?![0-9A-Fa-f]{2})')
_LABEL_RE = re.compile(r"^[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?$")


def _jvm_valid_host(host: str) -> bool:
    """java.net.URI hostname grammar: dot-separated labels that start
    and end alphanumeric (hyphens inside); optional trailing dot; when
    the host is dotted, the last label must START WITH A LETTER unless
    the whole host is a well-formed IPv4 (4 octets, each <= 255).
    Probed: 1d ok, 6r.a ok, a.com. ok, www. ok, 1.2.3.4 ok;
    www.6R no, a.6r no, 12.34 no, 1.2.3.4.5 no, 256.1.1.1 no,
    a-.com no, -a.com no."""
    if not host:
        return False
    trailing_dot = host.endswith(".")
    labels = host[:-1].split(".") if trailing_dot else host.split(".")
    if not labels or not all(_LABEL_RE.fullmatch(lb) for lb in labels):
        return False
    # digit-start last label (probed): single label + trailing dot is
    # valid ('4.', '6ne.'); multi-label is invalid even with a trailing
    # dot ('www.6R.', '1.2.3.4.'); without a trailing dot it is only
    # valid as a full IPv4 ('1.2.3.4' yes, '12.34' no)
    if "." in host and not labels[-1][0].isalpha():
        if trailing_dot:
            return len(labels) == 1
        return len(labels) == 4 and all(
            lb.isdigit() and int(lb) <= 255 for lb in labels
        )
    return True


# java's IPv6 carve-out (ADVICE r04): a bracketed server authority is
# the ONE place brackets — and a non-escape '%' (the zone-id
# separator) — are legal before the query. Grammar probed on Spark 4.1
# try_parse_url (842-case fuzz, 0 mismatches): the literal must parse
# as an RFC-4291 IPv6 address (Python's ipaddress.IPv6Address agrees
# with java.net.URI on every probed form, incl. '::ffff:1.2.3.4',
# group-count and octet-range errors), and an optional '%zone' suffix
# where the zone is 1+ chars from [A-Za-z0-9._] ONLY (probed: hyphen,
# ':' and every other symbol rejected; '.', '_' accepted).
_JVM_ZONE_RE = re.compile(r"^[A-Za-z0-9._]+$")
_BRACKET_HOSTPORT_RE = re.compile(r"^\[([^\]]*)\](?::(\d*))?$")


def _jvm_valid_ipv6_literal(inner: str) -> bool:
    addr, sep, zone = inner.partition("%")
    if sep and not _JVM_ZONE_RE.fullmatch(zone):
        return False
    try:
        ipaddress.IPv6Address(addr)
    except ValueError:
        return False
    return True


def host_py(canonical_url: str) -> str:
    """hostname (not netloc): lower-cased, port dropped — matches
    try_parse_url(..., 'HOST') in host_col (ADVICE r01). Every JVM
    rejection (illegal bytes, brackets outside a server authority's
    IPv6 literal, >1 '@' in the authority, non-numeric port, host
    outside the hostname grammar, escaped bytes in the authority) is
    mirrored as "" so engine and oracle drop the SAME rows via the P2
    validity predicate."""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", canonical_url)
    if m:
        auth = m.group(1)
        if auth.count("@") <= 1:
            hostport = auth.rsplit("@", 1)[-1]
            if hostport.startswith("["):
                mb = _BRACKET_HOSTPORT_RE.fullmatch(hostport)
                if not mb or not _jvm_valid_ipv6_literal(mb.group(1)):
                    return ""
                # mask the literal (its brackets and zone '%' are legal
                # ONLY here) and re-run every generic check — illegal
                # bytes in userinfo/path, stray '%' escapes, double
                # '#', extra brackets — on the rest of the URL
                start = m.end(1) - len(hostport)
                end = start + len(mb.group(1)) + 2  # past the ']'
                rest = canonical_url[:start] + "h" + canonical_url[end:]
                if _generic_host(rest) != "h":
                    return ""
                return "[" + mb.group(1).lower() + "]"
    return _generic_host(canonical_url)


def _generic_host(canonical_url: str) -> str:
    if _JVM_ILLEGAL_ANY.search(canonical_url):
        return ""
    if canonical_url.count("#") > 1:
        return ""  # a fragment may not itself contain '#'
    qpos = len(canonical_url)
    for ch in "?#":
        p = canonical_url.find(ch)
        if p != -1:
            qpos = min(qpos, p)
    if "[" in canonical_url[:qpos] or "]" in canonical_url[:qpos]:
        return ""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", canonical_url)
    if not m:
        return ""
    auth = m.group(1)
    if auth.count("@") > 1:
        return ""  # userinfo may not itself contain '@'
    hostport = auth.rsplit("@", 1)[-1]
    host, sep, port = hostport.partition(":")
    if sep and port and not port.isdigit():
        return ""  # non-numeric port -> registry authority, null host
    if "%" in host:
        return ""  # escaped bytes in the authority -> null host
    host = host.lower()
    return host if _jvm_valid_host(host) else ""


def path_py(canonical_url: str) -> str:
    return urlparse(canonical_url).path or ""


def resolve_outlink_py(base_host: str, href: str) -> str:
    if href.startswith("http://"):
        return "https://" + href[len("http://") :]
    if href.startswith("https://"):
        return href
    return f"https://{base_host}/{href.lstrip('/')}"


# ---------------------------------------------------------------------------
# Spider-trap guard (engine extension; no reference twin — the
# reference crawls fixed 100-URL batches, web_scraper.py:15-28, and
# can't loop; a 10^10-URL frontier can): reject URLs whose path is
# pathologically deep or cycles through the same segment — the classic
# calendar/session-id/symlink-loop signatures (Heritrix calls these
# "path-ological" URIs). Column expr and pure-Python twin in lockstep,
# fuzz-pinned in tests/test_urls.py.
# ---------------------------------------------------------------------------

TRAP_MAX_SEGMENTS = 16  # deeper paths than any sane site hierarchy
TRAP_MAX_REPEATS = 3  # same segment >3x in one path = a loop


def is_trap_col(
    path_col: Column,
    max_segments: int = TRAP_MAX_SEGMENTS,
    max_repeats: int = TRAP_MAX_REPEATS,
) -> Column:
    """True when the (already-canonical) path looks like a crawler
    trap. In-row only — O(k^2) over k path segments, k <= a few dozen,
    so the guard costs no shuffle and no UDF."""
    segs = F.filter(F.split(path_col, "/"), lambda s: s != "")
    too_deep = F.size(segs) > max_segments
    looping = F.exists(
        segs, lambda s: F.size(F.filter(segs, lambda x: x == s)) > max_repeats
    )
    return too_deep | looping


def is_trap_py(
    path: str,
    max_segments: int = TRAP_MAX_SEGMENTS,
    max_repeats: int = TRAP_MAX_REPEATS,
) -> bool:
    segs = [s for s in (path or "").split("/") if s]
    if len(segs) > max_segments:
        return True
    return any(segs.count(s) > max_repeats for s in set(segs))
