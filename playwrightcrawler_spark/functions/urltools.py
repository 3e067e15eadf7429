"""Pure-Python URL kernels.

These are the deterministic, per-value functions whose *observable behavior*
must match the reference crawler exactly (they feed the pandas UDFs in
``udfs.py`` and the pytest parity suite). Each function cites the reference
location whose semantics it reproduces; the implementations are written from
scratch against that spec.

Everything here is plain CPython with no Spark dependency so the same code
runs driver-side (tests, fixtures) and executor-side (inside Arrow batches).
"""

from __future__ import annotations

import hashlib
import os
import re
from pathlib import PurePosixPath
from urllib.parse import parse_qs, unquote, urljoin, urlparse, urlsplit, urlunsplit

from playwrightcrawler_spark import config

# ---------------------------------------------------------------------------
# URL canonicalization — parity with sanitize_url
# (reference playwrightcrawler.py:2236-2417)
# ---------------------------------------------------------------------------

# Surrounding-quote patterns stripped before any other fix.
_QUOTE_PAIRS = [
    (re.compile(r'^"(.*)"$'), r"\1"),
    (re.compile(r"^'(.*)'$"), r"\1"),
    (re.compile("^“(.*)”$"), r"\1"),
    (re.compile("^‘(.*)’$"), r"\1"),
    (re.compile('^"(.*)″$'), r"\1"),
]

# Common scheme typos observed in the wild → canonical scheme. This table is
# behavioral data shared with the reference (playwrightcrawler.py:2341-2359);
# the canonicalization stage must be bit-compatible per BASELINE.json.
_SCHEME_FIXES = [
    (re.compile(p), r) for p, r in [
        (r"^ps://", "https://"), (r"^ttps://", "https://"),
        (r"^htpps://", "https://"), (r"^httpp://", "https://"),
        (r"^http:s//", "https://"), (r"^hthttps://", "https://"),
        (r"^httsp://", "https://"), (r"^htts://", "https://"),
        (r"^htttps://", "https://"), (r"^https:https://", "https://"),
        (r"^https https://", "https://"), (r"^httpshttps://", "https://"),
        (r"^https://https://", "https://"), (r'^"https://', "https://"),
        (r"^httpd://", "https://"), (r"^htps://", "https://"),
        (r"^https: //", "https://"), (r"^https : //", "https://"),
        (r"^http2://", "https://"), (r"^https%3A//", "https://"),
        (r"^%20https://", "https://"), (r"^htto://", "http://"),
        (r"^htt://", "http://"), (r"^htp://http//", "http://"),
        (r"^htp://", "http://"), (r"^hhttp://", "http://"),
        (r"^http:/http://", "http://"), (r"^http:www", "http://www"),
        (r"^htttp://", "http://"), (r"^ttp://", "http://"),
        (r"^%20http://", "http://"), (r"^%22mailto:", "mailto:"),
        (r"^httpqs://", "https://www."), (r"^://", "https://"),
    ]
]

_LEAD_JUNK_HTTPS = re.compile(r'^[a-zA-Z."(´]https://')
_LEAD_JUNK_HTTP = re.compile(r'^[a-zA-Z."(´]http://')
_SCHEME_SLASHES = re.compile(r"^(https?:)/+")
_MULTI_SLASH = re.compile(r"/{2,}")
_EMBEDDED_URL_SPLIT = re.compile(r"(/https?://)")
_FALLBACK_HOST_SLASH = re.compile(r"(https?://[^/]+)/{2,}")


def _clean_netloc(netloc: str, scheme: str) -> str:
    """Clean ``user:pass@host:port``: printable userinfo, alnum/-/. host,
    numeric in-range port, default ports dropped.
    (spec: clean_hostname_with_userinfo, playwrightcrawler.py:2274-2311)"""
    userinfo = ""
    host_port = netloc
    if "@" in netloc:
        userinfo, host_port = netloc.split("@", 1)
        userinfo = "".join(c for c in userinfo if c.isprintable())

    if ":" in host_port:
        host, port = host_port.rsplit(":", 1)
        host = "".join(c for c in host if c.isalnum() or c in "-.")
        if port.isdigit():
            n = int(port)
            if (scheme == "http" and port == "80") or (scheme == "https" and port == "443"):
                port = ""
            elif not 1 <= n <= 65535:
                port = ""
        else:
            port = ""
    else:
        host = "".join(c for c in host_port if c.isalnum() or c in "-.")
        port = ""

    out = host
    if port:
        out += f":{port}"
    if userinfo:
        out = f"{userinfo}@{out}"
    return out


def _collapse_path_keep_embedded(path: str) -> str:
    """Collapse ``//`` runs in a path but keep ``/https://`` separators intact
    (spec: safe_normalize_path_slashes, playwrightcrawler.py:2313-2324)."""
    pieces = _EMBEDDED_URL_SPLIT.split(path)
    out = []
    for i in range(0, len(pieces), 2):
        out.append(_MULTI_SLASH.sub("/", pieces[i]))
        if i + 1 < len(pieces):
            out.append(pieces[i + 1])
    return "".join(out)


def sanitize_url(url) -> str:
    """Canonicalize a raw URL. Bit-compatible with the reference's
    ``sanitize_url`` (playwrightcrawler.py:2236-2417): quote stripping,
    ~30 scheme-typo fixes, netloc cleaning, slash collapsing, scheme/host
    lowercasing, default-port and fragment stripping."""
    if not url or not isinstance(url, str):
        return ""

    url = url.strip()
    for pat, repl in _QUOTE_PAIRS:
        url = pat.sub(repl, url)
    for pat, repl in _SCHEME_FIXES:
        url = pat.sub(repl, url)
    url = _LEAD_JUNK_HTTPS.sub("https://", url)
    url = _LEAD_JUNK_HTTP.sub("http://", url)
    url = _SCHEME_SLASHES.sub(r"\1//", url)

    try:
        parts = urlsplit(url)
        scheme = parts.scheme.lower()
        netloc = _clean_netloc(parts.netloc, scheme)
        if not netloc and parts.path.startswith("/") and scheme:
            # scheme present but host landed in the path: promote it
            head = parts.path.lstrip("/").split("/", 1)
            if head and "." in head[0]:
                netloc = _clean_netloc(head[0], scheme)
                path = "/" + (head[1] if len(head) > 1 else "")
                url = urlunsplit((scheme, netloc, path, parts.query, parts.fragment))
        else:
            # NOTE: this collapse intentionally does NOT protect embedded
            # full URLs — matching the reference's observable behavior
            # (the "safe" collapse only runs in the second pass).
            path = _MULTI_SLASH.sub("/", parts.path)
            url = urlunsplit((scheme, netloc, path, parts.query, parts.fragment))
    except (ValueError, AttributeError):
        url = _FALLBACK_HOST_SLASH.sub(r"\1/", url)

    try:
        parts = urlsplit(url)
        scheme = parts.scheme.lower()
        netloc = parts.netloc.lower()
        if ":" in netloc:
            host, port = netloc.split(":", 1)
            if (scheme == "http" and port == "80") or (scheme == "https" and port == "443"):
                netloc = host
        path = _collapse_path_keep_embedded(parts.path)
        return urlunsplit((scheme, netloc, path, parts.query, "")).strip()
    except (ValueError, AttributeError):
        return url.strip()


# ---------------------------------------------------------------------------
# Hashing / identity
# ---------------------------------------------------------------------------

def url_sha256(url: str) -> str:
    """Hex SHA-256 of the URL — the reference's document ``_id``
    (url_to_id, playwrightcrawler.py:1431-1456). The engine's 64-bit
    seen-set key is ``xxhash64(url)`` computed JVM-side."""
    return hashlib.sha256(url.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------

def is_embedded_url(url: str) -> bool:
    """Non-navigable scheme (reference playwrightcrawler.py:1753-1779)."""
    return url.startswith(("data:", "blob:", "about:", "javascript:"))


def has_repeated_segments(
    url: str,
    max_pattern: int = config.REPEATED_SEGMENTS_MAX_PATTERN,
    min_repeats: int = config.REPEATED_SEGMENTS_MIN_REPEATS,
) -> bool:
    """True when some run of <= ``max_pattern`` path segments repeats
    consecutively >= ``min_repeats`` times — crawler-trap detection
    (reference playwrightcrawler.py:1223-1263).

    ``/fonts/fonts/fonts/`` → True; ``/a/b/a/b/`` (2 repeats) → False.
    """
    path = urlparse(url).path.strip("/")
    if not path:
        return False
    segs = path.split("/")
    n = len(segs)
    for plen in range(1, min(max_pattern, n // min_repeats) + 1):
        for start in range(n - plen * min_repeats + 1):
            window = segs[start:start + plen]
            reps = 1
            j = start + plen
            while j + plen <= n and segs[j:j + plen] == window:
                reps += 1
                j += plen
            if reps >= min_repeats:
                return True
    return False


# ---------------------------------------------------------------------------
# Decomposition
# ---------------------------------------------------------------------------

def hostname_of(url: str) -> str | None:
    """``urlsplit(url).hostname`` with the reference's tolerance (None on
    missing host). Lowercases, strips port and brackets like urlsplit does."""
    try:
        return urlsplit(url).hostname
    except ValueError:
        return None


def host_levels(hostname: str) -> list[str]:
    """Dot-split of the port-stripped hostname, left-to-right
    (reference get_host_levels, playwrightcrawler.py:1708-1750)."""
    return hostname.split(":")[0].split(".")


def padded_host_levels(hostname: str, max_levels: int = config.MAX_HOST_LEVELS) -> list[str]:
    """``host_levels`` left-padded with '' to ``max_levels`` entries; the
    flattened ``host_level_1`` is the TLD (reference
    playwrightcrawler.py:1911-1916 pads then enumerates reversed)."""
    parts = host_levels(hostname)
    if len(parts) < max_levels:
        parts = [""] * (max_levels - len(parts)) + parts
    return parts


def flat_host_levels(hostname: str, max_levels: int = config.MAX_HOST_LEVELS) -> dict[str, str]:
    """``{host_level_1: tld, ...}`` — reversed tail of the padded levels."""
    parts = padded_host_levels(hostname, max_levels)
    return {f"host_level_{i + 1}": p for i, p in enumerate(reversed(parts[-max_levels:]))}


def directory_levels(url_path: str, max_levels: int = config.MAX_DIR_LEVELS) -> list[str]:
    """Non-empty path segments right-padded with '' to ``max_levels``
    (reference get_directory_levels, playwrightcrawler.py:1949-1995; the
    caller at :1926-1932 additionally left-pads — see ``padded_dir_levels``)."""
    levels = [p for p in url_path.strip("/").split("/") if p]
    if len(levels) < max_levels:
        levels = levels + [""] * (max_levels - len(levels))
    return levels


def padded_dir_levels(url_path: str, max_levels: int = config.MAX_DIR_LEVELS) -> list[str]:
    """The exact array the reference persists: ``get_directory_levels`` output
    left-padded again when still short (playwrightcrawler.py:1927-1929).
    For paths with <= ``max_levels`` segments this equals ``directory_levels``
    (already full-length), so the left-pad is a no-op — kept for fidelity."""
    parts = directory_levels(url_path, max_levels)
    if len(parts) < max_levels:
        parts = [""] * (max_levels - len(parts)) + parts
    return parts


def parse_query(url: str) -> tuple[bool, list[str], list[str]]:
    """Query decomposition with CPython ``parse_qs`` semantics — repeated
    keys merged in first-seen order, blank values dropped, ``+`` decoded
    (reference playwrightcrawler.py:1896-1908)."""
    q = urlsplit(url).query
    if not q:
        return False, [], []
    parsed = parse_qs(q)
    variables = list(parsed.keys())
    values = [v for vals in parsed.values() for v in vals]
    return True, variables, values


def file_extension(url_path: str) -> str:
    """Lower-cased, dot-stripped extension of the percent-decoded path;
    '' when absent (reference playwrightcrawler.py:1934-1937)."""
    _, ext = os.path.splitext(unquote(url_path))
    return ext.lower().lstrip(".") if ext else ""


def get_directory_tree(url: str) -> list[str]:
    """All parent-directory URL prefixes of a path, deepest first, ending at
    the origin root (reference get_directory_tree,
    playwrightcrawler.py:3941-3989 — note the loop emits the bare
    ``scheme://host/`` root as its final element, one more than the docstring
    example shows; we match the code, not the docstring)."""
    try:
        split = urlsplit(url)
        origin = f"{split.scheme}://{split.netloc}"
        parts = PurePosixPath(unquote(urlparse(url).path)).parts
        return [origin + "/" + "/".join(parts[1:-idx]) for idx in range(1, len(parts))]
    except (ValueError, AttributeError):
        return []


def resolve_link(parent_url: str, href: str) -> str:
    """Resolve a discovered href against its parent page
    (reference relative_url handler, playwrightcrawler.py:2036-2086)."""
    return urljoin(parent_url, href)


def strip_fragment(url: str) -> str:
    """Drop the #fragment (reference playwrightcrawler.py:1858)."""
    parts = urlsplit(url)
    return urlunsplit((parts.scheme, parts.netloc, parts.path, parts.query, ""))


# ---------------------------------------------------------------------------
# Email extraction (reference email_url handler, playwrightcrawler.py:2131-2197)
# ---------------------------------------------------------------------------

_MAILTO_PREFIX = re.compile(
    r"^(mailto:|maillto:|maito:|mail:|malito:|mailton:|\"mailto:|"
    r"emailto:|maltio:|mainto:|E\-mail:|mailtfo:|mailtp:|mailtop:|"
    r"mailo:|mail to:|Email para:|email :|email:|E-mail: |mail-to:|"
    r"maitlo:|mail.to:)(.*)",
    re.IGNORECASE | re.UNICODE,
)
_EMAIL_VALID = re.compile(r"^([A-Za-z0-9]+[._-])*[A-Za-z0-9]+@[A-Za-z0-9-]+(\.[A-Za-z]{2,})+$")


def extract_email(raw_url: str) -> str | None:
    """Address from a mailto-style link (incl. ~20 misspellings), validated
    conservatively; None when absent/invalid."""
    m = _MAILTO_PREFIX.match(raw_url)
    if not m:
        return None
    address = m.group(2)
    return address if _EMAIL_VALID.match(address) else None


# ---------------------------------------------------------------------------
# Per-link hygiene kernel — the discovered-link half of the extraction UDF
# ---------------------------------------------------------------------------

# Which resolved links are mailto-style: the prefixes of _MAILTO_PREFIX
# (with a literal dot in "mail.to:"), matched the way the engine's former
# java.util.regex filter did — its (?i) folds ASCII letters only, hence
# re.ASCII (Unicode folding would also take "MAİLTO:", dotted capital I).
_MAILTO_LINK = re.compile(
    r"^(mailto:|maillto:|maito:|mail:|malito:|mailton:|\"mailto:|"
    r"emailto:|maltio:|mainto:|E-mail:|mailtfo:|mailtp:|mailtop:|"
    r"mailo:|mail to:|Email para:|email :|email:|E-mail: |mail-to:|"
    r"maitlo:|mail\.to:)",
    re.IGNORECASE | re.ASCII,
)


def link_record(href, parent: str | None = None):
    """One link → ``(raw, url, repeated, email)``; None when urljoin
    rejects the href.

    With a ``parent`` page URL the href is resolved against it (U1); a
    mailto-style result yields ``(raw, None, False, extract_email(raw))``
    (U3), any other ``(raw, sanitize_url(raw), has_repeated_segments(url),
    None)`` (P1, P4). Without a parent (seed URLs) the href is taken as
    already resolved and never split off as mailto."""
    if parent is None:
        raw = href
    else:
        try:
            raw = resolve_link(parent, href)
        except ValueError:
            return None
        if _MAILTO_LINK.match(raw):
            return raw, None, False, extract_email(raw)
    url = sanitize_url(raw)
    return raw, url, has_repeated_segments(url), None


def page_links(parent: str | None, hrefs) -> tuple[list, list]:
    """A page's hrefs → ``([(raw, url, repeated), ...], [email, ...])`` in
    href order: web links through ``link_record``, valid mailto addresses
    apart; hrefs urljoin rejects are skipped. No parent → no links."""
    links, emails = [], []
    if parent is None or hrefs is None:
        return links, emails
    for h in hrefs:
        rec = link_record(h, parent)
        if rec is None:
            continue
        raw, url, repeated, email = rec
        if url is not None:
            links.append((raw, url, repeated))
        elif email is not None:
            emails.append(email)
    return links, emails
