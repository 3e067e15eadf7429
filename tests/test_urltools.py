"""Parity tests: playwrightcrawler_spark.functions.urltools vs the
AST-extracted reference functions (SURVEY.md §5.1, FIXTURES.md A7)."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from playwrightcrawler_spark.functions import urltools

# --- sanitize_url ----------------------------------------------------------

SANITIZE_CASES = [
    # scheme typos (reference playwrightcrawler.py:2341-2359)
    "ps://x.com/a", "ttps://x.com/a", "htpps://x.com/a", "httpp://x.com/a",
    "http:s//x.com/a", "hthttps://x.com/a", "httsp://x.com/a",
    "htts://x.com/a", "htttps://x.com/a", "https:https://x.com/a",
    "https https://x.com/a", "httpshttps://x.com/a",
    "https://https://x.com/a", '"https://x.com/a', "httpd://x.com/a",
    "htps://x.com/a", "https: //x.com/a", "https : //x.com/a",
    "http2://x.com/a", "https%3A//x.com/a", "%20https://x.com/a",
    "htto://x.com/a", "htt://x.com/a", "htp://http//x.com/a",
    "htp://x.com/a", "hhttp://x.com/a", "http:/http://x.com/a",
    "http:www.x.com/a", "htttp://x.com/a", "ttp://x.com/a",
    "%20http://x.com/a", "%22mailto:a@b.com", "httpqs://x.com/a",
    "://x.com/a",
    # quotes (reference :2330-2336)
    '"https://q.com/p"', "'https://q.com/p'", "“https://q.com/p”",
    "‘https://q.com/p’", '"https://q.com/p″',
    # ports / userinfo (reference :2274-2311)
    "http://h.com:80/x", "https://h.com:443/x", "http://h.com:8080/x",
    "https://h.com:99999/x", "http://user:pw@h.com:80/x",
    "http://bad host!.com/x", "https://UPPER.com:443/PATH",
    # slash collapse incl. embedded URLs (reference :2313-2324)
    "https://a.com//b//c", "http://a.com/r/https://b.com//c",
    "https://a.com/a//b/https://c.d//e//f",
    # degenerate
    "", "x", "no-scheme.com/a", "https:///promote.com//a//b",
    "  https://ws.com/a  ", "https://h.com/a#frag",
    "ftp://f.com/a", "mailto:x@y.com",
    "https://h.com/%7Euser/a b?q=1&q=2#z",
]


@pytest.mark.parametrize("raw", SANITIZE_CASES)
def test_sanitize_url_parity(ref, raw):
    assert urltools.sanitize_url(raw) == ref["sanitize_url"](raw)


def test_sanitize_url_non_string(ref):
    for bad in (None, 42, ["x"]):
        assert urltools.sanitize_url(bad) == ref["sanitize_url"](bad) == ""


def test_sanitize_url_idempotent():
    """Required by cleanup rule 'sanitize(url) != url → delete'
    (reference playwrightcrawler.py:3688-3694)."""
    for raw in SANITIZE_CASES:
        once = urltools.sanitize_url(raw)
        assert urltools.sanitize_url(once) == once, raw


_URL_ALPHA = st.text(
    alphabet='abcxyz019-._~:/?#[]@!$&\'()*+,;=% "<>\\^`{|}',
    max_size=60,
)


@settings(max_examples=300, deadline=None)
@given(_URL_ALPHA)
def test_sanitize_url_property_parity(ref, raw):
    assert urltools.sanitize_url(raw) == ref["sanitize_url"](raw)


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(["https://", "http://", "htpps://", ""]), _URL_ALPHA)
def test_sanitize_url_property_parity_schemed(ref, scheme, rest):
    raw = scheme + rest
    assert urltools.sanitize_url(raw) == ref["sanitize_url"](raw)


# --- has_repeated_segments (reference docstring cases :1228-1232) ----------

REPEATED_CASES = [
    ("https://e.com/fonts/fonts/fonts/", True),
    ("https://e.com/assets/video/assets/video/assets/video/", True),
    ("https://e.com/a/b/c/a/b/c/a/b/c/", True),
    ("https://e.com/assets/video/assets/video/", False),  # 2 repeats < 3
    ("https://e.com/", False),
    ("https://e.com/a/a/a", True),
    ("https://e.com/a/a", False),
    ("https://e.com/x/a/b/a/b/a/b/y", True),
    ("https://e.com/1/2/3/4/5/1/2/3/4/5/1/2/3/4/5", True),
    ("https://e.com/1/2/3/4/5/6/1/2/3/4/5/6/1/2/3/4/5/6", False),  # len 6 > max 5
]


@pytest.mark.parametrize("url,expected", REPEATED_CASES)
def test_has_repeated_segments(ref, url, expected):
    assert urltools.has_repeated_segments(url) is expected
    assert ref["has_repeated_segments"](url) is expected


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "c", "dd"]), max_size=14))
def test_has_repeated_segments_property(ref, segs):
    url = "https://e.com/" + "/".join(segs)
    assert urltools.has_repeated_segments(url) == ref["has_repeated_segments"](url)


# --- get_directory_tree (worked example :3950-3959; code emits the root too)

def test_directory_tree_parity(ref):
    cases = [
        "https://example.com/a/b/c/file.txt",
        "https://e.com/",
        "https://e.com/a",
        "https://e.com/a%20b/c/",
        "https://e.com/a/b//c",
        "notaurl",
        "https://e.com/a/b?q=1#f",
    ]
    for u in cases:
        assert urltools.get_directory_tree(u) == ref["get_directory_tree"](u), u


def test_directory_tree_example():
    got = urltools.get_directory_tree("https://example.com/a/b/c/file.txt")
    assert got[:3] == [
        "https://example.com/a/b/c",
        "https://example.com/a/b",
        "https://example.com/a",
    ]


# --- levels / query / extension -------------------------------------------

def test_host_levels_parity(ref):
    for h in ["sub.example.com", "example.com:8080", "a.b.c.d.e.f.g.h.com", "localhost"]:
        assert urltools.host_levels(h) == ref["get_host_levels"](h)["host_levels"]


def test_padded_host_levels():
    assert urltools.padded_host_levels("a.com") == ["", "", "", "", "", "a", "com"]
    assert urltools.flat_host_levels("sub.a.com")["host_level_1"] == "com"
    assert urltools.flat_host_levels("sub.a.com")["host_level_2"] == "a"
    assert urltools.flat_host_levels("sub.a.com")["host_level_3"] == "sub"
    # deep subdomain: > 7 labels keeps the last 7 in the flat map
    deep = urltools.flat_host_levels("a.b.c.d.e.f.g.h.com")
    assert deep["host_level_1"] == "com"
    assert deep["host_level_7"] == "c"


def test_directory_levels_parity(ref):
    for p in ["/a/b/c/", "", "/", "/x", "/a/b/c/d/e/f/g/h/i"]:
        assert urltools.directory_levels(p) == ref["get_directory_levels"](p)["directory_levels"]


def test_parse_query():
    hq, names, vals = urltools.parse_query("https://e.com/p?a=1&b=2&a=3&empty=&plus=x+y")
    assert hq is True
    assert names == ["a", "b", "plus"]  # 'empty=' dropped by parse_qs
    assert vals == ["1", "3", "2", "x y"]  # grouped by key, not positional
    assert urltools.parse_query("https://e.com/p") == (False, [], [])


def test_file_extension():
    assert urltools.file_extension("/a/b/photo.JPG") == "jpg"
    assert urltools.file_extension("/a/b/archive.tar.gz") == "gz"
    assert urltools.file_extension("/a/b/noext") == ""
    assert urltools.file_extension("/a/b/enc%2Efile%2Epng") == "png"


# --- email extraction (reference :2176-2186) --------------------------------

def test_extract_email():
    assert urltools.extract_email("mailto:john.doe@example.com") == "john.doe@example.com"
    assert urltools.extract_email("maillto:a@b.org") == "a@b.org"
    assert urltools.extract_email("Email para:x@y.com.br") == "x@y.com.br"
    assert urltools.extract_email("mailto:not-an-email") is None
    assert urltools.extract_email("mailto:bad@@x.com") is None
    assert urltools.extract_email("https://e.com/") is None


# --- misc -------------------------------------------------------------------

def test_url_sha256_parity(ref):
    for u in ["https://a.com/", "x", ""]:
        assert urltools.url_sha256(u) == ref["url_to_id"](u)


def test_is_embedded(ref):
    for u in ["data:image/png;base64,x", "blob:y", "about:blank",
              "javascript:void(0)", "https://e.com"]:
        assert urltools.is_embedded_url(u) == ref["is_embedded_url"](u)


# --- per-link kernel (link_record / page_links) -----------------------------

# The mailto filter the engine ran JVM-side before the per-link kernel
# replaced it; java.util.regex's (?i) folds ASCII only, so re.ASCII.
_JAVA_MAILTO_RX = re.compile(
    r"^(mailto:|maillto:|maito:|mail:|malito:|mailton:|\"mailto:|"
    r"emailto:|maltio:|mainto:|E-mail:|mailtfo:|mailtp:|mailtop:|"
    r"mailo:|mail to:|Email para:|email :|email:|E-mail: |mail-to:|"
    r"maitlo:|mail\.to:)",
    re.IGNORECASE | re.ASCII,
)

_HREF_PARTS = [
    # relative, absolute, protocol-relative, query/fragment
    "/p1.html", "p2.html", "../up/x", "?q=1&q=2", "#frag", "", " ",
    "//cdn.example.net/a.js", "https://b.example/x?y=1#z",
    "HTTP://UPPER.example:80/A", "https://h.example:443//a//b",
    # traps and block-list hits
    "/fonts/fonts/fonts/a.woff", "/a/b/a/b/a/b/", "/images/images/images/images/x",
    "https://fonts.gstatic.com/s.css",
    # embedded schemes
    "javascript:void(0)", "JavaScript:alert(1)", "data:image/png;base64,iVBOR",
    "blob:https://x/1", "about:blank",
    # mailto and misspellings (valid and invalid addresses)
    "mailto:john.doe@example.com", "MAILTO:a@b.org", "maillto:a@b.org",
    "mail to:x@y.com", "E-mail: x@y.com", "email :x@y.com", "Email para:x@y.com.br",
    '"mailto:q@r.com', "mail.to:m@n.org", "mailto:not-an-email", "mailto:bad@@x.com",
    "mailto:", "%22mailto:a@b.com", "mailtop:x@y.com",
    # non-ASCII: Unicode case folding must not turn these into mailto links
    "MAİLTO:tr@example.com", "maılto:tr@example.com", "ｍａｉｌｔｏ:fw@example.com",
    "/pfad/über/straße", "https://bücher.example/ß", "/日本語/ページ",
    # urljoin rejects these (ValueError)
    "http://[::1", "https://[bad/x",
    # scheme typos sanitize_url repairs
    "htps://typo.example/a", "ttps://typo.example/b", "'https://q.example/p'",
]


def _old_chain(parent, hrefs):
    """resolve_link → JVM mailto filter → extract_email | sanitize_url →
    has_repeated_segments, the per-link steps before they were folded."""
    links, emails = [], []
    for h in hrefs:
        try:
            raw = urltools.resolve_link(parent, h)
        except ValueError:
            continue
        if _JAVA_MAILTO_RX.match(raw):
            email = urltools.extract_email(raw)
            if email is not None:
                emails.append(email)
            continue
        url = urltools.sanitize_url(raw)
        links.append((raw, url, urltools.has_repeated_segments(url)))
    return links, emails


def _fuzz_hrefs(seed: int, n: int) -> list[str]:
    import random

    rng = random.Random(seed)
    out = list(_HREF_PARTS)
    out.append("/long/" + "q" * 4200)
    out.append("data:text/plain;base64," + "A" * 5000)
    for _ in range(n):
        a, b = rng.choice(_HREF_PARTS), rng.choice(_HREF_PARTS)
        out.append(rng.choice([a + b, a.upper(), a + "/" + b, b[:3] + a]))
    return out


@pytest.mark.parametrize("seed, parent", enumerate([
    "https://a.example/dir/page.html", "http://b.example:8080/", "https://c.example/x/y/z/",
]))
def test_page_links_equal_old_chain(seed, parent):
    hrefs = _fuzz_hrefs(seed=seed, n=400)
    got = urltools.page_links(parent, hrefs)
    assert got == _old_chain(parent, hrefs)
    links, emails = got
    assert emails and any(r for _, _, r in links)  # both branches exercised
    assert urltools.page_links(None, hrefs) == ([], [])


def test_link_record_without_parent_is_seed_hygiene():
    """Seeds: no resolution, no mailto split — canonicalize_url then
    has_repeated_segments, raising where that chain raised."""
    for u in _fuzz_hrefs(seed=3, n=200) + [None]:
        url = urltools.sanitize_url(u)
        try:
            want = (u, url, urltools.has_repeated_segments(url), None)
        except ValueError:
            with pytest.raises(ValueError):
                urltools.link_record(u)
            continue
        assert urltools.link_record(u) == want


def test_mailto_filter_matches_java_regex(spark):
    """The kernel's mailto split equals Spark's rlike with the (?i) pattern
    the engine used, on every fuzz href (non-ASCII case folds included)."""
    from pyspark.sql import functions as F

    hrefs = _fuzz_hrefs(seed=5, n=300)
    java = "(?i)" + _JAVA_MAILTO_RX.pattern
    got = spark.createDataFrame([(i, h) for i, h in enumerate(hrefs)], "i int, h string")
    rows = got.select("i", F.col("h").rlike(java).alias("m")).collect()
    java_match = {r["i"]: r["m"] for r in rows}
    for i, h in enumerate(hrefs):
        assert bool(urltools._MAILTO_LINK.match(h)) == java_match[i], h
