"""Pure-SQL column builders — everything here compiles to Catalyst
expressions inside whole-stage codegen (no Python at runtime).

These are the Spark-first forms of the reference's projection/filter
operators (SURVEY.md §2.3): host/directory level decomposition, query
decomposition, extension extraction, scheme filters and block lists.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from playwrightcrawler_spark import config

# --------------------------------------------------------------------------
# URL pieces
# --------------------------------------------------------------------------


def host_of(url: Column) -> Column:
    """Lower-cased hostname (parity with urlsplit().hostname); NULL when the
    URL has no host — callers drop those rows like the reference does
    (playwrightcrawler.py:1853-1855). ``try_parse_url`` so a malformed URL
    yields NULL instead of failing the task (ANSI mode); a regex fallback
    recovers the authority for URLs java.net rejects (e.g. bad %-escapes),
    and IPv6 brackets are stripped to match urlsplit().hostname."""
    parsed = F.try_parse_url(url, F.lit("HOST"))
    fallback = F.nullif(
        F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+).*", 1),
        F.lit(""),
    )
    host = F.coalesce(parsed, fallback)
    return F.lower(F.regexp_replace(host, r"^\[|\]$", ""))


def path_of(url: Column) -> Column:
    return F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))


def query_of(url: Column) -> Column:
    return F.try_parse_url(url, F.lit("QUERY"))


def url_hash(url: Column) -> Column:
    """64-bit seen-set key (north_rule): JVM xxhash64, no UDF."""
    return F.xxhash64(url)


# --------------------------------------------------------------------------
# Predicates (P5-P9)
# --------------------------------------------------------------------------

_EMBEDDED = "^(data|blob|about|javascript):"


def is_embedded(url: Column) -> Column:
    return url.rlike(_EMBEDDED)


def length_ok(url: Column, max_len: int = config.MAX_URL_LENGTH) -> Column:
    return F.length(url) <= max_len


def _joined(patterns: list[str]) -> str:
    return "(?:" + "|".join(patterns) + ")"


def host_block_listed(host: Column, patterns=None) -> Column:
    return host.rlike(_joined(patterns or config.HOST_REGEX_BLOCK_LIST))


def host_allow_listed(host: Column, patterns=None) -> Column:
    return host.rlike(_joined(patterns or config.HOST_REGEX_ALLOW_LIST))


def url_block_listed(url: Column, patterns=None) -> Column:
    return url.rlike(_joined(patterns or config.URL_REGEX_BLOCK_LIST))


def repeated_segments_prefilter(url: Column) -> Column:
    """Cheap SQL guard before the P4 pandas UDF: a path can only contain a
    pattern repeated >=3 times if it has >=3 segments."""
    return F.size(F.split(path_of(url), "/")) >= config.REPEATED_SEGMENTS_MIN_REPEATS + 1


# --------------------------------------------------------------------------
# Level decomposition (P11-P13)
# --------------------------------------------------------------------------


def host_levels(host: Column) -> Column:
    """Dot-split of the port-stripped host."""
    return F.split(F.split(host, ":")[0], r"\.")


def padded_host_levels(host: Column, max_levels: int = config.MAX_HOST_LEVELS) -> Column:
    """Left-pad with '' to ``max_levels`` (reference :1912-1913)."""
    lv = host_levels(host)
    pad = F.array_repeat(F.lit(""), F.greatest(F.lit(0), F.lit(max_levels) - F.size(lv)))
    return F.concat(pad, lv)


def dir_levels(path: Column, max_levels: int = config.MAX_DIR_LEVELS) -> Column:
    """Non-empty segments right-padded with '' (reference :1982-1987)."""
    segs = F.filter(F.split(F.regexp_replace(path, "^/|/$", ""), "/"), lambda x: x != "")
    pad = F.array_repeat(F.lit(""), F.greatest(F.lit(0), F.lit(max_levels) - F.size(segs)))
    return F.concat(segs, pad)


# --------------------------------------------------------------------------
# File extension (P15)
# --------------------------------------------------------------------------


def file_extension(path: Column) -> Column:
    """lower-cased extension of the percent-decoded path, '' when absent.
    Matches ``os.path.splitext`` for every sane path (the UDF kernel keeps
    exact parity for dotfile edge cases like '.hidden')."""
    decoded = F.coalesce(F.try_url_decode(path), path)
    return F.lower(F.regexp_extract(decoded, r"[^/.]\.([^./]+)$", 1))


# --------------------------------------------------------------------------
# Query decomposition (P14) — exact parse_qs semantics in pure SQL:
# split on '&', keep only pairs with a non-empty value, form-decode keys and
# values (+ → space), dedup keys first-seen, flatten values grouped by key.
# --------------------------------------------------------------------------


def _pairs(query: Column) -> Column:
    parts = F.split(F.coalesce(query, F.lit("")), "&")
    kv = F.transform(parts, lambda p: F.split(p, "=", 2))
    return F.filter(kv, lambda p: (F.size(p) == 2) & (p[1] != ""))


def _decode(c: Column) -> Column:
    return F.coalesce(F.try_url_decode(c), c)


def _decoded_pairs(query: Column) -> Column:
    """[(k, v)] form-decoded once per pair — downstream expressions read
    struct fields instead of re-decoding (keeps the codegen tree small and
    the per-row work O(pairs), not O(pairs²))."""
    return F.transform(
        _pairs(query),
        lambda p: F.struct(_decode(p[0]).alias("k"), _decode(p[1]).alias("v")),
    )


def has_query(url: Column) -> Column:
    q = query_of(url)
    return q.isNotNull() & (q != "")


def query_variables(url: Column) -> Column:
    """parse_qs keys, first-seen order."""
    return F.array_distinct(F.transform(_decoded_pairs(query_of(url)), lambda p: p["k"]))


def query_values(url: Column) -> Column:
    """parse_qs values flattened in key-group order (NOT positional order:
    'a=1&b=2&a=3' → [1, 3, 2]), matching reference :1900-1902."""
    dp = _decoded_pairs(query_of(url))
    keys = F.array_distinct(F.transform(dp, lambda p: p["k"]))
    return F.flatten(
        F.transform(
            keys,
            lambda k: F.transform(
                F.filter(dp, lambda p: p["k"] == k),
                lambda p: p["v"],
            ),
        )
    )


# --------------------------------------------------------------------------
# Enrichment projection — the preprocess_crawler_data column set
# (reference :1873-1941) as one pure-SQL select.
# --------------------------------------------------------------------------


def enrichment_base_columns(url: Column) -> dict[str, Column]:
    """The array/scalar derivations the reference attaches to a content doc.
    Apply FIRST; then ``level_flatten_columns`` — the flattened levels read
    the materialized arrays instead of re-deriving them, keeping each
    generated expression small enough for whole-stage codegen."""
    host = host_of(url)
    path = path_of(url)
    return {
        "host": host,
        "host_levels": padded_host_levels(host),
        "directory_levels": dir_levels(path),
        "has_query": has_query(url),
        "query_variables": query_variables(url),
        "query_values": query_values(url),
        "file_extension": file_extension(path),
        "node_id": F.lit(config.NODE_ID),
    }


def level_flatten_columns() -> dict[str, Column]:
    """host_level_1..N (TLD-first) and directory_level_1..N from the
    already-computed array columns."""
    cols: dict[str, Column] = {}
    mh, md = config.MAX_HOST_LEVELS, config.MAX_DIR_LEVELS
    host_tail = F.reverse(F.slice(F.col("host_levels"), -mh, mh))
    for i in range(1, mh + 1):
        cols[f"host_level_{i}"] = F.element_at(host_tail, i)
    for i in range(1, md + 1):
        cols[f"directory_level_{i}"] = F.element_at(F.col("directory_levels"), i)
    return cols
